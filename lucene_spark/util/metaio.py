"""Driver-side parquet writes for metadata-sized tables.

A 1-row `spark.createDataFrame(...).coalesce(1).write.parquet(...)`
costs a full Spark job — measured 4-5s each at local[32] (scheduler +
session overhead, nothing to do with the data). Stats and lineage
tables are a handful of rows the driver already holds in memory, so
they are written directly with pyarrow; `spark.read.parquet` reads the
result identically. (The analog at cluster scale: metadata goes through
the metastore/manifest commit, never through an executor job.)
"""

from __future__ import annotations

import os
import shutil


def write_meta_parquet(path: str, rows: list[dict]) -> None:
    """Overwrite `path` (a parquet directory) with one driver-written
    file holding `rows`. Column types follow pyarrow inference, which
    matches Spark's for the int64/string fields used here.

    Atomic: the table is written to a temp sibling directory and
    os.replace()d over the target (the _atomic_json pattern) — a crash
    mid-write leaves the OLD table intact, never an index with no
    stats/lineage at all."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows),
        os.path.join(tmp, "part-00000.parquet"),
    )
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def terms_path(index_dir: str, manifest: dict) -> str:
    """The terms table a manifest commits. Each NRT refresh publishes its
    table into a fresh directory named by ``manifest["terms_dir"]``, so a
    searcher still open on an older manifest keeps reading its own table;
    batch indexes keep the single ``terms/`` table."""
    return os.path.join(index_dir, manifest.get("terms_dir", "terms"))
