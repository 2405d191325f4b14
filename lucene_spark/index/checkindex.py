"""CheckIndex analog: verify the structural invariants of an index.

Reference: lucene/core/src/java/org/apache/lucene/index/CheckIndex.java
(segment-by-segment verification of postings, norms, doc values and
stats). Three writers produce our layout — the batch builder, the
resumable builder and the streaming refresh — so a cheap independent
verifier is the insurance that they stay in agreement.

Checks (quick mode — metadata only, parquet prunes the payload blobs):
  1. manifest + codec valid; every ACTIVE generation dir exists
     (stale gen dirs are reported, not errors — a crash mid-cleanup
     legitimately leaves them; readers partition-prune to the live set)
  2. block metadata sanity: ndocs in (0, block_size], min_doc <=
     max_doc, 1 <= min_tf <= max_tf, 0 <= min_norm <= max_norm <= 255
  3. the BLOCK INVARIANT: per term, all blocks (across salts and
     generations) hold DISJOINT ascending docID ranges — the property
     that makes segment merge pure concatenation
  4. terms table == recomputed from block metadata (df = sum ndocs,
     max_tf = max, min_norm = min)
  5. stats/manifest == recomputed: doc_count == docmap rows, docIDs
     distinct, sum_doc_freq/distinct_terms/sum_total_term_freq against
     the terms table
  6. docmap norms: norm == SmallFloat byte4(dl) recomputed

Full mode additionally DECODES every posting block (CheckIndex's
postings test): docs strictly ascending and consistent with
(ndocs, min_doc, max_doc), tf/norm streams consistent with the impact
metadata, position payloads segment-consistent with tf sums, and
per-term cf == the terms table.

Returns a report dict; raises CheckIndexError listing every violation
when the index is broken.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from lucene_spark.util.blockcodec import decode_block as decode
from lucene_spark.util.blockcodec import validate_manifest_codec
from lucene_spark.util.metaio import terms_path
from lucene_spark.util.varbyte import delta_decode, segmented_delta_decode


class CheckIndexError(ValueError):
    pass


def check_index(spark: SparkSession, index_dir: str, full: bool = False) -> dict:
    errors: list[str] = []
    notes: list[str] = []
    report: dict = {"index_dir": index_dir, "full": bool(full)}

    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    validate_manifest_codec(manifest)

    postings_dir = os.path.join(index_dir, "postings")
    gens = manifest.get("gens")
    if gens:
        for g in gens:
            if not os.path.isdir(os.path.join(postings_dir, f"gen={g}")):
                errors.append(f"active generation missing on disk: gen={g}")
        on_disk = {
            d.split("=", 1)[1]
            for d in os.listdir(postings_dir)
            if d.startswith("gen=")
        }
        stale = sorted(on_disk - set(gens))
        if stale:
            notes.append(f"stale generation dirs (invisible to readers): {stale}")
    if errors:
        raise CheckIndexError("; ".join(errors))

    posts = spark.read.parquet(postings_dir)
    if gens:
        posts = posts.filter(F.col("gen").isin(list(gens)))

    # -- 2. block metadata sanity ------------------------------------------
    block_size = int(manifest.get("block_size", 256))
    meta = posts.select(
        "term", "salt", "block_seq", "ndocs", "min_doc", "max_doc",
        "min_tf", "max_tf", "min_norm", "max_norm",
    )
    bad_meta = meta.filter(
        (F.col("ndocs") <= 0)
        | (F.col("ndocs") > block_size)
        | (F.col("min_doc") > F.col("max_doc"))
        | (F.col("min_tf") < 1)
        | (F.col("min_tf") > F.col("max_tf"))
        | (F.col("min_norm") < 0)
        | (F.col("min_norm") > F.col("max_norm"))
        | (F.col("max_norm") > 255)
    ).count()
    report["n_blocks"] = meta.count()
    if bad_meta:
        errors.append(f"{bad_meta} blocks with inconsistent impact metadata")

    # -- 3. block invariant: per-term disjoint ascending ranges ------------
    w = Window.partitionBy("term").orderBy("min_doc", "max_doc")
    overlaps = (
        meta.withColumn("prev_max", F.lag("max_doc").over(w))
        .filter(
            F.col("prev_max").isNotNull()
            & (F.col("prev_max") >= F.col("min_doc"))
        )
        .count()
    )
    if overlaps:
        errors.append(
            f"{overlaps} block pairs violate the disjoint-ascending-range "
            "invariant (merge-by-concatenation would corrupt ordering)"
        )

    # -- 4. terms table vs block metadata ----------------------------------
    terms = spark.read.parquet(terms_path(index_dir, manifest))
    recomputed = meta.groupBy("term").agg(
        F.sum("ndocs").cast("long").alias("r_df"),
        F.max("max_tf").alias("r_max_tf"),
        F.min("min_norm").alias("r_min_norm"),
    )
    joined = terms.join(recomputed, "term", "full_outer")
    mism = joined.filter(
        F.col("df").isNull()
        | F.col("r_df").isNull()
        | (F.col("df") != F.col("r_df"))
        | (F.col("max_tf") != F.col("r_max_tf"))
        | (F.col("min_norm") != F.col("r_min_norm"))
    ).count()
    if mism:
        errors.append(f"{mism} terms disagree between terms table and postings")

    # -- 5. stats / manifest vs recomputed ---------------------------------
    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    n_docs = docmap.count()
    n_distinct = docmap.select("docID").distinct().count()
    report["doc_count"] = n_docs
    if n_distinct != n_docs:
        errors.append(f"docmap holds {n_docs - n_distinct} duplicate docIDs")
    if int(manifest["doc_count"]) != n_docs:
        errors.append(
            f"manifest doc_count {manifest['doc_count']} != docmap rows {n_docs}"
        )
    tagg = terms.agg(
        F.sum("df").alias("sdf"),
        F.sum("cf").alias("sttf"),
        F.count("*").alias("nt"),
    ).collect()[0]
    for key, got in (
        ("sum_doc_freq", int(tagg["sdf"] or 0)),
        ("sum_total_term_freq", int(tagg["sttf"] or 0)),
        ("distinct_terms", int(tagg["nt"] or 0)),
    ):
        if int(manifest[key]) != got:
            errors.append(f"manifest {key} {manifest[key]} != terms table {got}")
    stats_tbl = spark.read.parquet(os.path.join(index_dir, "stats")).collect()
    if len(stats_tbl) != 1:
        errors.append(f"stats table holds {len(stats_tbl)} rows (expected 1)")
    else:
        srow = stats_tbl[0].asDict()
        for key in ("doc_count", "sum_total_term_freq", "sum_doc_freq",
                    "distinct_terms"):
            if int(srow[key]) != int(manifest[key]):
                errors.append(
                    f"stats table {key} {srow[key]} != manifest {manifest[key]}"
                )

    # -- 6. docmap norms == byte4(dl) ---------------------------------------
    from lucene_spark.util.smallfloat import int_to_byte4

    def _norm_check(batches):
        bad = 0
        for pdf in batches:
            dl = pdf["dl"].to_numpy(np.int64)
            norm = pdf["norm"].to_numpy(np.int64)
            bad += int((int_to_byte4(dl) != norm).sum())
        yield pd.DataFrame({"bad": [bad]})

    bad_norms = int(
        docmap.select("dl", "norm")
        .mapInPandas(_norm_check, schema="bad long")
        .agg(F.sum("bad"))
        .collect()[0][0]
        or 0
    )
    if bad_norms:
        errors.append(f"{bad_norms} docmap rows with norm != byte4(dl)")

    # -- full mode: decode every block --------------------------------------
    if full:
        store_positions = bool(manifest.get("store_positions", True))
        store_payloads = bool(manifest.get("store_payloads", False))

        def _decode_check(batches):
            n_bad = 0
            cf_terms: dict[str, int] = {}
            for pdf in batches:
                for r in pdf.itertuples():
                    try:
                        d = delta_decode(decode(bytes(r.docs_vb)))
                        t = decode(bytes(r.tfs_vb))
                        nb = np.frombuffer(bytes(r.norms_b), dtype=np.uint8)
                        ok = (
                            d.size == r.ndocs
                            and t.size == r.ndocs
                            and nb.size == r.ndocs
                            and (d.size < 2 or bool((np.diff(d) > 0).all()))
                            and int(d[0]) == r.min_doc
                            and int(d[-1]) == r.max_doc
                            and int(t.max()) == r.max_tf
                            and int(t.min()) == r.min_tf
                            and int(nb.min()) == r.min_norm
                            and int(nb.max()) == r.max_norm
                        )
                        if ok and store_positions and r.pos_vb:
                            flat = segmented_delta_decode(
                                decode(bytes(r.pos_vb)), t
                            )
                            ok = flat.size == int(t.sum()) and (
                                flat.size == 0 or bool((flat >= 0).all())
                            )
                        if ok and store_payloads:
                            pv = bytes(getattr(r, "pay_vb", b"") or b"")
                            ok = bool(pv) and decode(pv).size == int(t.sum())
                        if not ok:
                            n_bad += 1
                        else:
                            cf_terms[r.term] = cf_terms.get(r.term, 0) + int(
                                t.sum()
                            )
                    except Exception:
                        n_bad += 1
                yield pd.DataFrame(
                    {
                        "term": list(cf_terms) + ["\x00__bad__"],
                        "cf": list(cf_terms.values()) + [n_bad],
                    }
                )
                cf_terms, n_bad = {}, 0

        _chk_cols = [
            "term", "ndocs", "min_doc", "max_doc", "min_tf", "max_tf",
            "min_norm", "max_norm", "docs_vb", "tfs_vb", "norms_b",
            "pos_vb",
        ]
        if store_payloads and "pay_vb" in posts.columns:
            _chk_cols.append("pay_vb")
        decoded = (
            posts.select(*_chk_cols)
            .mapInPandas(_decode_check, schema="term string, cf long")
            .groupBy("term")
            .agg(F.sum("cf").alias("cf"))
        )
        bad_blocks = (
            decoded.filter(F.col("term") == "\x00__bad__").collect()
        )
        n_bad_blocks = int(bad_blocks[0]["cf"]) if bad_blocks else 0
        if n_bad_blocks:
            errors.append(f"{n_bad_blocks} blocks fail payload decode checks")
        cf_mism = (
            terms.select("term", "cf")
            .join(
                decoded.filter(F.col("term") != "\x00__bad__").select(
                    "term", F.col("cf").alias("r_cf")
                ),
                "term",
                "full_outer",
            )
            .filter(
                F.col("cf").isNull()
                | F.col("r_cf").isNull()
                | (F.col("cf") != F.col("r_cf"))
            )
            .count()
        )
        if cf_mism:
            errors.append(
                f"{cf_mism} terms with cf != decoded tf sum over blocks"
            )

    report["notes"] = notes
    report["errors"] = errors
    if errors:
        raise CheckIndexError(
            f"check_index failed for {index_dir}: " + "; ".join(errors)
        )
    return report
