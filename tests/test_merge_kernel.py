"""Postings-merge kernel contract: builder.merge_postings (one sorted
mapInPandas pass per term-range partition) must emit exactly the block
rows that the one-group reference `_merge_runs_to_blocks` gives, group
by group, over the same posting runs — across Arrow-batch splits, salted
hot terms, offsets, payloads and single-group partitions — and the
merged index must rank identically to the numpy oracle."""

import os
import random

import numpy as np
import pandas as pd
import pytest

from lucene_spark.corpus import generate_corpus
from lucene_spark.index.builder import (
    BLOCK_COLS,
    _merge_runs_to_blocks,
    merge_postings,
)
from lucene_spark.oracle import OracleIndex, assert_rank_identical
from lucene_spark.search.engine import IndexSearcher
from lucene_spark.streaming.incremental import (
    _atomic_json,
    _load_state,
    _state_path,
    refresh,
    write_segment,
)
from lucene_spark.util.blockcodec import encode_block as encode
from lucene_spark.util.varbyte import delta_encode, segmented_delta_encode

DOC_SCHEMA = "repo string, path string, commit string, lang string, content string"
RUN_SCHEMA = (
    "term string, salt long, first_doc long, docs_vb binary, tfs_vb binary, "
    "norms_b binary, pos_vb binary, offs_vb binary, olen_vb binary, "
    "pay_vb binary"
)
QUERIES = [("license", "or"), ("return value table", "or"), ("apache license", "and")]


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    """Block rows as plain tuples in (term, salt, block_seq) order."""
    pdf = pdf[BLOCK_COLS].sort_values(["term", "salt", "block_seq"])
    return [
        tuple(
            bytes(v) if isinstance(v, (bytes, bytearray)) else
            (int(v) if isinstance(v, (int, np.integer)) else v)
            for v in row
        )
        for row in pdf.itertuples(index=False, name=None)
    ]


def _reference_blocks(runs: pd.DataFrame, hot_df_threshold, hot_salt_span):
    """_merge_runs_to_blocks per (term, salt) group, salted exactly as
    builder._salt_runs salts (df above threshold -> first_doc // span)."""
    df = runs.groupby("term")["ndocs"].transform("sum")
    runs = runs.assign(
        salt=np.where(df > hot_df_threshold, runs["first_doc"] // hot_salt_span, 0)
    )
    return pd.concat(
        [_merge_runs_to_blocks(k, g) for k, g in runs.groupby(["term", "salt"])],
        ignore_index=True,
    )


def _nrt_index(spark, out, pdf, *, hot_df_threshold=1 << 16,
               hot_salt_span=1 << 20, **opts):
    """One segment + refresh: the refresh merges its runs through
    merge_postings. Returns (runs as pandas, merged postings as pandas)."""
    os.makedirs(out, exist_ok=True)
    n = write_segment(
        spark, spark.createDataFrame(pdf, DOC_SCHEMA), out, "s0", 0,
        partitions=2, **opts,
    )
    state = _load_state(out)
    state["next_doc"] = n
    state["segments"].append({"seg": "s0", "num_docs": n})
    _atomic_json(_state_path(out), state)
    m = refresh(
        spark, out, partitions=2,
        hot_df_threshold=hot_df_threshold, hot_salt_span=hot_salt_span,
    )
    runs = spark.read.parquet(os.path.join(out, "runs", "seg=s0")).toPandas()
    gen_dir = os.path.join(out, "postings", f"gen={m['gens'][0]}")
    return runs, spark.read.parquet(gen_dir).toPandas()


def _check(spark, out, pdf, runs, got, hot_df_threshold=1 << 16,
           hot_salt_span=1 << 20, oracle_texts=None):
    exp = _reference_blocks(runs, hot_df_threshold, hot_salt_span)
    assert _rows(got) == _rows(exp)
    # NRT docIDs follow (repo, path, commit) order within the batch
    keyed = pdf.sort_values(["repo", "path", "commit"])
    texts = oracle_texts or (lambda c: c)
    oracle = OracleIndex([texts(c) for c in keyed["content"]])
    searcher = IndexSearcher(spark, out)
    for q, mode in QUERIES:
        terms = q.split()
        got_top = [
            (r["docID"], r["score"])
            for r in searcher.search(q, k=10, mode=mode).collect()
        ]
        assert_rank_identical(
            oracle.search(terms, k=10, mode=mode), got_top, msg=f"[{q} {mode}]"
        )


def test_groups_split_across_arrow_batches(spark, tmp_path):
    pdf = generate_corpus(80)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        runs, got = _nrt_index(spark, str(tmp_path / "idx"), pdf)
    finally:
        spark.conf.set(key, saved)
    assert (runs.groupby("term").size() > 1).any(), "no multi-run group"
    _check(spark, str(tmp_path / "idx"), pdf, runs, got)


def test_salted_hot_terms(spark, tmp_path):
    pdf = generate_corpus(120)
    kw = dict(hot_df_threshold=5, hot_salt_span=16)
    runs, got = _nrt_index(spark, str(tmp_path / "idx"), pdf, **kw)
    assert (got["salt"] > 0).any(), "no hot term was salted"
    _check(spark, str(tmp_path / "idx"), pdf, runs, got, **kw)


def test_store_offsets(spark, tmp_path):
    pdf = generate_corpus(80)
    runs, got = _nrt_index(spark, str(tmp_path / "idx"), pdf, store_offsets=True)
    assert (got["offs_vb"].map(len) > 0).all()
    _check(spark, str(tmp_path / "idx"), pdf, runs, got)


def test_whitespace_payloads(spark, tmp_path):
    rng = random.Random(5)
    vocab = ["apache", "license", "return", "value", "table", "fig"]
    docs = [
        ("r", f"{i:04d}", "0", "en", " ".join(
            f"{rng.choice(vocab)}|{rng.randint(0, 250)}"
            for _ in range(rng.randint(2, 14))
        ))
        for i in range(90)
    ]
    pdf = pd.DataFrame(docs, columns=["repo", "path", "commit", "lang", "content"])
    runs, got = _nrt_index(
        spark, str(tmp_path / "idx"), pdf,
        tokenizer="whitespace", store_payloads=True,
    )
    assert (got["pay_vb"].map(len) > 0).all()
    # the oracle analyzes standard text: strip the payload suffixes
    _check(
        spark, str(tmp_path / "idx"), pdf, runs, got,
        oracle_texts=lambda c: " ".join(t.split("|")[0] for t in c.split()),
    )


def test_partition_with_one_group(spark, tmp_path):
    # a one-term vocabulary: the whole partition is one (term, salt) group
    docs = [("r", f"{i:04d}", "0", "en", "license " * (1 + i % 3)) for i in range(300)]
    pdf = pd.DataFrame(docs, columns=["repo", "path", "commit", "lang", "content"])
    runs, got = _nrt_index(spark, str(tmp_path / "idx"), pdf)
    assert set(got["term"]) == {"license"} and len(got) == 2  # 300 docs, 2 blocks
    _check(spark, str(tmp_path / "idx"), pdf, runs, got)


def _run(first, n, with_pos):
    d = np.arange(first, first + n, dtype=np.int64)
    t = np.ones(n, dtype=np.int64)
    return (
        "t", 0, first, encode(delta_encode(d)), encode(t),
        np.zeros(n, dtype=np.uint8).tobytes(),
        encode(segmented_delta_encode(np.zeros(n, dtype=np.int64), t))
        if with_pos else b"",
        b"", b"", b"",
    )


def test_mixed_positions_guard_raises(spark, tmp_path):
    runs = spark.createDataFrame([_run(0, 5, True), _run(5, 5, False)], RUN_SCHEMA)
    terms = spark.createDataFrame([("t",)], "term string")
    with pytest.raises(Exception, match="mixed store_positions"):
        merge_postings(spark, runs, terms, str(tmp_path / "postings"), 2)
