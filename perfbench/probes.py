"""Single-layer probes of a traced run: the analysis fast path on a fixed
seeded doc sample, and the block codec over the postings blobs of the
index the run built."""

from __future__ import annotations

import glob
import os
import time

MIN_PROBE_S = 0.3  # repeat a probe until it has run at least this long
ANALYSIS_DOCS = 200  # docs tokenized by the analysis probe
CODEC_ROWS = 3000  # postings rows decoded / encoded by the codec probe


def tokens_per_s(tracer, pdf) -> tuple[float, int]:
    """analysis.fastpath.tokenize_window_ascii over the run's first
    ANALYSIS_DOCS ASCII documents that need no re-lexing (no token run over
    255 characters). Returns (tokens per second, tokens per pass)."""
    from lucene_spark.analysis.fastpath import tokenize_window_ascii

    texts = [
        c for c in pdf["content"].tolist()
        if c.isascii() and "x" * 256 not in c
    ][:ANALYSIS_DOCS]
    total = passes = 0
    t0 = time.perf_counter()
    with tracer.span("analysis.tokenize_window_ascii"):
        while passes == 0 or time.perf_counter() - t0 < MIN_PROBE_S:
            out = tokenize_window_ascii(texts)
            if out is None:
                raise RuntimeError("tokenize_window_ascii refused the sample")
            total += int(out[2].sum())
            passes += 1
    return total / (time.perf_counter() - t0), total // passes


def codec_rates(tracer, index_dir: str) -> tuple[float, float, float, int]:
    """Decode, then re-encode, the docs/tfs/positions blobs of the first
    CODEC_ROWS postings rows (files in path order) with the codec's
    public block functions. Returns (decoded values per second, encoded
    values per second, stored bytes per posting over every postings row,
    values per pass)."""
    import pyarrow.parquet as pq

    from lucene_spark.util.blockcodec import decode_block, encode_block

    cols = ["ndocs", "docs_vb", "tfs_vb", "norms_b", "pos_vb"]
    blobs: list[bytes] = []
    stored = postings = 0
    files = sorted(
        glob.glob(os.path.join(index_dir, "postings", "**", "*.parquet"), recursive=True)
    )
    for path in files:
        t = pq.read_table(path, columns=cols).to_pydict()
        postings += sum(t["ndocs"])
        for c in cols[1:]:
            stored += sum(len(b) for b in t[c])
        if len(blobs) < 3 * CODEC_ROWS:
            for d, tf, pos in zip(t["docs_vb"], t["tfs_vb"], t["pos_vb"]):
                blobs += [d, tf, pos]
    blobs = [b for b in blobs[:3 * CODEC_ROWS] if b]

    def timed(fn, items, name):
        n = passes = 0
        t0 = time.perf_counter()
        with tracer.span(name):
            while passes == 0 or time.perf_counter() - t0 < MIN_PROBE_S:
                n += sum(fn(x) for x in items)
                passes += 1
        return n / (time.perf_counter() - t0), n // passes

    arrays = [decode_block(b) for b in blobs]
    dec, n_vals = timed(lambda b: len(decode_block(b)), blobs, "util.decode_block")
    enc, _ = timed(lambda a: len(a) if encode_block(a) else 0, arrays, "util.encode_block")
    return dec, enc, stored / postings, n_vals
