"""The benchmark's workloads. Each drives the engine only through its
public functions (session.get_spark, index.builder.build_index,
streaming.incremental.start_indexing_stream / refresh,
search.engine.IndexSearcher) and checks every answer it times against
oracle.OracleIndex over the same generated documents.

query  closed loop of ``nproc`` client threads sharing one SparkSession
       and one IndexSearcher over an index built during set-up; op mix
       term / or / or_wand / and / phrase, top-10, Zipf-drawn terms so
       head terms repeat and the per-searcher term-stats cache warms up.
nrt    one writer thread lands seeded batches as parquet files, ingests
       each through start_indexing_stream (file source, availableNow),
       refreshes and reopens the searcher; one reader thread queries the
       newest searcher in a closed loop from the first publish on (cold
       term-stats cache after every reopen).

Nothing is warmed up: every index build and refresh costs tens of seconds
here, and the whole schedule of runs has to fit in under an hour, so the
first build / ingest of a run pays the JVM's and the Python workers'
first-call costs, as a one-shot job would.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

import pandas as pd

from perfbench import stats
from perfbench.tracing import Tracer, self_times

OPS = ("term", "or", "or_wand", "and", "phrase")
K = 10
TERMS_PER_OP = {"term": 1, "or": 3, "or_wand": 3, "and": 2, "phrase": 2}
ZIPF_S = 1.1  # same skew the corpus uses for identifiers
PHRASE_POOL = 64
SOURCE_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
INDEX_PARTS = ("postings", "terms", "docmap")
TEMP_DIRS = {"inverted_runs", "inverted_stream"}


@dataclass(frozen=True)
class Sizes:
    query_docs: int = 2000  # documents in the query workload's index
    nrt_batch_docs: int = 2000  # documents per nrt batch
    nrt_batches: int = 1  # batches the nrt writer lands


@dataclass
class Query:
    op: str
    text: str


@dataclass
class Op:
    """One timed query and what it returned."""

    query: Query
    start: float
    end: float
    got: list | None = None
    error: str | None = None
    docs: int = 0  # doc count of the searcher that answered

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """State and results of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    sizes: Sizes
    nproc: int
    spark: object = None
    lines: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    op_p50: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    build_phases: dict[str, float] = field(default_factory=dict)
    stream_calls: dict[str, list[float]] = field(default_factory=dict)
    opens: list[float] = field(default_factory=list)
    compactions: int = 0
    live_gens: int = 0
    stream_bytes_written: int = 0
    stream_source_bytes: int = 0
    session_start_s: float = 0.0

    def note(self, line: str) -> None:
        self.lines.append(line)


# -- inputs -----------------------------------------------------------------


def sorted_docs(pdf):
    """Rows in the engine's docID order within one build or batch."""
    return pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)


def source_bytes(pdf) -> int:
    return int(sum(len(c.encode("utf-8")) for c in pdf["content"]))


def land_parquet(pdf, path: str, files: int = 1) -> None:
    """Write rows as parquet file(s) under ``path``, each renamed into
    place whole, so a streaming file source never sees a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = max(1, -(-len(pdf) // files))
    for i in range(0, len(pdf), per):
        name = f"part-{i // per:05d}-{time.time_ns()}.parquet"
        tmp = os.path.join(os.path.dirname(path), "." + name)
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i:i + per], preserve_index=False), tmp
        )
        os.replace(tmp, os.path.join(path, name))


def make_queries(oracle, pdf, rng: random.Random, n: int) -> list[Query]:
    """``n`` queries cycling through OPS. Terms come from the corpus
    vocabulary ranked by document frequency with Zipf(ZIPF_S) skew;
    phrases are word pairs taken from random documents, drawn from a
    pool with the same skew."""
    from lucene_spark.analysis import analyze

    vocab = sorted(
        (t for t in oracle.postings if analyze(t) == [t]),
        key=lambda t: (-len(oracle.postings[t][0]), t),
    )
    cum, acc = [], 0.0
    for r in range(len(vocab)):
        acc += 1.0 / (r + 1) ** ZIPF_S
        cum.append(acc)
    pool: list[str] = []
    contents = pdf["content"].tolist()
    while len(pool) < PHRASE_POOL:
        toks = analyze(contents[rng.randrange(len(contents))])
        if len(toks) < 2:
            continue
        p = rng.randrange(len(toks) - 1)
        pair = toks[p:p + 2]
        text = " ".join(pair)
        if analyze(text) == pair:
            pool.append(text)
    pool_cum, acc = [], 0.0
    for r in range(len(pool)):
        acc += 1.0 / (r + 1) ** ZIPF_S
        pool_cum.append(acc)
    out = []
    for i in range(n):
        op = OPS[i % len(OPS)]
        if op == "phrase":
            text = rng.choices(pool, cum_weights=pool_cum)[0]
        else:
            terms: list[str] = []
            while len(terms) < TERMS_PER_OP[op]:
                t = rng.choices(vocab, cum_weights=cum)[0]
                if t not in terms:
                    terms.append(t)
            text = " ".join(terms)
        out.append(Query(op, text))
    return out


def expected(oracle, q: Query) -> list:
    from lucene_spark.analysis import analyze

    terms = analyze(q.text)
    if q.op == "phrase":
        return oracle.search_phrase(terms, k=K)
    return oracle.search(terms, k=K, mode="and" if q.op == "and" else "or")


# -- session ----------------------------------------------------------------


def host_facts() -> dict:
    ram = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram = int(line.split()[1]) * 1024
    return {"nproc": len(os.sched_getaffinity(0)), "ram_bytes": ram}


def prepare_env(work: str, ram_bytes: int) -> str:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    size the driver heap to the host (a quarter of RAM; local mode runs
    driver and executors in this one JVM). Returns the heap setting."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    mem = f"{max(1, ram_bytes // 4 // 2**30)}g"
    os.environ.update(
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_DRIVER_MEM=mem,
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return mem


def start_session(run: Run):
    from lucene_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = get_spark(
            cpus=run.nproc, app_name=f"perfbench-{run.workload}",
            shuffle_partitions=run.nproc,
        )
    run.session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.sc = spark.sparkContext
    return spark


def _children_of(pid: int) -> set[int]:
    """Live descendants of ``pid`` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    out: set[int] = set()
    frontier = {pid}
    while frontier:
        frontier = {c for c, p in parent.items() if p in frontier} - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process it
    started (JVM, Python workers) has ended."""
    import signal

    from pyspark import SparkContext

    procs = _children_of(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# -- engine calls -------------------------------------------------------------


def build(run: Run, src: str, out: str) -> tuple[dict, float]:
    from lucene_spark.index.builder import build_index

    spark = run.spark
    t0 = time.perf_counter()
    with run.tracer.span("index.build_index", count_jobs=True):
        manifest = build_index(
            spark, spark.read.parquet(src), out, partitions=run.nproc
        )
    dt = time.perf_counter() - t0
    for k, v in manifest["phases"].items():
        run.build_phases[k] = run.build_phases.get(k, 0.0) + v
    return manifest, dt


def open_searcher(run: Run, index_dir: str):
    from lucene_spark.search.engine import IndexSearcher

    t0 = time.perf_counter()
    with run.tracer.span("search.open", count_jobs=True):
        s = IndexSearcher(run.spark, index_dir)
    run.opens.append(time.perf_counter() - t0)
    return s


def _files(d: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, dirs, fns in os.walk(d):
        dirs[:] = [x for x in dirs if x not in TEMP_DIRS]
        for fn in fns:
            p = os.path.join(root, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _new_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def ingest(run: Run, src: str, index_dir: str, ckpt: str, n_source_bytes: int) -> dict:
    """One writer step: stream every landed file into a segment, then
    refresh. Returns the refresh manifest."""
    from lucene_spark.streaming.incremental import refresh, start_indexing_stream

    spark = run.spark
    before = _files(index_dir)
    t0 = time.perf_counter()
    with run.tracer.span("streaming.ingest", count_jobs=True):
        q = start_indexing_stream(
            spark,
            spark.readStream.schema(SOURCE_SCHEMA).parquet(src),
            index_dir,
            checkpoint_dir=ckpt,
            partitions=run.nproc,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"indexing stream failed: {q.exception()}")
    t1 = time.perf_counter()
    mid = _files(index_dir)
    with run.tracer.span("streaming.refresh", count_jobs=True):
        manifest = refresh(spark, index_dir, partitions=run.nproc)
    t2 = time.perf_counter()
    after = _files(index_dir)
    run.stream_calls.setdefault("ingest", []).append(t1 - t0)
    run.stream_calls.setdefault("refresh", []).append(t2 - t1)
    run.stream_bytes_written += _new_bytes(before, mid) + _new_bytes(mid, after)
    run.stream_source_bytes += n_source_bytes
    run.compactions += int(manifest.get("compacted_gens", 0))
    run.live_gens = int(manifest.get("num_gens", 0))
    return manifest


def execute(run: Run, searcher, q: Query, rid: str) -> Op:
    """Run one query: term statistics, plan (the search call), execute
    (collect). The op's latency covers all three."""
    from lucene_spark.analysis import analyze

    tr = run.tracer
    op = Op(q, time.perf_counter(), 0.0, docs=searcher.doc_count)
    try:
        with tr.span(f"query.{q.op}", rid=rid):
            with tr.span("analysis.analyze"):
                terms = analyze(q.text)
            with tr.span("search.term_stats", count_jobs=True):
                searcher.term_stats(terms)
            with tr.span(f"search.plan.{q.op}", count_jobs=True):
                if q.op == "phrase":
                    df = searcher.search_phrase(q.text, k=K)
                else:
                    df = searcher.search(
                        q.text, k=K, mode="and" if q.op == "and" else "or",
                        prune=q.op == "or_wand",
                    )
            with tr.span(f"search.exec.{q.op}", count_jobs=True):
                rows = df.collect()
        op.got = [(int(r["docID"]), float(r["score"])) for r in rows]
    except Exception as e:  # counted as a failed op, never dropped
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
    op.end = time.perf_counter()
    tr.resolve_counts()
    return op


def check(run: Run, ops: list[Op], oracle_for) -> None:
    """Compare every answer with the oracle over the documents the
    answering searcher held (assert_rank_identical: same docIDs in the
    same order, scores within 1e-6)."""
    from lucene_spark.oracle import assert_rank_identical

    shown = 0
    for op in ops:
        run.attempted += 1
        err = op.error
        if err is None:
            try:
                assert_rank_identical(
                    expected(oracle_for(op.docs), op.query), op.got,
                    msg=f"[{op.query.op} {op.query.text!r}]",
                )
            except AssertionError as e:
                err = "mismatch: " + str(e).splitlines()[0][:300]
        if err is not None:
            run.failed += 1
            if shown < 5:
                run.note(f"FAILED {op.query.op} {op.query.text!r}: {err}")
                shown += 1


# -- reporting ----------------------------------------------------------------


def dir_bytes(d: str) -> int:
    return sum(sz for sz, _ in _files(d).values())


def report_latencies(run: Run, ops: list[Op]) -> None:
    ok = [op for op in ops if op.error is None]
    lat = [op.latency for op in ok]
    run.e2e["query_p50_s"] = (stats.median(lat), "s", len(lat))
    pct, val = stats.tail(lat)
    run.e2e["query_tail_s"] = (val, "s", len(lat))
    run.note(f"query_tail_s is p{pct:.1f} of {len(lat)} samples")
    for name in OPS:
        xs = [op.latency for op in ok if op.query.op == name]
        run.op_p50[f"{name}_p50_s"] = (stats.median(xs), "s", len(xs))


def report_layers(run: Run, index_dir: str, pdf) -> None:
    """Per-layer metrics of a traced run."""
    from perfbench import probes

    tr = run.tracer
    tr.resolve_counts()
    lay = run.layer
    lay["session.start_s"] = (run.session_start_s, "s", 1)
    lay.update(run.op_p50)
    tps, n_tok = probes.tokens_per_s(tr, pdf)
    lay["analysis.tokens_per_s"] = (tps, "1/s", n_tok)
    for ph in ("shuffle_docs", "invert_write", "terms_agg", "postings_write", "terms_write"):
        lay[f"index.{ph}_s"] = (run.build_phases.get(ph, 0.0), "s", 1)
    for part in INDEX_PARTS:
        lay[f"index.{part}_bytes"] = (
            dir_bytes(os.path.join(index_dir, part)), "B", 1)
    dec, enc, bpp, n_vals = probes.codec_rates(tr, index_dir)
    lay["util.decode_values_per_s"] = (dec, "1/s", n_vals)
    lay["util.encode_values_per_s"] = (enc, "1/s", n_vals)
    lay["util.bytes_per_posting"] = (bpp, "B", n_vals)

    spans = tr.spans
    ts = [s for s in spans if s.name == "search.term_stats"]
    lay["search.term_stats_s"] = (stats.median([s.duration for s in ts]), "s", len(ts))
    lay["search.term_stats_hit_ratio"] = (
        sum(1 for s in ts if s.jobs == 0) / len(ts), "ratio", len(ts))
    lay["search.open_s"] = (stats.median(run.opens), "s", len(run.opens))
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    for name in OPS:
        for phase in ("plan", "exec"):
            ss = [s for s in spans if s.name == f"search.{phase}.{name}"]
            lay[f"search.{name}.{phase}_s"] = (
                stats.median([s.duration for s in ss]), "s", len(ss))
        qs = [s for s in spans if s.name == f"query.{name}"]
        counted = [c for q in qs for c in kids.get(q.id, []) if c.jobs is not None]
        lay[f"search.{name}.jobs_per_query"] = (
            sum(c.jobs for c in counted) / len(qs), "count", len(qs))
        lay[f"search.{name}.tasks_per_query"] = (
            sum(c.tasks for c in counted) / len(qs), "count", len(qs))
    for call in ("ingest", "refresh"):
        xs = run.stream_calls.get(call, [])
        lay[f"streaming.{call}_s"] = (stats.median(xs), "s", len(xs))
    lay["streaming.compactions"] = (run.compactions, "count", 1)
    lay["streaming.bytes_written_per_source_byte"] = (
        run.stream_bytes_written / run.stream_source_bytes, "B/B", 1)
    lay["streaming.live_gens"] = (run.live_gens, "count", 1)
    n_ops = len([s for s in spans if s.name.startswith("query.")])
    lay["trace.overhead_s_per_op"] = (tr.overhead_s / n_ops, "s", n_ops)

    selfs = self_times(spans)
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s.name, []).append(selfs[s.id])
    for name in sorted(by):
        v = by[name]
        run.note(f"span {name}: n={len(v)} self_total={sum(v):.4f}s")


# -- workloads ----------------------------------------------------------------

QUERY_POOL = 4000  # queries generated per run; clients cycle through them


def _inputs(run: Run, n_docs: int, start: int):
    """Seeded corpus rows [start, start + n_docs) in docID order."""
    from lucene_spark.corpus import generate_corpus

    return sorted_docs(generate_corpus(n_docs, seed=run.seed, start=start))


def closed_loop(run: Run, get_searcher, queries: list[Query], clients: int, until):
    """Start ``clients`` threads that each issue their next query only
    after the previous one returned, until ``until(elapsed, n_done)`` is
    true; client c takes queries c, c + clients, ... Returns (per-client
    op lists, threads, errors, start time) once all are released."""
    per_client: list[list[Op]] = [[] for _ in range(clients)]
    errors: list[BaseException] = []
    go = threading.Barrier(clients + 1)
    t0 = [0.0]

    def client(c: int) -> None:
        try:
            go.wait()
            j = 0
            while not until(time.perf_counter() - t0[0], j):
                q = queries[(c + clients * j) % len(queries)]
                per_client[c].append(execute(run, get_searcher(), q, f"c{c}-{j}"))
                j += 1
        except BaseException as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(clients)]
    for t in threads:
        t.start()
    t0[0] = time.perf_counter()
    go.wait()
    return per_client, threads, errors, t0[0]


def closed_loop_qps(per_client: list[list[Op]], start: float) -> float:
    """Sum of the clients' own rates: successful ops of each client over
    the time from ``start`` to that client's last completion, so a client
    idling while another finishes its last op does not dilute the rate."""
    return sum(
        sum(op.error is None for op in ops) / (ops[-1].end - start)
        for ops in per_client if ops
    )


def _join(threads, errors, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for t in threads:
        t.join(max(0.0, deadline - time.monotonic()))
        if t.is_alive():
            raise RuntimeError(f"{t.name} did not finish within {timeout:.0f}s")
    if errors:
        raise errors[0]


def run_query(run: Run):
    """Returns (index directory, its documents) for the per-layer probes."""
    from lucene_spark.oracle import OracleIndex

    sz = run.sizes
    rng = random.Random(run.seed)
    pdf = _inputs(run, sz.query_docs, 0)
    src = os.path.join(run.work, "query_src")
    land_parquet(pdf, src, files=run.nproc)
    oracle = OracleIndex(pdf["content"].tolist())
    queries = make_queries(oracle, pdf, rng, QUERY_POOL)

    t0 = time.perf_counter()
    start_session(run)
    idx = os.path.join(run.work, "query_idx")
    _, build_s = build(run, src, idx)
    searcher = open_searcher(run, idx)
    setup_s = time.perf_counter() - t0

    # every client runs enough ops that together they cover every op type
    min_ops = -(-len(OPS) // run.nproc)
    per_client, threads, errors, start = closed_loop(
        run, lambda: searcher, queries, run.nproc,
        lambda elapsed, j: elapsed >= run.seconds and j >= min_ops,
    )
    _join(threads, errors, run.seconds + 170)
    ops = [op for ops in per_client for op in ops]
    check(run, ops, lambda _n: oracle)

    ok = [op for op in ops if op.error is None]
    run.e2e["setup_s"] = (setup_s, "s", 1)
    run.e2e["docs_per_s"] = (sz.query_docs / build_s, "1/s", sz.query_docs)
    run.e2e["index_bytes_per_source_byte"] = (
        dir_bytes(idx) / source_bytes(pdf), "B/B", 1)
    run.e2e["query_qps"] = (closed_loop_qps(per_client, start), "1/s", len(ok))
    report_latencies(run, ok)
    run.e2e["visible_p50_s"] = (build_s + run.opens[-1], "s", 1)
    run.note(f"clients={run.nproc} closed loop; ops per client="
             f"{[len(c) for c in per_client]}")
    return idx, pdf


def run_nrt(run: Run):
    """Returns (index directory, its documents) for the per-layer probes."""
    from lucene_spark.oracle import OracleIndex

    sz = run.sizes
    rng = random.Random(run.seed)
    batches = [
        _inputs(run, sz.nrt_batch_docs, b * sz.nrt_batch_docs)
        for b in range(sz.nrt_batches)
    ]
    oracles = {len(batches[0]): OracleIndex(batches[0]["content"].tolist())}
    queries = make_queries(oracles[len(batches[0])], batches[0], rng, QUERY_POOL)
    src = os.path.join(run.work, "nrt_src")
    idx = os.path.join(run.work, "nrt_idx")
    ckpt = os.path.join(run.work, "nrt_ckpt")

    t0 = time.perf_counter()
    start_session(run)
    setup_s = time.perf_counter() - t0

    landed: list = []
    visible: list[float] = []
    published: list[float] = []
    current: list = []
    first = threading.Event()
    done = threading.Event()
    writer_errors: list[BaseException] = []

    def writer() -> None:
        try:
            for pdf in batches:
                t_land = time.perf_counter()
                land_parquet(pdf, src)
                with run.tracer.span("nrt.batch"):
                    ingest(run, src, idx, ckpt, source_bytes(pdf))
                    s = open_searcher(run, idx)
                landed.append(pdf)
                current[:] = [s]
                published.append(time.perf_counter())
                visible.append(published[-1] - t_land)
                first.set()
        except BaseException as e:
            writer_errors.append(e)
        finally:
            first.set()
            done.set()

    def searcher():
        first.wait()
        if not current:
            raise RuntimeError("writer published no searcher")
        return current[0]

    start = time.perf_counter()
    w = threading.Thread(target=writer, daemon=True)
    w.start()
    # one reader, closed loop, from the first publish until the writer is
    # done, --seconds have passed since that publish and every op ran
    per_client, threads, errors, _ = closed_loop(
        run, searcher, queries, 1,
        lambda _e, j: done.is_set() and j >= len(OPS)
        and time.perf_counter() - published[0] >= run.seconds,
    )
    _join([w], writer_errors, 170)
    _join(threads, errors, 170)
    ops = per_client[0]

    def oracle_for(n_docs: int):
        if n_docs not in oracles:
            contents: list[str] = []
            for pdf in landed:
                contents += pdf["content"].tolist()
            oracles[n_docs] = OracleIndex(contents[:n_docs])
        return oracles[n_docs]

    check(run, ops, oracle_for)

    ok = [op for op in ops if op.error is None]
    n_docs = sum(len(p) for p in landed)
    run.e2e["setup_s"] = (setup_s, "s", 1)
    run.e2e["docs_per_s"] = (n_docs / (published[-1] - start), "1/s", n_docs)
    run.e2e["index_bytes_per_source_byte"] = (
        dir_bytes(idx) / sum(source_bytes(p) for p in landed), "B/B", 1)
    run.e2e["query_qps"] = (closed_loop_qps(per_client, ops[0].start), "1/s", len(ok))
    report_latencies(run, ok)
    run.e2e["visible_p50_s"] = (stats.median(visible), "s", len(visible))
    run.note(f"writer batches={len(visible)} x {sz.nrt_batch_docs} docs; "
             f"reader ops={len(ops)}; generations live={run.live_gens}")
    return idx, pd.concat(landed, ignore_index=True)


PROBE_DOCS = 1000  # documents of the traced run's other-path probe


def other_path_probe(run: Run) -> None:
    """Traced runs only, after everything timed: run the ingest path the
    workload does not use (build_index on nrt, stream ingest + refresh
    on query) over PROBE_DOCS fresh seeded documents, so every index.*
    and streaming.* per-layer metric is a measurement on both workloads.
    It changes none of the run's end-to-end numbers."""
    pdf = _inputs(run, PROBE_DOCS, 1 << 20)
    src = os.path.join(run.work, "probe_src")
    land_parquet(pdf, src, files=run.nproc)
    with run.tracer.span("probe.other_path"):
        if run.build_phases:
            ingest(run, src, os.path.join(run.work, "probe_nrt"),
                   os.path.join(run.work, "probe_ckpt"), source_bytes(pdf))
        else:
            build(run, src, os.path.join(run.work, "probe_idx"))


WORKLOADS = {"query": run_query, "nrt": run_nrt}
