"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The first tests are pure arithmetic; the smoke tests run each workload
end to end at a tiny size (a Spark session each, about a minute) and
require the oracle gate to pass."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.tracing import Span, Tracer, covered, self_times  # noqa: E402


def test_tail_is_the_median_when_fewer_than_ten_samples_lie_beyond_it():
    # n = 20: the median has 10 samples beyond it only from n = 21 on
    for n in (1, 5, 11, 20):
        xs = [float(i) for i in range(n)]
        assert stats.tail(xs) == (50.0, stats.median(xs))


def test_tail_has_exactly_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert stats.tail(xs) == (90.0, 89.0)
    pct, val = stats.tail(list(reversed(range(21))))
    assert (round(pct, 2), val) == (52.38, 10.0)
    assert sum(1 for x in range(21) if x > val) == stats.TAIL_BEYOND
    pct, val = stats.tail([float(i) for i in range(1000)])
    assert (pct, val) == (99.0, 989.0)


def test_tail_rejects_an_empty_sample():
    with pytest.raises(ValueError):
        stats.tail([])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once_and_ignores_grandchildren():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "r"),
        Span(2, "a", 1.0, 3.0, 1, "r"),
        Span(3, "b", 2.0, 5.0, 1, "r"),  # overlaps a (another thread)
        Span(4, "a.x", 1.5, 2.5, 2, "r"),  # grandchild of root
        Span(5, "c", 8.0, 10.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parent_and_request_id():
    tr = Tracer(True)
    with tr.span("query.term", rid="c0-0") as q:
        with tr.span("search.exec.term") as e:
            pass
    assert (e.parent, e.rid) == (q.id, "c0-0")
    assert q.parent is None
    assert [s.name for s in tr.spans] == ["search.exec.term", "query.term"]
    off = Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == [] and off.overhead_s == 0.0


def _benchmark_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return (
        [w["name"] for w in b["workloads"]],
        [m["name"] for m in b["end_to_end"]],
        [m["name"] for m in b["per_layer"]],
    )


def test_exits_nonzero_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_traces", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


TINY = dict(query_docs=60, nrt_batch_docs=40, nrt_batches=2)


@pytest.mark.parametrize("workload,trace", [("query", 0), ("nrt", 0), ("query", 1), ("nrt", 1)])
def test_smoke_run_passes_the_oracle_gate(workload, trace, monkeypatch):
    """Tiny run of each workload; every answer must match the oracle.

    The nrt smoke run lands two batches, so the reader can be querying the
    first searcher while refresh() replaces the index's terms/ directory
    under it. The engine does not keep a replaced generation's files
    alive for open searchers, so such a read can fail with
    FILE_NOT_EXIST; the run counts it as a failed op and this test then
    fails (intermittently, depending on timing)."""
    from perfbench import run as cli
    from perfbench import workloads as wl

    workloads, e2e, per_layer = _benchmark_names()
    assert workload in workloads
    monkeypatch.setattr(wl, "PROBE_DOCS", 40)
    saved = dict(os.environ)  # main() points TMPDIR etc. into its work dir
    try:
        res = cli.main(
            ["--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace)],
            sizes=wl.Sizes(**TINY),
        )
    finally:
        os.environ.clear()
        os.environ.update(saved)
        tempfile.tempdir = None
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 5
    assert list(res["metrics"]) == (per_layer if trace else e2e)
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name
