#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per metric (name, value,
unit, sample count) and host facts, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans go to perfbench/_traces/<workload>-seed<seed>.spans.jsonl.
Every file the run writes stays under perfbench/_work and
perfbench/_traces. Exits 2 without a result when the engine cannot be
imported."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None, sizes=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query", "nrt"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import lucene_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        raise SystemExit(2)
    from perfbench import workloads as wl
    from perfbench.tracing import Tracer

    host = wl.host_facts()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mem = wl.prepare_env(work, host["ram_bytes"])
    run = wl.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        tracer=Tracer(bool(args.trace)), work=work,
        sizes=sizes or wl.Sizes(), nproc=host["nproc"],
    )
    try:
        idx, pdf = wl.WORKLOADS[args.workload](run)
        if args.trace:
            wl.other_path_probe(run)
            wl.report_layers(run, idx, pdf)
        java = run.spark._jvm.System.getProperty("java.version")
    finally:
        if run.spark is not None:
            wl.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    traces = os.path.join(HERE, "_traces")
    os.makedirs(traces, exist_ok=True)
    stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
    e2e = {n: v for n, (v, _, _) in run.e2e.items()}
    with open(f"{stem}-trace{args.trace}.e2e.json", "w") as f:
        json.dump(e2e, f)
    if args.trace:
        run.tracer.write(f"{stem}.spans.jsonl")
        untraced = f"{stem}-trace0.e2e.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            for name, v in e2e.items():
                run.note(f"tracing overhead {name}: traced - untraced = "
                         f"{v - base[name]!r} ({v!r} - {base[name]!r})")
        else:
            run.note("tracing overhead: run --trace 0 with the same seed "
                     "first to get traced - untraced per end-to-end metric")

    import pyspark

    print(f"host nproc={host['nproc']} ram_bytes={host['ram_bytes']} "
          f"driver_memory={mem} pyspark={pyspark.__version__} java={java}")
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    for line in run.lines:
        print(line)
    metrics = run.layer if args.trace else run.e2e
    shown = {**run.e2e, **run.op_p50, **run.layer}
    for name, (value, unit, n) in shown.items():
        print(f"{name} {value!r} {unit} n={n}")
    print(f"error_rate {run.failed / run.attempted!r} ratio "
          f"({run.failed} failed of {run.attempted})")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u, _) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
