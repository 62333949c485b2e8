"""Caller-cost benchmark for etl_pipelines_spark.

Run from the repository root:

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

One process, ``local[<cores>]``, one client in a closed loop over the
public entry points of each layer: ``REGISTRY[name].spark`` (build,
planning and a ``noop`` sink), ``Pipeline.run`` of the nightly
warehouse DAG, ``run_incremental_event_chain`` and the ``streaming``
builders. Sources are the read-only tables in ``SF_DIR`` (sf0.1,
``query_suite``) and ``NIGHTLY_SF_DIR`` (sf0.01, ``nightly_ingest``); the
seed only reorders and re-slices them (see ``README.md``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it names the session and the workload's own figures. A traced
run also writes its spans and per-query / per-model rows to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from common import HERE, NIGHTLY_SF_DIR, OUT, ROOT, SF_DIR, WORK, Bench, log

# Environment knobs the engine reads; the benchmark runs the product
# configuration, so it records and removes them.
ENV_PREFIXES = ("SPARK_GRAFT_", "ETL_SPARK_RUN_DATE")


def measure(bench: Bench, workload, seconds: float) -> dict[str, tuple[float, str]]:
    """Set up, run reps for at least ``seconds`` (at least one), and
    return the end-to-end metrics. Leaves the session running."""
    from spans import Tracer

    workload.prepare_inputs()
    t0 = time.perf_counter()
    bench.start_session()
    jvm_start_s = time.perf_counter() - t0
    bench.configure()
    bench.tracer = Tracer(bench.spark, bench.trace)
    t1 = time.perf_counter()
    bench.warm_up()
    warmup_s = time.perf_counter() - t1
    workload.setup()
    setup_s = time.perf_counter() - t0
    bench.release()
    bench.cache_tracked = bench.cache_peak_bytes = 0
    bench.layer["session.jvm_start_s"] = jvm_start_s
    bench.layer["session.warmup_s"] = warmup_s

    measured, reps = 0.0, 0
    while reps == 0 or measured < seconds:
        t1 = time.perf_counter()
        workload.rep(reps)
        measured += time.perf_counter() - t1
        reps += 1
        bench.release()
    bench.figures["peak_rss_mb"] = (bench.peak_rss_mb(), "MB")
    if not bench.rep_s or not bench.ops:
        raise RuntimeError("no rep completed")
    workload.finish()
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(bench.rep_s), "s"),
        "peak_live_heap_mb": (bench.peak_live_heap_mb, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_pipelines_spark")):
        log("etl_pipelines_spark/ not found: run from the repository root")
        return 2
    for sf_dir in (SF_DIR, NIGHTLY_SF_DIR):
        if not os.path.isfile(os.path.join(sf_dir, "events.parquet")):
            log(f"source tables not found in {sf_dir}")
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    with open(os.path.join(HERE, "manifest.json")) as f:
        manifest = json.load(f)
    from workloads import WORKLOAD_CLASSES, write_trace

    if args.workload not in WORKLOAD_CLASSES:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOAD_CLASSES)}")
        return 2

    env_knobs = {
        k: os.environ.pop(k) for k in list(os.environ) if k.startswith(ENV_PREFIXES)
    }
    # Python workers unpickle engine closures by module path.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    bench = Bench(args.workload, args.seed, bool(args.trace), manifest)
    workload = WORKLOAD_CLASSES[args.workload](bench)
    # A termination signal unwinds through the finally below, so the
    # session's processes end with this one.
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    try:
        try:
            end_to_end = measure(bench, workload, args.seconds)
        finally:
            bench.shutdown()
        if bench.trace:
            write_trace(bench, workload, OUT)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    from pyspark import __version__ as spark_version

    print(json.dumps({
        "perfbench": args.workload,
        "seed": args.seed,
        "trace": bench.trace,
        "cores": bench.cores,
        "driver_heap": bench.heap,
        "spark": spark_version,
        "python": sys.version.split()[0],
        "sf_dir": workload.sf_dir,
        "env_knobs_removed": env_knobs,
        "reps": len(bench.rep_s),
        "ops": len(bench.ops),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "workload_figures": {
            k: {"value": v, "unit": u} for k, (v, u) in bench.figures.items()
        },
        "op_s": bench.ops,
    }))
    if bench.trace:
        metrics = {
            m["name"]: {"value": bench.layer.get(m["name"], 0), "unit": m["unit"]}
            for m in declared["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": end_to_end[m["name"]][0], "unit": m["unit"]}
            for m in declared["end_to_end"]
        }
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
