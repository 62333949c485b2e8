"""Streaming-tier throughput bench (r3 VERDICT "Next round" #7).

The streaming operators are equivalence-tested against their batch
twins but had no THROUGHPUT number. This measures events/sec through
each streaming path at sf0.1 (and sf1 with --sf1), draining a
multi-file landing directory through the engine's own ``run_*``
runners (``streaming.drain``: trigger(availableNow), the reference's
incremental-run shape). Only the dedup path has no runner; its writer
goes through ``drain`` directly. Per-path state rows come from the
returned query's last StreamingQueryProgress, so the
watermark-bounded state claim carries a measured size, not just a
green test.

Writes BENCH_STREAMING.json. Run it ALONE (any concurrent Spark job
inflates timings 2-4x).

Usage: python tools/bench_streaming.py [--sf1]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_pipelines_spark.session import get_spark  # noqa: E402

N_LANDING_FILES = 16  # micro-batch granularity of the drain


def prepare_landing(spark: SparkSession, sf_dir: str, landing: str) -> int:
    """Split the events table into N parquet files — the landing
    zone a file-source stream drains."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    ev.repartition(N_LANDING_FILES).write.mode("overwrite").parquet(landing)
    return n


def _state_rows(query) -> int | None:
    ops = (query.lastProgress or {}).get("stateOperators") or []
    return sum(op.get("numRowsTotal", 0) for op in ops) or None


def main() -> None:
    sf_dir = (
        os.path.join(REPO, ".scale", "sf1")
        if "--sf1" in sys.argv
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    spark = get_spark(
        "etl_pipelines_spark-streaming-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from etl_pipelines_spark import streaming as st

    work = tempfile.mkdtemp(prefix="bench_stream_")
    landing = os.path.join(work, "landing")
    n_events = prepare_landing(spark, sf_dir, landing)
    dim_path = os.path.join(work, "dim")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id").distinct()
        .withColumn("segment", F.pmod("user_id", 5).cast("string"))
        .write.mode("overwrite").parquet(dim_path)
    )

    def dedup(spark, landing, out, ckpt):
        stream = st.deduped(st.read_events_stream(spark, landing))
        writer = stream.writeStream.format("parquet").option("path", out)
        return st.drain(writer.outputMode("append"), ckpt, 300)

    paths = [
        ("s_dedup_drain", dedup),
        ("s_incremental_upsert", st.run_incremental_upsert),
        ("s_session_rollup", st.run_streaming_sessions),
        ("s_daily_windows", st.run_streaming_daily_counts),
        ("s_stream_stream_join", st.run_view_purchase_attribution),
        ("s_stateful_running_stats", st.run_running_user_stats),
        (
            "s_enriched_append",
            lambda spark, landing, out, ckpt: st.run_enriched_append(
                spark, landing, dim_path, out, ckpt
            ),
        ),
    ]
    results: dict[str, dict] = {}
    for name, run in paths:
        out, ckpt = os.path.join(work, name, "out"), os.path.join(work, name, "ckpt")
        t0 = time.perf_counter()
        q = run(spark, landing, out, ckpt)
        elapsed = time.perf_counter() - t0
        results[name] = {
            "sec": round(elapsed, 3),
            "events_per_sec": round(n_events / elapsed),
            "state_rows": _state_rows(q),
        }
        print(f"{name}: {results[name]}", file=sys.stderr)

    shutil.rmtree(work, ignore_errors=True)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    doc = {
        "metric": "streaming_throughput",
        "unit": "events_per_sec",
        "n_events": n_events,
        "n_landing_files": N_LANDING_FILES,
        "sf": sf,
        "queries": results,
        "note": (
            "availableNow drain of a multi-file parquet landing dir "
            "through the engine's run_* runners (dedup: streaming.drain); "
            "state_rows = final StreamingQueryProgress numRowsTotal "
            "(watermark-bounded by construction, tested in "
            "tests/test_streaming.py)"
        ),
    }
    out_path = os.path.join(
        REPO, "BENCH_STREAMING_SF1.json" if "--sf1" in sys.argv
        else "BENCH_STREAMING.json"
    )
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc))
    spark.stop()


if __name__ == "__main__":
    main()
