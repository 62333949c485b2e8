"""Streaming-tier throughput bench (r3 VERDICT "Next round" #7).

The streaming operators are equivalence-tested against their batch
twins but had no THROUGHPUT number. This measures events/sec through
each streaming path at sf0.1 (and sf1 with --sf1), draining a
multi-file landing directory with trigger(availableNow) — the
reference's own incremental-run shape — and records per-path state
rows from the final StreamingQueryProgress so the watermark-bounded
state claim carries a measured size, not just a green test.

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
    prog = query.lastProgress
    if not prog:
        return None
    ops = prog.get("stateOperators") or []
    return sum(op.get("numRowsTotal", 0) for op in ops) or None


def drain(build_writer, timeout_sec: int = 600):
    """Start an availableNow query, await full drain, return
    (elapsed_sec, state_rows)."""
    t0 = time.perf_counter()
    q = build_writer()
    q.awaitTermination(timeout_sec)
    elapsed = time.perf_counter() - t0
    return elapsed, _state_rows(q)


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

    from etl_pipelines_spark.streaming.incremental import (
        deduped,
        read_events_stream,
        running_user_stats,
        streaming_daily_counts,
        streaming_session_rollup,
    )
    from etl_pipelines_spark.streaming.joins import view_purchase_attribution
    from etl_pipelines_spark.sources import writers

    work = tempfile.mkdtemp(prefix="bench_stream_")
    landing = os.path.join(work, "landing")
    n_events = prepare_landing(spark, sf_dir, landing)

    def out_paths(name: str):
        return (
            os.path.join(work, name, "out"),
            os.path.join(work, name, "ckpt"),
        )

    results: dict[str, dict] = {}

    def record(name: str, elapsed: float, state_rows) -> None:
        results[name] = {
            "sec": round(elapsed, 3),
            "events_per_sec": round(n_events / elapsed),
            "state_rows": state_rows,
        }
        print(f"{name}: {results[name]}", file=sys.stderr)

    # 1. watermarked dedup -> parquet append
    out, ckpt = out_paths("dedup")
    el, st = drain(
        lambda: deduped(read_events_stream(spark, landing))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    record("s_dedup_drain", el, st)

    # 2. foreachBatch incremental upsert (delete-insert merge per batch)
    out, ckpt = out_paths("upsert")

    def upsert_writer():
        stream = read_events_stream(spark, landing, max_files_per_trigger=4)

        def merge(batch, _bid):
            writers.upsert(
                spark, batch.dropDuplicates(["event_id"]), out, ["event_id"]
            )

        return (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    el, st = drain(upsert_writer)
    record("s_incremental_upsert", el, st)

    # 3. session_window rollup
    out, ckpt = out_paths("sessions")
    el, st = drain(
        lambda: streaming_session_rollup(read_events_stream(spark, landing))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    record("s_session_rollup", el, st)

    # 4. tumbling daily windows
    out, ckpt = out_paths("daily")
    el, st = drain(
        lambda: streaming_daily_counts(read_events_stream(spark, landing))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    record("s_daily_windows", el, st)

    # 5. stream-stream interval join (view -> purchase attribution)
    out, ckpt = out_paths("ssjoin")

    def ssjoin_writer():
        stream = read_events_stream(spark, landing)
        joined = view_purchase_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
        )
        return (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    el, st = drain(ssjoin_writer)
    record("s_stream_stream_join", el, st)

    # 6. applyInPandasWithState running stats
    out, ckpt = out_paths("stateful")

    def stateful_writer():
        stats = running_user_stats(read_events_stream(spark, landing))

        def sink(batch, _bid):
            batch.write.mode("append").parquet(out)

        return (
            stats.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    el, st = drain(stateful_writer)
    record("s_stateful_running_stats", el, st)

    # 7. stream-static enrichment (dim re-read per micro-batch)
    out, ckpt = out_paths("enriched")
    dim_path = os.path.join(work, "dim")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id").distinct()
        .withColumn("segment", F.pmod("user_id", 5).cast("string"))
        .write.mode("overwrite").parquet(dim_path)
    )

    def enriched_writer():
        stream = read_events_stream(spark, landing)

        def enrich(batch, _bid):
            dim = batch.sparkSession.read.parquet(dim_path)
            batch.join(F.broadcast(dim), "user_id", "left").write.mode(
                "append"
            ).parquet(out)

        return (
            stream.writeStream.foreachBatch(enrich)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    el, st = drain(enriched_writer)
    record("s_enriched_append", el, st)

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
            "availableNow drain of a multi-file parquet landing dir; "
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
