"""Structured Streaming slice — the reference's micro-batch event
flow (SURVEY.md §2.10, §3.2) as a real stream.

Reference shape: Kafka→Firehose lands JSON on S3 every ~15 min
(data-airflow-prod/dags/kinesis_events/partitions_handler.py:51);
daily SQL reprocesses the trailing window, dedups by message_id
with ROW_NUMBER()=1 (30_segment_events/01_track_events.sql:28,144)
and DELETE+INSERT upserts (05_all_events_incremental.sql:160-170).

Spark-first replacement:
- file-source ``readStream`` over the landing directory, run by
  :func:`drain` — every ``run_*`` runner here and in ``joins.py``
  ends in it. ``drain`` starts the writer with its checkpoint and
  ``Trigger.AvailableNow``, which processes everything new since the
  last checkpoint and then stops: the reference's "incremental run"
  with exactly-once file tracking instead of loaded_at predicates.
  It returns the finished ``StreamingQuery``, whose
  ``recentProgress`` is the per-micro-batch record. A drain that
  outlasts its timeout is stopped and raises ``TimeoutError``, so a
  runner never returns while its query is still writing.
- watermark + dropDuplicates for in-flight dedup (St2),
- ``foreachBatch`` → key-wise upsert into the target table (St3) —
  idempotent replay, like the reference's DELETE USING + INSERT.
- ``F.session_window`` gap sessionization (St4) — the idiomatic
  streaming bonus the reference approximates with client-side ids.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds batch size), state for dedup/session windows is bounded by
the watermark, and the upsert only rewrites touched partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources import writers

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    landing_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the landing directory. Schema must be
    declared (streaming reads don't infer)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


def deduped(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """St2: at-least-once landing -> exactly-once-ish output.

    Uses dropDuplicatesWithinWatermark so the per-key state store is
    actually bounded: plain dropDuplicates(["event_id"]) only evicts
    state on watermark when the event-time column is part of the dedup
    subset — keyed on event_id alone it would hold every key forever.
    WithinWatermark evicts each key once it falls behind the watermark,
    deduping any two copies that arrive within the watermark delay of
    each other (the reference instead recomputes a trailing window
    daily)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def drain(
    writer: DataStreamWriter, checkpoint_dir: str, timeout_sec: float
) -> StreamingQuery:
    """Start ``writer`` as one availableNow drain from
    ``checkpoint_dir`` and wait for it to finish. Returns the finished
    query; a query that fails re-raises its error. On timeout the
    query is stopped and ``TimeoutError`` raised."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain in {timeout_sec} s"
        )
    return q


def run_incremental_upsert(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain all new files, upserting each micro-batch into the
    target (St3). Replays are idempotent: batch-level dedup + keyed
    upsert, and the checkpoint guarantees each file is processed
    once even across job restarts."""
    keys = keys or ["event_id"]
    stream = read_events_stream(spark, landing_dir)

    def merge(batch: DataFrame, _batch_id: int) -> None:
        clean = batch.dropDuplicates(keys)
        writers.upsert(spark, clean, target_path, keys)

    return drain(stream.writeStream.foreachBatch(merge), checkpoint_dir, timeout_sec)


def streaming_session_rollup(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """St4 via F.session_window: per-user sessions close after `gap`
    of inactivity; append-mode emission once the watermark passes the
    session end. State is bounded by watermark + gap."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_streaming_sessions(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """End-to-end streaming sessionization into a parquet sink
    (append mode: each closed session is written exactly once)."""
    stream = read_events_stream(spark, landing_dir)
    rollup = streaming_session_rollup(stream, gap)
    writer = rollup.writeStream.format("parquet").option("path", target_path)
    return drain(writer.outputMode("append"), checkpoint_dir, timeout_sec)


def streaming_daily_counts(
    stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """St5 as a REAL stream: watermarked tumbling calendar windows
    (the batch engine computes the same grain via date_trunc in
    wh_daily_kpi). Append mode emits each day exactly once — when the
    watermark passes the window end — and events arriving later than
    the watermark are DROPPED deterministically (the late-data
    contract; tested in test_streaming.py). State is one row per
    (day, event_type) inside the watermark horizon — bounded
    regardless of stream length. Money rides the exact-decimal sum."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_streaming_daily_counts(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain new files through the windowed aggregation; closed days
    append to parquet exactly once per (day, event_type)."""
    stream = read_events_stream(spark, landing_dir)
    counts = streaming_daily_counts(stream, watermark)
    writer = counts.writeStream.format("parquet").option("path", target_path)
    return drain(writer.outputMode("append"), checkpoint_dir, timeout_sec)


RUNNING_STATS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("lifetime_events", LongType()),
        StructField("lifetime_value", DoubleType()),
        StructField("last_seen", TimestampType()),
    ]
)

# State travels as value cents (int) so replayed/rebatched runs
# accumulate exactly — float accumulation order would drift.
_RUNNING_STATS_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("value_cents", LongType()),
        StructField("last_seen", TimestampType()),
    ]
)


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    LIFETIME running totals emitted once per micro-batch — state that
    outlives any window, which ``F.session_window``/watermarked aggs
    cannot express (their state is bounded and evicted by design).
    The reference approximates this shape with full nightly
    recomputation (e.g. 4_dwh_grover_card/Account_balance.sql running
    balances); here the state store carries it incrementally.

    State per user is O(1) (count, cents, last ts) — safe at any
    cardinality; the shuffle is the groupBy(user_id) exchange that
    any per-user aggregation needs."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            n, cents, last_seen = state.get
        else:
            n, cents, last_seen = 0, 0, None
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(round(pdf["value"].astype(float).sum() * 100))
            batch_max = pdf["ts"].max()
            if last_seen is None or batch_max > last_seen:
                last_seen = batch_max
        state.update((n, cents, last_seen))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "lifetime_events": [n],
                "lifetime_value": [cents / 100.0],
                "last_seen": [last_seen],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_STATS_OUTPUT,
        stateStructType=_RUNNING_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_running_user_stats(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain new files through the stateful operator; the state store
    (backed by the checkpoint) carries per-user totals across runs,
    so a second drain continues counting where the first stopped."""
    stream = read_events_stream(spark, landing_dir)
    stats = running_user_stats(stream)

    def sink(batch: DataFrame, _batch_id: int) -> None:
        writers.upsert(spark, batch, target_path, ["user_id"])

    writer = stats.writeStream.foreachBatch(sink).outputMode("update")
    return drain(writer, checkpoint_dir, timeout_sec)


def run_streaming_scd2(
    spark: SparkSession,
    landing_dir: str,
    history_path: str,
    checkpoint_dir: str,
    keys: list[str],
    attrs: list[str],
    schema: "StructType",
    date_col: str = "snapshot_date",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """St3 applied to dimension history: snapshot drops land as
    files; each micro-batch's snapshots merge into the stored SCD2
    interval history through operators/scd2.scd2_merge, in
    snapshot-date order, and the history table full-refreshes
    atomically (read-old-then-swap, so the lazy read of the previous
    history never races the overwrite). The checkpoint processes
    each snapshot file exactly once across restarts; scd2_merge's
    idempotent re-merge (and same-day last-write-wins) makes
    replayed snapshots safe.

    Scale: the history table is change-proportional (small next to
    facts); each merge shuffles once on the business key and only
    open rows join the incoming snapshot."""
    from ..operators.scd2 import scd2_merge

    stream = (
        spark.readStream.format("parquet").schema(schema).load(landing_dir)
    )

    def merge(batch: DataFrame, _batch_id: int) -> None:
        import os

        dates = [r[0] for r in batch.select(date_col).distinct().collect()]
        if not dates:
            return
        hist = (
            spark.read.parquet(history_path)
            if os.path.exists(history_path)
            else None
        )
        for d in sorted(dates):
            snap = batch.filter(F.col(date_col) == F.lit(d)).drop(date_col)
            hist = scd2_merge(hist, snap, keys, attrs, d)
        writers.full_refresh(hist, history_path)

    return drain(stream.writeStream.foreachBatch(merge), checkpoint_dir, timeout_sec)


def run_enriched_append(
    spark: SparkSession,
    landing_dir: str,
    dim_path: str,
    target_path: str,
    checkpoint_dir: str,
    on: "list[str] | None" = None,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Stream-static ENRICHMENT (the missing St-family member next
    to dedup/upsert/session/window/join): events stream joined
    against a slowly-changing dimension table, appended enriched.

    The dimension is re-read from its path INSIDE foreachBatch, so a
    dimension refresh between micro-batches is guaranteed visible to
    the next batch — the contract a naively pre-built stream-static
    join plan does NOT give you when the dim is a fixed file listing
    (Spark pins the static side's files at analysis time for file
    sources). The per-batch read costs one listing + broadcast of a
    dim that is small by definition (it broadcasts); at 100 TB this
    is the standard micro-batch dimension-refresh idiom.

    Left join: events with no dim row still land (NULL attributes) —
    late dimension arrivals are the normal case in CDC-fed dims."""
    on = on or ["user_id"]
    stream = read_events_stream(spark, landing_dir)

    def enrich(batch: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import functions as F

        dim = batch.sparkSession.read.parquet(dim_path)
        out = batch.join(F.broadcast(dim), on, "left")
        out.write.mode("append").parquet(target_path)

    return drain(stream.writeStream.foreachBatch(enrich), checkpoint_dir, timeout_sec)
