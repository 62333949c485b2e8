from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.queries import load
from etl_pipelines_spark.streaming.incremental import (
    run_incremental_upsert,
    run_streaming_sessions,
    streaming_session_rollup,
)


@pytest.fixture()
def events(spark, sf_dir):
    # source events with ts normalized to a real timestamp column
    return load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def _write_landing(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


class TestIncrementalUpsert:
    def test_two_batches_with_overlap(self, spark, events, tmp_path):
        landing = str(tmp_path / "landing")
        target = str(tmp_path / "ods_events")
        ckpt = str(tmp_path / "ckpt")

        half1 = events.filter(F.col("event_id") % 2 == 0)
        half2 = events.filter(F.col("event_id") % 2 == 1)
        overlap = half1.limit(50)  # duplicates across batches

        _write_landing(half1, landing)
        q = run_incremental_upsert(spark, landing, target, ckpt)
        got1 = spark.read.parquet(target)
        assert got1.count() == half1.count()
        # the runner returns its finished query; its per-batch record
        # accounts for every landed row
        assert not q.isActive
        assert sum(p["numInputRows"] for p in q.recentProgress) == half1.count()

        _write_landing(half2.unionByName(overlap), landing)
        run_incremental_upsert(spark, landing, target, ckpt)
        got2 = spark.read.parquet(target)
        # exactly-once by key despite replayed duplicates
        assert got2.count() == events.count()
        assert got2.select("event_id").distinct().count() == events.count()

    def test_rerun_without_new_files_is_noop(self, spark, events, tmp_path):
        landing = str(tmp_path / "landing")
        target = str(tmp_path / "t")
        ckpt = str(tmp_path / "ckpt")
        _write_landing(events.limit(100), landing)
        run_incremental_upsert(spark, landing, target, ckpt)
        n1 = spark.read.parquet(target).count()
        run_incremental_upsert(spark, landing, target, ckpt)  # no new files
        assert spark.read.parquet(target).count() == n1


class TestDrain:
    def test_timeout_stops_the_query_and_raises(self, spark, events, tmp_path):
        """A drain that outlasts its timeout must not return as if it
        had finished while its query keeps writing."""
        landing = str(tmp_path / "landing")
        events.repartition(8).write.parquet(landing)
        with pytest.raises(TimeoutError):
            run_streaming_sessions(
                spark, landing, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                timeout_sec=0.001,
            )
        assert spark.streams.active == []


class TestStreamingSessions:
    def test_matches_batch_session_window(self, spark, events, tmp_path):
        landing = str(tmp_path / "landing")
        target = str(tmp_path / "sessions")
        ckpt = str(tmp_path / "ckpt")

        real = events.filter(F.col("user_id") < 50)
        _write_landing(real, landing)
        run_streaming_sessions(spark, landing, target, ckpt, gap="30 minutes")

        # sentinel far in the future pushes the watermark past every
        # real session end so pending state flushes on the next run
        max_ts = real.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(10**9, max_ts + dt.timedelta(days=10), 10**6, "sentinel", 0.0, "{}")],
            schema=real.schema,
        )
        _write_landing(sentinel, landing)
        run_streaming_sessions(spark, landing, target, ckpt, gap="30 minutes")

        streamed = spark.read.parquet(target)
        expected = (
            real.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
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
        assert streamed.count() == expected.count()
        assert streamed.exceptAll(expected).count() == 0
        assert expected.exceptAll(streamed).count() == 0

    def test_rollup_shape_on_batch_df(self, spark, events):
        # session rollup builder is usable in batch mode too (parity
        # check for the non-streaming path)
        out = streaming_session_rollup(events.limit(0))
        assert set(out.columns) == {
            "user_id", "session_start", "session_end",
            "n_events", "session_value",
        }


class TestStatefulRunningStats:
    def test_state_survives_across_drains(self, spark, events, tmp_path):
        from etl_pipelines_spark.streaming.incremental import (
            run_running_user_stats,
        )

        landing = str(tmp_path / "landing")
        target = str(tmp_path / "user_stats")
        ckpt = str(tmp_path / "ckpt")

        few = events.filter(F.col("user_id") < 5)
        batch1 = few.filter(F.col("event_id") % 2 == 0)
        batch2 = few.filter(F.col("event_id") % 2 == 1)

        _write_landing(batch1, landing)
        run_running_user_stats(spark, landing, target, ckpt)
        got1 = {r.user_id: r for r in spark.read.parquet(target).collect()}
        exp1 = {r.user_id: r for r in batch1.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v"),
            F.max("ts").alias("last"),
        ).collect()}
        assert {u: r.lifetime_events for u, r in got1.items()} == {
            u: r.n for u, r in exp1.items()
        }

        # second drain, same checkpoint: totals must be CUMULATIVE
        _write_landing(batch2, landing)
        run_running_user_stats(spark, landing, target, ckpt)
        got2 = {r.user_id: r for r in spark.read.parquet(target).collect()}
        expall = {r.user_id: r for r in few.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v"),
            F.max("ts").alias("last"),
        ).collect()}
        assert {u: r.lifetime_events for u, r in got2.items()} == {
            u: r.n for u, r in expall.items()
        }
        for u, r in got2.items():
            assert abs(r.lifetime_value - expall[u].v) < 1e-9
            assert r.last_seen == expall[u].last


class TestKafkaShaped:
    def test_wire_roundtrip_matches_batch(self, spark, events, tmp_path):
        """events -> kafka wire encoding -> streamed decode must
        reproduce the original rows, with broker lineage columns
        (topic, partition, offset) attached and offsets monotonic
        per partition."""
        from etl_pipelines_spark.streaming import (
            KAFKA_WIRE_SCHEMA,
            decode_events,
            drain,
            encode_events_to_wire,
            read_kafka_shaped_stream,
        )

        src = events.limit(500)
        wire_dir = str(tmp_path / "wire")
        wire = encode_events_to_wire(src)
        # name/type contract (nullability differs on literal columns)
        assert [(f.name, f.dataType) for f in wire.schema.fields] == [
            (f.name, f.dataType) for f in KAFKA_WIRE_SCHEMA.fields
        ]
        wire.write.parquet(wire_dir)

        stream = read_kafka_shaped_stream(spark, wire_dir)
        assert stream.isStreaming
        decoded = decode_events(stream)
        out_dir = str(tmp_path / "out")
        writer = decoded.writeStream.format("parquet").option("path", out_dir)
        drain(writer, str(tmp_path / "ck"), 300)

        got = spark.read.parquet(out_dir)
        assert got.count() == 500
        # typed payload survives the bytes round-trip
        want = {
            (r.event_id, r.ts, r.user_id, r.event_type, r.value)
            for r in src.collect()
        }
        have = {
            (r.event_id, r.ts, r.user_id, r.event_type, r.value)
            for r in got.collect()
        }
        assert have == want
        # offsets are dense + monotonic within each partition
        import itertools

        offs = sorted(
            ((r.partition, r.offset) for r in got.select("partition", "offset").collect())
        )
        for part, grp in itertools.groupby(offs, key=lambda t: t[0]):
            seq = [o for _, o in grp]
            assert seq == list(range(1, len(seq) + 1))

    def test_decode_is_jvm_only(self, spark, events):
        """The decode path must stay whole-stage-codegen (no Python
        nodes) — it sits in the hot ingestion path."""
        from etl_pipelines_spark.streaming import decode_events, encode_events_to_wire

        wire = encode_events_to_wire(events.limit(10))
        plan = decode_events(wire)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        for n in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert n not in plan


class TestStreamingScd2:
    """St3 + SCD2: snapshot drops merged incrementally through
    foreachBatch must equal the batch-merged history."""

    SNAP_DATES = ["2024-01-07", "2024-01-14", "2024-01-21", "2024-01-28"]

    def _snapshots(self, spark, events):
        out = []
        e = events.select(F.to_date("ts").alias("d"), "user_id", "event_type")
        for ds in self.SNAP_DATES:
            out.append(
                e.filter(F.col("d") <= F.lit(ds).cast("date"))
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.count(F.when(F.col("event_type") == "purchase", 1))
                    .alias("n_purchases"),
                )
                .withColumn("snapshot_date", F.lit(ds).cast("date"))
            )
        return out

    def test_incremental_equals_batch(self, spark, events, tmp_path):
        from pyspark.sql.types import (
            DateType, LongType, StructField, StructType,
        )

        from etl_pipelines_spark.operators import scd2_merge
        from etl_pipelines_spark.streaming import run_streaming_scd2

        landing = str(tmp_path / "snaps")
        history = str(tmp_path / "scd2_history")
        ckpt = str(tmp_path / "ckpt")
        snaps = self._snapshots(spark, events)
        schema = StructType([
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_purchases", LongType()),
            StructField("snapshot_date", DateType()),
        ])

        # drop 1: first two snapshots in one drain; drop 2: the rest
        _write_landing(snaps[0].unionByName(snaps[1]), landing)
        run_streaming_scd2(
            spark, landing, history, ckpt,
            keys=["user_id"], attrs=["n_events", "n_purchases"],
            schema=schema,
        )
        mid = spark.read.parquet(history)
        assert mid.filter(F.col("valid_to").isNull()).count() > 0

        _write_landing(snaps[2].unionByName(snaps[3]), landing)
        run_streaming_scd2(
            spark, landing, history, ckpt,
            keys=["user_id"], attrs=["n_events", "n_purchases"],
            schema=schema,
        )
        got = sorted(map(str, spark.read.parquet(history).collect()))

        want_hist = None
        for ds, snap in zip(self.SNAP_DATES, snaps):
            want_hist = scd2_merge(
                want_hist, snap.drop("snapshot_date"),
                ["user_id"], ["n_events", "n_purchases"], ds,
            )
        want = sorted(map(str, want_hist.collect()))
        assert got == want


class TestStreamStreamJoin:
    def test_attribution_matches_batch_join(self, spark, events, tmp_path):
        """Stream-stream interval join (views x purchases within 1h,
        same user) over two drains must equal the batch join on the
        full event set — append-mode rows are emitted exactly once
        even though the two sides arrive in different drains."""
        from etl_pipelines_spark.streaming import (
            run_view_purchase_attribution,
        )

        landing = str(tmp_path / "landing")
        target = str(tmp_path / "attrib")
        ckpt = str(tmp_path / "ckpt")

        sample = events.filter(F.col("user_id") < 100)
        # drain 1: views only; drain 2: purchases (join must still
        # pair them — the view side waits in the state store)
        _write_landing(sample.filter(F.col("event_type") == "view"), landing)
        run_view_purchase_attribution(spark, landing, target, ckpt)
        _write_landing(
            sample.filter(F.col("event_type") != "view"), landing
        )
        run_view_purchase_attribution(spark, landing, target, ckpt)

        got = {
            (r.purchase_event_id, r.view_event_id)
            for r in spark.read.parquet(target).collect()
        }

        v = sample.filter(F.col("event_type") == "view").select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        p = sample.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        want = {
            (r.purchase_event_id, r.view_event_id)
            for r in p.join(
                v,
                F.expr(
                    "p_user_id = user_id AND view_ts <= purchase_ts "
                    "AND view_ts >= purchase_ts - INTERVAL 1 HOUR"
                ),
            ).collect()
        }
        assert want, "fixture must produce at least one attribution"
        assert got == want


class TestStreamingDailyCounts:
    def test_late_data_beyond_watermark_is_dropped(self, spark, tmp_path):
        """The watermark contract: a day's window, once emitted, is
        final — an event arriving after the watermark passed its
        window must not re-emit or change the day."""
        import datetime as dt

        from etl_pipelines_spark.streaming import (
            run_streaming_daily_counts,
        )

        landing = str(tmp_path / "landing")
        target = str(tmp_path / "daily")
        ckpt = str(tmp_path / "ckpt")

        def mk(rows):
            return spark.createDataFrame(
                [
                    (i, ts, uid, et, val, None)
                    for i, (ts, uid, et, val) in enumerate(rows)
                ],
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string",
            )

        d = lambda day, h=12: dt.datetime(2024, 3, day, h, 0, 0)
        # drain 1: days 1-5; watermark (1 day) closes days 1-3
        batch1 = mk(
            [(d(1), 1, "view", 1.0), (d(1), 2, "view", 2.0),
             (d(2), 1, "click", 4.0), (d(5), 1, "view", 8.0)]
        )
        _write_landing(batch1, landing)
        run_streaming_daily_counts(spark, landing, target, ckpt)
        got1 = {
            (str(r.day), r.event_type): (r.n_events, r.total_value)
            for r in spark.read.parquet(target).collect()
        }
        assert got1[("2024-03-01", "view")] == (2, 3.0)
        assert got1[("2024-03-02", "click")] == (1, 4.0)
        assert ("2024-03-05", "view") not in got1  # still open

        # drain 2: a LATE day-1 event (beyond the watermark) plus a
        # day-9 event that closes day 5
        batch2 = mk([(d(1, 13), 3, "view", 100.0), (d(9), 1, "view", 1.0)])
        _write_landing(batch2, landing)
        run_streaming_daily_counts(spark, landing, target, ckpt)
        got2 = {
            (str(r.day), r.event_type): (r.n_events, r.total_value)
            for r in spark.read.parquet(target).collect()
        }
        # day 1 unchanged — the late event was dropped, not re-emitted
        assert got2[("2024-03-01", "view")] == (2, 3.0)
        assert got2[("2024-03-05", "view")] == (1, 8.0)


class TestEnrichedStream:
    def test_enrichment_and_dim_refresh_between_drains(
        self, spark, events, tmp_path
    ):
        """Stream-static enrichment: (1) events join their dimension
        attributes; (2) a dimension REFRESH between drains is visible
        to the next micro-batch (the per-batch dim re-read contract);
        (3) events with no dim row still land with NULL attributes."""
        from etl_pipelines_spark.streaming import run_enriched_append

        landing = str(tmp_path / "landing")
        dim_path = str(tmp_path / "dim")
        target = str(tmp_path / "enriched")
        ckpt = str(tmp_path / "ckpt")

        users = events.select("user_id").distinct()
        # v1 dim covers only half the users
        half = users.filter(F.col("user_id") % 2 == 0)
        half.withColumn("segment", F.lit("v1")).write.mode(
            "overwrite"
        ).parquet(dim_path)

        _write_landing(events.filter(F.col("event_id") % 2 == 0), landing)
        run_enriched_append(spark, landing, dim_path, target, ckpt)
        got1 = spark.read.parquet(target)
        n_even_users = got1.filter(F.col("user_id") % 2 == 0).count()
        assert got1.filter(F.col("segment") == "v1").count() == n_even_users
        assert got1.filter(
            (F.col("user_id") % 2 == 1) & F.col("segment").isNotNull()
        ).count() == 0  # uncovered users land with NULL segment

        # dim refresh: now everyone, tagged v2
        users.withColumn("segment", F.lit("v2")).write.mode(
            "overwrite"
        ).parquet(dim_path)
        _write_landing(events.filter(F.col("event_id") % 2 == 1), landing)
        run_enriched_append(spark, landing, dim_path, target, ckpt)
        got2 = spark.read.parquet(target)
        new_rows = got2.filter(F.col("event_id") % 2 == 1)
        assert new_rows.filter(F.col("segment") != "v2").count() == 0
        assert new_rows.filter(F.col("segment").isNull()).count() == 0
        # first drain's rows keep their v1-era enrichment (append-only)
        assert got2.filter(F.col("segment") == "v1").count() == n_even_users
