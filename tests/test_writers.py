"""Write/refresh mode tests (SURVEY.md §2.2 W1-W5) — the reference's
DELETE+INSERT transaction patterns as atomic parquet operations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.sources.writers import (
    append,
    compact,
    full_refresh,
    schema_evolving_append,
    snapshot,
    upsert,
)


@pytest.fixture
def tmp_table(tmp_path):
    return str(tmp_path / "tbl")


def test_full_refresh_replaces(spark, tmp_table):
    full_refresh(spark.createDataFrame([(1, "a")], ["id", "v"]), tmp_table)
    full_refresh(spark.createDataFrame([(2, "b"), (3, "c")], ["id", "v"]), tmp_table)
    out = spark.read.parquet(tmp_table).collect()
    assert sorted(r.id for r in out) == [2, 3]


def test_append(spark, tmp_table):
    full_refresh(spark.createDataFrame([(1,)], ["id"]), tmp_table)
    append(spark.createDataFrame([(2,)], ["id"]), tmp_table)
    assert spark.read.parquet(tmp_table).count() == 2


def test_upsert_unpartitioned(spark, tmp_table):
    full_refresh(spark.createDataFrame([(1, "old"), (2, "keep")], ["id", "v"]), tmp_table)
    upsert(spark, spark.createDataFrame([(1, "new"), (3, "ins")], ["id", "v"]), tmp_table, keys=["id"])
    got = {r.id: r.v for r in spark.read.parquet(tmp_table).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_creates_if_missing(spark, tmp_table):
    upsert(spark, spark.createDataFrame([(1, "a")], ["id", "v"]), tmp_table, keys=["id"])
    assert spark.read.parquet(tmp_table).count() == 1


def test_upsert_partitioned_touches_only_hit_partitions(spark, tmp_table):
    base = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (2, "2024-01-02", "keep")], ["id", "d", "v"]
    )
    full_refresh(base, tmp_table, partition_by=["d"])
    upsert(
        spark,
        spark.createDataFrame([(1, "2024-01-01", "new")], ["id", "d", "v"]),
        tmp_table,
        keys=["id"],
        partition_by=["d"],
    )
    got = {r.id: r.v for r in spark.read.parquet(tmp_table).collect()}
    assert got == {1: "new", 2: "keep"}


def test_upsert_partitioned_deletes_key_across_partitions(spark, tmp_table):
    """The reference's DELETE FROM tgt USING tmp is table-wide: a
    duplicate key whose OLD row sits in a partition the new batch
    does not write must still lose that row (ADVICE r7 high)."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (2, "2024-01-01", "keep"),
         (3, "2024-01-02", "keep2")],
        ["id", "d", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["d"])
    # key 1 re-arrives in a DIFFERENT partition
    upsert(
        spark,
        spark.createDataFrame([(1, "2024-01-03", "new")], ["id", "d", "v"]),
        tmp_table,
        keys=["id"],
        partition_by=["d"],
    )
    rows = spark.read.parquet(tmp_table).collect()
    got = {(r.id, str(r.d), r.v) for r in rows}
    assert got == {
        (1, "2024-01-03", "new"),
        (2, "2024-01-01", "keep"),
        (3, "2024-01-02", "keep2"),
    }


def test_upsert_partitioned_drops_emptied_partition(spark, tmp_table):
    """A partition whose EVERY row was a replaced key must disappear
    — dynamic overwrite alone cannot delete a partition it writes
    zero rows into."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", "only"), (2, "2024-01-02", "keep")],
        ["id", "d", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["d"])
    upsert(
        spark,
        spark.createDataFrame([(1, "2024-01-05", "moved")], ["id", "d", "v"]),
        tmp_table,
        keys=["id"],
        partition_by=["d"],
    )
    assert not os.path.exists(os.path.join(tmp_table, "d=2024-01-01"))
    got = {(r.id, str(r.d), r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert got == {(1, "2024-01-05", "moved"), (2, "2024-01-02", "keep")}


def test_upsert_drops_emptied_partition_with_escaped_values(spark, tmp_table):
    """ADVICE r8 (medium): Spark ESCAPES partition values in paths
    (bool → 'true'; ':' → '%3A'), so stale-partition cleanup must
    parse directory names, not rebuild them with raw str(v). A
    colon-bearing string partition whose only row is replaced must
    vanish from disk."""
    base = spark.createDataFrame(
        [(1, "shard:a", "only"), (2, "shard:b", "keep")],
        ["id", "part", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["part"])
    # Spark wrote the escaped form — the raw f"part={v}" would miss it
    assert os.path.exists(os.path.join(tmp_table, "part=shard%3Aa"))
    upsert(
        spark,
        spark.createDataFrame([(1, "shard:c", "moved")], ["id", "part", "v"]),
        tmp_table,
        keys=["id"],
        partition_by=["part"],
    )
    got = {(r.id, r.part, r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert got == {(1, "shard:c", "moved"), (2, "shard:b", "keep")}
    assert not os.path.exists(os.path.join(tmp_table, "part=shard%3Aa"))


def test_upsert_drops_emptied_timestamp_partition(spark, tmp_table):
    """Timestamp partitions write 'ts=2024-01-01 00%3A00%3A00'
    (space kept, colons %-escaped) and read back as datetime values;
    the cleanup must match str(datetime) against the UNESCAPED
    directory value."""
    import datetime as dt

    base = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 6, 30), "only"),
         (2, dt.datetime(2024, 1, 2, 6, 30), "keep")],
        ["id", "ts", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["ts"])
    escaped = os.path.join(tmp_table, "ts=2024-01-01 06%3A30%3A00")
    assert os.path.exists(escaped)
    upsert(
        spark,
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 5, 6, 30), "moved")], ["id", "ts", "v"]
        ),
        tmp_table,
        keys=["id"],
        partition_by=["ts"],
    )
    got = {(r.id, str(r.ts), r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert got == {
        (1, "2024-01-05 06:30:00", "moved"),
        (2, "2024-01-02 06:30:00", "keep"),
    }
    assert not os.path.exists(escaped)


def test_upsert_drops_emptied_fractional_second_partition(spark, tmp_table):
    """ADVICE r9 (medium): Spark TRIMS trailing fractional-second
    zeros in timestamp partition paths ('ts=2024-01-01
    06%3A30%3A00.5') while str(datetime) gives '...06:30:00.500000';
    without normalization the stale dir fails to resolve and the
    upsert raises AFTER the overwrite committed, leaving the table
    half-merged."""
    import datetime as dt

    base = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 6, 30, 0, 500000), "only"),
         (2, dt.datetime(2024, 1, 2, 6, 30), "keep")],
        ["id", "ts", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["ts"])
    escaped = os.path.join(tmp_table, "ts=2024-01-01 06%3A30%3A00.5")
    assert os.path.exists(escaped), sorted(os.listdir(tmp_table))
    upsert(
        spark,
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 5, 6, 30), "moved")], ["id", "ts", "v"]
        ),
        tmp_table,
        keys=["id"],
        partition_by=["ts"],
    )
    got = {(r.id, str(r.ts), r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert got == {
        (1, "2024-01-05 06:30:00", "moved"),
        (2, "2024-01-02 06:30:00", "keep"),
    }
    assert not os.path.exists(escaped)


def test_upsert_unresolvable_stale_partition_fails_before_write(
    spark, tmp_table, monkeypatch
):
    """ADVICE r9: a stale-partition resolution failure must abort
    BEFORE the dynamic overwrite commits — the failed upsert is a
    clean no-op, not a half-merge with new rows written and the
    stale partition retained."""
    import pytest

    from etl_pipelines_spark.sources import writers

    base = spark.createDataFrame(
        [(1, "2024-01-01", "only"), (2, "2024-01-02", "keep")],
        ["id", "d", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["d"])
    monkeypatch.setattr(
        writers, "_resolve_partition_dir", lambda *a, **k: None
    )
    with pytest.raises(RuntimeError, match="stale partition"):
        upsert(
            spark,
            spark.createDataFrame(
                [(1, "2024-01-05", "moved")], ["id", "d", "v"]
            ),
            tmp_table,
            keys=["id"],
            partition_by=["d"],
        )
    # table untouched: no 2024-01-05 partition, old row still there
    got = {(r.id, str(r.d), r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert got == {(1, "2024-01-01", "only"), (2, "2024-01-02", "keep")}
    assert not os.path.exists(os.path.join(tmp_table, "d=2024-01-05"))


def test_upsert_drops_emptied_nested_partition(spark, tmp_table):
    """Two-level partitioning: the stale-dir resolver must walk one
    partition level at a time (each level independently escaped)."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a:1", "only"), (2, "2024-01-02", "a:2", "keep")],
        ["id", "d", "shard", "v"],
    )
    full_refresh(base, tmp_table, partition_by=["d", "shard"])
    nested = os.path.join(tmp_table, "d=2024-01-01", "shard=a%3A1")
    assert os.path.exists(nested)
    upsert(
        spark,
        spark.createDataFrame(
            [(1, "2024-01-05", "a:9", "moved")], ["id", "d", "shard", "v"]
        ),
        tmp_table,
        keys=["id"],
        partition_by=["d", "shard"],
    )
    got = {(r.id, str(r.d), r.shard, r.v)
           for r in spark.read.parquet(tmp_table).collect()}
    assert got == {
        (1, "2024-01-05", "a:9", "moved"),
        (2, "2024-01-02", "a:2", "keep"),
    }
    assert not os.path.exists(nested)


def test_upsert_null_partition_fails_before_write(spark, tmp_table):
    """ADVICE r8 (low): the NULL-partition guard must fire BEFORE the
    dynamic overwrite commits, leaving the table untouched."""
    base = spark.createDataFrame(
        [(1, None, "only"), (2, "2024-01-02", "keep")], ["id", "d", "v"]
    )
    full_refresh(base, tmp_table, partition_by=["d"])
    before = {(r.id, r.d, r.v) for r in spark.read.parquet(tmp_table).collect()}
    with pytest.raises(NotImplementedError, match="NULL-valued partition"):
        upsert(
            spark,
            spark.createDataFrame([(1, "2024-01-05", "moved")], ["id", "d", "v"]),
            tmp_table,
            keys=["id"],
            partition_by=["d"],
        )
    after = {(r.id, r.d, r.v) for r in spark.read.parquet(tmp_table).collect()}
    assert after == before  # clean no-op, not half-merged


def test_snapshot_idempotent(spark, tmp_table):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    snapshot(df, tmp_table, "2024-01-01")
    snapshot(df, tmp_table, "2024-01-02")
    snapshot(df, tmp_table, "2024-01-02")  # rerun same day: no dup
    out = spark.read.parquet(tmp_table)
    assert out.count() == 2
    days = sorted(str(r.date) for r in out.select("date").distinct().collect())
    assert days == ["2024-01-01", "2024-01-02"]


def test_failed_full_refresh_leaves_no_staging_dir(spark, tmp_table):
    """A write that raises part-way must remove its staging sibling
    and leave the old table readable."""
    full_refresh(spark.createDataFrame([(1, "a")], ["id", "v"]), tmp_table)
    bad = spark.range(0, 1000, numPartitions=4).withColumn(
        "v",
        F.when(F.col("id") == 999, F.raise_error(F.lit("boom"))).otherwise(
            F.lit("x")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        full_refresh(bad, tmp_table)
    parent = os.path.dirname(tmp_table)
    assert [e for e in os.listdir(parent) if e.endswith(".tmp")] == []
    assert [tuple(r) for r in spark.read.parquet(tmp_table).collect()] == [(1, "a")]


def test_partition_overwrite_is_per_write_on_a_static_session(spark, tmp_path):
    """snapshot and partitioned upsert overwrite only the partitions
    they write even on a session whose overwrite mode is static, and
    leave that session conf as they found it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        snap = str(tmp_path / "snap")
        df = spark.createDataFrame([(1, "a")], ["id", "v"])
        snapshot(df, snap, "2024-01-01")
        snapshot(df, snap, "2024-01-02")
        days = sorted(
            str(r.date) for r in spark.read.parquet(snap).select("date").collect()
        )
        assert days == ["2024-01-01", "2024-01-02"]

        tbl = str(tmp_path / "tbl")
        full_refresh(
            spark.createDataFrame(
                [(1, "2024-01-01", "old"), (2, "2024-01-02", "keep")],
                ["id", "d", "v"],
            ),
            tbl,
            partition_by=["d"],
        )
        upsert(
            spark,
            spark.createDataFrame([(1, "2024-01-01", "new")], ["id", "d", "v"]),
            tbl,
            keys=["id"],
            partition_by=["d"],
        )
        got = {r.id: r.v for r in spark.read.parquet(tbl).collect()}
        assert got == {1: "new", 2: "keep"}
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, saved)


def test_schema_evolving_append(spark):
    old = spark.createDataFrame([(1, "a")], ["id", "v"])
    new = spark.createDataFrame([(2, "b", 9.0)], ["id", "v", "extra"])
    out = schema_evolving_append(old, new)
    rows = {r.id: r.extra for r in out.collect()}
    assert rows == {1: None, 2: 9.0}


def test_compact_reduces_files(spark, tmp_table):
    spark.createDataFrame([(i,) for i in range(100)], ["id"]).repartition(8).write.parquet(tmp_table)
    n_before = len([f for f in os.listdir(tmp_table) if f.endswith(".parquet")])
    compact(spark, tmp_table, target_files=1)
    n_after = len([f for f in os.listdir(tmp_table) if f.endswith(".parquet")])
    assert n_before == 8 and n_after == 1
    assert spark.read.parquet(tmp_table).count() == 100


def test_full_refresh_sorted_within_files(spark, tmp_table):
    """sort_within_by (the SORTKEY analogue) must leave every output
    file internally sorted so parquet min/max stats can skip row
    groups on range predicates."""
    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") * 7919 % 10_000).alias("ts"),  # scrambled order
    ).repartition(4)
    full_refresh(df, tmp_table, sort_within_by=["ts"])

    got = spark.read.parquet(tmp_table).select(
        F.input_file_name().alias("f"), "ts"
    )
    from pyspark.sql import Window

    prev = F.lag("ts").over(Window.partitionBy("f").orderBy(F.monotonically_increasing_id()))
    violations = got.withColumn("prev", prev).filter(
        F.col("prev").isNotNull() & (F.col("prev") > F.col("ts"))
    )
    assert violations.count() == 0


def test_compact_sizes_by_bytes_and_stays_parallel(spark, tmp_table):
    """Auto-sized compaction: file count derives from input bytes /
    target_bytes, written via repartition (multi-task), not a
    single-task coalesce funnel."""
    spark.createDataFrame(
        [(i, "x" * 50) for i in range(5000)], ["id", "pad"]
    ).repartition(16).write.parquet(tmp_table)
    n_before = len([f for f in os.listdir(tmp_table) if f.endswith(".parquet")])
    # tiny target_bytes forces >1 output file from the byte sizing
    n = compact(spark, tmp_table, target_bytes=16 * 1024)
    n_after = len([f for f in os.listdir(tmp_table) if f.endswith(".parquet")])
    assert n_before == 16
    assert n > 1 and n_after == n
    assert spark.read.parquet(tmp_table).count() == 5000


class TestOnFailureRecovery:
    def test_backup_then_restore_missing_snapshots(self, spark, tmp_path):
        """The reference's on-failure flow: backup history, rebuild
        loses some snapshot dates (and a column), restore re-attaches
        exactly the missing dates via schema-evolving append."""
        import datetime as dt

        from pyspark.sql import functions as F

        from etl_pipelines_spark.sources.writers import (
            backup_table,
            restore_missing_snapshots,
        )

        hist_path = str(tmp_path / "history")
        backup_path = str(tmp_path / "backup")

        rows = [
            (uid, dt.date(2024, 1, d), float(uid * d))
            for uid in (1, 2, 3)
            for d in (1, 2, 3, 4)
        ]
        full = spark.createDataFrame(
            rows, "user_id long, snapshot_date date, balance double"
        )
        full.write.mode("overwrite").parquet(hist_path)
        backup_table(spark, hist_path, backup_path)

        # disaster: rebuild keeps only days 3-4 and drops a column
        rebuilt = full.filter(F.col("snapshot_date") >= dt.date(2024, 1, 3))
        rebuilt = rebuilt.withColumn("new_flag", F.lit(True))
        rebuilt.write.mode("overwrite").parquet(hist_path)

        n = restore_missing_snapshots(spark, hist_path, backup_path)
        assert n == 6  # 3 users x 2 missing days

        got = spark.read.parquet(hist_path)
        assert got.count() == 12
        dates = {r.snapshot_date for r in got.select("snapshot_date").distinct().collect()}
        assert dates == {dt.date(2024, 1, d) for d in (1, 2, 3, 4)}
        # restored rows carry NULL for the drifted column
        assert got.filter(F.col("new_flag").isNull()).count() == 6

        # idempotent: nothing left to restore
        assert restore_missing_snapshots(spark, hist_path, backup_path) == 0


class TestSnapshotTimeTravel:
    def test_as_of_returns_newest_covered_snapshot(self, spark, tmp_path):
        from etl_pipelines_spark.sources.writers import (
            read_snapshot_as_of,
            snapshot,
        )

        path = str(tmp_path / "hist")
        for day, vals in [
            ("2024-01-01", [(1, "a")]),
            ("2024-01-05", [(1, "b"), (2, "x")]),
            ("2024-01-09", [(1, "c")]),
        ]:
            snapshot(
                spark.createDataFrame(vals, ["id", "v"]), path, day
            )
        got = read_snapshot_as_of(spark, path, "2024-01-07")
        rows = sorted((r.id, r.v) for r in got.collect())
        assert rows == [(1, "b"), (2, "x")]  # the Jan-5 snapshot
        # exact-day hit and post-history as_of
        assert sorted(
            (r.id, r.v)
            for r in read_snapshot_as_of(spark, path, "2024-01-09").collect()
        ) == [(1, "c")]
        # partition filter must prune at the scan (no full history read)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
