"""Operator-library semantics tests (SURVEY.md §2.4-2.8 idioms)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.operators import (
    asof_join,
    date_spine,
    dedupe_latest,
    dim_dates,
    qualify,
    range_join,
    running_total,
    sessionize,
    top_k_per_group,
)
from etl_pipelines_spark.operators.rangejoin import bucketed_range_join


def ts(s):
    return dt.datetime.fromisoformat(s)


class TestDedupe:
    def test_keeps_one_per_key(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")], ["k", "v", "tag"]
        )
        out = dedupe_latest(df, ["k"], [F.col("v").desc()]).collect()
        got = {r.k: r.tag for r in out}
        assert got == {1: "new", 2: "only"}

    def test_qualify(self, spark):
        from pyspark.sql import Window

        df = spark.createDataFrame([(1, 10), (1, 20), (2, 5)], ["k", "v"])
        w = Window.partitionBy("k").orderBy(F.col("v").desc())
        out = qualify(df, F.row_number().over(w), lambda c: c == 1).collect()
        assert sorted((r.k, r.v) for r in out) == [(1, 20), (2, 5)]


class TestTopK:
    def test_row_number_exact_k(self, spark):
        df = spark.createDataFrame([(1, i) for i in range(10)], ["k", "v"])
        out = top_k_per_group(df, ["k"], [F.col("v").desc()], 3)
        assert sorted(r.v for r in out.collect()) == [7, 8, 9]

    def test_rank_keeps_ties(self, spark):
        df = spark.createDataFrame([(1, 5), (1, 5), (1, 3)], ["k", "v"])
        out = top_k_per_group(df, ["k"], [F.col("v").desc()], 1, method="rank")
        assert [r.v for r in out.collect()] == [5, 5]


class TestDateSpine:
    def test_inclusive_bounds(self, spark):
        out = date_spine(spark, "2024-01-01", "2024-01-03").collect()
        assert [str(r.date) for r in out] == ["2024-01-01", "2024-01-02", "2024-01-03"]

    def test_dim_dates_flags(self, spark):
        row = dim_dates(spark, "2024-01-07", "2024-01-07").collect()[0]
        assert row.day_of_week == 0  # Redshift DOW: Sunday=0
        assert row.is_weekend is True
        assert row.day_name == "Sunday"
        assert str(row.last_of_month) == "2024-01-31"


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        rows = [
            (1, ts("2024-01-01 00:00:00")),
            (1, ts("2024-01-01 00:10:00")),  # same session (10 min)
            (1, ts("2024-01-01 01:00:00")),  # new session (50 min gap)
            (2, ts("2024-01-01 00:00:00")),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts"])
        out = sessionize(df, gap_minutes=30).collect()
        seqs = {(r.user_id, str(r.ts)): r.session_seq for r in out}
        assert seqs[(1, "2024-01-01 00:00:00")] == 1
        assert seqs[(1, "2024-01-01 00:10:00")] == 1
        assert seqs[(1, "2024-01-01 01:00:00")] == 2
        assert seqs[(2, "2024-01-01 00:00:00")] == 1


class TestAsofJoin:
    def _sides(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-10"), "L1"), (1, ts("2024-01-20"), "L2"), (2, ts("2024-01-10"), "L3")],
            ["k", "lts", "lbl"],
        )
        right = spark.createDataFrame(
            [(1, ts("2024-01-05"), 100.0), (1, ts("2024-01-15"), 200.0)],
            ["k", "rts", "rate"],
        )
        return left, right

    def test_backward(self, spark):
        left, right = self._sides(spark)
        out = asof_join(left, right, ["k"], "lts", "rts", ["rate"])
        got = {r.lbl: r.rate for r in out.collect()}
        assert got == {"L1": 100.0, "L2": 200.0, "L3": None}

    def test_backward_match_at_equal_ts(self, spark):
        left = spark.createDataFrame([(1, ts("2024-01-05"), "L")], ["k", "lts", "lbl"])
        right = spark.createDataFrame([(1, ts("2024-01-05"), 7.0)], ["k", "rts", "rate"])
        out = asof_join(left, right, ["k"], "lts", "rts", ["rate"]).collect()
        assert out[0].rate == 7.0

    def test_forward(self, spark):
        left, right = self._sides(spark)
        out = asof_join(left, right, ["k"], "lts", "rts", ["rate"], direction="forward")
        got = {r.lbl: r.rate for r in out.collect()}
        assert got == {"L1": 200.0, "L2": None, "L3": None}


class TestRangeJoin:
    def test_broadcast_range(self, spark):
        facts = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], ["id", "v"])
        bands = spark.createDataFrame([("lo", 0.0, 10.0), ("hi", 10.5, 20.0)], ["band", "lo", "hi"])
        out = range_join(facts, bands, "v", "lo", "hi")
        got = {r.id: r.band for r in out.collect()}
        assert got == {1: "lo", 2: "hi"}

    def test_bucketed_equals_naive(self, spark):
        facts = spark.createDataFrame([(i, float(i)) for i in range(50)], ["id", "v"])
        bands = spark.createDataFrame(
            [(j, j * 7.0, j * 7.0 + 10.0) for j in range(6)], ["bid", "lo", "hi"]
        )
        naive = {
            (r.id, r.bid)
            for r in range_join(facts, bands, "v", "lo", "hi").collect()
        }
        bucketed = {
            (r.id, r.bid)
            for r in bucketed_range_join(facts, bands, "v", "lo", "hi", 8.0).collect()
        }
        assert naive == bucketed and len(naive) > 0


class TestRunning:
    def test_prefix_sum_equals_recursive_semantics(self, spark):
        # the reference's recursive running balance == prefix sum
        df = spark.createDataFrame(
            [(1, 1, 10.0), (1, 2, -3.0), (1, 3, 5.0)], ["k", "i", "amt"]
        )
        out = running_total(df, "amt", ["k"], ["i"], "bal").orderBy("i").collect()
        assert [r.bal for r in out] == [10.0, 7.0, 12.0]


class TestTwoTierExactSums:
    """moneysum: the fixed-point fast path must be value-identical to
    the exact-decimal slow path regardless of partitioning/order."""

    def _base(self, spark):
        import random
        rng = random.Random(7)
        rows = [
            (i % 5, round(rng.uniform(-1000, 10000) * 100) / 100.0)
            for i in range(5000)
        ]
        return spark.createDataFrame(rows, "k int, amount double")

    def test_matches_decimal_sums(self, spark):
        from etl_pipelines_spark.operators import cents, two_tier_exact_sums
        df = self._base(spark)
        fast = {
            r["k"]: (r["total"], r["n"])
            for r in two_tier_exact_sums(
                df,
                ["k"],
                units={"total": (cents(F.col("amount")), 100)},
                partial_extra={"pn": F.count(F.lit(1))},
                merge_extra={"n": F.sum("pn")},
            ).collect()
        }
        slow = {
            r["k"]: (r["total"], r["n"])
            for r in df.groupBy("k")
            .agg(
                F.sum(F.col("amount").cast("decimal(12,2)"))
                .cast("double")
                .alias("total"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert fast == slow

    def test_partitioning_invariant(self, spark):
        from etl_pipelines_spark.operators import cents, two_tier_exact_sums

        def run(df):
            return {
                r["k"]: r["total"]
                for r in two_tier_exact_sums(
                    df, ["k"], units={"total": (cents(F.col("amount")), 100)}
                ).collect()
            }

        df = self._base(spark)
        assert run(df.repartition(1)) == run(df.repartition(37, "k"))

    def test_cents_recovers_two_decimal_doubles_exactly(self, spark):
        from etl_pipelines_spark.operators import cents
        vals = [0.01, -0.01, 123.45, -99999.99, 0.05, 1e7 - 0.01]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = [r["c"] for r in df.select(cents(F.col("v")).alias("c")).collect()]
        assert got == [round(v * 100) for v in vals]


class TestScd2:
    """Interval SCD2 merge vs the reference's daily-snapshot history."""

    def _hist(self, spark):
        from etl_pipelines_spark.operators import scd2_merge

        day1 = spark.createDataFrame(
            [(1, "basic", "DE"), (2, "premium", "FR"), (3, "basic", None)],
            ["cust_id", "tier", "country"],
        )
        h = scd2_merge(None, day1, ["cust_id"], ["tier", "country"], "2024-01-01")
        # day 2: cust 1 upgrades, cust 4 appears, cust 2/3 unchanged
        day2 = spark.createDataFrame(
            [(1, "premium", "DE"), (2, "premium", "FR"), (3, "basic", None),
             (4, "basic", "US")],
            ["cust_id", "tier", "country"],
        )
        h = scd2_merge(h, day2, ["cust_id"], ["tier", "country"], "2024-02-01")
        # day 3: cust 3's NULL country fills in (NULL->value IS a change)
        day3 = spark.createDataFrame(
            [(1, "premium", "DE"), (2, "premium", "FR"), (3, "basic", "ES"),
             (4, "basic", "US")],
            ["cust_id", "tier", "country"],
        )
        return scd2_merge(h, day3, ["cust_id"], ["tier", "country"], "2024-03-01")

    def test_history_intervals(self, spark):
        import datetime as dt

        h = self._hist(spark)
        rows = {(r.cust_id, str(r.valid_from)): (r.tier, r.country, r.valid_to)
                for r in h.collect()}
        assert len(rows) == 6  # 3 original + upgrade + new key + null-fill
        assert rows[(1, "2024-01-01")] == ("basic", "DE", dt.date(2024, 2, 1))
        assert rows[(1, "2024-02-01")] == ("premium", "DE", None)
        assert rows[(2, "2024-01-01")] == ("premium", "FR", None)
        assert rows[(3, "2024-01-01")] == ("basic", None, dt.date(2024, 3, 1))
        assert rows[(3, "2024-03-01")] == ("basic", "ES", None)
        assert rows[(4, "2024-02-01")] == ("basic", "US", None)

    def test_as_of_matches_snapshots(self, spark):
        from etl_pipelines_spark.operators import as_of

        h = self._hist(spark)
        jan = {r.cust_id: r.tier for r in as_of(h, "2024-01-15").collect()}
        assert jan == {1: "basic", 2: "premium", 3: "basic"}
        feb = {r.cust_id: r.tier for r in as_of(h, "2024-02-15").collect()}
        assert feb == {1: "premium", 2: "premium", 3: "basic", 4: "basic"}
        # boundary: as-of the change day sees the NEW row (valid_to
        # is exclusive)
        flip = {r.cust_id: r.tier for r in as_of(h, "2024-02-01").collect()}
        assert flip[1] == "premium"

    def test_rerun_is_idempotent(self, spark):
        from etl_pipelines_spark.operators import scd2_merge

        h = self._hist(spark)
        day3 = spark.createDataFrame(
            [(1, "premium", "DE"), (2, "premium", "FR"), (3, "basic", "ES"),
             (4, "basic", "US")],
            ["cust_id", "tier", "country"],
        )
        again = scd2_merge(h, day3, ["cust_id"], ["tier", "country"], "2024-03-01")
        a = sorted(map(str, h.collect()))
        b = sorted(map(str, again.collect()))
        assert a == b

    def test_relational_rebuild_equals_merge_replay(self, spark, sf_dir):
        """The full-rebuild form (queries.scd2_history_relational,
        one pass: daily partials × snapshot dates → LAG change flags
        → LEAD valid_to) must produce the EXACT interval set the
        scd2_merge replay (queries.scd2_history_core) produces — the
        duality the re-layered pipeline relies on (incremental
        nightly = merge; backfill / full rebuild and the registry's
        scd2_history = relational)."""
        from etl_pipelines_spark.queries import (
            load,
            scd2_history_core,
            scd2_history_relational,
        )

        merge_form = scd2_history_core(load(spark, sf_dir, "events"))
        relational = scd2_history_relational(load(spark, sf_dir, "events"))
        a = sorted(map(str, merge_form.collect()))
        b = sorted(map(str, relational.collect()))
        assert a == b and len(a) > 0

    def test_registry_build_fires_no_merge_jobs(self, spark, sf_dir):
        """Building REGISTRY["scd2_history"] must leave the work to the
        caller's action: the only job in the build's group is the
        parquet footer read of ``load``. The scd2_merge replay fired
        one job per shuffle stage of every round at build time
        (localCheckpoint(eager=False) still runs the adaptive plan's
        stages)."""
        from etl_pipelines_spark.queries import REGISTRY

        sc = spark.sparkContext
        group = "test-scd2-history-build"
        sc.setJobGroup(group, "scd2_history build")
        try:
            REGISTRY["scd2_history"].spark(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [
            st.getStageInfo(s).name
            for j in jobs
            for s in st.getJobInfo(j).stageIds
        ]
        assert len(jobs) <= 1, stages
        assert all(n.startswith("parquet at ") for n in stages), stages

    def test_merge_replay_partition_count_bounded(self, spark, sf_dir):
        """Each scd2_merge round UNIONS three branches, so the
        replayed history's partition count would otherwise sum per
        round (measured r12: 992 materialization tasks by round 4,
        ~3.5x task time over CPU — pure per-task overhead). The
        pre-checkpoint coalesce in scd2_history_core must keep the
        final frame at defaultParallelism partitions regardless of
        replay depth."""
        from etl_pipelines_spark.queries import load, scd2_history_core

        hist = scd2_history_core(load(spark, sf_dir, "events"))
        n = hist.rdd.getNumPartitions()
        assert n <= spark.sparkContext.defaultParallelism

    def test_same_day_rerun_replaces_in_place(self, spark):
        """A same-run_date re-merge with different values must NOT
        mint a zero-length (valid_from == valid_to] interval — the
        day's open row is replaced in place (last-write-wins)."""
        from etl_pipelines_spark.operators import as_of, scd2_merge

        h = self._hist(spark)
        corrected = spark.createDataFrame(
            [(1, "premium", "DE"), (2, "premium", "FR"), (3, "basic", "PT"),
             (4, "basic", "US")],
            ["cust_id", "tier", "country"],
        )
        h2 = scd2_merge(h, corrected, ["cust_id"], ["tier", "country"],
                        "2024-03-01")
        rows = h2.collect()
        assert not any(r.valid_from == r.valid_to for r in rows)
        # cust 3 has exactly one row effective 2024-03-01 — the
        # corrected one — and as_of sees it
        c3 = [r for r in rows
              if r.cust_id == 3 and str(r.valid_from) == "2024-03-01"]
        assert [(r.country, r.valid_to) for r in c3] == [("PT", None)]
        assert {r.cust_id: r.country
                for r in as_of(h2, "2024-03-01").collect()}[3] == "PT"

    def test_missing_key_stays_open(self, spark):
        from etl_pipelines_spark.operators import open_rows, scd2_merge

        h = self._hist(spark)
        # cust 4 absent from day 4 snapshot -> row carries forward
        day4 = spark.createDataFrame(
            [(1, "premium", "DE"), (2, "premium", "FR"), (3, "basic", "ES")],
            ["cust_id", "tier", "country"],
        )
        h4 = scd2_merge(h, day4, ["cust_id"], ["tier", "country"], "2024-04-01")
        assert {r.cust_id for r in open_rows(h4).collect()} == {1, 2, 3, 4}


class TestGlobalRank:
    """Two-phase distributed PERCENT_RANK (operators/globalrank.py):
    bit-identical to the window form, both directions, under heavy
    ties; degenerate frames behave like the SQL definition."""

    def _frame(self, spark, n=5000, mod=37):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            F.col("id"),
            F.pmod(F.col("id") * 131 + 7, mod).alias("v"),
        )

    @pytest.mark.parametrize("ascending", [True, False])
    def test_matches_window_percent_rank_exactly(self, spark, ascending):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import (
            attach_percent_rank,
        )

        df = self._frame(spark)
        order = F.col("v").asc() if ascending else F.col("v").desc()
        want = df.select(
            "id", F.percent_rank().over(Window.orderBy(order)).alias("pr")
        )
        got = attach_percent_rank(df, "v", "pr", ascending=ascending).select(
            "id", "pr"
        )
        n_bad = (
            got.alias("g")
            .join(want.alias("w"), "id")
            .filter("g.pr <> w.pr")
            .count()
        )
        assert n_bad == 0

    def test_single_row_is_zero(self, spark):
        from etl_pipelines_spark.operators.globalrank import (
            attach_percent_rank,
        )

        rows = attach_percent_rank(
            spark.createDataFrame([(1, 5)], "id long, v long"), "v", "pr"
        ).collect()
        assert [r.pr for r in rows] == [0.0]

    def test_all_ties_rank_zero(self, spark):
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import (
            attach_percent_rank,
        )

        df = spark.range(100).select(F.lit(7).alias("v"), "id")
        rows = attach_percent_rank(df, "v", "pr").select("pr").distinct().collect()
        assert [r.pr for r in rows] == [0.0]

    @pytest.mark.parametrize("descending", [True, False])
    def test_attach_global_rank_matches_window_rank(self, spark, descending):
        """attach_global_rank == RANK() OVER (ORDER BY v, id) when
        the composite key is unique (then RANK == ROW_NUMBER) — the
        contract top_products_core's overall rank rides on. Heavy
        value ties (mod 37) force tie-groups to straddle range
        partitions; the unique id tiebreaker must keep the two-phase
        result bit-identical to the single-reducer window form."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import (
            attach_global_rank,
        )

        df = self._frame(spark)
        order = [
            F.col("v").desc() if descending else F.col("v").asc(),
            F.col("id").asc(),
        ]
        want = df.select(
            "id", F.rank().over(Window.orderBy(*order)).alias("rk")
        )
        got = attach_global_rank(df, order, "rk").select("id", "rk")
        n_bad = (
            got.alias("g")
            .join(want.alias("w"), "id")
            .filter("g.rk <> w.rk")
            .count()
        )
        assert n_bad == 0

    def test_attach_global_rank_empty_frame(self, spark):
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import (
            attach_global_rank,
        )

        df = spark.range(0).select(F.col("id"), F.col("id").alias("v"))
        out = attach_global_rank(df, [F.col("v").asc()], "rk")
        assert out.count() == 0
        assert "rk" in out.columns

    def test_grouped_cumulative_counts_match_window_row_number(self, spark):
        """The grouped kernel (the SPV median's form): 3 groups x 5,000
        rows with heavy value ties (mod 37) and a unique id tiebreak.
        With AQE's partition coalescing off, every group spans several
        of the 8 range partitions. __cum must be the in-group
        ROW_NUMBER and __n the group count, on every row."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import cumulative_counts

        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        before = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")
        try:
            df = spark.range(15000).select(
                F.col("id"),
                F.pmod(F.col("id"), 3).alias("g"),
                F.pmod(F.col("id") * 131 + 7, 37).alias("v"),
            )
            order = [F.col("v").desc(), F.col("id").asc()]
            spans = (
                df.repartitionByRange("g", *order)
                .withColumn("pid", F.spark_partition_id())
                .groupBy("g")
                .agg(F.countDistinct("pid").alias("parts"))
            )
            assert min(r.parts for r in spans.collect()) > 1
            want = df.select(
                "id",
                F.row_number()
                .over(Window.partitionBy("g").orderBy(*order))
                .alias("rn"),
                F.count(F.lit(1)).over(Window.partitionBy("g")).alias("cnt"),
            )
            got = cumulative_counts(df, order, groups=["g"])
            assert got.count() == 15000
            n_bad = (
                got.join(want, "id")
                .filter("__cum <> rn OR __n <> cnt")
                .count()
            )
        finally:
            spark.conf.set(coalesce, before)
        assert n_bad == 0

    def test_grouped_cumulative_counts_null_group_is_a_group(self, spark):
        """A NULL group key numbers like any other group, as in
        ``PARTITION BY``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import cumulative_counts

        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        before = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")
        try:
            df = spark.range(3000).select(
                F.col("id"),
                F.when(F.col("id") % 3 > 0, F.col("id") % 3).alias("g"),
            )
            order = [F.col("id").desc()]
            want = df.select(
                "id",
                F.row_number()
                .over(Window.partitionBy("g").orderBy(*order))
                .alias("rn"),
                F.count(F.lit(1)).over(Window.partitionBy("g")).alias("cnt"),
            )
            got = cumulative_counts(df, order, groups=["g"])
            assert got.count() == 3000
            n_bad = got.join(want, "id").filter("__cum <> rn OR __n <> cnt").count()
        finally:
            spark.conf.set(coalesce, before)
        assert n_bad == 0

    def test_grouped_cumulative_counts_broadcast_is_keyed_by_partition(self, spark):
        """The offsets go back keyed by the integer partition id alone:
        a broadcast keyed by the group columns builds a hash map that
        holds a whole memory page per executor, however few its rows."""
        import re

        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import cumulative_counts

        df = spark.range(100).select(
            F.col("id"), F.concat(F.lit("g"), F.col("id") % 3).alias("g")
        )
        out = cumulative_counts(df, [F.col("id").asc()], groups=["g"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins = re.findall(r"BroadcastHashJoin (\[[^\]]*\]), (\[[^\]]*\])", plan)
        assert joins, plan
        for keys in joins:
            assert all(re.fullmatch(r"\[__pid#\d+\]", k) for k in keys), plan

    def test_grouped_cumulative_counts_empty_frame(self, spark):
        from pyspark.sql import functions as F

        from etl_pipelines_spark.operators.globalrank import cumulative_counts

        df = spark.range(0).select("id", F.col("id").alias("g"))
        out = cumulative_counts(df, [F.col("id").asc()], groups=["g"])
        assert out.count() == 0
        assert {"__cum", "__n"} <= set(out.columns)
