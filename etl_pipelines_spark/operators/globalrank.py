"""Distributed exact global ranking (two-phase, no single-reducer sort).

A global ``PERCENT_RANK() OVER (ORDER BY x)`` is a total order: Spark
compiles the empty-partition window to Exchange SinglePartition +
Window, so every row funnels through ONE reducer. The reference
accepts that for its dim-sized RFM mart
(2_ods_marketing/00_customer_rfm_segmentation.sql:13-15); at 100 TB
it is the bottleneck SURVEY §7 flags. This operator computes the SAME
exact ranks with a bucket-histogram two-phase plan:

1. collapse the frame to the distinct-value histogram
   (``groupBy(x).count()`` — map-side combinable, one shuffle on x);
2. range-partition the histogram by x (so partition ids follow value
   order), take per-partition prefix sums with a window PARTITIONED
   by the range-partition id — every reducer sorts only its own
   value range;
3. the per-partition totals (one row per range partition) are the
   only thing globally sorted — a frame of ``shuffle.partitions``
   rows — to derive each partition's global offset;
4. broadcast the offsets back: for each distinct value,
   ``rows_below = offset + prefix - count`` is the number of rows
   strictly before it in the total order, so
   ``percent_rank = rows_below / (n - 1)`` (RANK semantics: ties
   share the rank of their first row) — bit-identical to the window
   form because both are the same two non-negative integers divided
   in float64;
5. join the value→rank map back to the caller's frame on x.

NULL ordering is NOT normalized across engines (Spark sorts NULL
first ascending, ANSI implementations vary) — callers coalesce
nulls before ranking, as the RFM model itself does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cacheutil import tracked_cache
from .localframe import local_frame


def percent_rank_map(
    df: DataFrame, col: str, ascending: bool = True
) -> DataFrame:
    """Distinct-value → exact global PERCENT_RANK map for ``df[col]``.

    Output columns: ``col`` and ``__pct_rank`` (double). Every stage
    is distributed: the histogram shuffles once on the value, prefix
    sums run per range-partition, and only the partition-total frame
    (``shuffle.partitions`` rows) crosses a SinglePartition exchange.
    """
    order = F.col(col).asc() if ascending else F.col(col).desc()
    # The range sampling pass re-executes this histogram once, but
    # caching it here measured WORSE in paired two-tree A/B (r13:
    # txt_quality_buckets 0.51 -> 0.70-0.88 s, mon_value_quantiles
    # 0.64-0.70 -> 0.88 s, control row flat): the map-side-combined
    # groupBy is cheaper to run twice than to materialize once.
    hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    # Range partitioning puts ascending value ranges in ascending
    # partition ids, so pid order == value order. Each distinct value
    # lands in exactly one partition (no tie spans a boundary —
    # that's what phase 1 guarantees).
    ranged = hist.repartitionByRange(order).withColumn(
        "__pid", F.spark_partition_id()
    )
    within = (
        Window.partitionBy("__pid")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # cache the distinct-value histogram: the totals branch and the
    # rank join would otherwise each recompute the corpus groupBy
    # (pruning-divergent exchanges defeat ReuseExchange); the cached
    # frame is |distinct values|, never the corpus
    pref = ranged.withColumn("__prefix", F.sum("__cnt").over(within)).transform(tracked_cache)
    totals = pref.groupBy("__pid").agg(
        F.sum("__cnt").alias("__ptotal")
    )
    # The ONLY global sort: one row per range partition.
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "__pid",
        (F.sum("__ptotal").over(woff) - F.col("__ptotal")).alias("__offset"),
        F.sum("__ptotal").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    joined = pref.join(F.broadcast(offsets), "__pid")
    rows_below = F.col("__offset") + F.col("__prefix") - F.col("__cnt")
    pct = F.when(
        F.col("__n") > 1,
        rows_below.cast("double") / (F.col("__n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.select(F.col(col), pct.alias("__pct_rank"))


def attach_percent_rank(
    df: DataFrame, col: str, out: str, ascending: bool = True
) -> DataFrame:
    """``df`` + an ``out`` column holding the exact global
    PERCENT_RANK of ``df[col]`` — value-identical to
    ``F.percent_rank().over(Window.orderBy(col))`` (the oracle form)
    without its SinglePartition sort of the full frame. The value→rank
    map joins back on ``col``; AQE is free to broadcast it when the
    distinct count is small (quartile inputs usually are)."""
    ranks = percent_rank_map(df, col, ascending).withColumnRenamed(
        "__pct_rank", out
    )
    return df.join(ranks, col)


def attach_global_rank(
    df: DataFrame, order_cols, out: str
) -> DataFrame:
    """``df`` + an ``out`` INT column holding the exact global
    ``RANK() OVER (ORDER BY order_cols)`` — value-identical to the
    window form when the composite order key is UNIQUE per row (then
    RANK == ROW_NUMBER), without its Exchange SinglePartition sort of
    the whole frame.

    Two-phase plan: range-partition ``df`` by the order columns (so
    partition-id order == value order), ROW_NUMBER within each range
    partition (every reducer sorts only its own value range), roll
    per-partition counts up to offsets via ONE global window over a
    ``shuffle.partitions``-row frame, broadcast the offsets back.
    rank = offset + within-partition row number.

    ``order_cols``: list of Column objects carrying their sort
    direction (e.g. ``[F.col("revenue").desc(), F.col("pk").asc()]``)
    — the same expressions drive both the range partitioner and the
    within-partition window, which is what makes the composition a
    total order.
    """
    # cache the caller's frame BEFORE range partitioning: the range
    # sampling pass otherwise re-executes the whole upstream rollup a
    # second time (r13; same fix as percent_rank_map). Callers rank an
    # AGGREGATED grain, so the cached frame is bounded by that grain.
    df = df.transform(tracked_cache)
    ranged = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    within = Window.partitionBy("__pid").orderBy(*order_cols)
    # cache: the totals branch and the output join both consume rn;
    # column pruning makes their exchange subtrees non-identical so
    # ReuseExchange never fires and the input recomputes per branch.
    # Callers rank an AGGREGATED grain (top_products: the part-grain
    # rollup), so the cached frame is bounded by that grain.
    rn = ranged.withColumn("__rn", F.row_number().over(within)).transform(tracked_cache)
    totals = rn.groupBy("__pid").agg(F.count(F.lit(1)).alias("__ptotal"))
    # The ONLY global sort: one row per range partition.
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "__pid",
        (F.sum("__ptotal").over(woff) - F.col("__ptotal")).alias("__offset"),
    )
    return (
        rn.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__offset") + F.col("__rn")).cast("int"))
        .drop("__pid", "__rn", "__offset")
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: "list[tuple[int, int]]",
) -> DataFrame:
    """EXACT distributed quantiles (PERCENTILE_DISC semantics: the
    smallest value whose cumulative count reaches ⌈q·n⌉) — the
    scalable twin of `PERCENTILE_CONT/DISC OVER ()`, which plans as
    a SinglePartition sort of the whole frame. Built from the same
    two-phase machinery as percent_rank_map: value histogram (one
    shuffle, map-side combined) → range partitions → per-partition
    prefix sums → partition offsets (the only SinglePartition
    exchange: `shuffle.partitions` rows).

    ``qs`` are RATIONALS [(num, den)] so the target rank
    ⌈num·n/den⌉ is integer arithmetic — no float q·n boundary can
    disagree between engines (approx_percentile trades exactness
    for one pass; this stays exact AND distributed).

    Output: (q, quantile) per requested rational, q rendered as the
    one IEEE division num/den rounded to 6dp."""
    order = F.col(col).asc()
    # deliberately NOT cached — same negative A/B result as
    # percent_rank_map above
    hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    ranged = hist.repartitionByRange(order).withColumn(
        "__pid", F.spark_partition_id()
    )
    within = (
        Window.partitionBy("__pid")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same caching rationale as percent_rank_map: two consumers of
    # the |distinct values|-sized prefix frame
    pref = ranged.withColumn("__prefix", F.sum("__cnt").over(within)).transform(tracked_cache)
    totals = pref.groupBy("__pid").agg(F.sum("__cnt").alias("__ptotal"))
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "__pid",
        (F.sum("__ptotal").over(woff) - F.col("__ptotal")).alias("__offset"),
        F.sum("__ptotal").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    cum = pref.join(F.broadcast(offsets), "__pid").select(
        F.col(col),
        (F.col("__offset") + F.col("__prefix")).alias("__cum"),
        "__n",
    )
    qdf = local_frame(
        df.sparkSession,
        {"num": [n for n, _ in qs], "den": [d for _, d in qs]},
        "num long, den long",
    )
    need = F.expr("(num * __n + den - 1) div den")
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("__cum") >= need)
        .groupBy("num", "den")
        .agg(F.min(col).alias("quantile"))
        .select(
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("q"),
            "quantile",
        )
    )
