"""Distributed exact order statistics (two-phase, no single-reducer sort).

A global ``PERCENT_RANK() OVER (ORDER BY x)``, ``RANK()``, exact
quantile or per-group median needs a total order. The window form
sorts the whole frame (or each whole group) in ONE task: the empty
``PARTITION BY`` compiles to Exchange SinglePartition + Window. The
reference accepts that for its dim-sized RFM mart
(2_ods_marketing/00_customer_rfm_segmentation.sql:13-15) and its
pricing median (9_SPV/Pricing/1_pricing_outlier_removal.sql:95-134);
at 100 TB it is the bottleneck SURVEY §7 flags.

Every operator here is a thin caller of one kernel,
:func:`cumulative_counts`, which numbers rows in that order without
the big sort:

1. range-partition by ``(groups, order)``: within a group, partition
   ids follow the order, and equal keys never span a boundary;
2. a running sum of the weight per ``(partition, group)``: every
   reducer sorts only its own key range;
3. per-``(group, partition)`` totals, a frame of
   ``|groups| × shuffle.partitions`` rows, roll up to each
   partition's offset within its group and to the group total. This
   is the only global step (with no groups, a SinglePartition
   exchange of that tiny frame);
4. one row per partition broadcasts back, keyed by the partition id:
   only a partition's first group can have rows in earlier
   partitions, and only its first or last group rows elsewhere, so
   those two groups' offset and totals are all a row needs:
   ``__cum = offset + running sum``.

Percent rank and exact quantiles run the kernel over the value
histogram (weight = the value's row count, map-side combined), so
each distinct value is one row; global rank runs it over the rows
with weight 1; the SPV median runs it per (brand, type) group
(``queries.spv_price_outliers_core``). Every result is two
non-negative integers per row, so the callers' arithmetic is
bit-identical to the window form.

NULL ordering is NOT normalized across engines (Spark sorts NULL
first ascending, ANSI implementations vary): callers coalesce nulls
before ranking, as the RFM model itself does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cacheutil import tracked_cache
from .localframe import local_frame


def cumulative_counts(
    df: DataFrame, order_cols, weight: "str | None" = None, groups=()
) -> DataFrame:
    """``df`` + ``__cum``, the weight summed over every row up to and
    including this one in ``(groups, order_cols)`` order, and
    ``__n``, the row's group total.

    ``order_cols``: Column objects carrying their sort direction
    (e.g. ``[F.col("revenue").desc(), F.col("pk").asc()]``). The same
    expressions drive the range partitioner and the running window,
    which is what makes the composition a total order; rows tied on
    them are numbered in no fixed order. ``weight``: a non-negative
    integer column, 1 per row when None. ``groups``: column names; a
    NULL group key is a group of its own, as in ``PARTITION BY``.
    """
    groups = list(groups)
    w = F.lit(1) if weight is None else F.col(weight)
    in_part = Window.partitionBy("__pid", *groups).orderBy(*order_cols)
    # cache: the totals branch and the offset join both consume the
    # numbered frame, and column pruning makes their exchange subtrees
    # non-identical, so ReuseExchange never fires and the range
    # exchange would run once per branch.
    numbered = (
        df.repartitionByRange(*groups, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__run", F.sum(w).over(in_part.rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )))
        .withColumn("__local", F.sum(w).over(in_part.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )))
        .transform(tracked_cache)
    )
    totals = numbered.groupBy(*groups, "__pid").agg(
        F.sum(w).alias("__ptotal")
    )
    in_group = Window.partitionBy(*groups)
    before = in_group.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        *groups,
        "__pid",
        (F.sum("__ptotal").over(before) - F.col("__ptotal")).alias("__offset"),
        F.sum("__ptotal").over(in_group).alias("__n"),
    )
    # A partition holds one contiguous range of groups: only its first
    # group can start in an earlier partition, only its first or last
    # continue in another one. One row per partition carries those two
    # groups' keys, offset and totals; every other group lies wholly in
    # the partition. Keyed by the integer partition id, the broadcast
    # is a compact long-keyed hash map, where a key of group strings
    # costs a whole memory page (tens of MB) on every executor.
    edges = offsets.groupBy("__pid").agg(
        F.min(F.struct(*groups, "__offset", "__n")).alias("__first"),
        F.max(F.struct(*groups, "__n")).alias("__last"),
    )

    def in_edge(edge: str):
        same = F.lit(True)
        for g in groups:
            same = same & F.col(g).eqNullSafe(F.col(edge)[g])
        return same

    first, last = in_edge("__first"), in_edge("__last")
    return (
        numbered.join(F.broadcast(edges), "__pid")
        .withColumn(
            "__cum",
            F.col("__run")
            + F.when(first, F.col("__first.__offset")).otherwise(F.lit(0)),
        )
        .withColumn(
            "__n",
            F.when(first, F.col("__first.__n"))
            .when(last, F.col("__last.__n"))
            .otherwise(F.col("__local")),
        )
        .drop("__pid", "__run", "__local", "__first", "__last")
    )


def attach_percent_rank(
    df: DataFrame, col: str, out: str, ascending: bool = True
) -> DataFrame:
    """``df`` + an ``out`` column holding the exact global
    PERCENT_RANK of ``df[col]``, value-identical to
    ``F.percent_rank().over(Window.orderBy(col))`` (the oracle form).
    Over the value histogram, ``__cum - __cnt`` rows sort strictly
    before a value (RANK semantics: ties share their first row's
    rank). The value→rank map joins back on ``col``; AQE is free to
    broadcast it when the distinct count is small."""
    order = F.col(col).asc() if ascending else F.col(col).desc()
    # The range sampling pass re-executes this histogram once, but
    # caching it here measured WORSE in paired two-tree A/B (r13:
    # txt_quality_buckets 0.51 -> 0.70-0.88 s, mon_value_quantiles
    # 0.64-0.70 -> 0.88 s, control row flat): the map-side-combined
    # groupBy is cheaper to run twice than to materialize once.
    hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = cumulative_counts(hist, [order], weight="__cnt")
    pct = F.when(
        F.col("__n") > 1,
        (F.col("__cum") - F.col("__cnt")).cast("double")
        / (F.col("__n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return df.join(cum.select(col, pct.alias(out)), col)


def attach_global_rank(
    df: DataFrame, order_cols, out: str
) -> DataFrame:
    """``df`` + an ``out`` INT column holding the exact global
    ``RANK() OVER (ORDER BY order_cols)``, value-identical to the
    window form when the composite order key is UNIQUE per row (then
    RANK == ROW_NUMBER == the weight-1 ``__cum``). ``order_cols`` as
    in :func:`cumulative_counts`."""
    return (
        cumulative_counts(df, order_cols)
        .withColumn(out, F.col("__cum").cast("int"))
        .drop("__cum", "__n")
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: "list[tuple[int, int]]",
) -> DataFrame:
    """EXACT distributed quantiles (PERCENTILE_DISC semantics: the
    smallest value whose cumulative count reaches ⌈q·n⌉), the
    scalable twin of `PERCENTILE_CONT/DISC OVER ()`, which plans as a
    SinglePartition sort of the whole frame.

    ``qs`` are RATIONALS [(num, den)] so the target rank
    ⌈num·n/den⌉ is integer arithmetic — no float q·n boundary can
    disagree between engines (approx_percentile trades exactness
    for one pass; this stays exact AND distributed).

    Output: (q, quantile) per requested rational, q rendered as the
    one IEEE division num/den rounded to 6dp."""
    # deliberately NOT cached — same negative A/B result as
    # attach_percent_rank above
    hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = cumulative_counts(hist, [F.col(col).asc()], weight="__cnt")
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
