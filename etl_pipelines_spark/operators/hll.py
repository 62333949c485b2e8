"""HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
from deterministic SQL-replicable primitives — the repo's
approximate-made-value-exact recipe applied to the cardinality-sketch
family (the same move as the literal-hyperplane LSH and
literal-codebook PQ oracles).

Why not approx_count_distinct: Spark's HLL++ and DuckDB's sketch use
engine-private hash functions and bias tables, so their estimates can
never be compared across engines. This sketch fixes every ingredient:

  * hash   — the 60-bit md5 prefix (md5_hash60 below), which
             both engines parse identically;
  * split  — top 6 bits select one of m=64 registers, the remaining
             54 bits feed the rank;
  * rank   — rho = leading zeros + 1, computed EXACTLY via the
             length of the integer's base-2 string (conv/bin), no
             floating log2;
  * merge  — MAX per register (algebraic: map-side combinable, the
             property that makes HLL the 100 TB distinct-count
             operator — registers are 64 small ints per group, vs a
             shuffle of every distinct value for COUNT(DISTINCT));
  * sum    — register contributions 2^(-M_j) are summed as the
             EXACT integers 2^(C-M_j) (C = 55), so the only float
             op is one final division of two exactly-represented
             integers — bit-identical in any IEEE engine.

The estimate includes the standard small-range (linear counting)
correction — normally a cross-engine hazard because it needs ln(),
whose last-ulp behavior is engine-specific. Here it is exact anyway:
the zero-register count V is an INTEGER in [1, m], so m*ln(m/V) has
only m possible values, and both engines read them from the same
table of literal doubles (python repr round-trips to the identical
IEEE double in Spark and DuckDB). The raw/corrected branch test
compares identically computed doubles, so the branch choice matches
too. Result: a real corrected HLL (~1.04/sqrt(64) ≈ 13% worst-case
sigma, a few % with linear counting at small n), hash-exact across
Spark and DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: number of registers (2^BUCKET_BITS) and the rank-domain constant.
BUCKET_BITS = 6
M = 1 << BUCKET_BITS  # 64 registers
W_BITS = 60 - BUCKET_BITS  # 54 rank bits
C = W_BITS + 1  # scaled-sum exponent: 2^(C - rho) stays integral


def md5_hash60(s: Column) -> Column:
    """60-bit hash from md5 — SQL-REPLICABLE, unlike xxhash64
    (Spark-private): 15 hex chars parse exactly into a signed BIGINT
    in every engine (('0x' || hex)::BIGINT in DuckDB, conv(hex, 16,
    10) here). The HLL register hash, and the cross-engine shingle
    hash for textops' SimHash (use with bits=60)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _lc_table() -> "list[float]":
    """m * ln(m / V) for V = 1..m — every value linear counting can
    produce, as plain python doubles whose repr both engines parse
    to the identical IEEE double."""
    return [M * math.log(M / v) for v in range(1, M + 1)]


def _alpha() -> Column:
    """alpha_m for m=64, spelled as the literal FORMULA (not a
    decimal I transcribed) so Spark and the SQL oracle compute the
    identical double."""
    return F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(M)))


def hll_register_rows(value: Column) -> "tuple[Column, Column]":
    """Per-row (bucket, rho) for the hashed value.

    rho (leading-zero rank of the 54-bit remainder, 1-based) is
    integer-exact: 55 - bitlength(w), with bitlength read off the
    base-2 string — no float log anywhere."""
    h = md5_hash60(value.cast("string"))
    bucket = F.shiftright(h, W_BITS).cast("int")
    w = h.bitwiseAND(F.lit((1 << W_BITS) - 1).cast("long"))
    rho = F.when(w == 0, F.lit(C)).otherwise(
        F.lit(C) - F.length(F.conv(w, 10, 2))
    ).cast("int")
    return bucket, rho


def hll_distinct(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
) -> DataFrame:
    """HLL distinct-count estimate of value_col per group.

    Two-level aggregation, both with map-side partials: MAX(rho) per
    (group, register) — 64 rows per group regardless of input size —
    then the scaled integer register sum per group. Empty registers
    contribute 2^C (i.e. 2^-0) via the (M - observed) complement.
    Returns group_cols + hll_estimate (raw-HLL double, unrounded).
    """
    bucket, rho = hll_register_rows(F.col(value_col))
    regs = (
        df.select(*group_cols, bucket.alias("__bucket"), rho.alias("__rho"))
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__rho").alias("__m"))
    )
    # pyspark's shiftleft() binds numBits as a PYTHON int (the
    # textops/dedup.py:509 lesson) — a per-row shift amount needs
    # the SQL form.
    scaled = F.expr(f"shiftleft(CAST(1 AS BIGINT), {C} - __m)")
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(scaled).cast("long").alias("__s_present"),
        F.count(F.lit(1)).cast("long").alias("__n_regs"),
    )
    s_total = F.col("__s_present") + (
        F.lit(M).cast("long") - F.col("__n_regs")
    ) * F.lit(1 << C).cast("long")
    raw = (
        _alpha()
        * F.lit(float(M * M))
        * F.lit(float(1 << C))
        / s_total.cast("double")
    )
    v = F.lit(M).cast("int") - F.col("__n_regs").cast("int")
    lc = F.element_at(F.array(*[F.lit(x) for x in _lc_table()]), v)
    est = F.when((v > 0) & (raw <= F.lit(2.5 * M)), lc).otherwise(raw)
    return per_group.select(*group_cols, est.alias("hll_estimate"))


def hll_distinct_oracle_sql(
    table: str,
    group_col: str,
    value_col: str,
) -> str:
    """DuckDB mirror of hll_distinct: same hash, same integer rank
    (length(bin(w))), same scaled-integer register sum, same literal
    alpha formula — the single float division is of two exactly
    represented integers, so the estimate is bit-identical."""
    mask = (1 << W_BITS) - 1
    lc_list = "[" + ", ".join(repr(x) for x in _lc_table()) + "]"
    return f"""
rows AS (
  SELECT {group_col},
    (('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))::BIGINT >> {W_BITS})::INT AS bucket,
    CASE WHEN (('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))::BIGINT & {mask}) = 0
      THEN {C}
      ELSE {C} - length(bin(('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))::BIGINT & {mask}))
    END AS rho
  FROM {table}
),
regs AS (
  SELECT {group_col}, bucket, MAX(rho) AS m_j
  FROM rows GROUP BY {group_col}, bucket
),
sums AS (
  SELECT {group_col},
    CAST(SUM(1::BIGINT << ({C} - m_j)) AS BIGINT) AS s_present,
    CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM regs GROUP BY {group_col}
),
raw AS (
  SELECT {group_col},
    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / {float(M)}::DOUBLE))
      * {float(M * M)}::DOUBLE * {float(1 << C)}::DOUBLE
      / CAST(s_present + ({M}::BIGINT - n_regs) * ({1 << C}::BIGINT) AS DOUBLE)
      AS raw_est,
    ({M} - n_regs)::INT AS v
  FROM sums
),
hll AS (
  SELECT {group_col},
    CASE WHEN v > 0 AND raw_est <= {2.5 * M}::DOUBLE
      THEN ({lc_list}::DOUBLE[])[v]
      ELSE raw_est
    END AS hll_estimate
  FROM raw
)"""
