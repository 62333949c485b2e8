"""Count-Min Sketch (Cormode & Muthukrishnan 2005) — bounded-memory
frequency estimation, completing the repo's sketch family alongside
the HyperLogLog cardinality sketch (operators/hll.py) and the Bloom
membership filter (operators/bloom.py).

The 100 TB story: exact per-key counts over a high-cardinality key
(users, URLs, n-grams) shuffle one row per distinct key; the CMS
ships a FIXED d×w counter grid (4×512 longs = 16 KiB here) no matter
how many keys exist, and SUM per cell is map-side combinable. The
estimate min_i(cell[i][h_i(x)]) never undercounts — collisions only
ever ADD — so `est >= true` is a hard invariant, with overcount
bounded by e·N/w with probability 1−e^−d.

Value-exactness needs no tricks beyond determinism: every cell is an
integer SUM and the estimate is an integer MIN of 4 cells, so with
the md5-prefix hash family (SQL-replicable, the hll.md5_hash60
recipe) both engines build the identical grid and the identical
estimates — hash-exact with zero float ops anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default geometry: d=4 hash rows, w=512 counters per row (16 KiB).
DEPTH = 4
WIDTH = 512


def _cms_bucket(value: Column, i: int, width: int) -> Column:
    """i-th hash row's counter index for the value (md5-prefix mod
    w, seeded by the row index — same family as bloom._bit_pos)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{i}:"), value.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (h % F.lit(width)).cast("int")


def cms_table(
    df: DataFrame,
    key_col: str,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """The d×w counter grid as a DataFrame of (row, bucket, cnt).

    One explode (d skinny rows per input row) into a grouped SUM —
    with map-side partials the shuffle carries at most d×w partial
    rows per task regardless of input size. The grid frame is tiny
    (d×w rows) and broadcast-joins onto any probe set."""
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                _cms_bucket(F.col(key_col), i, width).alias("b"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("h"))
        .groupBy(F.col("h.i").alias("i"), F.col("h.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    table: DataFrame,
    key_col: str,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Attach the CMS frequency estimate to each probe row:
    min over the d cells the key hashes to. The grid broadcasts
    (d×w rows); each hash row is one broadcast join; LEAST of the d
    counters is the estimate. Missing cells mean count 0 (possible
    only for keys absent from the build input)."""
    out = probes
    for i in range(depth):
        t = table.filter(F.col("i") == i).select(
            F.col("b").alias(f"__b{i}"), F.col("cnt").alias(f"__c{i}")
        )
        out = out.withColumn(
            f"__b{i}", _cms_bucket(F.col(key_col), i, width)
        ).join(F.broadcast(t), f"__b{i}", "left")
    est = F.least(
        *[F.coalesce(F.col(f"__c{i}"), F.lit(0).cast("long")) for i in range(depth)]
    )
    drop = [c for i in range(depth) for c in (f"__b{i}", f"__c{i}")]
    return out.withColumn("cms_estimate", est).drop(*drop)
