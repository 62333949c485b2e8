"""Bloom-filter join pre-pruning — the classic 100 TB shuffle saver:
build a small bitmap over the dimension side's join keys, broadcast
it, and drop non-matching fact rows BEFORE they enter the join's
exchange. At warehouse scale the win is the shuffle you never pay:
a fact row whose key cannot match dies at the scan, so only the
(selectivity + false-positive) fraction of the fact crosses the wire.

Correctness is free, which is why this is registered as a
value-exact driver query (`j_bloom_prefilter`): a Bloom filter only
ever FAILS TO PRUNE (false positives survive the pre-filter), and the
join itself removes those — so the result set is bit-identical to the
plain join the oracle runs. Same physical-rewrite-only contract as
operators/skew.salted_join.

Determinism: bit positions come from the md5-prefix hash family
(seeded by index, the hll.md5_hash60 recipe), so the filter content
is reproducible across runs/engines — not needed for correctness
(any bits would do), but it keeps plans and tests stable.

Spark's own AQE can inject runtime bloom filters for some shapes
(spark.sql.optimizer.runtime.bloomFilter.enabled); this operator is
the explicit, composable form — usable on any DataFrame pair, with
the filter size and hash count chosen by the caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default geometry: m = 2^13 bits (128 longs, 1 KiB) and k = 4
#: hashes — <1% false positives up to ~850 distinct keys; callers
#: size m for their dimension cardinality (m/n >= 10 bits/key keeps
#: fp < 1%).
DEFAULT_M_BITS = 1 << 13
DEFAULT_K = 4


def _bit_pos(value: Column, i: int, m_bits: int) -> Column:
    """i-th hash bit position in [0, m_bits): md5 of the seeded
    value, 15-hex-char prefix as a bigint (non-negative), mod m."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{i}:"), value.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (h % F.lit(m_bits)).cast("long")


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> "list[int]":
    """Aggregate the dimension keys into a bitmap of m_bits bits,
    returned as m_bits/64 longs.

    Distributed: each row contributes k (word, mask) pairs; BIT_OR
    per word is map-side combinable, so the driver receives at most
    m_bits/64 rows (1 KiB at the default geometry) — a bounded
    sketch collect, same legitimacy class as the IVF training
    sample. (The registered query path uses the fully-lazy
    bloom_prefilter_join instead, which keeps the bitmap as a
    DataFrame — this literal form is for reuse across many probe
    frames.)"""
    assert m_bits > 0 and m_bits % 64 == 0, "m_bits must be a multiple of 64"
    words = m_bits // 64
    pairs = []
    for i in range(k):
        pos = _bit_pos(F.col(key_col), i, m_bits)
        pairs.append(
            F.struct(
                (pos / 64).cast("int").alias("w"),
                pos.alias("p"),
            )
        )
    exploded = df.select(F.explode(F.array(*pairs)).alias("b")).select(
        F.col("b.w").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b.p % 64 AS INT))").alias(
            "m"
        ),
    )
    agg = exploded.groupBy("w").agg(F.bit_or("m").alias("mask")).collect()
    bitmap = [0] * words
    for r in agg:
        bitmap[r["w"]] = r["mask"]
    return bitmap


def bloom_might_contain(
    value: Column,
    bitmap: "list[int]",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> Column:
    """Membership test as pure JVM expressions over the literal
    bitmap: k md5 positions, each checked with an element_at into
    the literal word array and a literal-array single-bit mask
    lookup (a variable shift amount can't be spelled with
    F.shiftleft, which binds numBits as a python int — the
    textops/dedup.py:509 lesson; a 64-entry literal mask array
    indexed by pos%64 is the codegen-friendly equivalent).
    Whole-stage codegen; runs at scan speed on the fact side."""
    assert m_bits > 0 and m_bits % 64 == 0, "m_bits must be a multiple of 64"
    assert len(bitmap) == m_bits // 64, "bitmap length != m_bits/64"
    words_arr = F.array(*[F.lit(w).cast("long") for w in bitmap])
    mask64 = F.array(
        *[F.lit(1 << b).cast("long") for b in range(63)]
        + [F.lit(-(1 << 63)).cast("long")]
    )
    cond = None
    for i in range(k):
        pos = _bit_pos(value, i, m_bits)
        word = F.element_at(words_arr, (pos / 64).cast("int") + F.lit(1))
        m = F.element_at(mask64, (pos % 64).cast("int") + F.lit(1))
        check = word.bitwiseAND(m) != 0
        cond = check if cond is None else cond & check
    return cond


def bloom_word_table(
    df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """The bitmap as a DataFrame of (word index, 64-bit mask) — the
    LAZY form of bloom_build: no job runs until the consuming plan
    executes, so callers (and benchmarks) pay the build inside their
    own action. At most m_bits/64 rows; BIT_OR is map-side
    combinable."""
    assert m_bits > 0 and m_bits % 64 == 0, "m_bits must be a multiple of 64"
    pairs = []
    for i in range(k):
        pos = _bit_pos(F.col(key_col), i, m_bits)
        pairs.append(
            F.struct((pos / 64).cast("int").alias("w"), pos.alias("p"))
        )
    return (
        df.select(F.explode(F.array(*pairs)).alias("b"))
        .select(
            F.col("b.w").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b.p % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
    )


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim with a Bloom pre-filter on the fact side.

    Fully lazy — nothing executes at construction time: the bitmap
    stays a DataFrame (bloom_word_table) and each of the k probes is
    a broadcast LEFT join of the fact's word index against it, with
    the single-bit test done via a 64-entry literal mask array. A
    missing word row means NO dim key hashed into that word, so the
    fact row cannot match — coalesce(false) keeps that sound. Rows
    failing any probe die before the real join's exchange.

    Physical rewrite only: false positives survive the filter and
    are removed by the join, so the result is bit-identical to
    fact.join(dim, key, how) — the 'how' must be inner/semi (the
    pruning is unsound for outer joins, which must keep
    non-matching rows)."""
    assert how in ("inner", "semi", "left_semi", "leftsemi")
    assert m_bits > 0 and m_bits % 64 == 0, "m_bits must be a multiple of 64"
    table = bloom_word_table(dim, key, m_bits, k)
    mask64 = F.array(
        *[F.lit(1 << b).cast("long") for b in range(63)]
        + [F.lit(-(1 << 63)).cast("long")]
    )
    pruned = fact
    checks = []
    for i in range(k):
        pos = _bit_pos(F.col(key), i, m_bits)
        t = table.select(
            F.col("w").alias(f"__bw{i}"), F.col("mask").alias(f"__bm{i}")
        )
        pruned = pruned.withColumn(
            f"__bw{i}", (pos / 64).cast("int")
        ).withColumn(f"__bp{i}", (pos % 64).cast("int"))
        pruned = pruned.join(F.broadcast(t), f"__bw{i}", "left")
        checks.append(
            F.coalesce(
                F.col(f"__bm{i}").bitwiseAND(
                    F.element_at(mask64, F.col(f"__bp{i}") + F.lit(1))
                )
                != 0,
                F.lit(False),
            )
        )
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    drop = [c for i in range(k) for c in (f"__bw{i}", f"__bp{i}", f"__bm{i}")]
    pruned = pruned.filter(cond).drop(*drop)
    return pruned.join(dim, key, how)
