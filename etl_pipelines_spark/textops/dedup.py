"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale architecture (the part that matters at 100 TB):
- Sketches (MinHash signatures, SimHash bits) are computed per
  document with array expressions — NO shuffle, NO UDF. A 1000-
  executor cluster sketches 100 TB as a pure map.
- Candidate generation shuffles once on (band_idx, band_key) — the
  standard LSH banding trade-off. Bucket sizes are bounded by data
  similarity structure, and AQE skew-join handles hot buckets.
- Exact verification (Jaccard on shingle sets / Hamming on bits) is
  a per-pair array op after the bucket join, so the expensive O(n^2)
  comparison never materializes — only within-bucket pairs do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.localframe import local_frame
from .analysis import tokenize


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text as an array.

    Built by zip_with-ing the token array against its own k-shifted
    slices (k = 1..n-1): every input array is evaluated once per ROW.
    The index spelling — ``transform(sequence(1, size-n+1), i ->
    concat_ws(' ', slice(toks, i, n)))`` — re-evaluates the entire
    tokenizer subtree once per ELEMENT (lambda bodies have no
    common-subexpression elimination), which made shingling the
    hottest op in the whole engine."""
    toks = tokenize(text)
    joined = toks
    for k in range(1, n):
        joined = F.zip_with(
            toks if k == 1 else joined,
            F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # zip_with null-pads the shorter (shifted) side; a NULL token
    # concat yields NULL, so the padded tail filters out cleanly.
    grams = F.filter(joined, lambda g: g.isNotNull())
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams)
        .otherwise(F.array(F.concat_ws(" ", toks))),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents (hash-groupBy on md5).
    Returns (fingerprint, n_docs, doc_ids sorted) for groups >1."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id document per identical text. One shuffle on
    the fingerprint; survivor choice is deterministic (min id)."""
    fp = df.withColumn("__fp", F.md5(F.col(text_col)))
    w_min = (
        fp.groupBy("__fp").agg(F.min(id_col).alias("__keep"))
    )
    return (
        fp.join(w_min, "__fp")
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )


def ngrams_exact(text: Column, n: int = 13) -> Column:
    """Distinct word n-gram strings; EMPTY for docs shorter than n
    tokens (unlike shingles(), which falls back to whole-text — for
    decontamination a short doc must simply produce no n-grams).
    Same zip_with-shifted-slice construction as shingles(): every
    input array is evaluated once per ROW, never once per element."""
    toks = tokenize(text)
    joined = toks
    for k in range(1, n):
        joined = F.zip_with(
            toks if k == 1 else joined,
            F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.filter(joined, lambda g: g.isNotNull())
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 13,
    corpus_text_col: str = "text",
    batch_id_col: str = "batch_id",
    batch_text_col: str = "text",
) -> DataFrame:
    """n-gram train/test decontamination (the GPT-3 appendix-C rule,
    Brown et al. 2020: an eval doc is contaminated if any 13-gram
    overlaps the training corpus; docs shorter than n are exempt).

    Scale shape — the part that makes this viable at 100 TB: the
    eval batch is always small, so its distinct gram fingerprints
    BROADCAST; the corpus side explodes grams narrowly, hashes them
    in the same projection, and map-joins against the broadcast set —
    the corpus never crosses an exchange at all (no corpus-wide
    distinct!). Only the matched (batch_id, fp) pairs — bounded by
    |batch grams| — shuffle into the final count.

    Returns one row per batch doc: n_ngrams, n_overlap (distinct
    grams found in the corpus), contaminated."""
    b = batch.select(
        F.col(batch_id_col),
        ngrams_exact(F.col(batch_text_col), n).alias("__grams"),
    )
    per_doc = b.select(batch_id_col, F.size("__grams").alias("n_ngrams"))
    b_fps = b.select(
        batch_id_col,
        F.explode(F.transform("__grams", lambda g: F.md5(g))).alias("__fp"),
    ).distinct()
    c_grams = corpus.select(
        F.explode(
            F.transform(
                ngrams_exact(F.col(corpus_text_col), n), lambda g: F.md5(g)
            )
        ).alias("__fp")
    )
    matched = (
        c_grams.join(F.broadcast(b_fps), "__fp")
        .groupBy(batch_id_col)
        .agg(F.count_distinct("__fp").alias("n_overlap"))
    )
    return (
        per_doc.join(F.broadcast(matched), batch_id_col, "left")
        .select(
            batch_id_col,
            "n_ngrams",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("int")
            .alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_check(
    corpus: DataFrame,
    batch: DataFrame,
    corpus_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Decontamination probe: flag batch (eval-set) documents whose
    exact text already exists in the training corpus — the standard
    train/test-overlap check an LLM data pipeline runs before
    accepting an eval set.

    Returns the batch with ``contaminated`` (boolean) and
    ``matched_corpus_doc`` (lowest matching corpus id, NULL when
    clean). Scale shape: the corpus side collapses to DISTINCT
    fingerprints (min id) BEFORE the join — one shuffle each side on
    the 16-byte fingerprint, never on document text; at 100 TB the
    corpus fingerprint table is buildable once and reusable across
    batches."""
    fps = (
        corpus.select(
            F.md5(F.col(text_col)).alias("__fp"),
            F.col(corpus_id_col).alias("matched_corpus_doc"),
        )
        .groupBy("__fp")
        .agg(F.min("matched_corpus_doc").alias("matched_corpus_doc"))
    )
    b = batch.withColumn("__fp", F.md5(F.col(text_col)))
    return (
        b.join(fps, "__fp", "left")
        .withColumn("contaminated", F.col("matched_corpus_doc").isNotNull())
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup — the oracle-checkable baseline)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold,
    computed exactly: explode shingles -> self-join on shingle ->
    per-pair intersection counts -> filter.

    O(sum of posting-list^2) — correct but quadratic in collisions;
    it is the *verifier* / small-corpus path. The scale path is
    minhash_lsh_pairs below, which verifies candidates with this
    same Jaccard formula but only inside LSH buckets.
    """
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    )
    cnt = sh.select("id", F.size("sh").alias("n_sh"))
    words = sh.select("id", F.explode("sh").alias("s"))
    a, b = words.alias("a"), words.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    out = (
        inter.join(ca, F.col("id_a") == F.col("ca.id"))
        .join(cb, F.col("id_b") == F.col("cb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH banding (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

def minhash_signature(
    text: Column, n: int = 3, num_hashes: int = 64
) -> Column:
    """num_hashes-wide MinHash signature of the shingle set as an
    array<bigint>. Each hash function is xxhash64(shingle, salt=i);
    the signature entry is the min over shingles.

    Built from *shingles* via minhash_signature_from_shingles; prefer
    that form when the shingle array is already a column — passing
    ``text`` here re-derives the shingle expression once (cheap),
    but never per-hash-function."""
    return minhash_signature_from_shingles(shingles(text, n), num_hashes)


def minhash_signature_from_shingles(sh: Column, num_hashes: int = 64) -> Column:
    """Signature via the two-hash Carter-Wegman family: each shingle
    is string-hashed exactly twice (h1=xxhash64(s), h2=xxhash64(s,1)),
    and hash function i is h1 + i*h2 (64-bit wrap) — so k signature
    lanes cost 2 string hashes + k long mult-adds per shingle instead
    of k string hashes.

    The expression tree stays O(1) in num_hashes — the naive
    ``F.array(*[array_min(...) for i in range(k)])`` spelling clones
    the entire shingle subtree k times, which at k=128 produced
    multi-MB plans, 1.5 MB task binaries and codegen fallback (500+ s
    for 5k docs; this form sketches the same corpus in ~1 s).
    NOTE: inner lambdas take exactly ONE parameter — F.transform
    passes the element index as a second arg if the lambda accepts
    two, which would silently turn the salt into the position."""
    h1 = F.transform(sh, lambda s: F.xxhash64(s))
    h2 = F.transform(sh, lambda s: F.xxhash64(s, F.lit(1)))
    pairs = F.zip_with(h1, h2, lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    salts = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    # Loop order: FOLD over shingles, updating a running per-lane min
    # vector — `pairs` is the aggregate's input, evaluated once per
    # row. (The transposed spelling `transform(salts, i ->
    # array_min(transform(pairs, ...)))` re-evaluates the whole
    # string-hashing subtree once per lane: lambda bodies have no
    # common-subexpression elimination.)
    max_long = F.lit(0x7FFFFFFFFFFFFFFF).cast("long")
    return F.aggregate(
        pairs,
        F.array_repeat(max_long, num_hashes),
        lambda acc, p: F.zip_with(
            acc,
            F.transform(salts, lambda i: p["a"] + i * p["b"]),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band_idx, band_key) LSH bucket keys via numpy per Arrow
    batch — the fast path for signature generation.

    The JVM fold in minhash_signature_from_shingles is expression-
    interpreted per (shingle x lane); at 64 lanes that allocates two
    64-wide arrays per shingle. Here each Arrow batch does one
    blake2b(16B) per *distinct* shingle (cached across the batch:
    near-dup corpora repeat shingles heavily) and one (m x k) numpy
    broadcast-min per doc — measured ~4x faster end-to-end at sf0.1.
    Narrow map, no shuffle, same scale shape as the JVM path.

    Hash family: h_i = h1 + i*h2 (Carter-Wegman, uint64 wrap) over
    blake2b128(shingle) split into two uint64 lanes; band key mixes
    the r lanes xor-multiply style. The family differs from the JVM
    path's xxhash64 — outputs stay identical after exact-Jaccard
    verification, which is the contract that makes the family
    swappable at all.
    """
    rows_per_band = num_hashes // bands
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        salts = np.arange(num_hashes, dtype=np.uint64)
        mix = np.uint64(0x9E3779B97F4A7C15)
        cache: dict[str, "np.ndarray"] = {}

        def h2lanes(s: str) -> "np.ndarray":
            v = cache.get(s)
            if v is None:
                d = hashlib.blake2b(
                    s.encode("utf-8", "surrogatepass"), digest_size=16
                ).digest()
                v = np.frombuffer(d, dtype=np.uint64)
                cache[s] = v
            return v

        for pdf in batches:
            out_id: list = []
            out_band: list = []
            out_key: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split()
                if len(toks) >= n:
                    shs = {
                        " ".join(toks[j : j + n])
                        for j in range(len(toks) - n + 1)
                    }
                else:
                    shs = {" ".join(toks)}
                H = np.stack([h2lanes(s) for s in shs])  # (m, 2)
                # min over shingles of h1 + i*h2, all lanes at once
                sig = (H[:, 0:1] + salts[None, :] * H[:, 1:2]).min(axis=0)
                lanes = sig.reshape(bands, rows_per_band)
                acc = np.zeros(bands, dtype=np.uint64)
                for c in range(rows_per_band):
                    acc = (acc ^ lanes[:, c]) * mix
                out_id.extend([did] * bands)
                out_band.extend(range(bands))
                out_key.extend(acc.view(np.int64))
            yield pd.DataFrame(
                {
                    "id": out_id,
                    "band_idx": np.asarray(out_band, dtype=np.int32),
                    "band_key": np.asarray(out_key, dtype=np.int64),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"id {id_type}, band_idx int, band_key long"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    engine: str = "arrow",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    bands=16 over 64 hashes -> rows-per-band r=4; collision prob at
    jaccard j is 1-(1-j^4)^16 (≈0.99 at j=0.8, ≈0.07 at j=0.3) —
    the classic S-curve. Candidates from any band bucket are then
    (by default) verified with exact shingle Jaccard so the output
    has no LSH false positives; recall misses are the documented
    trade-off of the sketch.

    engine='arrow' (default) generates bucket keys with numpy per
    Arrow batch (minhash_band_keys); engine='sql' keeps the pure
    expression path (no Python nodes in the plan) — both feed the
    same bucket join + verification, and verified outputs agree.
    """
    rows_per_band = num_hashes // bands
    if engine == "arrow":
        banded = minhash_band_keys(
            df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
        )
    else:
        base = df.select(
            F.col(id_col).alias("id"),
            minhash_signature_from_shingles(
                shingles(F.col(text_col), n), num_hashes
            ).alias("mh"),
        )
        # Band key = xxhash64 of the r-wide signature slice; built with
        # a transform over the band index so the plan is O(1) in bands.
        banded = base.select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.xxhash64(
                        F.slice(F.col("mh"), i * rows_per_band + 1, rows_per_band)
                    ),
                )
            ).alias("band_idx", "band_key"),
        )
    # Candidate generation shuffles ONLY (id, band_idx, band_key),
    # and only ONCE: groupBy bucket -> sorted id array -> in-array
    # pair expansion. (The equivalent self-join sketches the corpus
    # twice — Spark won't reuse the map side across join inputs —
    # and shuffles it twice.) Bucket fan-out is pairs^2 in bucket
    # size, bounded by the corpus's similarity structure, identical
    # to what the join form would produce.
    ids = F.array_sort(F.collect_list("id"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        banded.groupBy("band_idx", "band_key")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand
    # Exact-Jaccard verification re-derives shingles from the TEXT of
    # only the surviving candidates. Order matters at scale (r6
    # verdict: the sf1->sf10 slope rose to x5 because joining the
    # candidate PAIRS against the raw corpus flips from broadcast to
    # sort-merge once the pair side outgrows the broadcast threshold
    # — and then the FULL text corpus shuffles twice). Instead:
    # (1) semi-join-prune the corpus to the distinct candidate ids —
    #     a narrow int-key join AQE broadcasts while the id set is
    #     small and shuffles only when it genuinely is corpus-sized;
    # (2) shingle each surviving doc ONCE (a doc in k pairs used to
    #     re-shingle k times);
    # (3) join the pairs against the PRUNED shingle table — even a
    #     sort-merge fallback now shuffles |candidate docs|, not
    #     |corpus|.
    txt = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = txt.join(cand_ids, "id", "left_semi").select(
        "id", shingles(F.col("txt"), n).alias("sh")
    )
    pairs = (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (Hamming-space near-dup)
# ---------------------------------------------------------------------------

def simhash_votes(
    text: Column, n: int = 2, bits: int = 64, hash_fn=None
) -> Column:
    """Per-bit +1/-1 vote totals over the shingle set as an
    array<long> of length ``bits``. Pure fold over the shingle
    array — per-row, no shuffle. (shiftright takes a Python int, so
    the per-bit expressions are built in Python, not via a
    sequence() lambda — a lambda Column is not a valid shift amount.)

    ``hash_fn``: Column -> Column shingle hash; default xxhash64
    (fastest), md5_hash60 for cross-engine-replicable bits.
    """
    hash_fn = hash_fn or F.xxhash64
    # Hash each shingle ONCE into a long, then fold bit-votes over
    # the hash array — the per-bit expressions only shift/mask that
    # long. (Folding over shingles directly re-hashed the string 64
    # times per shingle: 64x the work, since lambda bodies are
    # interpreted with no common-subexpression elimination.)
    hashes = F.transform(shingles(text, n), lambda s: hash_fn(s))

    def bit_votes(h: Column) -> Column:
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("long")
                for i in range(bits)
            ]
        )

    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda x, y: x + y),
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    n: int = 2,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Attach a ``bits``-wide SimHash column. Two projections: votes
    first (one big fold), then sign-pack — packing via element_at on
    the materialized votes column so the fold expression isn't
    duplicated 64x in the plan."""
    tmp = "__sh_votes"
    out = df.withColumn(tmp, simhash_votes(F.col(text_col), n, bits, hash_fn))
    packed = F.lit(0).cast("long")
    for i in range(bits):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.element_at(tmp, i + 1) >= 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out.withColumn(out_col, packed).drop(tmp)


def _popcount64(c: Column) -> Column:
    return F.bit_count(c)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n: int = 2,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming. Candidate
    generation: split the ``bits``-wide hash into (max_hamming+1)
    chunks — by pigeonhole, any pair within distance max_hamming
    agrees on at least one chunk (LOSSLESS recall) — bucket-join per
    chunk, then verify exact Hamming. One shuffle on
    (chunk_idx, chunk_value)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    base = with_simhash(
        df.select(F.col(id_col).alias("id"), text_col),
        text_col,
        "sh",
        n,
        bits,
        hash_fn,
    ).select("id", "sh")
    def chunk_val(i: int) -> Column:
        shifted = F.shiftrightunsigned("sh", i * chunk_bits)
        if chunk_bits >= 64:  # mask literal would overflow a signed long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << chunk_bits) - 1))

    banded = base.select(
        "id",
        "sh",
        F.posexplode(
            F.array(*[chunk_val(i) for i in range(chunks)])
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _popcount64(
                F.col("a.sh").bitwiseXOR(F.col("b.sh"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over the candidate pair graph
# ---------------------------------------------------------------------------

def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """Connected components over an undirected near-duplicate pair
    graph (the step after pair generation in every corpus-dedup
    pipeline: transitively-linked docs form one cluster, keep one
    canonical doc per cluster).

    Two execution paths, picked by measured edge count — the pair
    graph is the OUTPUT of near-dup detection and is orders of
    magnitude smaller than the corpus, so even a 100 TB corpus
    usually yields a graph that fits on the driver:

    - ``<= driver_max_edges``: collect (src, dst) longs and run
      union-find on the driver — exact, O(E α(E)), zero scheduling
      overhead (a distributed fixpoint loop pays several jobs PER
      ROUND just to move kilobytes). The labels go back as an Arrow
      table (operators/localframe), so the result plans as a window
      over a LocalTableScan: no Python worker reads them back.
    - larger: :func:`star_components` (alternating large-star /
      small-star, Kiveris et al.), O(log² n) rounds whatever the
      graph's diameter; it raises rather than return an unconverged,
      over-split labeling.

    Returns (doc_id, component_id, component_size, is_canonical)
    for every doc that appears in at least one pair; component_id =
    min doc_id in the component.
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    ).localCheckpoint()
    n_edges = edges.count()
    if n_edges <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # One collect: toLocalIterator runs one job per partition.
        for a, b in edges.collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps component_id = min(doc_id)
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels = local_frame(
            pairs.sparkSession,
            {"src": list(parent), "comp": [find(x) for x in parent]},
            "src long, comp long",
        )
        return _component_output(labels)
    return star_components(edges, "src", "dst")


def _component_output(labels: DataFrame) -> DataFrame:
    """(src, comp) labels -> the public components schema."""
    wsize = F.count(F.lit(1)).over(Window.partitionBy("component_id"))
    out = labels.select(
        F.col("src").alias("doc_id"), F.col("comp").alias("component_id")
    )
    return out.select(
        "doc_id",
        "component_id",
        wsize.alias("component_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


def star_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — neardup_components' path for graphs too large for the driver.
    Min-label propagation would need O(diameter) rounds; star
    contraction needs O(log² n) REGARDLESS of diameter, so
    adversarially chainy graphs (long near-dup chains from templated
    text) do not cost one shuffle per hop.

    One round = two groupBy-min + explode passes over the edge list:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u}) — strictly-larger nodes hang off the
      local minimum;
    - small-star(u): every neighbor v ≤ u (plus u itself) attaches
      to m — collapsing the small side into stars.

    Both steps preserve connectivity and monotonically shrink the
    potential; at fixpoint every edge is (node → component-min), the
    same labeling as union-find. localCheckpoint per round truncates
    the iterative plan's lineage, whose planning cost would otherwise
    grow with every round.
    Output schema identical to neardup_components; equivalence with
    the union-find reference is property-tested on random graphs."""
    sym = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .union(
            pairs.select(
                F.col(id_b).cast("long").alias("u"),
                F.col(id_a).cast("long").alias("v"),
            )
        )
        .distinct()
        .localCheckpoint()
    )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        neigh = edges.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m"),
            F.collect_set("v").alias("vs"),
        )
        cond = (F.col("x") > F.col("u")) if large else (
            F.col("x") <= F.col("u")
        )
        out = (
            neigh.select("u", "m", F.explode("vs").alias("x"))
            .filter(cond & (F.col("x") != F.col("m")))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
        )
        if not large:
            # small-star also re-attaches u itself to its minimum
            out = out.union(
                neigh.filter(F.col("u") != F.col("m")).select("u", "m")
            )
        sym2 = out.union(
            out.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        return sym2.distinct()

    def _same(a: DataFrame, b: DataFrame) -> bool:
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    edges = sym
    converged = False
    for _ in range(max_rounds):
        big = _star(edges, large=True).localCheckpoint()
        small = _star(big, large=False).localCheckpoint()
        # fixpoint requires BOTH steps stable: large-star can be a
        # no-op while small-star still has merges to do (a chain like
        # 0-5-3-4-2 sits large-stable for a round — hypothesis found
        # exactly this), so testing only one step terminates early
        # with a split component.
        if _same(big, edges) and _same(small, big):
            edges = small
            converged = True
            break
        edges = small
    if not converged:
        # an unconverged labeling is OVER-SPLIT (components not yet
        # merged) — returning it silently would yield wrong groups
        # undetected; O(log² n) rounds means max_rounds=20 covers any
        # realistic graph, so exhaustion signals a pathology worth a
        # loud stop rather than a best-effort answer.
        raise RuntimeError(
            f"star_components: no fixpoint within max_rounds={max_rounds}; "
            "labeling would be over-split — raise max_rounds"
        )

    labels = (
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.col("u")).alias("comp"))
        .select(F.col("u").alias("src"), "comp")
    )
    return _component_output(labels)
