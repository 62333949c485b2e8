"""Similarity search over embedding columns (array<float>).

Two paths:
- brute_force_topk: exact cosine top-k. The query set broadcasts;
  the corpus never shuffles — a broadcast nested loop + per-group
  top-k window. Exact, and at 100 TB it is compute-bound but
  embarrassingly parallel (each partition scores independently).
- lsh_topk: random-hyperplane LSH. Signatures are per-row map
  expressions; candidate retrieval buckets on the signature chunk
  (IVF-flavored), then exact-scores only within buckets. Trades
  recall for a >10x candidate reduction at scale.

Cosine is computed JVM-side with zip_with + aggregate in double
precision — no Python, deterministic left-to-right fold.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.cacheutil import tracked_cache


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, double math."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def normalize_expr(a: Column) -> Column:
    """Unit-normalize an array<numeric> into array<double>.

    For all-pairs / top-k scoring, normalize each side ONCE per row
    before the join so the per-pair work is a bare dot product —
    at n² pairs the norm recomputation is the difference between
    O(n²·d) and O(3n²·d) interpreted ops.

    The norm is bound through an outer transform over a singleton
    array: a lambda VARIABLE is evaluated once, whereas inlining
    _norm(a) into the inner lambda would re-fold the whole array per
    element (O(d²) per row — the lambda-CSE pitfall, see the shingle/
    minhash docstrings)."""
    return F.element_at(
        F.transform(
            F.array(_norm(a)),
            lambda n: F.transform(a, lambda x: x.cast("double") / n),
        ),
        1,
    )


def _np_normalize_fn(dim: int):
    """Factory for a row-normalizer over an (n, dim) float64 matrix
    with the sum of squares accumulated in strict left-to-right order
    — the same fold as F.aggregate / DuckDB list_sum, so downstream
    dot products stay bit-identical to the SQL oracles.

    Returned as a NESTED function on purpose: worker closures must be
    cloudpickle-by-VALUE. A module-level function would pickle as a
    reference to this package, which Spark's Python workers cannot
    import when the driver runs from outside the repo (no sys.path
    propagation to workers) — ModuleNotFoundError at task time."""

    def _normalize(m):
        import numpy as np

        acc = np.zeros(m.shape[0], dtype=np.float64)
        for i in range(dim):
            acc += m[:, i] * m[:, i]
        return m / np.sqrt(acc)[:, None]

    return _normalize


def all_pairs_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — the
    vectorized Arrow path for the n² verifier.

    One side is unit-normalized on the driver and broadcast (same
    memory contract as F.broadcast); the streaming side is scored in
    mapInPandas with numpy. Bit-exactness with the SQL oracle is
    preserved by vectorizing across PAIRS while looping over the dim
    axis: ``acc += A[:, i:i+1] * B[None, :, i]`` accumulates in the
    same left-to-right order as a fold / DuckDB list_sum, in float64
    throughout. ~50x faster than per-pair JVM expressions (the HOF
    form is CodegenFallback inside the join; even a flat
    element_at chain stays interpreted in the BNLJ condition).
    """
    import numpy as np
    import pandas as pd

    _normalize = _np_normalize_fn(dim)

    rows = df.select(id_col, vec_col).collect()
    b_ids = np.array([r[0] for r in rows], dtype=np.int64)
    b_mat = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    bc = df.sparkSession.sparkContext.broadcast((b_ids, b_mat))

    def score(batches):
        ids_b, mat_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_a = pdf[id_col].to_numpy(dtype=np.int64)
            mat_a = _normalize(
                np.array(list(pdf[vec_col]), dtype=np.float64)
            )
            acc = np.zeros((len(ids_a), len(ids_b)), dtype=np.float64)
            for i in range(dim):  # dim-axis loop keeps fold order exact
                acc += mat_a[:, i : i + 1] * mat_b[None, :, i]
            ai, bi = np.nonzero((acc >= threshold) & (ids_a[:, None] < ids_b[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": ids_a[ai],
                    "id_b": ids_b[bi],
                    "cosine": acc[ai, bi],
                }
            )

    return df.mapInPandas(
        score, schema="id_a long, id_b long, cosine double"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is expected to be small (it broadcasts); ties broken by
    corpus id for determinism. Returns (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        cosine_expr(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (Gaussian, fixed seed)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def occupancy_mask_cases(
    base_buckets: int, target_occ: int, r_min: int, r_max: int
) -> "list[tuple[int, int]]":
    """The n→bucket-geometry ladder behind the ADAPTIVE candidate
    structures (lsh_neardup_pairs auto_planes, semantic_dedup_pairs
    auto_refine): use ``r`` signature bits as soon as
    ``n <= target_occ * base_buckets * 2**r`` — i.e. grow the bucket
    count with the corpus so expected bucket occupancy (and therefore
    the per-bucket pair quadratic) stays CONSTANT, which is what
    turns the candidate→verify stage from O(n²/buckets) into O(n).

    Returns [(n_threshold, mask)] ascending; first matching
    threshold wins, n beyond the last threshold gets the r_max mask.
    Integer-only so the Spark CASE and the DuckDB CASE (rendered from
    this same table) can never diverge."""
    return [
        (target_occ * base_buckets * (1 << r), (1 << r) - 1)
        for r in range(r_min, r_max + 1)
    ]


def occupancy_mask_col(
    n_col: Column, base_buckets: int, target_occ: int, r_min: int, r_max: int
) -> Column:
    """Spark CASE over the occupancy ladder: signature mask as a
    column of the (broadcast, 1-row) corpus-count frame — keeps the
    adaptive geometry fully LAZY, so the count rides inside the
    query's own action (honest bench timing, no driver-side count)."""
    cases = occupancy_mask_cases(base_buckets, target_occ, r_min, r_max)
    out = None
    for threshold, mask in cases:
        cond = n_col <= F.lit(threshold)
        out = F.when(cond, F.lit(mask)) if out is None else out.when(
            cond, F.lit(mask)
        )
    return out.otherwise(F.lit(cases[-1][1])).cast("long")


def occupancy_mask_sql(
    n_expr: str, base_buckets: int, target_occ: int, r_min: int, r_max: int
) -> str:
    """DuckDB rendering of the same ladder (shared threshold table =
    bit-identical bucket geometry in both engines)."""
    cases = occupancy_mask_cases(base_buckets, target_occ, r_min, r_max)
    whens = " ".join(
        f"WHEN {n_expr} <= {t} THEN CAST({m} AS BIGINT)" for t, m in cases
    )
    return f"CASE {whens} ELSE CAST({cases[-1][1]} AS BIGINT) END"


def lsh_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Sign-bit signature of the vector against each hyperplane,
    packed into a bigint (n_planes <= 63).

    Expression-tree spelling, kept for single-table/few-plane use.
    CAUTION — sizing lesson measured on this engine: the HOF dot is
    CodegenFallback (interpreted, ~25µs/64-dim plane), and unrolling
    it into a flat element_at chain is WORSE once n_tables×n_planes
    ×dim reaches thousands of nodes (blows the codegen method-size
    budget → whole-tree interpretation, ~15x slower still). For
    multi-table signatures use the Arrow path in ``lsh_topk``
    (one numpy matmul per batch)."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec, p) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bits.append(bit)
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: n_tables independent sign-LSH tables of
    n_planes bits; a corpus vector is a candidate if it matches the
    query's signature in ANY table; candidates are exact-scored and
    ranked. Recall rises with n_tables, candidate count falls with
    n_planes.

    At scale the bucket join replaces the full cross product —
    shuffle on (table_idx, signature) instead of scoring everything.
    """
    import numpy as np
    import pandas as pd

    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    # (n_tables, n_planes, dim) — broadcast once; signatures are
    # vectorized-across-rows per Arrow batch (narrow map, no shuffle),
    # with the DOT folded left-to-right over the dim axis so sign bits
    # are bit-identical to a SQL list_sum fold (the oracle replicates
    # the planes as literals). The expression-tree alternative is
    # either interpreted (HOF) or codegen-budget-busting (flat chain)
    # at this width — see lsh_signature docstring.
    P = np.array(tables, dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast(P)

    def signatures(df: DataFrame, vec: str) -> DataFrame:
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )

        def gen(batches):
            T = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.array(list(pdf[vec]), dtype=np.float64)
                outs = []
                for t in range(T.shape[0]):
                    sig = np.zeros(len(pdf), dtype=np.int64)
                    for b in range(T.shape[1]):
                        acc = np.zeros(len(pdf), dtype=np.float64)
                        for i in range(T.shape[2]):  # fold order = oracle
                            acc += M[:, i] * T[t, b, i]
                        sig |= (acc >= 0).astype(np.int64) << b
                    o = pdf.copy()
                    o["__table"] = np.int32(t)
                    o["__sig"] = sig
                    outs.append(o)
                yield pd.concat(outs, ignore_index=True)

        return df.mapInPandas(gen, schema=f"{fields}, __table int, __sig long")

    c_sig = signatures(corpus, vec_col)
    q_sig = signatures(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")), "__qvec"
    )
    cand = (
        c_sig.join(F.broadcast(q_sig), ["__table", "__sig"])
        .select(query_id_col, id_col, "__qvec", vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        cosine_expr(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int = 10_000,
    iters: int = 5,
) -> "list[list[float]]":
    """Train IVF coarse centroids with spherical k-means on a
    deterministic sample (lowest ids, capped at train_limit).

    Training is driver-side numpy — standard for IVF: at 100 TB you
    train the quantizer on a bounded sample (10k-1M rows), never the
    full corpus. Init is the first nlist sample vectors (no RNG), so
    the index is reproducible run-to-run.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(train_limit).collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = X[:nlist].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(nlist):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
    return C.tolist()


def kmeans_lloyd_distributed(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> "tuple[list[list[float]], list[float]]":
    """Fully DISTRIBUTED spherical k-means (Lloyd iterations) over
    the whole corpus — the companion to train_ivf_centroids (which
    trains on a bounded driver-side sample, the standard IVF recipe).
    Use this form when the quantizer must see every vector (e.g.
    SemDeDup at the paper's scale clusters the full embedding set).

    Per iteration: (1) assignment is the narrow Arrow map over the
    broadcast k×dim centroid matrix — no shuffle; (2) new centroids
    are per-cluster per-dimension means via ONE hash aggregation
    whose shuffle carries k × dim partial sums, not vectors; (3)
    only the k×dim centroid matrix (plus inertia) returns to the
    driver — the model, not the data. At 100 TB each iteration is
    one scan + one tiny agg, the canonical Spark iterative-ML shape.

    Returns (centroids, per-iteration mean cosine to the assigned
    centroid — non-decreasing, the convergence witness)."""
    centroids = fixed_ivf_centroids(dim=dim, nlist=k, seed=seed)
    history: "list[float]" = []
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col, vec_col, nprobe=1)
        stats = assigned.select(
            "__list", normalize_expr(F.col(vec_col)).alias("__vn")
        )
        agg = (
            stats.groupBy("__list")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col("__vn")[i]).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        import math

        new_c = [list(c) for c in centroids]
        for row in agg:
            lid, n = row["__list"], row["n"]
            mean = [row[f"s{i}"] / n for i in range(dim)]
            nrm = math.sqrt(sum(x * x for x in mean))
            if nrm > 0:
                new_c[lid] = [x / nrm for x in mean]
        centroids = new_c
        # inertia witness: mean cosine of members to their (new)
        # assigned centroid, computed from the same sums
        num = 0.0
        tot = 0
        for row in agg:
            lid, n = row["__list"], row["n"]
            num += sum(
                row[f"s{i}"] * centroids[lid][i] for i in range(dim)
            )
            tot += n
        history.append(num / tot if tot else 0.0)
    return centroids, history


def ivf_assign(
    df: DataFrame,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Tag each vector with its nprobe nearest centroid list ids
    (one output row per probed list).

    Arrow-batched numpy argpartition over the broadcast centroid
    matrix — a narrow map, no shuffle: at 100 TB each partition
    assigns independently. Corpus side uses nprobe=1 (each vector
    lives in exactly one list); query side probes several.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.array(centroids, dtype=np.float64))
    n_out = nprobe

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            M = M / np.linalg.norm(M, axis=1, keepdims=True)
            sims = M @ C.T
            if n_out == 1:
                lists = sims.argmax(axis=1)[:, None]
            else:
                top = np.argpartition(-sims, n_out - 1, axis=1)[:, :n_out]
                order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1)
                lists = np.take_along_axis(top, order, axis=1)
            out = pdf.loc[pdf.index.repeat(n_out)].reset_index(drop=True)
            out["__list"] = lists.reshape(-1).astype("int32")
            yield out

    vec_field = df.schema[vec_col].dataType.simpleString()
    id_field = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_field}, {vec_col} {vec_field}, __list int"
    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    train_limit: int = 10_000,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization:
    spherical-k-means centroids partition the corpus into nlist
    inverted lists; each query exact-scores only its nprobe nearest
    lists. Expected work per query is ~nprobe/nlist of brute force.

    Scale path: the corpus is assigned once (narrow map) and can be
    repartitioned/persisted BY __list so probes touch only matching
    partitions; the query->list fan-out broadcasts (queries x nprobe
    rows). Final scoring reuses the exact JVM-side cosine, so scores
    are identical to brute force wherever the candidate overlaps.
    """
    centroids = train_ivf_centroids(
        corpus, nlist=nlist, id_col=id_col, vec_col=vec_col, train_limit=train_limit
    )
    c_assigned = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1)
    q_assigned = ivf_assign(
        queries.select(F.col(query_id_col).alias("__qid"), F.col(vec_col)),
        centroids,
        id_col="__qid",
        vec_col=vec_col,
        nprobe=nprobe,
    ).select("__qid", F.col(vec_col).alias("__qvec"), "__list")
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "__list")
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            cosine_expr(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def fixed_ivf_centroids(
    dim: int = 64, nlist: int = 16, seed: int = 7
) -> "list[list[float]]":
    """Deterministic, DATA-INDEPENDENT coarse quantizer: Gaussian
    centroids (fixed seed) unit-normalized in pure Python, so the
    exact same float64 values feed the Spark broadcast and the DuckDB
    oracle's literal lists. This is the literal-hyperplane trick from
    the LSH oracles applied to IVF: with a fixed quantizer the whole
    assign→probe→score pipeline is SQL-replicable, making an
    approximate index value-exact against an oracle. (The k-means
    trainer in train_ivf_centroids remains the quality path — its
    recall is pytest-asserted; this one is the verification path.)

    Normalization happens HERE (python floats) rather than in each
    engine, so no norm-fold-order question ever arises."""
    import math

    rng = random.Random(seed)
    cents = []
    for _ in range(nlist):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        acc = 0.0
        for x in v:
            acc += x * x
        n = math.sqrt(acc)
        cents.append([x / n for x in v])
    return cents


def ivf_assign_exact(
    df: DataFrame,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF list assignment with SQL-replicable float semantics.

    Differences from ivf_assign (the throughput form): similarity is
    dot(RAW vector, unit centroid) accumulated left-to-right over the
    dim axis — bit-identical to DuckDB's list_sum over the literal
    centroid — and the data vector is NOT normalized (a positive
    per-row scale cannot change which centroid wins, so the norm's
    fold order never enters the comparison). Ties break toward the
    lowest list id: numpy stable argsort == ORDER BY sim DESC, lid.
    Still a narrow Arrow map over a broadcast centroid matrix — the
    100 TB shape is unchanged."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.array(centroids, dtype=np.float64))
    n_out = nprobe

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = np.zeros((len(pdf), C.shape[0]), dtype=np.float64)
            for i in range(C.shape[1]):  # fold order = oracle list_sum
                sims += M[:, i : i + 1] * C[None, :, i]
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_out]
            out = pdf.loc[pdf.index.repeat(n_out)].reset_index(drop=True)
            out["__list"] = order.reshape(-1).astype("int32")
            yield out

    vec_field = df.schema[vec_col].dataType.simpleString()
    id_field = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_field}, {vec_col} {vec_field}, __list int"
    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 6,
    seed: int = 7,
) -> DataFrame:
    """ivf_topk with the fixed deterministic quantizer — identical
    probe/score code path, value-exact against ivf_topk_oracle_sql."""
    centroids = fixed_ivf_centroids(dim=dim, nlist=nlist, seed=seed)
    c_assigned = ivf_assign_exact(corpus, centroids, id_col, vec_col, nprobe=1)
    q_assigned = ivf_assign_exact(
        queries.select(F.col(query_id_col).alias("__qid"), F.col(vec_col)),
        centroids,
        id_col="__qid",
        vec_col=vec_col,
        nprobe=nprobe,
    ).select("__qid", F.col(vec_col).alias("__qvec"), "__list")
    scored = c_assigned.join(F.broadcast(q_assigned), "__list").select(
        F.col("__qid").alias(query_id_col),
        id_col,
        cosine_expr(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 6,
    seed: int = 7,
    query_pred: str = "vec_id < 5",
) -> str:
    """DuckDB oracle for ivf_topk_fixed: the fixed centroids appear
    as literal lists; assignment similarity is the same raw-dot
    left-to-right fold; corpus rows take ROW_NUMBER()=1, queries take
    rank<=nprobe (ties toward the lowest list id on both engines);
    candidates join on list id and are exact-scored/ranked with the
    ann_brute_topk formula."""
    cents = fixed_ivf_centroids(dim=dim, nlist=nlist, seed=seed)
    rows = []
    for lid, c in enumerate(cents):
        lit = "[" + ", ".join(repr(v) for v in c) + "]"
        rows.append(f"({lid}, {lit}::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH cents(lid, c) AS (VALUES
{values}
),
sims AS (
  SELECT e.{id_col}, ct.lid,
    list_sum(list_transform(range(1, {dim + 1}),
      i -> e.{vec_col}[i]::DOUBLE * ct.c[i])) AS sim
  FROM {table} e CROSS JOIN cents ct
),
c_assign AS (
  SELECT {id_col}, lid FROM (
    SELECT {id_col}, lid,
      ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, lid) AS rn
    FROM sims) WHERE rn = 1
),
q_assign AS (
  SELECT {id_col} AS query_id, lid FROM (
    SELECT {id_col}, lid,
      ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, lid) AS rn
    FROM sims WHERE {query_pred}) WHERE rn <= {nprobe}
),
v AS (
  SELECT {id_col}, {vec_col},
    sqrt(list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM {table}
),
scored AS (
  SELECT q_assign.query_id, c_assign.{id_col},
    list_sum(list_transform(range(1, {dim + 1}),
      i -> q.{vec_col}[i]::DOUBLE * c.{vec_col}[i]::DOUBLE)) / (q.nrm * c.nrm)
      AS cos_raw
  FROM q_assign
  JOIN c_assign ON c_assign.lid = q_assign.lid
  JOIN v q ON q.{id_col} = q_assign.query_id
  JOIN v c ON c.{id_col} = c_assign.{id_col}
),
ranked AS (
  SELECT query_id, {id_col}, cos_raw,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, {id_col}) AS rank
  FROM scored
)
SELECT query_id, {id_col}, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    auto_planes: bool = False,
    target_occ: int = 16,
    p_max: int = 14,
) -> DataFrame:
    """Embedding near-dup pairs, the SCALE path: sign-LSH candidate
    buckets + exact-cosine verification (candidate→verify, the same
    shape as minhash_lsh_pairs). Nothing driver-side: signatures are
    a narrow Arrow map; the self-join shuffles only
    (id, table, signature) — vectors never ride through the bucket
    join; verification re-joins vectors onto the (much smaller)
    candidate pair set and scores in one Arrow pass.

    Approximate by design: a pair is a candidate iff its signatures
    collide in >=1 table. P(collide | angle θ) = 1-(1-(1-θ/π)^p)^T —
    for true near-dups (cosine>=0.9) the defaults give ~87% recall;
    at this corpus's 0.4 threshold (near-orthogonal pairs, θ/π≈0.31)
    recall is ~35%. The oracle replicates the deterministic
    hyperplanes, so the verified candidate subset is exactly
    comparable; the lossless n² verifier is all_pairs_cosine
    (kept as the test oracle, tests/test_textops.py).

    Sign bits use the same strict left-to-right dot fold as the SQL
    oracle so bucket membership is bit-identical.

    ``auto_planes=True`` is the 100 TB form (the r3 verdict's
    "raise the hyperplane count with corpus size" knob, made
    automatic): signatures carry ``p_max`` bits and the EFFECTIVE
    plane count comes from the occupancy ladder
    (occupancy_mask_cases — use p bits once n <= target_occ·2^p), so
    expected bucket occupancy stays ~target_occ at any corpus size
    and the per-bucket pair quadratic — the measured ×11.5 sf0.1→sf1
    slope of the fixed-p form — flattens to linear. The corpus count
    rides a broadcast 1-row frame (lazy — inside the timed action),
    and the oracle re-derives the identical mask from the same
    integer ladder, so the adaptive form stays value-exact. At the
    small-n floor the mask equals the fixed 6-bit geometry, so
    correctness-gate output is unchanged.
    """
    import numpy as np
    import pandas as pd

    sig_bits = p_max if auto_planes else n_planes
    P = np.array(
        [_hyperplanes(dim, sig_bits, seed + 1000 * t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (T, p, dim)
    bc = df.sparkSession.sparkContext.broadcast(P)

    ids = df.select(id_col, vec_col)

    def gen_sigs(batches):
        T = bc.value
        n_t, n_b, n_d = T.shape
        # planes flattened to (T*p, dim): the fold below accumulates
        # every (row, plane) cell over i ASCENDING in one broadcast
        # multiply-add per step — each cell receives exactly the same
        # IEEE operation sequence as the former per-plane scalar
        # loop, so signatures stay bit-identical to the SQL oracle's
        # left-to-right fold, at 64 python-level steps instead of
        # tables*planes*dim (r10: this loop was the dominant cost of
        # the registered dd_embedding_neardup path, which computes
        # all p_max=14 adaptive bits regardless of the active mask).
        P2 = T.reshape(n_t * n_b, n_d)
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            acc = np.zeros((len(pdf), n_t * n_b), dtype=np.float64)
            for i in range(n_d):  # fold order = oracle
                acc += M[:, i : i + 1] * P2[None, :, i][0]
            bits = (acc >= 0).astype(np.int64)
            shifts = np.tile(np.arange(n_b, dtype=np.int64), n_t)
            packed = (bits << shifts[None, :]).reshape(
                len(pdf), n_t, n_b
            ).sum(axis=2)  # OR of disjoint bit positions == sum
            outs = []
            for t in range(n_t):
                outs.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "__table": np.full(len(pdf), t, dtype=np.int32),
                            "__sig": packed[:, t],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    sig = ids.mapInPandas(
        gen_sigs, schema=f"{id_col} long, __table int, __sig long"
    )
    if auto_planes:
        # Adaptive geometry: the 1-row corpus count broadcasts onto
        # the signature stream and the occupancy-ladder CASE picks
        # the bit mask — n_planes=6 bucket semantics at the small-n
        # floor, up to p_max bits at scale. The count branch prunes
        # to a column-less parquet count; vectors still cross no
        # hash exchange.
        cnt = F.broadcast(ids.groupBy().agg(F.count(F.lit(1)).alias("__n")))
        mask = occupancy_mask_col(
            F.col("__n"), base_buckets=1, target_occ=target_occ,
            r_min=n_planes, r_max=p_max,
        )
        sig = (
            sig.crossJoin(cnt)
            .withColumn("__sig", F.col("__sig").bitwiseAND(mask))
            .drop("__n")
        )
    # Candidate generation: groupBy bucket -> sorted id array ->
    # in-array pair expansion (the minhash_lsh_pairs pattern). The
    # equivalent self-join would run the Arrow signature pass TWICE
    # (Spark has no cross-branch CSE) and shuffle the sig table
    # twice; this form sketches once and shuffles (id, table, sig)
    # once. Bucket fan-out is pairs² in bucket size — identical to
    # the join's output, bounded by the corpus's similarity
    # structure (buckets are 2^n_planes-grained per table).
    bucket_ids = F.array_sort(F.collect_list(id_col))
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
        sig.groupBy("__table", "__sig")
        .agg(bucket_ids.alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    withv = cand.join(va, "id_a").join(vb, "id_b")

    _normalize = _np_normalize_fn(dim)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = _normalize(np.array(list(pdf["__va"]), dtype=np.float64))
            B = _normalize(np.array(list(pdf["__vb"]), dtype=np.float64))
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(dim):  # fold order = oracle list_sum
                acc += A[:, i] * B[:, i]
            keep = acc >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": acc[keep],
                }
            )

    return withv.mapInPandas(score, schema="id_a long, id_b long, cosine double")


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    nlist: int = 16,
    seed: int = 7,
    auto_refine: bool = False,
    target_occ: int = 32,
    r_max: int = 10,
    refine_seed: int = 99,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs
    found by CLUSTERING embeddings first and comparing only within a
    cluster — the third member of the embedding-dedup family next to
    the sign-LSH candidate path (lsh_neardup_pairs) and the lossless
    n² verifier (all_pairs_cosine).

    Why it scales: all-pairs is O(n²·d); with k clusters the
    comparison volume drops to Σ n_c² ≈ n²/k — at the paper's scale
    (k ~ 10⁴-10⁵ over billions of embeddings) that is the difference
    between impossible and routine. Here the quantizer is the fixed
    deterministic one (fixed_ivf_centroids), so the whole
    assign→pair→verify pipeline is SQL-replicable and value-exact —
    the same verification trick as ivf_topk_fixed; swap in
    train_ivf_centroids for the data-adaptive quality path.

    Plan shape: assignment is a narrow Arrow map over broadcast
    centroids (vectors cross NO exchange for it); candidate pairs
    self-join on the int list id ONLY (ids shuffle, vectors don't);
    vectors re-join onto the candidate set and are exact-scored with
    the strict left-to-right fold the oracle replicates. Within-
    cluster skew is the known failure mode at scale — cap cluster
    population or split hot lists (the nlist knob) before pairing.

    Output: list_id, id_a, id_b, cosine (pairs with cosine >=
    threshold).

    ``auto_refine=True`` is the 100 TB form — the "cap cluster
    population or split hot lists" knob above, made automatic and
    value-exact. A fixed nlist can't hold Σ n_c² linear as the
    corpus grows (the measured ×8.2 sf0.1→sf1 slope), and a bigger
    literal-centroid ladder would blow up the oracle text. Instead
    each coarse cluster is SUB-BUCKETED by sign-LSH bits of the
    vector (deterministic literal planes, same trick as
    lsh_neardup_pairs), with the bit count drawn from the shared
    occupancy ladder so expected (cluster, sub-bucket) occupancy
    stays ~target_occ at any n — this is the classic coarse-
    quantizer + hash-refinement composition from IVF-family indexes.
    The corpus count rides a broadcast 1-row frame (lazy); at the
    small-n floor the mask is 0 bits, i.e. exactly the paper-pure
    within-cluster pairing, so correctness-gate output is unchanged.
    Recall inside a cluster becomes probabilistic (near-dups landing
    on opposite sides of a refinement plane are missed) — the price
    of linearity, identical in kind to the LSH path's recall."""
    import numpy as np
    import pandas as pd

    centroids = fixed_ivf_centroids(dim=dim, nlist=nlist, seed=seed)
    if auto_refine:
        spark = df.sparkSession
        C = np.array(centroids, dtype=np.float64)
        R = np.array(_hyperplanes(dim, r_max, refine_seed), dtype=np.float64)
        bc = spark.sparkContext.broadcast((C, R))

        def assign_and_sig(batches):
            Cm, Rm = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.array(list(pdf[vec_col]), dtype=np.float64)
                sims = np.zeros((len(pdf), Cm.shape[0]), dtype=np.float64)
                for i in range(Cm.shape[1]):  # fold order = oracle list_sum
                    sims += M[:, i : i + 1] * Cm[None, :, i]
                lists = np.argsort(-sims, axis=1, kind="stable")[:, 0]
                sigv = np.zeros(len(pdf), dtype=np.int64)
                for b in range(Rm.shape[0]):
                    acc = np.zeros(len(pdf), dtype=np.float64)
                    for i in range(Rm.shape[1]):  # fold order = oracle
                        acc += M[:, i] * Rm[b, i]
                    sigv |= (acc >= 0).astype(np.int64) << b
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "__list": lists.astype("int32"),
                        "__rsig": sigv,
                    }
                )

        keyed = df.select(id_col, vec_col).mapInPandas(
            assign_and_sig, schema=f"{id_col} long, __list int, __rsig long"
        )
        ids = keyed.transform(tracked_cache)
        cnt = F.broadcast(ids.groupBy().agg(F.count(F.lit(1)).alias("__n")))
        mask = occupancy_mask_col(
            F.col("__n"), base_buckets=nlist, target_occ=target_occ,
            r_min=0, r_max=r_max,
        )
        ids = (
            ids.crossJoin(cnt)
            .withColumn("__rk", F.col("__rsig").bitwiseAND(mask))
            .drop("__n", "__rsig")
        )
        left = ids.select(F.col(id_col).alias("id_a"), "__list", "__rk")
        right = ids.select(F.col(id_col).alias("id_b"), "__list", "__rk")
        cand = (
            left.join(right, ["__list", "__rk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .drop("__rk")
        )
    else:
        assigned = ivf_assign_exact(df, centroids, id_col, vec_col, nprobe=1)
        # cache the 12-byte/row (id, list) table: both sides of the
        # candidate self-join read it, and without the cache Spark
        # re-runs the Arrow assignment pass once per branch (plans have
        # no cross-branch CSE — the ops_allocation materialize-if-reused
        # rule applied to vectors)
        ids = assigned.select(F.col(id_col), F.col("__list")).transform(tracked_cache)
        left = ids.select(F.col(id_col).alias("id_a"), "__list")
        right = ids.select(F.col(id_col).alias("id_b"), "__list")
        cand = left.join(right, "__list").filter(F.col("id_a") < F.col("id_b"))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    withv = cand.join(va, "id_a").join(vb, "id_b")

    _normalize = _np_normalize_fn(dim)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = _normalize(np.array(list(pdf["__va"]), dtype=np.float64))
            B = _normalize(np.array(list(pdf["__vb"]), dtype=np.float64))
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(dim):  # fold order = oracle list_sum
                acc += A[:, i] * B[:, i]
            keep = acc >= threshold
            yield pd.DataFrame(
                {
                    "list_id": pdf["__list"].to_numpy()[keep],
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": acc[keep],
                }
            )

    return withv.mapInPandas(
        score, schema="list_id int, id_a long, id_b long, cosine double"
    )


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    nlist: int = 16,
    seed: int = 7,
    auto_refine: bool = False,
    target_occ: int = 32,
    r_max: int = 10,
    refine_seed: int = 99,
) -> str:
    """DuckDB oracle for semantic_dedup_pairs: fixed centroids as
    literal lists, the same raw-dot assignment fold with lowest-list
    tie-break, within-cluster pairs, and the identical normalized
    exact-cosine verification. With ``auto_refine=True`` it also
    re-derives the corpus-size-adaptive sub-bucket signature (literal
    refinement planes + the shared integer occupancy ladder), so the
    scale form stays value-exact."""
    cents = fixed_ivf_centroids(dim=dim, nlist=nlist, seed=seed)
    rows = []
    for lid, c in enumerate(cents):
        lit = "[" + ", ".join(repr(v) for v in c) + "]"
        rows.append(f"({lid}, {lit}::DOUBLE[])")
    values = ",\n".join(rows)
    if auto_refine:
        prows = []
        for b, plane in enumerate(_hyperplanes(dim, r_max, refine_seed)):
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            prows.append(f"({b}, {lit}::DOUBLE[])")
        mask_case = occupancy_mask_sql(
            "n", base_buckets=nlist, target_occ=target_occ,
            r_min=0, r_max=r_max,
        )
        refine_ctes = f"""
planes(bit, p) AS (VALUES
{",".join(prows)}
),
nrows AS (SELECT COUNT(*) AS n FROM {table}),
msk AS (SELECT {mask_case} AS m FROM nrows),
rsigs AS (
  SELECT e.{id_col},
    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
          i -> e.{vec_col}[i]::DOUBLE * pl.p[i])) >= 0
        THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END) AS BIGINT)
      & (SELECT m FROM msk) AS rk
  FROM {table} e CROSS JOIN planes pl
  GROUP BY e.{id_col}
),"""
        cand_cte = f"""
cand AS (
  SELECT a.lid AS list_id, a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM assign a JOIN assign b ON a.lid = b.lid AND a.{id_col} < b.{id_col}
  JOIN rsigs ra ON ra.{id_col} = a.{id_col}
  JOIN rsigs rb ON rb.{id_col} = b.{id_col}
  WHERE ra.rk = rb.rk
),"""
    else:
        refine_ctes = ""
        cand_cte = f"""
cand AS (
  SELECT a.lid AS list_id, a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM assign a JOIN assign b
    ON a.lid = b.lid AND a.{id_col} < b.{id_col}
),"""
    return f"""
WITH cents(lid, c) AS (VALUES
{values}
),{refine_ctes}
sims AS (
  SELECT e.{id_col}, ct.lid,
    list_sum(list_transform(range(1, {dim + 1}),
      i -> e.{vec_col}[i]::DOUBLE * ct.c[i])) AS sim
  FROM {table} e CROSS JOIN cents ct
),
assign AS (
  SELECT {id_col}, lid FROM (
    SELECT {id_col}, lid,
      ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, lid) AS rn
    FROM sims) WHERE rn = 1
),{cand_cte}
v AS (
  SELECT {id_col},
    list_transform({vec_col}, x -> x::DOUBLE /
      sqrt(list_sum(list_transform({vec_col}, y -> y::DOUBLE * y::DOUBLE)))) AS vn
  FROM {table}
)
SELECT CAST(c.list_id AS INT) AS list_id, c.id_a, c.id_b,
  round(list_sum(list_transform(range(1, {dim + 1}), i -> a.vn[i] * b.vn[i])), 6) AS cosine
FROM cand c
JOIN v a ON a.{id_col} = c.id_a
JOIN v b ON b.{id_col} = c.id_b
WHERE list_sum(list_transform(range(1, {dim + 1}), i -> a.vn[i] * b.vn[i])) >= {threshold}
ORDER BY id_a, id_b
"""


def lsh_neardup_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    auto_planes: bool = False,
    target_occ: int = 16,
    p_max: int = 14,
) -> str:
    """DuckDB oracle for lsh_neardup_pairs: replicates the
    deterministic hyperplanes as literal lists and re-derives the
    exact same candidate buckets + exact-cosine verification, so the
    driver's hash compare sees an identical pair set (sign bits can
    only diverge if a dot lands within float-noise of 0 — Gaussian
    planes make that measure-zero in practice). With
    ``auto_planes=True`` it also re-derives the corpus-size-adaptive
    bit mask from the same integer occupancy ladder
    (occupancy_mask_sql), so the adaptive geometry is value-exact
    too."""
    sig_bits = p_max if auto_planes else n_planes
    rows = []
    for t in range(n_tables):
        for b, plane in enumerate(_hyperplanes(dim, sig_bits, seed + 1000 * t)):
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            rows.append(f"({t}, {b}, {lit}::DOUBLE[])")
    values = ",\n".join(rows)
    if auto_planes:
        mask_case = occupancy_mask_sql(
            "n", base_buckets=1, target_occ=target_occ,
            r_min=n_planes, r_max=p_max,
        )
        mask_ctes = f"""
nrows AS (SELECT COUNT(*) AS n FROM {table}),
msk AS (SELECT {mask_case} AS m FROM nrows),"""
        mask_expr = " & (SELECT m FROM msk)"
    else:
        mask_ctes = ""
        mask_expr = ""
    return f"""
WITH planes(tbl, bit, p) AS (VALUES
{values}
),{mask_ctes}
sigs AS (
  SELECT e.{id_col}, pl.tbl,
    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
          i -> e.{vec_col}[i]::DOUBLE * pl.p[i])) >= 0
        THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END) AS BIGINT){mask_expr} AS sig
  FROM {table} e CROSS JOIN planes pl
  GROUP BY e.{id_col}, pl.tbl
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM sigs a JOIN sigs b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.{id_col} < b.{id_col}
),
v AS (
  SELECT {id_col},
    list_transform({vec_col}, x -> x::DOUBLE /
      sqrt(list_sum(list_transform({vec_col}, y -> y::DOUBLE * y::DOUBLE)))) AS vn
  FROM {table}
)
SELECT c.id_a, c.id_b,
  round(list_sum(list_transform(range(1, {dim + 1}), i -> a.vn[i] * b.vn[i])), 6) AS cosine
FROM cand c
JOIN v a ON a.{id_col} = c.id_a
JOIN v b ON b.{id_col} = c.id_b
WHERE list_sum(list_transform(range(1, {dim + 1}), i -> a.vn[i] * b.vn[i])) >= {threshold}
ORDER BY id_a, id_b
"""


def lsh_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    query_pred: str = "vec_id < 5",
) -> str:
    """DuckDB oracle for lsh_topk when the query set is a predicate
    over the same table: replicates the deterministic hyperplanes as
    literals, re-derives the identical candidate buckets, then exact-
    scores and ranks — the same replication trick as
    lsh_neardup_oracle_sql, so a previously rows-only approximate
    query becomes value-exact."""
    rows = []
    for t in range(n_tables):
        for b, plane in enumerate(_hyperplanes(dim, n_planes, seed + 1000 * t)):
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            rows.append(f"({t}, {b}, {lit}::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH planes(tbl, bit, p) AS (VALUES
{values}
),
sigs AS (
  SELECT e.{id_col}, pl.tbl,
    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
          i -> e.{vec_col}[i]::DOUBLE * pl.p[i])) >= 0
        THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END) AS BIGINT) AS sig
  FROM {table} e CROSS JOIN planes pl
  GROUP BY e.{id_col}, pl.tbl
),
cand AS (
  SELECT DISTINCT q.{id_col} AS query_id, c.{id_col} AS {id_col}
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.{query_pred}
),
v AS (
  SELECT {id_col}, {vec_col},
    sqrt(list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM {table}
),
scored AS (
  SELECT cd.query_id, cd.{id_col},
    list_sum(list_transform(range(1, {dim + 1}),
      i -> q.{vec_col}[i]::DOUBLE * c.{vec_col}[i]::DOUBLE)) / (q.nrm * c.nrm)
      AS cos_raw
  FROM cand cd
  JOIN v q ON q.{id_col} = cd.query_id
  JOIN v c ON c.{id_col} = cd.{id_col}
),
ranked AS (
  SELECT query_id, {id_col}, cos_raw,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, {id_col}) AS rank
  FROM scored
)
SELECT query_id, {id_col}, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def bitext_mine_forward(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    margin_num: int = 105,
    margin_den: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Margin-based bitext mining, forward-ratio variant (Artetxe &
    Schwenk 2019; the CCMatrix/LASER recipe for mining parallel
    pairs from two embedding spaces): a query x accepts its nearest
    corpus neighbor y1 iff cos(x, y1) clears the MEAN of its next
    (k-1) neighbors by a margin — the score that separates true
    translations from hubs that are merely near everything.

    Exactness engineering (what makes this hash-comparable across
    engines where a naive float pipeline is not): per-pair cosines
    use the strict left-to-right fold; they are then ROUNDED to 6dp
    and cast DECIMAL(18,6), so the neighborhood sum is exact decimal
    arithmetic with no float accumulation; the accept decision is
    the decimal cross-multiplication c1·(k-1)·den ≥ num·Σrest —
    zero float involvement — and the reported margin is one IEEE
    division of two exact decimals, rounded.

    Scale shape: this is the per-shard scorer — queries (one mining
    shard) broadcast against the full other-language corpus, exactly
    how production mining fans out shard × index; swap the brute
    scorer for lsh_topk/ivf_topk candidates at billion-vector scale
    (same margin tail, candidate top-k instead of exact top-k).

    Output: query_id, best_id, best_cosine, margin, accepted."""
    topk = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    dec = F.round("cosine", 6).cast("decimal(18,6)")
    r1 = F.when(F.col("rank") == 1, F.col(id_col))
    agg = topk.groupBy(query_id_col).agg(
        F.max(r1).alias("best_id"),
        F.max(F.when(F.col("rank") == 1, dec)).alias("__c1"),
        F.sum(F.when(F.col("rank") >= 2, dec)).alias("__crest"),
        F.sum(F.when(F.col("rank") >= 2, F.lit(1)).otherwise(0)).alias(
            "__nrest"
        ),
    )
    return agg.select(
        query_id_col,
        "best_id",
        F.col("__c1").cast("double").alias("best_cosine"),
        F.when(
            F.col("__crest") != 0,
            F.round(
                (F.col("__c1") * F.col("__nrest")).cast("double")
                / F.col("__crest").cast("double"),
                6,
            ),
        ).alias("margin"),  # NULL when the neighborhood sum is 0
        # (degenerate shard; the decimal accept rule still decides)
        (
            F.col("__c1") * F.col("__nrest") * F.lit(margin_den)
            >= F.lit(margin_num) * F.col("__crest")
        ).alias("accepted"),
    )


def bitext_mine_oracle_sql(
    table: str = "embeddings",
    k: int = 4,
    margin_num: int = 105,
    margin_den: int = 100,
    dim: int = 64,
    query_pred: str = "vec_id % 2 = 0 AND vec_id < 200",
    corpus_pred: str = "vec_id % 2 = 1",
) -> str:
    """DuckDB oracle for bitext_mine_forward over a parity split of
    one embeddings table: identical raw-cosine fold, identical 6dp
    DECIMAL neighborhood arithmetic, identical decimal cross-multiply
    accept rule."""
    return f"""
WITH v AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM {table}
),
q AS (SELECT * FROM v WHERE {query_pred}),
c AS (SELECT * FROM v WHERE {corpus_pred}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cid,
    list_sum(list_transform(range(1, {dim + 1}),
      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      / (q.nrm * c.nrm) AS cos_raw
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, cid, cos_raw,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, cid) AS rank
  FROM scored
),
top AS (SELECT * FROM ranked WHERE rank <= {k}),
agg AS (
  SELECT query_id,
    MAX(CASE WHEN rank = 1 THEN cid END) AS best_id,
    MAX(CASE WHEN rank = 1
        THEN CAST(round(cos_raw, 6) AS DECIMAL(18,6)) END) AS c1,
    SUM(CASE WHEN rank >= 2
        THEN CAST(round(cos_raw, 6) AS DECIMAL(18,6)) END) AS crest,
    SUM(CASE WHEN rank >= 2 THEN 1 ELSE 0 END) AS nrest
  FROM top GROUP BY query_id
)
SELECT query_id, best_id,
  CAST(c1 AS DOUBLE) AS best_cosine,
  CASE WHEN crest <> 0 THEN
    round(CAST(c1 * nrest AS DOUBLE) / CAST(crest AS DOUBLE), 6)
  END AS margin,
  c1 * nrest * {margin_den} >= {margin_num} * crest AS accepted
FROM agg
ORDER BY query_id
"""
