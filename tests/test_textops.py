"""Text/dedup/similarity operator tests, including the sketch-vs-
exact consistency checks that the rows-only queries rely on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.queries import load
from etl_pipelines_spark.textops import (
    brute_force_topk,
    exact_dedup,
    ivf_topk,
    lsh_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    with_fingerprint,
    with_language_id,
    with_quality_score,
    with_simhash,
)


class TestExactDedup:
    def test_identical_texts_collapse(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "different")], ["doc_id", "text"]
        )
        out = exact_dedup(df).collect()
        assert sorted(r.doc_id for r in out) == [1, 3]


class TestContamination:
    def test_flags_exact_overlap_only(self, spark):
        from etl_pipelines_spark.textops import contamination_check

        corpus = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [(10, "alpha beta"), (11, "epsilon zeta"), (12, "gamma delta")],
            ["batch_id", "text"],
        )
        out = {r.batch_id: (r.contaminated, r.matched_corpus_doc)
               for r in contamination_check(corpus, batch).collect()}
        # matched id is the LOWEST corpus doc carrying the text
        assert out == {10: (True, 1), 11: (False, None), 12: (True, 2)}


class TestMinhashVsExact:
    def test_lsh_recall_is_total_on_corpus(self, spark, sf_dir):
        """128 hashes / 32 bands at j>=0.8 -> miss prob ~5e-8; with
        exact verification the sketch output must equal the exact
        quadratic baseline on the test corpus."""
        d = load(spark, sf_dir, "documents")
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(d, n=3, threshold=0.8).collect()
        }
        sketched = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                d, n=3, num_hashes=128, bands=32, threshold=0.8, verify=True
            ).collect()
        }
        assert sketched == exact
        assert len(exact) > 0  # the corpus has planted near-dups

    def test_signature_similarity_tracks_jaccard(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i k"),  # near-dup of 1
                (3, "z y x w v u t s r q"),  # unrelated
            ],
            ["doc_id", "text"],
        )
        from etl_pipelines_spark.textops import minhash_signature

        rows = df.select(
            "doc_id", minhash_signature(F.col("text"), n=3, num_hashes=64).alias("mh")
        ).collect()
        sig = {r.doc_id: r.mh for r in rows}
        agree_12 = sum(a == b for a, b in zip(sig[1], sig[2]))
        agree_13 = sum(a == b for a, b in zip(sig[1], sig[3]))
        assert agree_12 > 30  # j = 6/10 -> expect ~38/64 agreement
        assert agree_13 == 0


class TestSimhash:
    def test_identical_docs_distance_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five"), (2, "one two three four five")],
            ["doc_id", "text"],
        )
        out = simhash_neardup_pairs(df, max_hamming=0).collect()
        assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]

    def test_pairs_are_high_jaccard(self, spark, sf_dir):
        """Every simhash pair at hamming<=3 should be a genuine 2-gram
        near-dup (precision check against the exact metric)."""
        d = load(spark, sf_dir, "documents")
        sh_pairs = {
            (r.id_a, r.id_b) for r in simhash_neardup_pairs(d, max_hamming=3, n=2).collect()
        }
        exact_pairs = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(d, n=2, threshold=0.7).collect()
        }
        assert sh_pairs <= exact_pairs

    def test_simhash_is_deterministic(self, spark):
        df = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])
        a = with_simhash(df).collect()[0].simhash
        b = with_simhash(df).collect()[0].simhash
        assert a == b


class TestSimilarity:
    def test_rank1_is_self(self, spark, sf_dir):
        e = load(spark, sf_dir, "embeddings")
        queries = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = brute_force_topk(e, queries, k=1).collect()
        assert all(r.vec_id == r.query_id and abs(r.cosine - 1.0) < 1e-9 for r in out)

    def test_lsh_candidates_subset_scored_exactly(self, spark, sf_dir):
        """LSH top-k cosines must agree with brute-force cosines for
        the same (query, vec) pairs — only the candidate SET is
        approximate, never the scores."""
        e = load(spark, sf_dir, "embeddings")
        queries = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        brute = {
            (r.query_id, r.vec_id): r.cosine
            for r in brute_force_topk(e, queries, k=1000000).collect()
        }
        lsh = lsh_topk(e, queries, k=5, dim=64, n_planes=6, n_tables=8).collect()
        assert len(lsh) > 0
        for r in lsh:
            assert abs(brute[(r.query_id, r.vec_id)] - r.cosine) < 1e-12
        # self-match always shares every signature -> rank 1 survives
        self_hits = {r.query_id for r in lsh if r.vec_id == r.query_id and r.rank == 1}
        assert self_hits == {0, 1, 2}

    def test_lsh_neardup_pairs_subset_of_all_pairs(self, spark, sf_dir):
        """The bucketed near-dup path (the registered
        dd_embedding_neardup) must emit a SUBSET of the lossless n²
        all-pairs verifier, with bit-identical cosines — only recall
        is approximate, never a score and never a false positive."""
        from etl_pipelines_spark.textops.similarity import (
            all_pairs_cosine,
            lsh_neardup_pairs,
        )

        e = load(spark, sf_dir, "embeddings")
        exact = {
            (r.id_a, r.id_b): r.cosine
            for r in all_pairs_cosine(e, threshold=0.4, dim=64).collect()
        }
        lsh = lsh_neardup_pairs(
            e, threshold=0.4, dim=64, n_planes=6, n_tables=4
        ).collect()
        assert len(lsh) > 0
        for r in lsh:
            assert (r.id_a, r.id_b) in exact
            assert exact[(r.id_a, r.id_b)] == r.cosine  # bit-identical


class TestAnalysis:
    def test_quality_score_components(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over a lazy dog today")], ["doc_id", "text"]
        )
        r = with_quality_score(df).collect()[0]
        assert r.n_tokens == 10
        assert r.quality_score == 1.0

    def test_short_doc_penalized(self, spark):
        df = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
        r = with_quality_score(df).collect()[0]
        assert r.quality_score < 1.0

    def test_langid_markers(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is on the mat and the dog"),
                (2, "der hund ist nicht die katze und das"),
                (3, "el perro es que la casa y es"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r.detected_lang for r in with_language_id(df).collect()}
        assert out == {1: "en", 2: "de", 3: "es"}

    def test_fingerprint_survives_cosmetic_edits(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello,  World!"), (2, "hello world")], ["doc_id", "text"]
        )
        fps = [r.fingerprint for r in with_fingerprint(df).collect()]
        assert fps[0] == fps[1]


class TestIvf:
    def test_ivf_recall_and_exact_scores(self, spark, sf_dir):
        """Probing 6/16 lists must recover most of the true top-10,
        and — like LSH — only the candidate SET is approximate: any
        returned cosine must equal the brute-force cosine."""
        e = load(spark, sf_dir, "embeddings")
        queries = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        brute = {
            (r.query_id, r.vec_id): r.cosine
            for r in brute_force_topk(e, queries, k=10).collect()
        }
        ivf = ivf_topk(e, queries, k=10, nlist=16, nprobe=6).collect()
        hits = sum((r.query_id, r.vec_id) in brute for r in ivf)
        assert hits / len(brute) >= 0.6
        full = {
            (r.query_id, r.vec_id): r.cosine
            for r in brute_force_topk(e, queries, k=10**6).collect()
        }
        for r in ivf:
            assert abs(full[(r.query_id, r.vec_id)] - r.cosine) < 1e-12
        # a query's own vector shares its centroid list -> rank 1 is self
        self_hits = {r.query_id for r in ivf if r.vec_id == r.query_id and r.rank == 1}
        assert self_hits == {0, 1, 2}

    def test_ivf_is_deterministic(self, spark, sf_dir):
        e = load(spark, sf_dir, "embeddings")
        queries = e.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        a = [tuple(r) for r in ivf_topk(e, queries, k=5).orderBy("query_id", "rank").collect()]
        b = [tuple(r) for r in ivf_topk(e, queries, k=5).orderBy("query_id", "rank").collect()]
        assert a == b


class TestNeardupComponents:
    def test_chain_collapses_transitively(self, spark):
        # A-B, B-C, C-D is one component even though A-D never paired.
        from etl_pipelines_spark.textops import neardup_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
        )
        out = {r.doc_id: r for r in neardup_components(pairs).collect()}
        assert {out[i].component_id for i in (1, 2, 3, 4)} == {1}
        assert {out[i].component_id for i in (10, 11)} == {10}
        assert out[1].component_size == 4 and out[10].component_size == 2
        assert [i for i, r in out.items() if r.is_canonical] == [1, 10] or sorted(
            i for i, r in out.items() if r.is_canonical
        ) == [1, 10]

    def test_long_path_within_max_iter(self, spark):
        from etl_pipelines_spark.textops import neardup_components

        n = 12  # diameter 11 chain: worst case for label propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
        )
        out = neardup_components(pairs).collect()
        assert {r.component_id for r in out} == {0}
        assert all(r.component_size == n + 1 for r in out)

    def test_distributed_path_matches_driver_path(self, spark):
        # driver_max_edges=0 forces the star-contraction path; both
        # paths must emit the identical component labeling.
        from etl_pipelines_spark.textops import neardup_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            ["id_a", "id_b"],
        )
        drv = sorted(tuple(r) for r in neardup_components(pairs).collect())
        dist = sorted(
            tuple(r)
            for r in neardup_components(pairs, driver_max_edges=0).collect()
        )
        assert drv == dist

    def test_distributed_path_closes_a_30_hop_chain(self, spark):
        # A chain's diameter exceeds any fixed round budget of label
        # propagation; the large-graph path must still return the one
        # component the driver path finds.
        from etl_pipelines_spark.textops import neardup_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
        )
        drv = sorted(tuple(r) for r in neardup_components(pairs).collect())
        dist = sorted(
            tuple(r)
            for r in neardup_components(pairs, driver_max_edges=0).collect()
        )
        assert {r[1] for r in dist} == {0}
        assert dist == drv

    def test_driver_path_labels_plan_as_local_table_scan(self, spark):
        # The union-find labels go back to Spark as an Arrow table: a
        # LocalTableScan read in the JVM, not a pickled Python RDD that
        # a Python worker decodes in every task.
        from etl_pipelines_spark.textops import neardup_components

        pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
        plan = neardup_components(pairs)._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan and "PythonRDD" not in plan, plan


class TestSampling:
    """Deterministic hash-mod splits (textops/sampling.py)."""

    def test_split_is_stable_under_growth_and_partitioning(self, spark, sf_dir):
        """A doc's split must not change when the corpus grows or the
        data is repartitioned — the property random sample() lacks."""
        from etl_pipelines_spark.textops import with_split

        d = load(spark, sf_dir, "documents")
        half = {r.doc_id: r.split
                for r in with_split(d.filter(F.col("doc_id") % 2 == 0), "doc_id")
                .select("doc_id", "split").collect()}
        full = {r.doc_id: r.split
                for r in with_split(d.repartition(7), "doc_id")
                .select("doc_id", "split").collect()}
        assert half == {k: v for k, v in full.items() if k % 2 == 0}

    def test_split_fractions_near_nominal(self, spark, sf_dir):
        from etl_pipelines_spark.textops import with_split

        d = load(spark, sf_dir, "documents")
        counts = dict(
            with_split(d, "doc_id").groupBy("split").count().rdd
            .map(lambda r: (r["split"], r["count"])).collect()
        )
        n = sum(counts.values())
        assert counts["train"] / n == pytest.approx(0.90, abs=0.05)
        assert counts.get("val", 0) / n == pytest.approx(0.05, abs=0.03)
        assert counts.get("test", 0) / n == pytest.approx(0.05, abs=0.03)

    def test_hash_sample_is_subset_and_nested(self, spark, sf_dir):
        """pct=10 sample ⊂ pct=20 sample (nested by construction)."""
        from etl_pipelines_spark.textops import hash_sample

        d = load(spark, sf_dir, "documents")
        s10 = {r.doc_id for r in hash_sample(d, "doc_id", 10).select("doc_id").collect()}
        s20 = {r.doc_id for r in hash_sample(d, "doc_id", 20).select("doc_id").collect()}
        assert s10 <= s20
        assert 0 < len(s10) < len(s20)

    def test_stratified_take_respects_quota(self, spark, sf_dir):
        from etl_pipelines_spark.textops import stratified_take

        d = load(spark, sf_dir, "documents")
        out = stratified_take(d, "lang", "doc_id", 5)
        per = dict(out.groupBy("lang").count().rdd
                   .map(lambda r: (r["lang"], r["count"])).collect())
        assert per and all(v <= 5 for v in per.values())
        # deterministic across shuffles
        again = stratified_take(d.repartition(11), "lang", "doc_id", 5)
        assert sorted(map(str, out.collect())) == sorted(map(str, again.collect()))


class TestAnalysisOpsEdges:
    """Edge inputs the synthetic corpus never hits: empty text,
    single-token docs, docs shorter than the n-gram/chunk size."""

    def test_repetition_short_docs_score_zero(self, spark):
        from etl_pipelines_spark.textops import with_repetition

        df = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "a b c"), (4, "x x x x x x")],
            ["doc_id", "text"],
        )
        got = {r.doc_id: (r.dup_2gram_frac, r.dup_5gram_frac)
               for r in with_repetition(df).collect()}
        assert got[1] == (0.0, 0.0)   # empty
        assert got[2] == (0.0, 0.0)   # below both n
        assert got[3][1] == 0.0       # 3 tokens: no 5-grams
        assert got[3][0] == 0.0       # 'a b','b c' distinct
        # 'x x' x5 -> 1 distinct of 5 2-grams; 'x x x x x' x2 -> 1 of 2
        assert got[4] == (0.8, 0.5)

    def test_chunk_plan_edges(self, spark):
        from etl_pipelines_spark.textops import chunk_plan

        df = spark.createDataFrame(
            [(1, ""), (2, "a b c"), (3, " ".join(["t"] * 65))],
            ["doc_id", "text"],
        )
        rows = chunk_plan(df, chunk_tokens=32).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # empty doc still yields one (empty) chunk row
        assert [(r.tok_start, r.tok_end, r.n_chunk_tokens)
                for r in by_doc[1]] == [(0, 0, 0)]
        assert [(r.tok_start, r.tok_end) for r in by_doc[2]] == [(0, 3)]
        # 65 tokens / 32 -> 3 chunks, last one partial
        assert [(r.chunk_idx, r.n_chunk_tokens) for r in sorted(
            by_doc[3], key=lambda r: r.chunk_idx)] == [(0, 32), (1, 32), (2, 1)]

    def test_vocab_topk_deterministic_tiebreak(self, spark):
        from etl_pipelines_spark.textops import vocab_topk

        df = spark.createDataFrame(
            [(1, "b a"), (2, "a b"), (3, "c")], ["doc_id", "text"]
        )
        got = [(r.token, r.n_occurrences, r.rank)
               for r in vocab_topk(df, k=2).orderBy("rank").collect()]
        # a and b tie at 2; 'a' wins the tie alphabetically
        assert got == [("a", 2, 1), ("b", 2, 2)]
