"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized with the noop writer (full execution, no
driver-side collect cost). Timing excludes session startup; one warm-up
pass over a tiny query primes the JVM/codegen caches.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# python WORKERS unpickle package closures by module reference; make
# the repo importable there regardless of launch cwd (set before the
# JVM starts so the worker daemon inherits it).
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _REPO
    )

from etl_pipelines_spark.queries import REGISTRY  # noqa: E402
from etl_pipelines_spark.session import get_spark  # noqa: E402

# Ordered JVM-relational first, Python-worker-heavy (Arrow batches,
# numpy sketching) last: the python workers' spawn cost and memory
# churn otherwise bleed into the timings of whatever runs next.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_regional_revenue",
    "master_customer",
    "s_sessionize_gap",
    "w_rownum_latest_event",
    "wh_daily_kpi",
    "wh_track_events",
    "ops_shipment_funnel",
    "ml_churn_score",
    "dd_minhash_lsh",
    "ann_brute_topk",
    "dd_neardup_components",
    # round 2 additions: the new scale-path / capability queries.
    # The cross-round comparable core is the 13 above; these extend
    # visibility (dd_embedding_neardup switched from all-pairs to
    # LSH-bucketed this round).
    "sessions_union_stitch",
    "ml_price_score",
    "dd_embedding_neardup",
    # round 3 additions: SCD2 merge (relational), MLP + fixed-centroid
    # IVF (Arrow tail), end-to-end corpus curation (relational).
    "scd2_history",
    "ml_mlp_score",
    "ann_ivf_topk",
    "corpus_curation",
    # round 3 second wave: line-level corpus dedup (hash-only
    # shuffles) and SemDeDup (cluster-then-verify, Arrow tail).
    "dd_line_dedup",
    "dd_semantic_dedup",
    # round 3 third wave: BPE tokenizer application + salted skew
    # rollup (pure JVM), PQ encode + ADC top-k (Arrow tail).
    "txt_bpe_encode",
    "skew_salted_rollup",
    # round 3 fourth wave: sketch family + bloom join pruning
    # (pure JVM integer pipelines).
    "mon_hll_distinct",
    "mon_cms_heavyhitters",
    "j_bloom_prefilter",
    "emb_pq_encode",
    "ann_pq_adc",
    # round 4: tf-idf keyword extraction + sequence packing (pure
    # JVM), real PNG decode (Arrow tail: zlib+numpy codec).
    "txt_tfidf_topterms",
    "txt_pack_plan",
    "mm_png_decode",
    # round 4 second wave: integer-exact PMI collocations (pure JVM),
    # the near-dup survivor frame (full dedup pipeline output), and
    # real GIF decode (Arrow tail: pure-python LZW).
    "txt_collocations",
    "dd_neardup_survivors",
    "mm_gif_decode",
    "mm_jpeg_decode",
    "mm_mp4_meta",
    "mon_table_stats",
    "txt_quality_buckets",
    "txt_weighted_sample",
    "txt_bigram_logprob",
    "mon_value_quantiles",
    # round 5: min-count-pruned bigram LM with unigram backoff — the
    # bounded-model replacement for the fleet's worst scale slope —
    # and real MP3 frame-header metadata (Arrow tail).
    "txt_bigram_logprob_pruned",
    "mm_mp3_meta",
    # round 6: MP4 per-frame sample-table metadata (Arrow tail) and
    # the Redshift-dialect script through the transpiler (pure JVM —
    # proves the compat path costs what the native plan costs).
    "mm_video_frames",
    "compat_redshift_script",
]


# The engine's 128 MiB splits are sized for 100 TB scans; sf0.1 files
# are single-digit MiB, which would hand each fact scan to one core.
# Split small so local[N] fans out.
SMALL_SPLITS = {
    "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(256 * 1024),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # local[$SPARK_GRAFT_CPUS] with as many shuffle partitions: the
    # engine defaults.
    spark = get_spark(
        "etl_pipelines_spark-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            **SMALL_SPLITS,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: trivial scan to absorb JVM/codegen/first-stage cost.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Warm-up 2: prime the Python worker pool + Arrow serialization
    # path, so the first python-tail query (dd_*/ml_*/ann_*) doesn't
    # bill worker spawn to its own timing — the main source of the
    # ~1 s cross-round noise documented in r2.
    spark.range(100_000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    # Best-of-3 per query: the first run pays codegen/JIT and any GC
    # debt from the previous query; the min is the stable warm figure.
    # An explicit JVM GC before each query keeps inherited heap debt
    # from billing the wrong query.
    from etl_pipelines_spark.operators.cacheutil import unpersist_tracked

    def _timed_rep(name: str) -> float:
        """One fresh execution of the query under the noop sink.

        Tracked caches are released AFTER the timer stops and BEFORE
        the next rep starts (measurement-bug fix, VERDICT r12 #2/#3):
        Spark's CacheManager matches canonicalized plans, so with the
        old per-QUERY release the reps 2..N of any tracked_cache'd
        query reused rep 1's InMemoryRelation and the row timed an
        in-memory scan + sort instead of the query. Every rep now
        computes the full query from parquet; the release itself is
        outside the timed region (also keeps 47 queries' caches from
        stacking up as storage pressure, ADVICE r8).
        """
        df = REGISTRY[name].spark(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        elapsed = time.perf_counter() - t0
        unpersist_tracked(blocking=True)
        return elapsed

    timings: dict[str, float] = {}
    for name in HEADLINE:
        spark._jvm.System.gc()
        # Python-tail queries (Arrow batches, numpy sketching) carry
        # worker-pool and allocator noise that best-of-3 does not
        # drown; give them 5 reps.
        reps = 5 if name.split("_")[0] in ("dd", "ann", "ml", "scd2", "emb") else 3
        times: list[float] = [_timed_rep(name) for _ in range(reps)]
        # Sub-2-s rows: best-of-N at this magnitude still wobbles
        # past ±15% run-to-run (BENCH_VARIANCE r6: 6/53 rows out of
        # tolerance, every one sub-2-s, ≤0.3 s absolute) — each round
        # then re-litigates phantom regressions. Per r6 verdict #5:
        # extend those rows to 7 reps and report the MEDIAN OF THE 3
        # FASTEST (= 2nd-smallest of 7) — robust against positive
        # scheduling outliers AND against a single lucky min.
        # Rows ≥2 s keep plain best-of-N for cross-round
        # comparability (they were never the noisy ones).
        if min(times) < 2.0:
            while len(times) < 7:
                times.append(_timed_rep(name))
            timings[name] = round(sorted(times)[1], 3)
        else:
            timings[name] = round(min(times), 3)

    # End-to-end nightly rebuild (the reference's actual product — the
    # ordered fullload DAG): one config-ordered Pipeline run, ods ->
    # master -> historical -> marts -> monitoring, every model
    # MATERIALIZED to parquet (full write cost, not noop) with
    # parallel_within_group interleaving jobs the way the 66-group
    # build keeps a cluster busy. Timed once — it is a whole DAG of
    # actions with its own internal repetition, and each rep would
    # re-swap the same tables.
    import datetime as dt
    import shutil
    import tempfile

    from etl_pipelines_spark.plans.warehouse import build_warehouse_pipeline
    from etl_pipelines_spark.plans.model import RunContext
    from etl_pipelines_spark.sources.catalog import Catalog

    # Best-of-2 into fresh warehouse dirs: the 31-model DAG run has
    # ±30% wall variance from thread/GC scheduling on local[N]; the
    # min is the stable figure (same rule as the per-query reps).
    best = float("inf")
    ok = False
    model_times: dict[str, float] = {}
    for _rep in range(2):
        wh_dir = tempfile.mkdtemp(prefix="bench_wh_")
        spark._jvm.System.gc()
        try:
            ctx = RunContext(
                spark=spark,
                catalog=Catalog(spark, wh_dir),
                source_dir=sf_dir,
                run_date=dt.date(1998, 8, 2),
            )
            pipe = build_warehouse_pipeline(parallel_within_group=True)
            t0 = time.perf_counter()
            results = pipe.run(ctx)
            elapsed = time.perf_counter() - t0
            if all(r.status == "success" for r in results):
                ok = True
                if elapsed < best:
                    # per-model wall times of the BEST rep (r6
                    # verdict #6: the ×4.5/decade rebuild slope was
                    # aggregate-only — a regression must localize to
                    # a model in one read). Parallel-group wall
                    # times overlap, so they sum to more than the
                    # pipeline wall; the ranking is what matters.
                    model_times = {
                        r.name: round(r.seconds, 3) for r in results
                    }
                best = min(best, elapsed)
            else:
                failed = [r.name for r in results if r.status != "success"]
                print(
                    f"wh_full_rebuild FAILED models: {failed}", file=sys.stderr
                )
        finally:
            shutil.rmtree(wh_dir, ignore_errors=True)
    if ok:
        timings["wh_full_rebuild"] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n": 3,
        "n_python_tail": 5,
        "sub2s_stat": "median_of_3_fastest_of_7",
        # r13 measurement-bug fix (VERDICT r12 #2/#3): tracked caches
        # are released between reps, so every rep of a tracked_cache'd
        # query (mm decode family, rank/quantile two-phase) computes
        # from parquet instead of reusing the previous rep's
        # InMemoryRelation. Those rows step UP vs r12 by construction;
        # see OPTIMIZATION_r13.md for the old-vs-new methodology pair.
        "cache_released_between_reps": True,
    }
    # The headline line must stay small enough for the driver's tail
    # capture (r7's BENCH_r07.json truncated, parsed=null, once the
    # 31-entry per-model map rode inside it), and it must be the LAST
    # JSON line: the driver parses the last complete JSON line of its
    # tail buffer (r8's BENCH_r08.json parsed the wh_rebuild_models
    # auxiliary line instead of the headline because it was printed
    # after). Auxiliary maps go FIRST, headline LAST.
    if model_times:
        print(json.dumps(
            {"metric": "wh_rebuild_models", "unit": "sec",
             "models": model_times}
        ))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
