"""Regenerate ``manifest.json``: the expected outputs the benchmark
checks, and the fixed relational / python-tail split of the queries.

Run from the repository root (takes a few minutes):

    python3 perfbench/make_manifest.py [seed]

Every workload runs once with a recording check. Query row counts are
accepted only where the registry's DuckDB ``oracle_sql`` agrees with
the Spark result at sf0.1 (row count and every value); a query without
an oracle is recorded as ``"oracle": "none"``. A query is python-tail
if its planned physical plan holds a Python eval node. Layer metadata
(``layers``) and workload notes are carried over from the existing
manifest.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

from common import HERE, ROOT, SF_DIR, WORK, Bench, log
from spans import PYTHON_NODE_MARKERS

# bench.py's 46 headline queries.
HEADLINE = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_regional_revenue",
    "master_customer", "s_sessionize_gap", "w_rownum_latest_event",
    "wh_daily_kpi", "wh_track_events", "ops_shipment_funnel",
    "ml_churn_score", "dd_minhash_lsh", "ann_brute_topk",
    "dd_neardup_components", "sessions_union_stitch", "ml_price_score",
    "dd_embedding_neardup", "scd2_history", "ml_mlp_score", "ann_ivf_topk",
    "corpus_curation", "dd_line_dedup", "dd_semantic_dedup",
    "txt_bpe_encode", "skew_salted_rollup", "mon_hll_distinct",
    "mon_cms_heavyhitters", "j_bloom_prefilter", "emb_pq_encode",
    "ann_pq_adc", "txt_tfidf_topterms", "txt_pack_plan", "mm_png_decode",
    "txt_collocations", "dd_neardup_survivors", "mm_gif_decode",
    "mm_jpeg_decode", "mm_mp4_meta", "mon_table_stats",
    "txt_quality_buckets", "txt_weighted_sample", "txt_bigram_logprob",
    "mon_value_quantiles", "txt_bigram_logprob_pruned", "mm_mp3_meta",
    "mm_video_frames", "compat_redshift_script",
]
MODULE_BY_PREFIX = {
    "dd": "textops", "txt": "textops", "corpus": "textops",
    "mm": "multimodal", "ml": "ml", "ann": "ml", "emb": "ml",
    "compat": "compat", "mon": "quality",
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class Recorder(Bench):
    """A Bench whose checks record what they saw instead of failing."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.seen: dict[str, object] = {}

    def check(self, what, got, want) -> bool:
        self.attempted += 1
        self.seen[what] = got
        return True


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def oracle_verdict(spark, con, name: str, spec) -> str:
    if spec.oracle is None:
        return "none"
    df = spec.spark(spark, SF_DIR)
    cols = sorted(df.columns)
    got = sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)
    res = con.execute(spec.oracle)
    idx = {d[0].lower(): i for i, d in enumerate(res.description)}
    if sorted(idx) != sorted(c.lower() for c in cols):
        return "mismatch: columns"
    want = sorted(
        (tuple(r[idx[c.lower()]] for c in cols) for r in res.fetchall()), key=repr
    )
    if len(got) != len(want):
        return f"mismatch: {len(got)} rows vs {len(want)}"
    if not all(_cells_equal(a, b) for ra, rb in zip(got, want) for a, b in zip(ra, rb)):
        return "mismatch: values"
    return "match"


def main() -> int:
    import duckdb

    import run
    from workloads import WORKLOAD_CLASSES

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    path = os.path.join(HERE, "manifest.json")
    with open(path) as f:
        old = json.load(f)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    manifest = {
        **old,
        "query_suite": {
            n: {"module": MODULE_BY_PREFIX.get(n.split("_")[0], "queries"),
                "python_tail": False, "rows": None}
            for n in old.get("query_suite") or HEADLINE
        },
    }
    manifest["nightly_ingest"].update(models={}, chain_rows=None)
    for wl in WORKLOAD_CLASSES:
        shutil.rmtree(WORK, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "tmp"))
        bench = Recorder(wl, seed, False, manifest)
        workload = WORKLOAD_CLASSES[wl](bench)
        try:
            run.measure(bench, workload, 0)
            seen = bench.seen
            if wl == "query_suite":
                from etl_pipelines_spark.queries import REGISTRY

                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
                for n, q in manifest["query_suite"].items():
                    plan = str(
                        REGISTRY[n].spark(bench.spark, SF_DIR)
                        ._jdf.queryExecution().executedPlan().toString()
                    )
                    q["python_tail"] = any(m in plan for m in PYTHON_NODE_MARKERS)
                    q["rows"] = seen[f"{n} rows"]
                    q["oracle"] = oracle_verdict(bench.spark, con, n, REGISTRY[n])
                    log(f"{n}: {q}")
                    if q["oracle"].startswith("mismatch"):
                        raise SystemExit(f"{n}: oracle {q['oracle']}")
            else:
                night = manifest["nightly_ingest"]
                night["models"] = {k: v[2] for k, v in seen.items() if isinstance(v, tuple)}
                night["chain_rows"] = seen["incremental counts"]
        finally:
            bench.shutdown()
    shutil.rmtree(WORK, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
    log(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
