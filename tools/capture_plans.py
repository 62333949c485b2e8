"""Capture .explain("formatted") for registry queries into files.

Usage: python tools/capture_plans.py <outdir> <suffix> [query ...]
Writes <outdir>/<query>_<suffix>.txt per query. With no query list,
captures the bench HEADLINE set plus the heavy wh-pipeline model twins.

The session is the engine session with bench.py's split sizing
(local[$SPARK_GRAFT_CPUS], ``bench.SMALL_SPLITS``) so the initial plan
matches what the bench executes (AQE runtime re-optimization is
additionally disclosed in OPTIMIZATION_r12.md where it matters).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    from etl_pipelines_spark.queries import REGISTRY
    from etl_pipelines_spark.session import get_spark
    import bench

    spark = get_spark(
        "capture_plans",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
            **bench.SMALL_SPLITS,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    names = sys.argv[3:] or (
        bench.HEADLINE
        + ["spv_price_outliers", "mkt_affiliate_payout", "master_subscription",
           "top_products", "mon_table_stats"]
    )
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"MARKER wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
