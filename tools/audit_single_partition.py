"""Registry-wide single-reducer audit (the r7-r8 scale-discipline
sweep): flag every Exchange SinglePartition whose input carries data
columns — the plan shape that funnels a data-volume-bearing frame
through ONE task (top_products' old overall rank, ×10.54/decade;
spv's old window median, ×10.8; affiliate payout's old global stats).

Benign singles are (a) 1-row/partial scalar aggregates (count/sum
cells), (b) the two-phase rank operators' totals frames (__ptotal,
shuffle.partitions rows), and (c) DATE-grain running-balance windows
(gc_account_balance, w_rolling_7d, j_dod_delta, gc_wallet_expansion,
a_having_segments, mon_table_stats) whose frame is bounded by the
CALENDAR or a fixed category set — |days| and |segments| do not grow
with data volume, so one task holding them is not a scale cliff.

Usage: python tools/audit_single_partition.py [sf_dir] [query ...]
Exit 1 if any non-whitelisted data-bearing single appears.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OK_HINTS = ("count#", "sum#", "__ptotal", "__n#", "min#", "max#")
# queries whose single-partition window frame is calendar/category
# bounded by construction (reviewed r8; see module docstring)
BOUNDED_FRAME_WHITELIST = {
    "gc_wallet_expansion": "date-grain balance pivot (|days|)",
    "j_dod_delta": "date-grain day-over-day lag (|days|)",
    "w_rolling_7d": "date-grain rolling frame (|days|)",
    "gc_account_balance": "date-grain running balance (|days|)",
    "a_having_segments": "mktsegment grain (5 values)",
    "mon_table_stats": "per-table sketch partials (fixed width)",
}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from etl_pipelines_spark.queries import REGISTRY
    from etl_pipelines_spark.session import get_spark

    spark = get_spark(
        "audit_single_partition",
        master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_flagged = 0
    for name in REGISTRY:
        if only and name not in only:
            continue
        try:
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: PLAN-ERR {str(e)[:80]}")
            n_flagged += 1
            continue
        singles = re.findall(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
            r"Arguments: SinglePartition",
            plan,
        )
        for cols in singles:
            benign = len(cols.split(",")) <= 3 and any(
                h in cols for h in OK_HINTS
            )
            if benign:
                continue
            if name in BOUNDED_FRAME_WHITELIST:
                continue
            print(f"{name}: DATA-BEARING SinglePartition [{cols[:120]}]")
            n_flagged += 1
    print(f"AUDIT {'FAIL' if n_flagged else 'OK'} ({n_flagged} flagged)")
    spark.stop()
    sys.exit(1 if n_flagged else 0)


if __name__ == "__main__":
    main()
