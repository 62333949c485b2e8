"""Command-line entry point: the operational surface a user of the
reference (Airflow CLI / dbt run) would reach for.

    python -m etl_pipelines_spark list
    python -m etl_pipelines_spark run <query> [--sf DIR] [--limit N]
    python -m etl_pipelines_spark rebuild [--sf DIR] [--out DIR]
                                          [--date YYYY-MM-DD]
    python -m etl_pipelines_spark backfill --start D --end D
                                          [--sf DIR] [--out DIR]

`list` prints every registry query (name + oracle presence).
`run` executes one registry query and prints up to --limit rows.
`rebuild` runs the full warehouse Pipeline (the nightly fullload
DAG) into --out. `backfill` re-runs it per date over a range.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def _spark():
    from .session import get_spark

    # Shuffle partitions stay the engine's $SPARK_GRAFT_CPUS default.
    spark = get_spark(
        "etl_pipelines_spark-cli",
        master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: "list[str] | None" = None) -> int:
    p = argparse.ArgumentParser(prog="etl_pipelines_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list")

    pr = sub.add_parser("run")
    pr.add_argument("query")
    pr.add_argument("--sf", default="/root/testdata/sf0.01")
    pr.add_argument("--limit", type=int, default=20)

    for name in ("rebuild", "backfill"):
        pb = sub.add_parser(name)
        pb.add_argument("--sf", default="/root/testdata/sf0.01")
        pb.add_argument("--out", default=None)
        if name == "rebuild":
            pb.add_argument("--date", default="1998-08-02")
        else:
            pb.add_argument("--start", required=True)
            pb.add_argument("--end", required=True)

    args = p.parse_args(argv)

    from .queries import REGISTRY

    if args.cmd == "list":
        for name, spec in REGISTRY.items():
            mark = "oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} {mark}")
        return 0

    if args.cmd == "run":
        if args.query not in REGISTRY:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        spark = _spark()
        df = REGISTRY[args.query].spark(spark, args.sf)
        rows = df.limit(args.limit).collect()
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join(str(v) for v in r))
        print(f"({len(rows)} row(s) shown, limit {args.limit})")
        return 0

    # rebuild / backfill share the pipeline context
    import tempfile

    from .plans import RunContext, backfill, build_warehouse_pipeline
    from .sources.catalog import Catalog

    spark = _spark()
    out_dir = args.out or tempfile.mkdtemp(prefix="wh_")
    pipe = build_warehouse_pipeline(parallel_within_group=True)

    def ctx(day: dt.date) -> RunContext:
        return RunContext(
            spark=spark,
            catalog=Catalog(spark, out_dir),
            source_dir=args.sf,
            run_date=day,
        )

    if args.cmd == "rebuild":
        results = pipe.run(ctx(dt.date.fromisoformat(args.date)))
        for r in results:
            print(f"{r.status:8s} {r.seconds:7.2f}s {r.name}")
        bad = [r for r in results if r.status != "success"]
        print(f"warehouse at {out_dir}: {len(results) - len(bad)} ok, "
              f"{len(bad)} failed")
        return 1 if bad else 0

    out = backfill(
        pipe,
        ctx(dt.date.fromisoformat(args.start)),
        dt.date.fromisoformat(args.start),
        dt.date.fromisoformat(args.end),
    )
    bad = 0
    for day, results in out.items():
        n_bad = sum(1 for r in results if r.status != "success")
        bad += n_bad
        print(f"{day}: {len(results) - n_bad} ok, {n_bad} failed")
    print(f"warehouse at {out_dir}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
