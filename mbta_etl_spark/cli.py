"""CLI entry point (reference main.go:15-151): dispatch to one ETL run or
one of the five canned queries, table-rendered via DataFrame.show().

Usage:
  python -m mbta_etl_spark.cli --run [--input payload.json] [--db path]
  python -m mbta_etl_spark.cli --query top10|routes|stats|bearing|bearing_summary|count
                               [--target 180 --delta 45] [--id VEH] [--db path]
"""

from __future__ import annotations

import argparse
import sys

from mbta_etl_spark.pipeline import etl, vehicle_queries as vq
from mbta_etl_spark.pipeline.load import read_published
from mbta_etl_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="MBTA ETL pipeline (PySpark)")
    p.add_argument("--run", action="store_true", help="run the ETL pipeline")
    p.add_argument("--query", help="top10|routes|stats|bearing|bearing_summary|count|speed")
    p.add_argument("--db", default="./vehicles_parquet", help="vehicles table path")
    p.add_argument("--api-url", default=etl.DEFAULT_API_URL)
    p.add_argument("--input", help="pre-fetched JSON payload file (offline mode)")
    p.add_argument("--interval", type=float, default=0.0,
                   help="poll interval in seconds; with --run, re-run the "
                        "pipeline continuously (0 = one-shot)")
    p.add_argument("--iterations", type=int, default=0,
                   help="number of polling passes (0 with --interval = forever)")
    p.add_argument("--target", type=float, default=180.0, help="bearing target")
    p.add_argument("--delta", type=float, default=45.0, help="bearing delta")
    p.add_argument("--id", dest="vehicle_id", help="vehicle id for --query speed")
    p.add_argument("--sql", help="run arbitrary SQL against the vehicles table "
                                 "(registered as view `vehicles`) — the "
                                 "reference's generic SQL cursor, Spark-planned")
    p.add_argument("--registry", metavar="ENTRY",
                   help="run a named analytics-registry entry ('list' "
                        "prints all names) against --sf-dir's parquet "
                        "tables")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="table directory for --registry")
    p.add_argument("--limit", type=int, default=100,
                   help="max rows to show for --registry/--query/--sql output")
    args = p.parse_args(argv)

    spark = get_spark("mbta-etl-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.run:
            body = None
            if args.input:
                with open(args.input) as f:
                    body = f.read()
            if args.interval > 0:
                n_iters = args.iterations or sys.maxsize
                provider = (lambda i: body) if body is not None else None
                counts = etl.run_polling(
                    spark, args.db, args.interval, n_iters,
                    api_url=args.api_url, body_provider=provider,
                )
                print(f"ETL polling done: {sum(counts)} records over "
                      f"{len(counts)} passes")
                return 0
            n = etl.run(spark, args.db, api_url=args.api_url, body=body)
            print(f"ETL complete: {n} records loaded")
            return 0
        if args.registry:
            from mbta_etl_spark.plans import registry as _reg

            qs = _reg.queries()
            if args.registry == "list":
                for name in sorted(qs):
                    print(name)
                return 0
            if args.registry not in qs:
                print(f"unknown registry entry: {args.registry}",
                      file=sys.stderr)
                return 1
            qs[args.registry](spark, args.sf_dir).show(
                args.limit, truncate=False
            )
            return 0
        if not (args.sql or args.query):
            p.print_usage()
            return 1
        published = read_published(spark, args.db)
        if published is None:
            print(f"no vehicles table at {args.db}", file=sys.stderr)
            return 1
        vehicles = published.df
        if args.sql:
            vehicles.createOrReplaceTempView("vehicles")
            spark.sql(args.sql).show(args.limit, truncate=False)
            return 0
        dispatch = {
            "top10": lambda: vq.top10_fastest(vehicles),
            "routes": lambda: vq.route_breakdown(vehicles),
            "stats": lambda: vq.summary_stats(vehicles),
            "bearing": lambda: vq.vehicles_by_bearing(vehicles, args.target, args.delta),
            "bearing_summary": lambda: vq.bearing_summary(vehicles),
            "count": lambda: vq.count_vehicles(vehicles),
            "speed": lambda: vq.vehicle_speed(vehicles, args.vehicle_id or ""),
        }
        if args.query not in dispatch:  # unknown → usage + exit 1 (main.go:142-150)
            print(f"unknown query: {args.query}", file=sys.stderr)
            p.print_usage()
            return 1
        dispatch[args.query]().show(args.limit, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
