#!/usr/bin/env python3
"""spark-submit entry point: run one named pipeline or catalog query.

The engine is a library; this is the thin runner that replaces the
reference's Airflow→EMR step shell (reference:
dags/spark_submit_airflow.py:204-244 drives four `spark-submit` steps,
with s3-dist-cp staging in between — SURVEY.md §2.1 S9/S10). On a real
cluster the same file is the `spark-submit` target; every S3/HDFS path
works directly through the input/output URIs (no staging copy needed —
the S3A connector reads s3:// in place), and sequencing/retries belong
to whatever scheduler calls it (cron, Airflow, Step Functions).

Usage (local or cluster — identical file):

    # the reference's ETL pipeline, end to end
    spark-submit scripts/run_job.py pipeline \\
        --bal-auth 's3a://bucket/in/bal_auth/*.csv.gz' \\
        --weather 's3a://bucket/in/weather/*.csv.gz' \\
        --locations s3a://bucket/in/locations.csv --out s3a://bucket/out

    # any catalog query by name, written as parquet
    spark-submit scripts/run_job.py query q5_region_revenue \\
        --sf-dir s3a://bucket/tables --out s3a://bucket/results/q5

    # cluster sizing is spark-submit's job, not this file's:
    spark-submit --master yarn --deploy-mode cluster \\
        --num-executors 200 --executor-cores 5 --executor-memory 20g \\
        scripts/run_job.py query dedup_minhash_lsh --sf-dir ... --out ...

Exit code is non-zero on failure so schedulers can fail fast (the
reference's CANCEL_AND_WAIT equivalent): an exception, an unknown query
name, or a pipeline QC report with failed checks (exit 1; the report is
still written).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs  # noqa: E402
from nrg_etl_airflow_spark_emr_spark.session import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run one catalog query, write parquet")
    q.add_argument("name", help="query name from CATALOG.md")
    q.add_argument("--sf-dir", required=True, help="input table directory/URI")
    q.add_argument("--out", required=True, help="output parquet path/URI")

    pl = sub.add_parser("pipeline", help="run the NRG ETL + QC pipeline")
    pl.add_argument("--bal-auth", required=True, help="balancing-authority CSV glob/URI")
    pl.add_argument("--weather", required=True, help="weather CSV glob/URI")
    pl.add_argument("--locations", required=True, help="locations dimension CSV/URI")
    pl.add_argument("--out", required=True, help="output directory/URI")
    pl.add_argument(
        "--max-unmatched-station-days", type=int, default=0,
        help="weather rows whose station has no balancing authority that the "
        "QC report tolerates (default 0)",
    )

    ls = sub.add_parser("list", help="list runnable catalog queries")

    args = p.parse_args(argv)

    if args.cmd == "list":
        for name, s in all_specs().items():
            print(f"{name}\t{','.join(s.tags)}")
        return 0

    spark = get_spark(app_name=f"nrg-{args.cmd}")
    try:
        if args.cmd == "query":
            specs = all_specs()
            if args.name not in specs:
                print(f"unknown query {args.name!r}; see `run_job.py list`",
                      file=sys.stderr)
                return 2
            specs[args.name].builder(spark, args.sf_dir).write.mode(
                "overwrite"
            ).parquet(args.out)
        else:
            from nrg_etl_airflow_spark_emr_spark.pipelines.nrg import run_pipeline

            out = run_pipeline(
                spark, args.bal_auth, args.weather, args.locations, args.out,
                max_unmatched_station_days=args.max_unmatched_station_days,
            )
            if out.n_failed:
                print(f"{out.n_failed} QC check(s) failed; see {out.qc_report_path}",
                      file=sys.stderr)
                return 1
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
