"""CLI warehouse-build entry point — the Spark analog of the reference's
Airflow DAG run (reference: dags/e_commerce_dw_dag.py:38-94: staging →
six dims → fact, daily schedule). A user of the reference switches their
scheduled invocation to:

    python scripts/run_etl.py --out /path/to/warehouse [--sf-dir ...]

One process: the four dims and the order-year-partitioned fact build
concurrently, one driver thread per table (like the reference's parallel
dim tasks), each materialized to parquet under --out and read back for
the post-load row-count smoke check (the reference's README.md:54-57
verification step), which prints as the result.
Scheduling is the orchestrator's job (cron/Airflow/dbt — this script IS
the task body); incremental loads run through the streaming ingest and
partition-scoped upsert instead of rebuilding (streaming/queries.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Build the warehouse star schema")
    ap.add_argument("--out", required=True, help="output directory for dims + fact")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    args = ap.parse_args(argv)

    from e_commerce_data_warehouse_recommendation_system_spark.plans.etl import run_pipeline
    from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark

    spark = get_spark()
    counts = run_pipeline(spark, args.sf_dir, args.out)
    print(json.dumps({"built": counts, "out": args.out}))
    return 0 if all(v > 0 for v in counts.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
