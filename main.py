"""CLI entry point — reference parity with main.py:53-152:
``python main.py --job {bronze|silver|gold|all} [--use-dag]
[--config cfg.yaml] [--env dev]``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from spark_delta_lakehouse_nyctaxi_spark.pipeline import (
    default_config,
    load_config,
    run_bronze_job,
    run_gold_job,
    run_pipeline,
    run_silver_job,
)
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark, stop_spark


def main() -> int:
    ap = argparse.ArgumentParser(description="Star-schema medallion pipeline")
    ap.add_argument("--job", choices=["bronze", "silver", "gold", "all"], default="all")
    ap.add_argument("--config", help="YAML config path (default: built-in)")
    ap.add_argument("--env", help="environment overlay name (main.py --env parity)")
    ap.add_argument("--use-dag", action="store_true", help="run via the DAG orchestrator")
    ap.add_argument("--base-path", default=os.path.join(ROOT, ".scratch", "lake"))
    ap.add_argument("--source", default="/root/testdata/sf0.001/orders.parquet")
    ap.add_argument("--query", help="run one registry query by name instead of a job")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table dir for --query")
    ap.add_argument("--limit", type=int, default=20, help="rows to show for --query")
    args = ap.parse_args()

    if args.query:
        from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

        if args.query == "list":
            for name, spec in sorted(REGISTRY.items()):
                kind = "oracle" if spec.sql else "rows-only"
                print(f"{name:36s} [{kind}] {spec.doc.split('.')[0][:80]}")
            return 0
        spark = get_spark("query-cli")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            REGISTRY[args.query].fn(spark, args.sf_dir).show(args.limit, truncate=False)
            return 0
        finally:
            stop_spark(spark)

    cfg = (
        load_config(args.config, args.env)
        if args.config
        else default_config(args.base_path, args.source)
    )
    spark = get_spark("pipeline-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.job == "all":
            out = run_pipeline(spark, cfg, use_dag=args.use_dag)
        else:
            job = {"bronze": run_bronze_job, "silver": run_silver_job, "gold": run_gold_job}[
                args.job
            ]
            out = job(spark, cfg)
        print(json.dumps(out, default=str))
        return 0
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
