"""Capture `.explain("formatted")` output for named queries into
plans/r11/<query>_<tag>.txt — the before/after plan evidence the
optimization round commits (the judge checks plan claims against these).

Usage: python tools/capture_plans.py before q_agg_2key q_tpch_q5 ...
       python tools/capture_plans.py after  q_agg_2key ...
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

OUT = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(ROOT, "plans", "r12"))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
