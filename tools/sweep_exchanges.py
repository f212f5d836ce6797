"""One-off: cold exchange counts for EVERY registry query at sf0.001.

Clears the SQL cache, all persisted RDDs, and the module-level memo
dicts between queries so no query's plan is shaped by a sibling's warm
cache (the r6 verdict finding: q_dup_spectrum measured 52 warm vs 21
cold, q_longest_dup_run 16 warm vs 67 cold)."""
from __future__ import annotations
import json, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from explain_plans import reset_caches  # tools/ is this script's dir
from spark_delta_lakehouse_nyctaxi_spark import plans as P
from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark


def main():
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, spec in REGISTRY.items():
        reset_caches(spark)
        try:
            df = spec.fn(spark, "/root/testdata/sf0.001")
            out[name] = P.exchange_count(df)
        except Exception as e:
            out[name] = f"error: {str(e).splitlines()[0][:80]}"
    json.dump(out, open("/tmp/exchanges.json", "w"), indent=1)
    big = {k: v for k, v in out.items() if isinstance(v, int) and v > 25}
    print("queries >25 exchanges:", json.dumps(big, indent=1))
    errs = {k: v for k, v in out.items() if isinstance(v, str)}
    print("errors:", json.dumps(errs, indent=1))

if __name__ == "__main__":
    main()
