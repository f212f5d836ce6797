"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01, compares row count, sorted column names, and
order-insensitive values (exact for ints/strings/timestamps; exact for
doubles with a reported max-abs-diff so float risk is visible).

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v):
    """Container-insensitive stringification: DuckDB returns LIST columns
    as numpy arrays while a plain (non-Arrow) Spark session returns
    Python lists — str() of those differ ('[ 1  2]' vs '[1, 2]') even
    for equal values. Normalize any array-like to a plain list of
    native scalars first (the driver's hash is value-based and treats
    them alike — proven by the r2 driver rows on array-output queries)."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return str([x.item() if hasattr(x, "item") else x for x in v])
    return str(v)


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(_norm_cell)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), ignore_index=True)


def dtype_class(s: pd.Series) -> str:
    """Representation class as the driver's hash sees it. Within a
    class, value equality implies hash equality (int widths hash alike,
    datetime units are normalized); ACROSS classes — the q_null_profile
    trap: DuckDB HUGEINT materializing as float64 vs Spark int64 —
    equal values hash differently and the driver flags a mismatch."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        # Spark DATE comes back as object(datetime.date) while DuckDB
        # DATE is datetime64[us] — proven hash-safe by the round-1
        # driver (q_project_date / q_agg_daily / q_cast_timestamp all
        # green), so classify date objects with the datetimes.
        import datetime as _dt

        nn = s.dropna()
        if len(nn) and isinstance(nn.iloc[0], _dt.date) and not isinstance(nn.iloc[0], _dt.datetime):
            return "datetime"
    return "object"


def compare(
    name: str, sdf: pd.DataFrame, odf: pd.DataFrame, strict_dtypes: bool = False
) -> tuple[bool, str]:
    if len(sdf) != len(odf):
        return False, f"row count spark={len(sdf)} oracle={len(odf)}"
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        return False, f"columns spark={s_cols} oracle={o_cols}"
    if strict_dtypes:
        bad = []
        for c in s_cols:
            sc, oc = dtype_class(sdf[c]), dtype_class(odf[c])
            if sc != oc:
                bad.append(
                    f"{c}: spark {sdf[c].dtype}({sc}) vs oracle {odf[c].dtype}({oc})"
                )
        if bad:
            return False, "dtype-class mismatch — " + "; ".join(bad)
        # The driver canonicalizer sort_values() crashes on unhashable
        # list/ndarray cells (round-3 q_embedding_quantize ERR); our
        # _norm_cell stringification masks that locally. Under the
        # default strict gate, any raw container cell is a FAIL — emit
        # array_join/array_to_string on both engines instead.
        import numpy as np

        for frame, side in ((sdf, "spark"), (odf, "oracle")):
            for c in s_cols:
                if frame[c].dtype == object:
                    nn = frame[c].dropna()
                    if len(nn) and isinstance(
                        nn.iloc[0], (list, tuple, np.ndarray)
                    ):
                        return False, (
                            f"col {c} ({side}): raw container cells — the "
                            "driver canonicalizer cannot sort these; "
                            "stringify (array_join / array_to_string)"
                        )
    s, o = norm_frame(sdf), norm_frame(odf)
    max_float_diff = 0.0
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc):
            both_nan = sc.isna() & oc.isna()
            diff = (sc - oc).abs()
            diff[both_nan] = 0.0
            if diff.isna().any():
                return False, f"col {c}: NaN mismatch"
            m = float(diff.max()) if len(diff) else 0.0
            max_float_diff = max(max_float_diff, m)
            if m != 0.0:
                return False, f"col {c}: max float diff {m:.3e}"
        else:
            eq = (sc == oc) | (sc.isna() & oc.isna())
            if not eq.all():
                i = int((~eq).idxmax())
                return False, f"col {c}: first mismatch row {i}: spark={sc[i]!r} oracle={oc[i]!r}"
    return True, f"ok ({len(s)} rows, max_float_diff={max_float_diff:.1e})"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--strict-dtypes",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="fail on cross-class dtype mismatches (int vs float, etc.) "
        "that the driver's representation-sensitive hash would flag even "
        "when values are equal. DEFAULT ON since round 4: the round-3 "
        "q_simhash driver FAIL was exactly an oracle HUGEINT->float64 "
        "trap this gate catches and the old int64-cast compare masked. "
        "Use --no-strict-dtypes only for exploratory diffing",
    )
    ap.add_argument(
        "--plain",
        action="store_true",
        help="use a DRIVER-IDENTICAL plain SparkSession "
        "(local[8], no confs, ambient TZ) instead of session.get_spark — "
        "catches anything that silently depends on our pinned session",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    if args.plain:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("oracle-check")
    names = args.names or list(REGISTRY)
    n_pass = n_fail = 0
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if spec.sql is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            odf = con.sql(spec.sql).df()
        except Exception:
            print(f"FAIL  {name}: oracle error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        ok, msg = compare(name, sdf, odf, strict_dtypes=args.strict_dtypes)
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {msg} [{time.time()-t0:.1f}s]")
        n_pass += ok
        n_fail += not ok
    print(f"\n{n_pass}/{len(names)} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
