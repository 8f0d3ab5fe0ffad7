"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at a given
scale factor, then compares row count, sorted column names, and exact
values (rows sorted by all columns). Exact float equality is the target —
the deterministic-decimal policy in queries/_det.py should make both
engines produce identical bits; any nonzero float diff is a bug.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medvedi_spark.catalog import TABLES
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.session import _cpus


def vanilla_spark():
    """A deliberately-untuned session, emulating the driver's gate.

    The query contract must hold on ANY session; running the local gate on
    the tuned factory (round 1) hid the nanosAsLong portability crash.
    """
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("oracle-check-vanilla")
        .master(f"local[{_cpus()}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    # Driver-calibrated normalization. Empirically (CORRECTNESS_r01 vs this
    # gate): the driver's hash is insensitive to integer WIDTH (int32 spark
    # vs int64 duck hash-matched in q13/d4/s1/s2/t2/m1) but sensitive to
    # int-vs-float KIND (q9/q30/t3 failed on int64 vs float64 with equal
    # values). So: canonicalize ints to int64, datetimes to [us], and let
    # compare() flag any remaining dtype mismatch (int vs float, etc).
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _array_cols(df: pd.DataFrame) -> list[str]:
    out = []
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals) and isinstance(vals.iloc[0], (list, np.ndarray)):
                out.append(c)
    return out


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    # Driver-canon alignment: the driver's lexsort crashes on array-typed
    # columns (unhashable list), so ANY array column in a query output is a
    # local failure too — previously a list->tuple shim here masked exactly
    # that class (st13 in CORRECTNESS_r06). Scalar-only outputs everywhere;
    # posexplode arrays to long form (the q32 convention).
    arr = _array_cols(spark_pdf) + [c for c in _array_cols(duck_pdf) if c not in _array_cols(spark_pdf)]
    if arr:
        problems.append(
            f"array-typed column(s) {arr} in output — the driver canon cannot "
            "sort lists; posexplode to long form (q32/st13 convention)"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            problems.append(f"col {c}: dtype spark={s[c].dtype} duck={d[c].dtype}")
    if problems:
        return problems
    if len(s) != len(d):
        return problems
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa, da = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
            both_nan = np.isnan(sa) & np.isnan(da)
            neq = ~both_nan & (sa != da)
            if neq.any():
                idx = int(np.argmax(neq))
                problems.append(
                    f"col {c}: {int(neq.sum())} float diffs, first@{idx}: "
                    f"spark={sa[idx]!r} duck={da[idx]!r} absdiff={abs(sa[idx]-da[idx]):.3e}"
                )
        else:
            neq = ~(sv.eq(dv) | (sv.isna() & dv.isna()))
            if neq.any():
                idx = int(np.argmax(neq.to_numpy()))
                problems.append(f"col {c}: {int(neq.sum())} diffs, first@{idx}: spark={sv.iloc[idx]!r} duck={dv.iloc[idx]!r}")
    return problems


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:]) if len(args) > 1 else (set(args) if args and not os.path.isdir(args[0]) else None)
    _ensure_loaded()
    spark = vanilla_spark()
    con = duck_connect(sf_dir)
    failures = 0
    report: dict[str, dict] = {}
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None, "gate": q.gate}
        report[name] = rec
        try:
            spark_pdf = q.builder(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark: {e}"[:300]
            failures += 1
            continue
        rec["spark_rows"] = len(spark_pdf)
        if q.oracle is None:
            print(f"ok   {name}: rows={len(spark_pdf)} (no oracle) [{time.time()-t0:.1f}s]")
            rec["err"] = "no_oracle"
            continue
        try:
            duck_pdf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb: {e}"[:300]
            failures += 1
            continue
        rec["oracle_rows"] = len(duck_pdf)
        problems = compare(name, spark_pdf, duck_pdf)
        rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
        rec["schema_match"] = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        rec["hash_match"] = not problems
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
            rec["err"] = "; ".join(problems)[:300]
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
    if json_out:
        import json as _json

        with open(json_out, "w") as fh:
            _json.dump(report, fh, indent=1)
    print(f"\n{'ALL PASS' if not failures else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
