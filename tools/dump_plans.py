"""Dump ``explain("formatted")`` for registered queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX query [query ...]

Reads the tables at ``session.DEFAULT_SF_DIR`` ($SPARK_GRAFT_SF_DIR) and
writes OUTDIR/<query>_<SUFFIX>.txt for each named query. Streaming
queries (memory-sink results) are skipped — their result frame is a
LocalTableScan over the drained sink, so the formatted plan carries no
information; their evidence lives in the probe harnesses instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
    from medvedi_spark.session import DEFAULT_SF_DIR, get_spark

    _ensure_loaded()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        q = QUERIES.get(name)
        if q is None:
            print(f"skip {name}: not registered")
            continue
        if name.startswith("st"):
            print(f"skip {name}: streaming (memory-sink result plan is empty)")
            continue
        df = q.builder(spark, DEFAULT_SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        from medvedi_spark.operators._persist import release_persisted
        release_persisted()


if __name__ == "__main__":
    main()
