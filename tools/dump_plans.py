"""Dump ``explain("formatted")`` for registered queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query (default: a fixed
round-10 list). Streaming queries (memory-sink results) are skipped —
their result frame is a LocalTableScan over the drained sink, so the
formatted plan carries no information; their evidence lives in the
probe harnesses instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "d2_token_jaccard",
    "d7_ngram_jaccard",
    "d14_bloom_decontaminate",
    "s11_ivf_sq8_index",
    "s12_ivfadc_index",
    "s15_ivfadc_index_rerank",
    "s16_ivfadc_batched_serve",
    "d17_fuzzy_dedup_ingest",
]


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    os.makedirs(outdir, exist_ok=True)

    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
    from medvedi_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("r10-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        q = QUERIES.get(name)
        if q is None:
            print(f"skip {name}: not registered")
            continue
        if name.startswith("st"):
            print(f"skip {name}: streaming (memory-sink result plan is empty)")
            continue
        df = q.builder(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        from medvedi_spark.operators.llm import release_persisted
        release_persisted()


if __name__ == "__main__":
    main()
