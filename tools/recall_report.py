"""Measured recall@10 for every ANN operator, in ONE session.

The ANN family trades exactness for scan cost; this report makes the
trade MEASURED instead of scattered prose: for each approximate
operator, run its registered query and compare the returned neighbor
sets against the exact brute-force top-10 under the operator's own
metric (cosine for s1/s2, squared-L2 for the quantized family and s13),
over the operator's own probe set, self excluded — i.e. recall is
computed against the ground truth the operator CLAIMS to approximate.

s1 is the exact cosine baseline (recall 1.0 by construction — a harness
sanity check, not a finding). s11/s12 serve from saved indexes and are
bit-identical to s10/s6 by unit test (tests/test_ann_index.py), so their
recall IS s10's/s6's; they write index directories and are not re-run
here.

The synthetic embeddings table is ADVERSARIAL for recall: iid random
vectors concentrate pairwise distances, so neighbors differ by tiny
margins and any lossy compression/projection pays the maximum possible
rank distortion. Real clustered embeddings sit well above these floors.

Usage: python tools/recall_report.py [sf_dir] [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.session import get_spark

K = 10

# op -> (metric, n_queries in its probe set)
OPS = {
    "s1_cosine_topk": ("cosine", 10),
    "s2_ann_ivf": ("cosine", 10),
    "s5_pq_adc_topk": ("l2", 5),
    "s6_ivfadc_topk": ("l2", 5),
    "s7_ivfadc_rerank": ("l2", 5),
    "s8_ivfadc_residual": ("l2", 5),
    "s9_sq8_topk": ("l2", 5),
    "s10_ivf_sq8_topk": ("l2", 5),
    "s13_jl_projection_topk": ("l2", 8),
}


def exact_sets(spark, sf_dir: str, metric: str, nq: int) -> dict[int, set[int]]:
    """Brute-force exact top-K neighbor ids per query, self excluded."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import kernels, vector

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    if metric == "l2":
        scored = pairs.withColumn("score", kernels.sqdist_dec("q_emb", "embedding"))
        w = Window.partitionBy("query_id").orderBy(F.asc("score"), F.asc("vec_id"))
    else:  # cosine
        norms = vector.vector_norms(e, "vec_id", "embedding")
        qn = norms.withColumnRenamed("vec_id", "query_id").withColumnRenamed("nrm", "q_nrm")
        scored = (
            pairs.join(F.broadcast(qn), "query_id")
            .join(norms, "vec_id")
            .withColumn(
                "score",
                kernels.dot_dec("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm")),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    rows = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "vec_id")
        .collect()
    )
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]]
    json_out = "RECALL_local.json"
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    _ensure_loaded()
    spark = get_spark("medvedi-spark-recall")
    spark.sparkContext.setLogLevel("ERROR")

    truth: dict[tuple[str, int], dict[int, set[int]]] = {}
    report: dict[str, dict] = {}
    for name, (metric, nq) in OPS.items():
        key = (metric, nq)
        if key not in truth:
            truth[key] = exact_sets(spark, sf_dir, metric, nq)
        exact = truth[key]
        got = QUERIES[name].builder(spark, sf_dir).collect()
        hit = sum(1 for r in got if r.neighbor_id in exact.get(r.query_id, set()))
        denom = len(exact) * K
        recall = round(hit / denom, 4) if denom else None
        report[name] = {"metric": metric, "n_queries": nq, "k": K, "recall_at_10": recall}
        print(f"{name:28s} metric={metric:6s} nq={nq:2d} recall@10={recall}")

    report["_note"] = (
        "s11/s12 (index lifecycle) are bit-identical to s10/s6 by unit test; "
        "iid synthetic embeddings are the adversarial case for recall "
        "(distance concentration)"
    )
    with open(json_out, "w") as fh:
        json.dump({"sf_dir": sf_dir, "ops": report}, fh, indent=2)
    print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
