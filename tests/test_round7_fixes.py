"""Round-7 directive fixes (VERDICT r6 "Next round"):

1. st13 gated output is long-form scalar-only (the q32 convention) —
   array-typed columns in a query output now FAIL the local canon too.
2. t12's context-count broadcast is size-routed (d2/d7 pattern): both
   router shapes emit identical results.
4. pq_train: deterministic per-subspace Lloyd matches an independent
   numpy replica, and the trained codebook drops into pq_encode.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.operators import llm


# ---------------------------------------------------------------- pq_train


def _numpy_pq_train(E: np.ndarray, n_subspaces: int, k: int, n_iter: int) -> np.ndarray:
    """Independent per-subspace Lloyd replica (float64 arithmetic — the
    engine's decimal rounding differs by <=5e-11 per distance term, far
    inside the tolerance asserted below)."""
    n, dim = E.shape
    sub = dim // n_subspaces
    cents = E[:k].copy()
    for _ in range(n_iter):
        new = cents.copy()
        for s in range(n_subspaces):
            X = E[:, s * sub : (s + 1) * sub]
            C = cents[:, s * sub : (s + 1) * sub]
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)  # ties on lowest index == lowest cent_id
            for j in range(k):
                m = a == j
                if m.any():
                    new[j, s * sub : (s + 1) * sub] = X[m].mean(0)
        cents = new
    return cents


def test_pq_train_matches_numpy(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    E = np.stack(
        [np.array(r.embedding, dtype=np.float64) for r in emb.orderBy("vec_id").collect()]
    )
    got = llm.pq_train(emb, "vec_id", "embedding", n_subspaces=8, k=8, n_iter=2)
    rows = {r.cent_id: np.array(r.c_emb) for r in got.collect()}
    want = _numpy_pq_train(E, n_subspaces=8, k=8, n_iter=2)
    assert sorted(rows) == list(range(8))
    for j in range(8):
        np.testing.assert_allclose(rows[j], want[j], rtol=0, atol=1e-7)


def test_pq_train_codebook_drops_into_pq_encode(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    cent = llm.pq_train(emb, "vec_id", "embedding", n_subspaces=4, k=6, n_iter=1)
    codes = llm.pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=4, dense=True)
    pdf = codes.toPandas()
    assert len(pdf) == 60
    for s in range(4):
        assert pdf[f"code{s}"].between(0, 5).all()


def test_pq_train_empty_cell_keeps_previous_centroid(spark):
    # 3 identical clusters of points far from centroid id 2's init, so
    # cell 2 empties immediately in every subspace: its centroid must
    # pass through unchanged (the kmeans_lloyd/Lloyd convention).
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [99.0, 99.0])]
    rows += [(i, [0.1, 0.1]) for i in range(3, 30)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cent = llm.pq_train(emb, "vec_id", "embedding", n_subspaces=2, k=3, n_iter=2)
    got = {r.cent_id: list(r.c_emb) for r in cent.collect()}
    assert got[2] == [99.0, 99.0]


def test_trained_residual_ivfadc_runs(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    coarse = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    out = llm.ivfadc_residual_topk(
        emb, coarse, None, "vec_id", "embedding",
        probe=F.col("vec_id") < 3, k=5, nprobe=2, n_subspaces=8,
        pq_train_k=8, pq_train_iters=1,
    )
    pdf = out.toPandas()
    assert set(pdf.columns) == {"query_id", "neighbor_id", "rank", "d2_approx"}
    assert (pdf.groupby("query_id")["rank"].max() <= 5).all()


# ------------------------------------------------------------- t12 router


def test_t12_router_shapes_agree(spark, sf_dir, monkeypatch):
    from medvedi_spark.operators import _persist
    from medvedi_spark.queries import text_ops

    a = text_ops.t12_bigram_surprisal(spark, sf_dir).toPandas()
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)  # force the above-cap shuffle shape
    b = text_ops.t12_bigram_surprisal(spark, sf_dir).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_t12_hint_present_under_cap_absent_above(spark, sf_dir, monkeypatch):
    """Above the cap the FORCED broadcast hint must be gone — the join
    strategy is then the planner's statistics-driven choice (which still
    auto-broadcasts at toy scale; at 100 TB the size estimate exceeds
    autoBroadcastJoinThreshold and it degrades to a shuffle join instead
    of OOMing the driver — the whole point of dropping the hint)."""
    from medvedi_spark.operators import _persist
    from medvedi_spark.queries import text_ops

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    under = analyzed(text_ops.t12_bigram_surprisal(spark, sf_dir))
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)
    over = analyzed(text_ops.t12_bigram_surprisal(spark, sf_dir))
    assert "ResolvedHint" in under
    assert "ResolvedHint" not in over


# ------------------------------------------- d17 incremental dedup index


def test_fuzzy_dedup_ingest_equals_one_shot(spark, sf_dir, tmp_path):
    from medvedi_spark.operators import dedup_index

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "idx")
    dedup_index.minhash_index_save(old, "doc_id", "text", path, threshold=0.8)
    idx = dedup_index.minhash_index_load(spark, path)
    inc = dedup_index.fuzzy_dedup_ingest(idx, old, new, "doc_id", "text")
    one_shot = llm.fuzzy_dedup_survivors(
        old.unionByName(new), "doc_id", "text", threshold=0.8
    )
    a = sorted(r.doc_id for r in inc.select("doc_id").collect())
    b = sorted(r.doc_id for r in one_shot.select("doc_id").collect())
    assert a == b
    # the ingest plan stays UDF-free (the final plan's old-side lineage
    # collapses into connected_components' LogicalRDD, so the sigs-scan
    # reuse is asserted on the band derivation instead)
    from tools.explain_audit import plan_facts

    assert plan_facts(inc)["pyudf"] == 0
    band_plan = dedup_index.bands_of_sigs(idx.sigs)._jdf.queryExecution().analyzed().toString()
    assert "parquet" in band_plan  # leaf = the saved sigs scan ...
    assert "Aggregate" not in band_plan  # ... with no re-signing aggregate


def test_dedup_index_rejects_foreign_hash_family(spark, sf_dir, tmp_path):
    import json
    import os

    from medvedi_spark.operators import dedup_index

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    path = str(tmp_path / "idx2")
    dedup_index.minhash_index_save(docs, "doc_id", "text", path)
    meta = json.load(open(os.path.join(path, "meta.json")))
    meta["hash_family"] = "sha1-unigram-minhash-8"
    json.dump(meta, open(os.path.join(path, "meta.json"), "w"))
    with pytest.raises(ValueError, match="hash family"):
        dedup_index.minhash_index_load(spark, path)


# ------------------------------------------------- local canon alignment


def test_local_canon_rejects_array_columns():
    import pandas as pd

    from tools.check_oracle import compare

    pdf = pd.DataFrame({"id": [1, 2], "codes": [[1, 2], [3, 4]]})
    problems = compare("x", pdf, pdf.copy())
    assert problems and "array-typed" in problems[0]


def test_st13_output_is_scalar_long_form(spark, sf_dir):
    from medvedi_spark.queries.stream_ops import st13_stream_index_ingest

    out = st13_stream_index_ingest(spark, sf_dir)
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds == {"vec_id": "bigint", "cell": "bigint", "i": "bigint", "code": "int"}
