"""ANN index lifecycle (operators/ann_index.py — VERDICT r5 directive #7).

The contract: build → save → load → query is BIT-IDENTICAL to the
inline build → query (same kernels, same arithmetic), the loaded plan
contains no training stages, and the query-time cell restriction
physically partition-prunes the codes scan (the inverted-list layout's
100 TB point).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.operators import ann_index, llm
from tests.test_plans import _collect_plan_nodes

N_CELLS = 8
NPROBE = 2
K = 10


@pytest.fixture(scope="module")
def idx_path(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ann_idx") / "ivf_sq8")


def _coarse(emb):
    return emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )


def test_roundtrip_equals_inline(spark, sf_dir, idx_path):
    """save → load → query emits the exact rows of the inline
    ivf_sq8_topk (the s10/s11 shared-oracle property)."""
    emb = load(spark, sf_dir, "embeddings")
    ann_index.ivf_sq8_save(emb, _coarse(emb), "vec_id", "embedding", idx_path)
    idx = ann_index.ivf_sq8_load(spark, idx_path)
    loaded = ann_index.ivf_sq8_query(
        idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=K, nprobe=NPROBE
    )
    inline = llm.ivf_sq8_topk(
        emb, _coarse(emb), "vec_id", "embedding",
        probe=F.col("vec_id") < 5, k=K, nprobe=NPROBE,
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.d2) for r in loaded.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.d2) for r in inline.collect()}
    assert got == want and got


def test_loaded_plan_has_no_training_stages(spark, sf_dir, idx_path):
    """The loaded path must not re-run training: no posexplode/Generate
    (the SQ8 min/max pass), no corpus-side coarse assignment — only the
    three index scans plus query-side routing."""
    emb = load(spark, sf_dir, "embeddings")
    if not os.path.exists(idx_path):
        ann_index.ivf_sq8_save(emb, _coarse(emb), "vec_id", "embedding", idx_path)
    idx = ann_index.ivf_sq8_load(spark, idx_path)
    out = ann_index.ivf_sq8_query(
        idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=K, nprobe=NPROBE
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "training explode leaked into the serving plan"
    assert "posexplode" not in plan
    # the corpus side is the saved codes parquet, filtered by cell
    assert "PartitionFilters: [" in plan
    head = plan.split("PartitionFilters:")[1][:160]
    assert "cell" in head, head


def test_loaded_scan_is_partition_pruned(spark, sf_dir, idx_path):
    """Hard evidence, not plan text: the executed codes scan opens only
    the probed cells' files — the inverted lists the query does NOT
    route to are physically untouched."""
    emb = load(spark, sf_dir, "embeddings")
    if not os.path.exists(idx_path):
        ann_index.ivf_sq8_save(emb, _coarse(emb), "vec_id", "embedding", idx_path)
    idx = ann_index.ivf_sq8_load(spark, idx_path)
    out = ann_index.ivf_sq8_query(
        idx, emb.filter(F.col("vec_id") < 2), "vec_id", "embedding", k=K, nprobe=1
    )
    out.collect()
    scans = [
        n
        for n in _collect_plan_nodes(out._jdf.queryExecution().executedPlan())
        if n.nodeName().strip() == "Scan parquet"
        and "codes" in n.toString().split("Location:")[1][:200]
    ]
    assert scans, "no codes scan found"
    num_files = int(scans[0].metrics().apply("numFiles").value())
    all_files = len(glob.glob(os.path.join(idx_path, "codes", "cell=*", "*.parquet")))
    assert 0 < num_files < all_files, (num_files, all_files)


def test_query_held_out_vectors(spark, sf_dir, idx_path):
    """Serving queries need not come from the indexed corpus: index the
    vec_id >= 5 half, query with the held-out < 5 vectors."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= N_CELLS + 5)
    coarse = emb.filter(
        (F.col("vec_id") >= N_CELLS + 5) & (F.col("vec_id") < 2 * N_CELLS + 5)
    ).select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb"))
    path = idx_path + "_heldout"
    ann_index.ivf_sq8_save(corpus, coarse, "vec_id", "embedding", path)
    idx = ann_index.ivf_sq8_load(spark, path)
    out = ann_index.ivf_sq8_query(
        idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=K, nprobe=NPROBE
    ).collect()
    assert len({r.query_id for r in out}) == 5
    assert all(r.neighbor_id >= N_CELLS + 5 for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, K + 1)) for v in per_q.values())


def test_ivfadc_roundtrip_equals_inline(spark, sf_dir, idx_path):
    """The PQ variant: save → load → query equals the inline ivfadc_topk
    (s12/s6 shared-oracle property), with the serve-time LUT built from
    the LOADED codebook."""
    emb = load(spark, sf_dir, "embeddings")
    pq_cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    path = idx_path + "_pq"
    ann_index.ivfadc_save(
        emb, _coarse(emb), pq_cents, "vec_id", "embedding", path,
        n_subspaces=8, n_codes=16,
    )
    idx = ann_index.ivfadc_load(spark, path)
    assert idx.n_subspaces == 8 and idx.n_codes == 16
    loaded = ann_index.ivfadc_query(
        idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=K, nprobe=NPROBE
    )
    inline = llm.ivfadc_topk(
        emb, _coarse(emb), pq_cents, "vec_id", "embedding",
        probe=F.col("vec_id") < 5, k=K, nprobe=NPROBE, n_subspaces=8, n_codes=16,
        vectorized_encode=True,
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.d2_approx) for r in loaded.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.d2_approx) for r in inline.collect()}
    assert got == want and got
    # serving plan: no PQ encode / no min-max training anywhere
    plan = loaded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "Generate" not in plan and "ArrowEvalPython" not in plan and "FlatMapsInPandas" not in plan


def test_ivfadc_rerank_roundtrip_equals_inline(spark, sf_dir, idx_path):
    """s15's property: loaded shortlist + persisted-vector exact rerank
    equals the inline two-stage ivfadc_rerank_topk bit-for-bit (the
    s6/s12 lifecycle property applied stagewise)."""
    emb = load(spark, sf_dir, "embeddings")
    pq_cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    path = idx_path + "_rr"
    ann_index.ivfadc_save(
        emb, _coarse(emb), pq_cents, "vec_id", "embedding", path,
        n_subspaces=8, n_codes=16, store_vectors=True,
    )
    idx = ann_index.ivfadc_load(spark, path)
    assert idx.vectors is not None
    loaded = ann_index.ivfadc_query_rerank(
        idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        k=K, shortlist=15, nprobe=NPROBE,
    )
    inline = llm.ivfadc_rerank_topk(
        emb, _coarse(emb), pq_cents, "vec_id", "embedding",
        probe=F.col("vec_id") < 5, k=K, shortlist=15, nprobe=NPROBE,
        n_subspaces=8, n_codes=16, vectorized_encode=True,
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.d2) for r in loaded.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.d2) for r in inline.collect()}
    assert got == want and got
    # serving plan: no training stages; BOTH the codes scan and the
    # refine's vectors scan are partition-pruned to the probed cells
    plan = loaded._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "ArrowEvalPython" not in plan
    pruned_scans = plan.count("PartitionFilters: [cell")
    assert pruned_scans >= 2, plan[:2000]


def test_ivfadc_rerank_requires_vectors(spark, sf_dir, idx_path):
    """An index saved without store_vectors must refuse the refine path
    loudly, not silently fall back to the source corpus."""
    emb = load(spark, sf_dir, "embeddings")
    pq_cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    path = idx_path + "_novec"
    ann_index.ivfadc_save(
        emb, _coarse(emb), pq_cents, "vec_id", "embedding", path,
        n_subspaces=8, n_codes=16,
    )
    idx = ann_index.ivfadc_load(spark, path)
    assert idx.vectors is None
    with pytest.raises(ValueError, match="store_vectors"):
        ann_index.ivfadc_query_rerank(
            idx, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding"
        )


def test_empty_query_set(spark, sf_dir, idx_path):
    emb = load(spark, sf_dir, "embeddings")
    if not os.path.exists(idx_path):
        ann_index.ivf_sq8_save(emb, _coarse(emb), "vec_id", "embedding", idx_path)
    idx = ann_index.ivf_sq8_load(spark, idx_path)
    out = ann_index.ivf_sq8_query(
        idx, emb.filter(F.col("vec_id") < 0), "vec_id", "embedding", k=K, nprobe=NPROBE
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "neighbor_id", "rank", "d2"]
