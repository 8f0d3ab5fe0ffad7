"""Round-5 scale/hygiene fixes (VERDICT r4 directives + ADVICE):

- operator-persisted DataFrames are TRACKED and reclaimable via
  ``release_persisted`` (the adaptive-Jaccard gram table leaked cache
  blocks across a 100+-query session);
- NaN weights are excluded from the distributed weighted samplers (Spark
  orders NaN above every number, so ``w > 0`` alone let NaN poison the
  cumulative sums and silently return garbage);
- the empty-``by`` global as-of join's carry table must share its range
  exchange with the row stream (ReusedExchange pinned — if the exchange
  were evaluated twice, boundary rows could land in different ranges in
  the two branches);
- ``bpe_learn`` defaults to the FULL vocabulary (max_vocab=None) and
  warns when an explicit cap actually prunes.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_jaccard_persist_released_after_queries(spark, sf_dir):
    """d2 + d7 back-to-back persist their gram tables; release_persisted
    must drop every tracked block, leaving the session's persistent-RDD
    set exactly as it was."""
    from medvedi_spark.operators import llm as ops
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    ops.release_persisted()  # clear anything earlier tests left tracked
    before = _persistent_rdd_count(spark)
    for name in ("d2_token_jaccard", "d7_ngram_jaccard"):
        QUERIES[name].builder(spark, sf_dir).count()
    # _PERSISTED is keyed by owning session since the round-5 ADVICE fix —
    # count tracked frames, not sessions
    tracked = sum(len(v) for v in ops._PERSISTED.values())
    assert tracked >= 2, "both gram tables must be tracked"
    released = ops.release_persisted()
    assert released >= 2
    assert not any(ops._PERSISTED.values())
    # <=, not ==: the ContextCleaner asynchronously drops persistent-RDD
    # entries whose DataFrames earlier tests left to the garbage
    # collector, so the registry can legitimately SHRINK mid-test; a
    # lingering d2/d7 gram table would still push the count ABOVE the
    # baseline (flaked order-dependently in the full suite on ==).
    assert _persistent_rdd_count(spark) <= before, "cache blocks lingered"


# ------------------------------------------------------------ NaN weights


def test_sample_weighted_replace_ignores_nan_weights(spark):
    """A NaN weight must behave like weight 0 (never drawn, never
    poisoning the cumulative sums), not send the whole draw table NaN."""
    from medvedi_spark.frame import MDF

    df = MDF({"k": [1, 2, 3, 4], "w": [1.0, float("nan"), 2.0, 0.0]}, spark=spark)
    out = df.sample(n=200, replace=True, weights="w")
    got = set(np.asarray(out["k"]))
    assert got <= {1, 3}, f"NaN/zero-weight rows drawn: {got}"
    assert len(out) == 200, "NaN weight poisoned the cumulative sums"


def test_sample_weighted_no_replace_ignores_nan_weights(spark):
    from medvedi_spark.frame import MDF

    df = MDF({"k": [1, 2, 3], "w": [1.0, float("nan"), 1.0]}, spark=spark)
    out = df.sample(n=2, replace=False, weights="w")
    assert set(np.asarray(out["k"])) == {1, 3}


def test_sample_all_nan_weights_raises(spark):
    from medvedi_spark.frame import MDF

    df = MDF({"k": [1, 2], "w": [float("nan"), float("nan")]}, spark=spark)
    with pytest.raises(ValueError, match="positive weight"):
        df.sample(n=1, replace=True, weights="w")


# ------------------------------------- global as-of join exchange reuse


def test_global_asof_carry_shares_range_partitioning(spark):
    """_global_running_pick derives the carry table and the row stream
    from the SAME repartitionByRange; correctness near range boundaries
    requires both branches to see identical boundary sampling. The
    planner does NOT dedupe the two references (column pruning makes the
    subtrees differ — no ReusedExchange), so the operator persists the
    partitioned stream: both branches must read ONE cached relation, and
    the range exchange must appear once, not twice."""
    import datetime as dt

    from medvedi_spark.operators import relational
    from medvedi_spark.operators._persist import release_persisted

    def _ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    trades = spark.createDataFrame([(_ts(i), float(i)) for i in range(20)], "tts timestamp, px double")
    quotes = spark.createDataFrame([(_ts(i), i * 1.5) for i in range(0, 20, 3)], "qts timestamp, bid double")
    out = relational.asof_join(trades, quotes, "tts", "qts", by=(), value_cols=["bid"])
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, (
            "both branches must read the persisted range-partitioned stream:\n" + plan
        )
        # every range exchange in the rendering is the cached relation's
        # child (the plan printer inlines it at each scan site); pre-fix
        # there were two FREE-standing range exchanges and no cache
        assert plan.count("Exchange rangepartitioning") == plan.count("InMemoryRelation"), (
            "a range exchange outside the cached plan means a branch "
            "re-evaluates the boundary sampling:\n" + plan
        )
        # and the result is still right: backward pick at-or-before
        rows = {r.tts: r.bid for r in out.collect()}
        assert rows[_ts(7)] == 6 * 1.5 and rows[_ts(3)] == 3 * 1.5
    finally:
        release_persisted()


# ----------------------------------------------------- bpe_learn defaults


def test_bpe_learn_defaults_to_full_vocab(spark):
    import inspect

    from medvedi_spark.operators.llm import bpe_learn

    assert inspect.signature(bpe_learn).parameters["max_vocab"].default is None


def test_bpe_learn_warns_when_cap_prunes(spark):
    from medvedi_spark.operators.llm import bpe_learn

    docs = spark.createDataFrame([(w,) for w in ["aa"] * 3 + ["bb"] * 2 + ["cc"]], "text string")
    with pytest.warns(UserWarning, match="max_vocab"):
        merges, segs = bpe_learn(docs, "text", n_merges=1, max_vocab=2)
    assert set(segs) == {"aa", "bb"}
    # no warning when nothing is pruned
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bpe_learn(docs, "text", n_merges=1, max_vocab=10)


# --------------------------------------------- IVFADC consistency


def test_ivfadc_with_all_cells_equals_flat_adc(spark, sf_dir):
    """Routing must only SKIP work, never change scores: with
    nprobe = n_cells every query scores the whole corpus, so IVFADC's
    result must equal the flat ADC scan on the same PQ codebook."""
    from pyspark.sql import functions as F

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import llm as ops

    emb = load(spark, sf_dir, "embeddings")
    n_cells = 4
    coarse = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    probe = F.col("vec_id") < 3
    flat = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2_approx)
        for r in ops.pq_adc_topk(emb, cent, "vec_id", "embedding", probe, k=5).collect()
    }
    routed = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2_approx)
        for r in ops.ivfadc_topk(
            emb, coarse, cent, "vec_id", "embedding", probe, k=5, nprobe=n_cells
        ).collect()
    }
    assert routed == flat


def test_ivf_sq8_with_all_cells_equals_flat_sq8(spark, sf_dir):
    """Same routing-only-skips-work invariant for the SQ8 composition:
    with nprobe = n_cells, ivf_sq8_topk must equal the flat sq8_topk —
    identical codes, identical int64 distances, identical ranks."""
    from pyspark.sql import functions as F

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import llm as ops

    emb = load(spark, sf_dir, "embeddings")
    n_cells = 4
    coarse = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    probe = F.col("vec_id") < 3
    flat = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2)
        for r in ops.sq8_topk(emb, "vec_id", "embedding", probe, k=5).collect()
    }
    routed = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2)
        for r in ops.ivf_sq8_topk(
            emb, coarse, "vec_id", "embedding", probe, k=5, nprobe=n_cells
        ).collect()
    }
    assert routed == flat


# ----------------------------------------------- multi-consumer persists


def test_multi_consumer_subplans_are_cached(spark, sf_dir):
    """The measured round-5-close perf wins are persists of subplans
    consumed by >= 3 differently-pruned lineage branches (ReuseExchange
    cannot dedupe those): s8's IVF routing table and d3's MinHash
    signature table. Pin InMemoryRelation in both plans so a refactor
    can't silently reintroduce the 2-4x recompute; s6 measured a LOSS
    from the same persist (2 consumers) and must stay uncached."""
    from medvedi_spark.operators._persist import release_persisted
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    # the d3/st10 persist is size-guarded: at an sf_dir whose documents
    # table Catalyst-estimates above the cap the operator CORRECTLY
    # skips the cache — only assert where the guard admits it
    from medvedi_spark.catalog import load
    from medvedi_spark.operators._persist import under_persist_cap

    if not under_persist_cap(load(spark, sf_dir, "documents")):
        pytest.skip("documents estimate exceeds the persist cap — guard disables the cache")
    # Warm the session codebook caches FIRST: when s6/s8 train cold,
    # pq_train's own size-guarded training persist is still registered
    # while the plan string renders, so s6's plan would show the
    # TRAINING cache (released between queries by every real session),
    # not a query-plan persist — an order-dependent false failure when
    # this test runs before any other codebook consumer.
    from medvedi_spark.queries.llm_ops import (
        _trained_codebook,
        _trained_residual_codebook,
    )

    _trained_codebook(spark, sf_dir)
    _trained_residual_codebook(spark, sf_dir)
    try:
        for name, cached in (
            ("s8_ivfadc_residual", True),
            ("d3_minhash_lsh", True),
            ("s6_ivfadc_topk", False),
        ):
            # clean cache per query: the cache manager substitutes ANY
            # matching subplan, so s8's persisted routing would (fine in
            # production, wrong for this assertion) appear inside s6
            release_persisted()
            spark.catalog.clearCache()
            plan = (
                QUERIES[name]
                .builder(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert ("InMemoryRelation" in plan) == cached, name
    finally:
        release_persisted()
        spark.catalog.clearCache()
