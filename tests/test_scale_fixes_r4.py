"""Round-4 scale fixes (VERDICT r3 directives #3-#5):

- ``bpe_learn`` bounds its driver-side model state with distributed
  min_count / top-M vocabulary pruning (the raw space-split word universe
  is unbounded on web text);
- ``duplicate_spans`` no longer runs a gram-partitioned window (one hot
  boilerplate gram = one straggler task); the cross-doc verdict is a
  partial aggregate + AQE-splittable semi join;
- ``pq_encode``/``pq_adc_topk`` use dense positional codes end-to-end —
  no O(k) CASE-WHEN id translation, so a k=256 codebook doesn't blow up
  codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from medvedi_spark.operators.llm import bpe_learn, duplicate_spans, pq_adc_topk, pq_encode


# --------------------------------------------------------------- bpe_learn


def _word_corpus(spark, words):
    return spark.createDataFrame([(w,) for w in words], "text string")


def test_bpe_vocab_top_m_cap_bounds_collect(spark):
    # 26 distinct words with distinct frequencies; max_vocab=5 must keep
    # exactly the 5 most frequent (deterministic: count desc, word asc).
    rows = []
    for i, ch in enumerate("abcdefghijklmnopqrstuvwxyz"):
        rows.extend([ch * 3] * (i + 1))
    merges, segs = bpe_learn(_word_corpus(spark, rows), "text", n_merges=1, max_vocab=5)
    assert set(segs) == {"vvv", "www", "xxx", "yyy", "zzz"}
    assert len(segs) == 5  # the collect is capped
    # top pair among surviving words: ('v','v') ties ('w','w')... counts:
    # vvv has pairs (v,v)x2*22 ... highest count wins; zzz freq 26 -> (z,z)=52
    assert merges[0][1:3] == ("z", "z")


def test_bpe_min_count_floor(spark):
    rows = ["aa"] * 10 + ["bb"]  # 'bb' below the floor
    merges, segs = bpe_learn(_word_corpus(spark, rows), "text", n_merges=1, min_count=2)
    assert set(segs) == {"aa"}
    assert merges[0][1:3] == ("a", "a")


def test_bpe_top_m_ties_break_on_word(spark):
    rows = ["cc", "bb", "aa"] * 2  # equal counts; word asc keeps aa, bb
    merges, segs = bpe_learn(_word_corpus(spark, rows), "text", n_merges=1, max_vocab=2)
    assert set(segs) == {"aa", "bb"}


def test_bpe_defaults_prune_nothing(spark):
    rows = ["lo lo low", "low newer"]
    m_all, s_all = bpe_learn(_word_corpus(spark, rows), "text", n_merges=2)
    m_cap, s_cap = bpe_learn(
        _word_corpus(spark, rows), "text", n_merges=2, min_count=1, max_vocab=1_000_000
    )
    assert m_all == m_cap and s_all == s_cap


# --------------------------------------------------------- duplicate_spans


def test_duplicate_spans_no_gram_partitioned_window(spark):
    """The plan must contain no window specced on the gram column — that
    partition is the global occurrence list of one k-gram, a straggler
    ceiling AQE cannot split. (The doc_id span-merge windows remain.)"""
    df = spark.createDataFrame(
        [(1, "x" * 200), (2, "y" * 200)], "doc_id int, text string"
    )
    plan = duplicate_spans(df, "doc_id", "text", k=20)._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"windowspecdefinition\(gram", plan)
    assert re.search(r"windowspecdefinition\(doc_id", plan)


def test_duplicate_spans_hot_gram_stress(spark):
    """One gram dominating (10^5 anchors of the same k-gram inside one
    doc, shared with a second doc) must still produce the exact maximal
    spans."""
    hot = "z" * 100_019  # 10^5 identical 20-grams
    df = spark.createDataFrame(
        [(1, hot + "UNIQUEFILLERAAAAAAAA"), (2, hot), (3, "no dup content here at all....")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in duplicate_spans(df, "doc_id", "text", k=20).collect()}
    assert set(rows) == {1, 2}
    # doc 2 is entirely duplicated
    assert rows[2].spans == f"1-{len(hot)}" and rows[2].dup_chars == len(hot)
    # doc 1's duplicated span is exactly the hot prefix
    assert rows[1].spans == f"1-{len(hot)}"


def test_duplicate_spans_unchanged_semantics(spark):
    a = "the quick brown fox jumps over the lazy dog 0123456789"
    df = spark.createDataFrame(
        [(1, a + " tail one"), (2, "head two " + a), (3, "completely different text body")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in duplicate_spans(df, "doc_id", "text", k=20).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].spans.startswith("1-")  # shared prefix span in doc 1


# ------------------------------------------------- weighted replace-sampling


def test_weighted_replace_draws_join_is_broadcast(spark):
    """The draw→row match must be a broadcast equi-join on the bucket key
    (draws table is n rows); the corpus side never shuffles for the
    match itself — its only exchanges are the partition-cumsum window."""
    from medvedi_spark.frame import MDF

    import numpy as np

    m = MDF({"id": np.arange(500), "w": np.ones(500)}, spark=spark)
    out = m.sample(n=50, weights="w", replace=True)
    plan = out._df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# --------------------------------------------------------- bucketed join


def test_c18_bucketed_join_and_agg_zero_exchange(spark, sf_dir):
    """With broadcast disabled, the bucketed fact-table join AND the
    groupBy on the bucket key must plan ZERO exchanges — the entire point
    of paying the shuffle once at ingest."""
    from tools.explain_audit import plan_facts

    from medvedi_spark.queries.compat_ops import c18_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        facts = plan_facts(c18_bucketed_join(spark, sf_dir))
        assert facts["exch"] == 0, "bucketed join/agg must not shuffle"
        assert facts["smj"] >= 1  # co-located sort-merge join, not broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ----------------------------------------------------------------- PQ dense


def _toy_pq(spark, n_codes):
    import random

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "vec_id int, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(100 + j, [rng.uniform(-1, 1) for _ in range(8)]) for j in range(n_codes)],
        "cent_id int, c_emb array<double>",
    )
    return emb, cent


def test_pq_dense_codes_are_ranks(spark):
    emb, cent = _toy_pq(spark, 7)
    ids = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=4).collect()
    dense = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=4, dense=True).collect()
    order = sorted(r.cent_id for r in cent.collect())
    pos = {cid: i for i, cid in enumerate(order)}
    by_id = {r.vec_id: r for r in ids}
    for r in dense:
        ref = by_id[r.vec_id]
        for s in range(4):
            assert r[f"code{s}"] == pos[ref[f"code{s}"]]


def test_pq_adc_k256_codebook_no_blowup(spark):
    """k=256 was a ~2k-deep stacked CASE WHEN per expression before the
    dense-code fix; now it must plan and run like any other size."""
    emb, cent = _toy_pq(spark, 256)
    res = pq_adc_topk(
        emb, cent, "vec_id", "embedding", probe=F.col("vec_id") < 3, k=5, n_subspaces=4
    )
    rows = res.collect()
    assert len(rows) == 15  # 3 queries x top-5
    assert {r.query_id for r in rows} == {0, 1, 2}
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" not in plan.upper() or plan.upper().count("CASE WHEN") < 50
