"""LLM-pipeline operator semantics beyond the generic oracle gate."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.functions.hashing import minhash_agg_cols
from medvedi_spark.operators import kernels, quantized
from medvedi_spark.operators.jaccard import _jaccard_bitset, _jaccard_prefix_filter


@pytest.fixture(autouse=True)
def _release_tracked_persists():
    """Operators here persist tracked intermediates (gram tables, d13
    blocks — one per hypothesis example); drop them after every test so
    cache entries can't accumulate in the shared session and flip plan
    assertions in later test files (the cache manager substitutes
    InMemoryRelation into any matching subplan)."""
    yield
    from medvedi_spark.operators._persist import release_persisted

    release_persisted()


def _tok(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
        .filter(F.col("t") != "")
    )


def test_d2_paths_agree(spark, sf_dir):
    """The bitset fast path and the prefix-filter general path are the
    same exact function — identical pair sets and jaccard values."""
    tok = _tok(spark, sf_dir)
    vocab = tok.select("t").distinct()
    assert vocab.count() <= 64, "test corpus should take the bitset path"
    fast = _jaccard_bitset(tok, vocab, 0.95).orderBy("doc_a", "doc_b").collect()
    slow = _jaccard_prefix_filter(tok, 0.95).orderBy("doc_a", "doc_b").collect()
    assert len(fast) == len(slow) > 0
    for fr, sr in zip(fast, slow):
        assert (fr.doc_a, fr.doc_b) == (sr.doc_a, sr.doc_b)
        assert fr.jaccard == sr.jaccard  # both exact → bit-identical


def test_d2_prefix_filter_lossless_vs_bruteforce(spark, sf_dir):
    """Prefix filtering must not drop any qualifying pair (lossless)."""
    tok = _tok(spark, sf_dir)
    sets = tok.groupBy("doc_id").agg(F.collect_set("t").alias("s"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= 0.95)
        .count()
    )
    assert _jaccard_prefix_filter(tok, 0.95).count() == brute


def test_s2_ivf_hits_are_true_neighbors(spark, sf_dir):
    """Every IVF result must appear in the brute-force ranking with the
    same cosine (approximation may only *miss* neighbors, never invent)."""
    from medvedi_spark.queries.llm_ops import s1_cosine_topk, s2_ann_ivf

    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in s1_cosine_topk(spark, sf_dir).collect()
    }
    ivf = s2_ann_ivf(spark, sf_dir).collect()
    assert len(ivf) > 0
    overlap = sum(1 for r in ivf if (r.query_id, r.neighbor_id) in brute)
    # IVF with nprobe=4/16 cells should recover a solid share of true top-k
    assert overlap / len(ivf) > 0.3
    for r in ivf:
        exact = brute.get((r.query_id, r.neighbor_id))
        if exact is not None:
            assert r.cosine == exact


def test_d7_wide_bitset_agrees_with_prefix_filter(spark, sf_dir):
    """The wide-bitset (array<bigint> mask) path and the prefix-filter
    path are the same exact function on character trigrams — identical
    pair sets and bit-identical jaccard values."""
    from medvedi_spark.operators.jaccard import _jaccard_bitset_wide, char_ngrams_distinct

    grams = char_ngrams_distinct(load(spark, sf_dir, "documents"), "doc_id", "text", 3)
    vocab = grams.select("t").distinct()
    n_vocab = vocab.count()
    assert 64 < n_vocab <= 4096, "trigram corpus should exercise the wide path"
    fast = _jaccard_bitset_wide(grams, vocab, n_vocab, 0.9).orderBy("doc_a", "doc_b").collect()
    slow = _jaccard_prefix_filter(grams, 0.9).orderBy("doc_a", "doc_b").collect()
    assert len(fast) == len(slow) > 0
    for fr, sr in zip(fast, slow):
        assert (fr.doc_a, fr.doc_b) == (sr.doc_a, sr.doc_b)
        assert fr.jaccard == sr.jaccard


def test_d7_shuffled_tier_agrees_with_broadcast_tier(spark, sf_dir):
    """The popcount-banded SHUFFLED mask compare (the over-broadcast-cap
    fallback) is the same exact function as the broadcast wide-bitset
    tier — identical pair sets, bit-identical jaccard — and its plan
    contains no broadcast of the mask table and no cartesian node."""
    from medvedi_spark.operators.jaccard import (
        _jaccard_bitset_wide,
        _jaccard_bitset_wide_shuffled,
        char_ngrams_distinct,
    )

    grams = char_ngrams_distinct(load(spark, sf_dir, "documents"), "doc_id", "text", 3)
    vocab = grams.select("t").distinct()
    n_vocab = vocab.count()
    shuf_df = _jaccard_bitset_wide_shuffled(grams, vocab, n_vocab, 0.9)
    plan = shuf_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    shuf = shuf_df.orderBy("doc_a", "doc_b").collect()
    bcast = _jaccard_bitset_wide(grams, vocab, n_vocab, 0.9).orderBy("doc_a", "doc_b").collect()
    assert len(shuf) == len(bcast) > 0
    for a, b in zip(shuf, bcast):
        assert (a.doc_a, a.doc_b) == (b.doc_a, b.doc_b)
        assert a.jaccard == b.jaccard


def test_router_picks_shuffled_tier_past_broadcast_cap(spark, monkeypatch):
    """Force a tiny broadcast cap: the adaptive router must route to the
    shuffled tier and still produce the exact pair set."""
    from medvedi_spark.operators import jaccard

    docs = spark.createDataFrame(
        [(1, "aa ab ba bb"), (2, "aa ab ba bb"), (3, "aa ab ba zz"), (4, "qq rr ss tt")],
        ["id", "body"],
    )
    expect = [(1, 2, 1.0), (1, 3, 0.6), (2, 3, 0.6)]
    normal = jaccard.token_jaccard_pairs(docs, "id", "body", threshold=0.5)
    assert sorted((r.doc_a, r.doc_b, round(r.jaccard, 3)) for r in normal.collect()) == expect
    monkeypatch.setattr(jaccard, "_mask_broadcast_cap", lambda nwords: 1)
    forced = jaccard.token_jaccard_pairs(docs, "id", "body", threshold=0.5)
    assert sorted((r.doc_a, r.doc_b, round(r.jaccard, 3)) for r in forced.collect()) == expect


def test_edit_distance_pairs_semantics(spark, tmp_path):
    """Bounded-Levenshtein pairs: exact dups at dist 0, near edits
    counted, above-threshold and cross-block pairs excluded."""
    import pandas as pd

    from medvedi_spark.operators.llm import edit_distance_pairs

    base = "x" * 70  # shared 64-char prefix block
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                base + "alpha",
                base + "alpha",          # exact dup of 1 → dist 0
                base + "alphq",          # one substitution → dist 1 vs 1/2
                base + "zzzzzzzzzzzzz",  # same block, far → excluded
                "Y" + base + "alpha",    # prefix edit → different block
            ],
        }
    )
    path = str(tmp_path / "documents.parquet")
    docs.to_parquet(path)
    df = spark.read.parquet(path)
    out = edit_distance_pairs(df, "doc_id", "text", max_dist=2)
    got = {(r.doc_a, r.doc_b): r.dist for r in out.collect()}
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def test_repeated_block_filter_semantics(spark):
    """d13 kernel: shared blocks dropped, survivors reassembled in
    order, all-boilerplate docs collapse to '' but keep their row."""
    import pandas as pd

    from medvedi_spark.operators.bloom import repeated_block_filter

    dup = "dup1 dup2 dup3 dup4"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                f"{dup} u11 u12 u13 u14",
                f"{dup} u21 u22 u23 u24",
                dup,                                  # only the shared block
                "x1 x2 x3 x4 x5",                     # fully unique (partial tail block)
                f"k1 k2 k3 k4 {dup} k5 k6 k7 k8",     # middle block dropped
            ],
        }
    )
    df = spark.createDataFrame(docs)
    got = {r.doc_id: r for r in repeated_block_filter(df, "doc_id", "text").collect()}
    assert len(got) == 5
    assert got[1].clean_text == "u11 u12 u13 u14"
    assert (got[1].n_blocks, got[1].n_dropped) == (2, 1)
    assert got[3].clean_text == "" and got[3].n_dropped == 1
    assert got[4].clean_text == "x1 x2 x3 x4 x5" and got[4].n_dropped == 0
    # order preservation across a dropped middle block
    assert got[5].clean_text == "k1 k2 k3 k4 k5 k6 k7 k8"


def test_repeated_block_filter_plan_skew_safe(spark, sf_dir):
    """The cross-doc verdict must be a partial aggregate, never a
    block-keyed window (a corpus-wide boilerplate block would land on
    one task), and nothing row-at-a-time Python."""
    from medvedi_spark.catalog import load
    from medvedi_spark.operators.bloom import repeated_block_filter

    docs = load(spark, sf_dir, "documents")
    plan = repeated_block_filter(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_repeated_block_filter_property_vs_bruteforce(spark):
    """Hypothesis: d13's distributed plan equals a row-by-row Python
    brute force on arbitrary tiny corpora (empty texts, all-duplicate
    corpora, partial tail blocks)."""
    from collections import defaultdict

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from medvedi_spark.operators.bloom import repeated_block_filter

    B = 2
    word = st.sampled_from(["a", "b", "c"])
    doc = st.lists(word, min_size=0, max_size=12)

    def brute(texts):
        split = {i: t.split(" ") for i, t in enumerate(texts)}
        blocks = {
            i: [" ".join(w[j : j + B]) for j in range(0, len(w), B)]
            for i, w in split.items()
        }
        docs_of = defaultdict(set)
        for i, bl in blocks.items():
            for b in bl:
                docs_of[b].add(i)
        return {
            i: (
                len(bl),
                sum(1 for b in bl if len(docs_of[b]) >= 2),
                " ".join(b for b in bl if len(docs_of[b]) < 2),
            )
            for i, bl in blocks.items()
        }

    @given(docs=st.lists(doc, min_size=1, max_size=6))
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    def check(docs):
        texts = [" ".join(w) for w in docs]
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        out = repeated_block_filter(
            spark.createDataFrame(pdf), "doc_id", "text", block_words=B
        ).collect()
        got = {r.doc_id: (r.n_blocks, r.n_dropped, r.clean_text) for r in out}
        assert got == brute(texts)

    check()


def test_minhash_agg_cols_quotes_reserved_word_column(spark):
    # a reserved-word column name must parse inside the F.expr string
    df = spark.createDataFrame([(1, 10), (1, 20)], "doc_id int, `order` bigint")
    got = df.groupBy("doc_id").agg(*minhash_agg_cols("order")).collect()
    assert len(got) == 1


@pytest.fixture
def emb_df(spark):
    return spark.createDataFrame(
        [
            (i, [0.125 * i - 1.0, 2.5 * (i % 7), -0.001 * i, 42.0])
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )


def test_argmin_cell_matches_coarse_route_ranking(emb_df):
    # the in-row argmin must agree with the crossJoin+window ranking
    cents_df = emb_df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    cents = cents_df.orderBy("cent_id").collect()
    inrow = {
        r["vec_id"]: r["cell"]
        for r in emb_df.select(
            "vec_id", kernels._argmin_cell("embedding", cents).alias("cell")
        ).collect()
    }
    assign, _ = quantized._coarse_route(
        emb_df.select("vec_id", "embedding"), cents_df, F.lit(False), 1
    )
    windowed = {r["vec_id"]: r["cell"] for r in assign.collect()}
    assert inrow == windowed


@pytest.mark.parametrize("bad", [math.nan, None, math.inf])
@pytest.mark.parametrize("kernel", ["argmin_cell", "sq8_code"])
def test_non_finite_model_state_is_rejected(kernel, bad):
    """Centroids and SQ8 ranges are inlined as SQL double literals, which
    have no form for None/NaN/inf: the kernel must refuse them by value
    instead of building a plan."""
    with pytest.raises(ValueError, match=f"literal for {bad!r}:"):
        if kernel == "argmin_cell":
            kernels._argmin_cell("embedding", [{"cent_id": 0, "c_emb": [1.0, bad, 0.5]}])
        else:
            kernels._sq8_code("embedding", [0.0, bad], [1.0, 2.0])


# ------------------------------------------------------------- p9 oracle


def _p9_oracle_rows(docs: list[tuple[int, str]]) -> set:
    import duckdb

    from medvedi_spark.queries.text_ops import _P9_ORACLE

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    return set(con.execute(_P9_ORACLE).fetchall())


def test_p9_oracle_segments_like_bpe_learn(spark):
    """The oracle's replace-based merges give ``bpe_learn``'s greedy
    left-to-right segmentation, also where a pair overlaps itself
    (``aaa``, ``aaaaa``) and where a merged token is a prefix of another."""
    from medvedi_spark.operators.llm import bpe_learn

    docs = [(1, "aaaaa aaa abab ab"), (2, "aaaa  ba ab abab b"), (3, "b"), (4, "abc abcab cab")]
    _merges, segs = bpe_learn(spark.createDataFrame(docs, "doc_id bigint, text string"), "text", n_merges=3)
    want = set()
    for doc_id, text in docs:
        words = [w for w in text.split(" ") if w]
        want.add((doc_id, len(words), sum(len(segs[w]) for w in words)))
    assert _p9_oracle_rows(docs) == want


def test_p9_oracle_refuses_its_token_delimiters():
    import duckdb

    with pytest.raises(duckdb.Error, match="chr"):
        _p9_oracle_rows([(1, "ab ab"), (2, "a" + chr(2) + "b")])
