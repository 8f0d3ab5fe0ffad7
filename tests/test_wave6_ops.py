"""Round-6 wave-2 operators: end-to-end fuzzy dedup (d16), JL projection
ANN (s13), bigram-LM quality scoring (t12), streaming Bloom
decontamination (st14)."""

from __future__ import annotations

import pyspark.sql.functions as F

from medvedi_spark.catalog import load
from medvedi_spark.operators import llm as ops
from tests.conftest import SF_DIR


# -- d16: fuzzy dedup survivors ----------------------------------------------


def test_fuzzy_dedup_partitions_corpus(spark):
    """survivors ∪ drops == corpus, and exactly the cluster minima survive
    among clustered docs."""
    docs = load(spark, SF_DIR, "documents")
    survivors = ops.fuzzy_dedup_survivors(docs, "doc_id", "text", threshold=0.8)
    pairs = ops.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    comps = ops.connected_components(pairs, "doc_a", "doc_b")

    total = docs.count()
    surv_ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    comp_rows = comps.collect()
    clustered = {r.node for r in comp_rows}
    keepers = {r.node for r in comp_rows if r.node == r.component}
    # every clustered doc either survives (keeper) or is dropped
    assert clustered & surv_ids == keepers
    # every non-clustered doc survives untouched
    assert len(surv_ids) == total - (len(clustered) - len(keepers))
    # survivors keep all source columns
    assert set(survivors.columns) == set(docs.columns)


def test_fuzzy_dedup_removes_known_near_dups(spark):
    """Synthetic corpus with an exact 3-doc near-dup cluster keeps only
    the smallest id."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (5, "alpha beta gamma delta epsilon zeta eta theta"),
        (9, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ops.fuzzy_dedup_survivors(df, "doc_id", "text", threshold=0.8)
    assert {r.doc_id for r in out.collect()} == {1, 9}


# -- s13: JL projection top-k -------------------------------------------------


def test_jl_sign_matrix_deterministic_pm1():
    m1 = ops.jl_sign_matrix(64, 8)
    m2 = ops.jl_sign_matrix(64, 8)
    assert m1 == m2
    assert all(v in (1, -1) for row in m1 for v in row)
    # not degenerate: both signs occur in every output row
    assert all(1 in row and -1 in row for row in m1)


def test_jl_topk_shape_and_rerank_exactness(spark):
    """The reported d2 of every returned neighbor equals the exact
    decimal distance (rerank is exact), and ranks are 1..k per query."""
    emb = load(spark, SF_DIR, "embeddings")
    out = ops.jl_topk(
        emb, "vec_id", "embedding", probe=F.col("vec_id") < 4,
        dim=64, out_dim=8, n_candidates=25, k=10,
    ).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rows in by_q.items():
        assert sorted(r.rank for r in rows) == list(range(1, 11))
        assert all(r.neighbor_id != q for r in rows)
        # d2 ascending with rank
        srt = sorted(rows, key=lambda r: r.rank)
        assert all(srt[i].d2 <= srt[i + 1].d2 for i in range(len(srt) - 1))


def test_jl_topk_recall_vs_exact(spark):
    """Measured recall@10 of the JL candidate cut vs brute-force exact
    top-10 (document the number; assert a sane floor)."""
    emb = load(spark, SF_DIR, "embeddings")
    approx = ops.jl_topk(
        emb, "vec_id", "embedding", probe=F.col("vec_id") < 8,
        dim=64, out_dim=16, n_candidates=200, k=10,
    ).collect()
    # exact: all-pairs decimal distance, top-10 per query
    e = emb.select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2", ops.sqdist_dec("q_emb", "embedding"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    )
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hit = sum(
        1 for r in approx if r.neighbor_id in exact_sets[r.query_id]
    )
    recall = hit / (len(exact_sets) * 10)
    # Measured 0.787 at (out_dim=16, C=200) on the synthetic table — an
    # adversarial case for any projection (iid vectors concentrate
    # distances; see the s13 registration comment). The exact rerank
    # means every RETURNED distance is true — only the candidate cut
    # loses neighbors. Floor below the measurement to absorb drift.
    assert recall >= 0.6, recall


# -- t12: bigram surprisal -----------------------------------------------------


def test_bigram_surprisal_hand_computed(spark):
    """3-doc corpus, scores verified against a hand-rolled model."""
    rows = [(0, "a b a b"), (1, "a b c"), (2, "c c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from medvedi_spark.queries.text_ops import t12_bigram_surprisal  # noqa: F401
    # replicate the query body on the local frame via the same operators
    # (the registered query reads from parquet; here we inline its logic)
    # corpus bigrams: d0: (a b),(b a),(a b)  d1: (a b),(b c)  d2: (c c)
    # c12: ab=3, ba=1, bc=1, cc=1 ; c1: a=3, b=2, c=1 ; V=3 ; SCALE=10^6
    # w(ab) = (3+3)*S // 4 = 1_500_000 ; w(ba) = (2+3)*S // 2 = 2_500_000
    # w(bc) = (2+3)*S // 2 = 2_500_000 ; w(cc) = (1+3)*S // 2 = 2_000_000
    # doc0: (1.5M + 2.5M + 1.5M) / 3S = 5.5/3 ; doc1: (1.5M + 2.5M)/2S = 2.0
    # doc2: 2.0M / 1S = 2.0
    import medvedi_spark.queries.text_ops as t

    occ = df.select(
        "doc_id",
        F.explode(
            t._bigram_structs_of(F.filter(F.split("text", " "), lambda x: x != ""))
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))
    vsz = 3
    bc = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    uc = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    res = (
        occ.join(bc, "bg").join(uc, "w1")
        .withColumn("w", F.expr(f"CAST(((c1 + {vsz}) * 1000000) DIV (c12 + 1) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
        .collect()
    )
    got = {r.doc_id: (r.n, r.s) for r in res}
    assert got[0] == (3, 5_500_000)
    assert got[1] == (2, 4_000_000)
    assert got[2] == (1, 2_000_000)


def test_bigram_surprisal_query_properties(spark):
    """Registered query: every multi-token doc scored, scores >= 1 (an
    inverse probability can't be below 1 - eps), short docs dropped."""
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    out = QUERIES["t12_bigram_surprisal"].builder(spark, SF_DIR).collect()
    docs = load(spark, SF_DIR, "documents")
    multi = docs.filter(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")) >= 2
    ).count()
    assert len(out) == multi
    assert all(r.surprisal >= 0.99 for r in out)
    assert all(r.n_bigrams >= 1 for r in out)


# -- st14: streaming decontamination ------------------------------------------


def test_stream_decontaminate_equals_batch(spark):
    """The streaming Bloom flag result equals batch d14 exactly (same
    fit, same projection, availableNow drain)."""
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    batch = {
        (r.doc_id, r.hit_grams)
        for r in QUERIES["d14_bloom_decontaminate"].builder(spark, SF_DIR).collect()
    }
    stream = {
        (r.doc_id, r.hit_grams)
        for r in QUERIES["st14_stream_decontaminate"].builder(spark, SF_DIR).collect()
    }
    assert stream == batch
    assert batch  # non-degenerate


def test_bloom_fit_flag_split_no_false_negatives(spark):
    """The refactored fit/flag halves preserve the no-false-negative
    guarantee vs the exact d9 operator."""
    docs = load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    words, m_bits = ops.bloom_fit(eval_df, "text", n=4, m_bits=None, k_hashes=3)
    flagged = {
        r.doc_id
        for r in ops.bloom_flag(corpus, "doc_id", "text", words, m_bits, n=4, k_hashes=3).collect()
    }
    exact = {
        r.doc_id
        for r in ops.decontaminate(corpus, eval_df, "doc_id", "text", n=4).collect()
    }
    assert exact <= flagged


# -- t13: readability -----------------------------------------------------------


def test_readability_hand_computed(spark):
    """Two-doc corpus with hand-counted words/sentences/syllables."""
    rows = [
        (0, "the cat sat. it ran!"),     # 5 words, 2 sentences, syllables: 1+1+1+1+1=5
        (1, "beautiful analysis here"),  # 3 words, 1 sentence, eau-i-u=3? -> see below
    ]
    # syllable counts are VOWEL GROUPS: "beautiful" -> eau,i,u = 3,
    # "analysis" -> a,a,y? no — y is not in [aeiou] -> a,a,i = 3,
    # "here" -> e,e = 2  => doc1 total 8
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import medvedi_spark.queries.text_ops  # noqa: F401  (registration)
    from medvedi_spark.queries.registry import QUERIES

    # run the same projection inline on the local frame
    import pyspark.sql.functions as F2

    m = df.select(
        "doc_id",
        F2.size(F2.filter(F2.split("text", " "), lambda t: t != "")).alias("w"),
        F2.greatest(
            F2.size(F2.filter(F2.split("text", "[.!?]"), lambda s: F2.trim(s) != "")),
            F2.lit(1),
        ).alias("s"),
        F2.aggregate(
            F2.transform(
                F2.filter(F2.split("text", " "), lambda t: t != ""),
                lambda w: F2.greatest(
                    F2.size(F2.regexp_extract_all(F2.lower(w), F2.lit("[aeiou]+"), F2.lit(0))),
                    F2.lit(1),
                ),
            ),
            F2.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sy"),
    ).collect()
    got = {r.doc_id: (r.w, r.s, r.sy) for r in m}
    assert got[0] == (5, 2, 5)
    assert got[1] == (3, 1, 8)


def test_readability_query_shape(spark):
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    out = QUERIES["t13_readability"].builder(spark, SF_DIR).collect()
    assert out, "non-degenerate"
    for r in out:
        assert r.n_words > 0 and r.n_sentences >= 1 and r.n_syllables >= r.n_words
        # recompute the formula driver-side: same IEEE tree
        expect = (0.39 * (r.n_words / r.n_sentences)) + (11.8 * (r.n_syllables / r.n_words)) - 15.59
        assert r.fk_grade == expect


# -- property-based: fuzzy dedup invariants ------------------------------------


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_doc = st.lists(
    st.sampled_from(_VOCAB), min_size=4, max_size=8
).map(lambda ws: " ".join(ws))
_corpus = st.lists(_doc, min_size=2, max_size=6)


@given(texts=_corpus)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_fuzzy_dedup_properties(spark, texts):
    """On random small corpora: (a) the smallest doc id always survives,
    (b) exact duplicates collapse to exactly one survivor, (c) survivors
    are a subset of the corpus with all columns intact."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    surv = {r.doc_id for r in ops.fuzzy_dedup_survivors(df, "doc_id", "text", 0.8).collect()}
    assert surv <= set(range(len(texts)))
    # (a) component labels are min-reachable ids, so id 0 can never drop
    assert 0 in surv
    # (b) groups of IDENTICAL texts keep exactly their smallest id
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    for ids in by_text.values():
        kept = [i for i in ids if i in surv]
        assert len(kept) <= 1
        if len(ids) > 1:
            # the group's smallest id survives ONLY if it wasn't pulled
            # into a larger cluster by a near-identical (not equal) doc —
            # but at least: not all of an identical group may survive
            assert len(kept) < len(ids)
