"""The Arrow-batch Bloom passes: the flag kernel (``bloom_flag``) and the
span kernels (``bloom_span_flag``, ``bloom_span_remove``).

Their shared membership probe replays the blocked scheme in numpy, so it
is checked against the SQL membership test (``bloom_member``) gram by
gram; the flag kernel's tokenizer and gram builder replay
``kernels.word_tokens`` and ``word_ngrams_of``, so its edge documents are
checked against the SQL pipeline built from those kernels."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators import bloom
from medvedi_spark.operators.kernels import word_ngrams


def _random_bitmap(rng: random.Random, n_words: int) -> list[int]:
    """Signed 64-bit words about half set, plus words that are only bit 63
    (the sign bit), all ones, and zero."""
    words = [rng.getrandbits(64) - (1 << 63) for _ in range(n_words)]
    words[0], words[1], words[2] = -(1 << 63), -1, 0
    return words


def _flagged(df, words, m_bits, n, k) -> dict:
    return {r.doc_id: r.hit_grams for r in bloom.bloom_flag(df, "doc_id", "text", words, m_bits, n, k).collect()}


@pytest.mark.parametrize("k_hashes", [1, 2, 3])
def test_membership_matches_sql_bloom_member(spark, k_hashes):
    """One gram per document and n=1: a document is flagged exactly when
    SQL ``bloom_member`` accepts its gram, over 10k random grams."""
    rng = random.Random(7 + k_hashes)
    m_bits = 64 * 37  # not a power of two: the word index is a real modulo
    words = _random_bitmap(rng, m_bits // 64)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789éü日本"
    grams = [(i, "".join(rng.choices(alphabet, k=rng.randint(1, 12)))) for i in range(10_000)]
    df = spark.createDataFrame(grams, "doc_id bigint, text string")
    want = {
        r.doc_id
        for r in df.where(bloom.bloom_member("text", words, m_bits, k_hashes)).select("doc_id").collect()
    }
    got = _flagged(df, words, m_bits, 1, k_hashes)
    assert set(got) == want
    assert set(got.values()) == {1}
    assert 0 < len(want) < len(grams)


_EDGE_DOCS = [
    (1, None),  # no text
    (2, ""),  # empty text
    (3, "a b"),  # fewer than n tokens
    (4, "a b c a b c a b c"),  # repeated grams count once
    (5, "  a   b  c  d "),  # runs of spaces, leading and trailing
    (6, "héllo wörld 日本 語 ok"),  # non-ASCII
    (None, "x y z"),  # null id
    (8, "a\tb c d"),  # only single spaces split
]


def _sql_reference(df, words, m_bits, n, k) -> dict:
    """The same answer in SQL: the distinct word n-grams of each document,
    each tested with ``bloom_member``, counted per document."""
    grams = df.select("doc_id", F.explode(F.array_distinct(word_ngrams("text", n))).alias("g"))
    hits = grams.where(bloom.bloom_member("g", words, m_bits, k)).groupBy("doc_id").count()
    return {r.doc_id: r["count"] for r in hits.collect()}


def test_edge_documents(spark):
    df = spark.createDataFrame(_EDGE_DOCS, "doc_id int, text string")
    saturated = [-1] * 4
    out = bloom.bloom_flag(df, "doc_id", "text", saturated, 256, n=3, k_hashes=3)
    assert out.dtypes == [("doc_id", "int"), ("hit_grams", "bigint")]
    got = {r.doc_id: r.hit_grams for r in out.collect()}
    assert got == {4: 3, 5: 2, 6: 3, None: 1, 8: 1}
    assert got == _sql_reference(df, saturated, 256, 3, 3)
    rng = random.Random(11)
    for k in (1, 2, 3):
        words = [rng.getrandbits(64) - (1 << 63) for _ in range(2)]
        assert _flagged(df, words, 128, 3, k) == _sql_reference(df, words, 128, 3, k)


def test_flag_is_one_arrow_pass(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    plan = bloom.bloom_flag(df, "doc_id", "text", [-1], 64, n=2)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan and "Exchange" not in plan


@pytest.mark.parametrize(
    "m_bits, k_hashes, match",
    [
        (0, 3, "multiple of 64"),
        (100, 3, "multiple of 64"),
        (-64, 3, "multiple of 64"),
        (64, 0, "k_hashes"),
        (64, 4, "k_hashes"),
        (128, 3, "words"),  # one word for a two-word filter
    ],
)
def test_bad_scheme_raises_before_any_plan(m_bits, k_hashes, match):
    """The guards run first: with no frame at all the call still raises
    the scheme error, not an attribute error."""
    with pytest.raises(ValueError, match=match):
        bloom.bloom_flag(None, "doc_id", "text", [0], m_bits, n=4, k_hashes=k_hashes)


# ------------------------------------------------------------ span kernels

_SPAN_KERNELS = [bloom.bloom_span_flag, bloom.bloom_span_remove]


@pytest.mark.parametrize("k_hashes", [1, 3])
def test_span_hits_match_sql_bloom_member(spark, k_hashes):
    """The span pass's hit positions are exactly the 1-based positions
    whose k-char gram SQL ``bloom_member`` accepts, over random docs, in
    ascending order."""
    rng = random.Random(23 + k_hashes)
    k, m_bits = 4, 64 * 37
    words = _random_bitmap(rng, m_bits // 64)
    alphabet = "ab cdé日"
    docs = [(i, "".join(rng.choices(alphabet, k=rng.randint(0, 40)))) for i in range(300)]
    docs += [(300, None)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    anchors = bloom._span_anchors(df, "doc_id", "text", k)
    want = {
        (r.doc_id, r.pos)
        for r in anchors.where(bloom.bloom_member("gram", words, m_bits, k_hashes)).collect()
    }
    hits_of = bloom._span_hits(bloom._bloom_probe(words, m_bits, k_hashes), k)
    doc, pos = hits_of([t for _, t in docs])
    got = list(zip(doc.tolist(), pos.tolist()))
    assert got == sorted(got)
    assert {(docs[d][0], p) for d, p in got} == want
    assert 0 < len(want) < anchors.count()


def test_hits_k_apart_merge_and_k_plus_1_apart_do_not(spark):
    """Two hits exactly k chars apart are one span (the second gram starts
    right after the first ends); k + 1 apart leave a one-char gap and are
    two spans."""
    k = 4
    one, two = "abcdefghijklmnop", "ABCDEFGHIJKLMNOP"
    keys = [one[0:4], one[4:8], two[0:4], two[5:9]]  # hits at 1, 5 and at 1, 6
    m_bits = 1 << 16
    words = bloom.bloom_build_bits(spark.createDataFrame([(g,) for g in keys], "g string"), "g", m_bits, 3)
    df = spark.createDataFrame([(1, one), (2, two)], "doc_id bigint, text string")
    flag = bloom.bloom_span_flag(df, "doc_id", "text", words, m_bits, k_gram=k)
    assert sorted(map(tuple, flag.collect())) == [(1, 1, 8, "1-8"), (2, 2, 8, "1-4;6-9")]
    removed = bloom.bloom_span_remove(df, "doc_id", "text", words, m_bits, k_gram=k)
    assert sorted(map(tuple, removed.collect())) == [(1, one[8:], 8), (2, two[4] + two[9:], 8)]


_SPAN_EDGE_DOCS = [(1, None), (2, "abc"), (3, ""), (4, "abcdefgh"), (None, "abcd abcd"), (6, "abcd")]


def test_span_edge_documents(spark):
    """A null text, a text shorter than k and an empty text give the rows
    the staged-lambda kernels gave (recorded from them): no flag row, and
    a removal row of nulls for the null text and the text unchanged for
    the others; the int id stays int."""
    df = spark.createDataFrame(_SPAN_EDGE_DOCS, "doc_id int, text string")
    saturated, empty = [-1, -1], [0, 0]
    flag = bloom.bloom_span_flag(df, "doc_id", "text", saturated, 128, k_gram=4)
    assert flag.dtypes == [("doc_id", "int"), ("n_spans", "bigint"), ("dup_chars", "bigint"), ("spans", "string")]
    assert sorted(map(tuple, flag.collect()), key=repr) == [(4, 1, 8, "1-8"), (6, 1, 4, "1-4"), (None, 1, 9, "1-9")]
    assert bloom.bloom_span_flag(df, "doc_id", "text", empty, 128, k_gram=4).collect() == []
    removed = bloom.bloom_span_remove(df, "doc_id", "text", saturated, 128, k_gram=4)
    assert removed.dtypes == [("doc_id", "int"), ("clean_text", "string"), ("removed_chars", "bigint")]
    assert sorted(map(tuple, removed.collect()), key=repr) == [
        (1, None, None), (2, "abc", 0), (3, "", 0), (4, "", 8), (6, "", 4), (None, "", 9)
    ]
    kept = bloom.bloom_span_remove(df, "doc_id", "text", empty, 128, k_gram=4)
    assert sorted(map(tuple, kept.collect()), key=repr) == sorted(
        [(i, t, None if t is None else 0) for i, t in _SPAN_EDGE_DOCS], key=repr
    )


@pytest.mark.parametrize("kernel", _SPAN_KERNELS, ids=lambda f: f.__name__)
def test_span_kernel_is_one_arrow_pass(spark, kernel):
    df = spark.createDataFrame([(1, "abcdefgh")], "doc_id bigint, text string")
    plan = kernel(df, "doc_id", "text", [-1], 64, k_gram=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    for node in ("Generate", "Join", "Exchange"):
        assert node not in plan, plan


@pytest.mark.parametrize("kernel", _SPAN_KERNELS, ids=lambda f: f.__name__)
def test_span_kernel_guards_run_before_any_plan(kernel):
    for m_bits, k_hashes, match in ((100, 3, "multiple of 64"), (64, 4, "k_hashes"), (128, 3, "words")):
        with pytest.raises(ValueError, match=match):
            kernel(None, "doc_id", "text", [0], m_bits, k_gram=4, k_hashes=k_hashes)
