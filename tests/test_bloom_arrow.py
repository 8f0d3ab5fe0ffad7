"""The Arrow-batch Bloom flag kernel (``operators.bloom.bloom_flag``).

Its membership test replays the blocked scheme in numpy, so it is checked
against the SQL membership test (``bloom_member``) gram by gram; its
tokenizer and gram builder replay ``kernels.word_tokens`` and
``word_ngrams_of``, so the edge documents are checked against the SQL
pipeline built from those kernels."""

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
