"""Round-6 directive + ADVICE regression tests.

Covers: d14 Bloom auto-sizing (VERDICT r5 directive #4), d15 adaptive
overlap router (#5), SQ8 ragged-input guard (ADVICE), the vectorized-PQ
duplicate-vec_id guard (ADVICE), and per-session persist tracking
(ADVICE).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators import llm


# ---------------------------------------------------------------- d14 bloom


def test_bloom_auto_m_bits_formula():
    """Exact integer inversion of m = n·k/ln2, next power of two,
    clamped to [2^16, _BLOOM_M_CAP] — the values the DuckDB msize CTE
    replays (parity of power(2,length(bin(q))) vs 1 << q.bit_length()
    was verified over 0..10^7 grams when the oracle was authored).
    The cap moved 2^26 → 2^28 in round 10 (literal-attach cost matrix
    in BLOOM150_r10.json); the formula below the cap is unchanged."""
    # floor: tiny eval sets stay on the historical 8 KB default
    assert llm.bloom_auto_m_bits(0) == 1 << 16
    assert llm.bloom_auto_m_bits(1000) == 1 << 16
    assert llm.bloom_auto_m_bits(9000) == 1 << 16
    # growth: 100k grams at k=3 want ~433k bits -> 2^19
    assert llm.bloom_auto_m_bits(100_000) == 1 << 19
    assert llm.bloom_auto_m_bits(1_000_000) == 1 << 23
    # cap, with a warning (saturation = silent pass-everything prefilter)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert llm.bloom_auto_m_bits(10**9) == llm._BLOOM_M_CAP
    assert any("cap" in str(x.message) for x in w)
    # no warning under the cap
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        llm.bloom_auto_m_bits(100_000)
    assert not w


def test_bloom_auto_size_fpr_at_10x_eval(spark):
    """Directive #4's acceptance: at 10× the size that saturated the old
    fixed 64 Ki-bit default (~9k grams at 1% FPR -> 90k keys here), the
    auto-sized filter keeps the false-positive rate in the designed
    ~ (1-e^(-kn/m))^k band instead of degrading toward 1.0."""
    n_keys = 90_000
    m_bits = llm.bloom_auto_m_bits(n_keys, k_hashes=3)
    assert m_bits >= 1 << 19  # auto-size actually grew past the old default
    members = spark.range(n_keys).select(F.concat(F.lit("in:"), F.col("id")).alias("v"))
    bits = llm.bloom_build_bits(members, "v", m_bits=m_bits, k_hashes=3)
    probes = spark.range(20_000).select(F.concat(F.lit("out:"), F.col("id")).alias("v"))
    fp = (
        probes.select(llm.bloom_member(F.col("v"), F.lit(bits), m_bits, 3).alias("m"))
        .agg(F.sum(F.col("m").cast("int")).alias("fp"))
        .collect()[0]["fp"]
    )
    fpr = fp / 20_000
    # theoretical FPR for n=90k, k=3, m=2^19: (1-e^(-270000/524288))^3 ~ 0.065;
    # the old 65536-bit filter would sit at (1-e^(-4.12))^3 ~ 0.95
    assert fpr < 0.15, f"auto-sized FPR degraded: {fpr:.3f}"
    # and recall stays perfect by construction (no false negatives)
    tp = (
        members.select(llm.bloom_member(F.col("v"), F.lit(bits), m_bits, 3).alias("m"))
        .agg(F.sum(F.col("m").cast("int")).alias("tp"))
        .collect()[0]["tp"]
    )
    assert tp == n_keys


def test_bloom_decontaminate_auto_sizes_by_default(spark, sf_dir):
    """m_bits=None flows the eval-side distinct-gram count through
    bloom_auto_m_bits; at the test corpus size that lands on the floor,
    so the default output equals the historical explicit-65536 output."""
    from medvedi_spark.catalog import load

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    auto = {
        (r.doc_id, r.hit_grams)
        for r in llm.bloom_decontaminate(corpus, eval_df, "doc_id", "text", n=4).collect()
    }
    fixed = {
        (r.doc_id, r.hit_grams)
        for r in llm.bloom_decontaminate(
            corpus, eval_df, "doc_id", "text", n=4, m_bits=65536
        ).collect()
    }
    assert auto == fixed


# ------------------------------------------------------------- d15 adaptive


def _overlap_fixture(spark):
    rows = [
        ("k1", "a"), ("k1", "b"), ("k1", "c"),
        ("k2", "a"), ("k2", "a"),
        ("k3", "b"), ("k3", "c"),
        ("k4", "c"),
    ]
    return spark.createDataFrame(rows, "k string, g string")


def test_cross_group_overlap_shapes_agree(spark, monkeypatch):
    """The self-join shape (forced via an in-row cap of 1) emits the
    identical matrix to the in-row shape, and its plan IS a join while
    the in-row plan is join-free."""
    df = _overlap_fixture(spark)
    expect = {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 2}
    inrow = llm.cross_group_overlap(df, "g", "k")
    monkeypatch.setattr(llm, "_MAX_INROW_GROUPS", 1)
    joined = llm.cross_group_overlap(df, "g", "k")
    assert {(r.group_a, r.group_b): r.shared_keys for r in inrow.collect()} == expect
    assert {(r.group_a, r.group_b): r.shared_keys for r in joined.collect()} == expect
    assert "Join" not in inrow._jdf.queryExecution().executedPlan().toString()
    assert "Join" in joined._jdf.queryExecution().executedPlan().toString()


def test_cross_group_overlap_hot_key_routes_to_self_join(spark):
    """Directive #5's acceptance: 10^4 groups sharing ONE key completes
    through the router without materializing a 5·10^7-struct array in a
    single row (the in-row shape would)."""
    n = 10_000
    df = spark.range(n).select(
        F.lit("hot").alias("k"), F.col("id").cast("string").alias("g")
    )
    out = llm.cross_group_overlap(df, "g", "k")
    assert "Join" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == n * (n - 1) // 2


def test_cross_group_overlap_router_threshold(spark, monkeypatch):
    """Exactly at the bound the in-row shape is kept; one past it the
    self-join takes over (count_distinct(group) is the routing signal)."""
    df = spark.range(6).select(
        F.lit("k").alias("k"), F.col("id").cast("string").alias("g")
    )
    monkeypatch.setattr(llm, "_MAX_INROW_GROUPS", 6)
    at = llm.cross_group_overlap(df, "g", "k")
    monkeypatch.setattr(llm, "_MAX_INROW_GROUPS", 5)
    over = llm.cross_group_overlap(df, "g", "k")
    assert "Join" not in at._jdf.queryExecution().executedPlan().toString()
    assert "Join" in over._jdf.queryExecution().executedPlan().toString()
    assert at.count() == over.count() == 15


# ------------------------------------------------------------ sq8 raggedness


def test_sq8_raises_on_ragged_embeddings(spark):
    """Positional vmin/vmax literals are only sound for uniform-dim
    corpora; ragged input must raise, not silently misalign codes
    (round-5 ADVICE)."""
    ragged = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0, 3.0]), (2, [0.5, 1.5]), (3, [0.1, 0.2, 0.3, 0.4])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="uniform-dimension"):
        llm.sq8_topk(ragged, "vec_id", "embedding", probe=F.col("vec_id") == 1, k=2)


def test_sq8_uniform_still_works(spark):
    uniform = spark.createDataFrame(
        [(i, [float(i), float(i * 2)]) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    out = llm.sq8_topk(uniform, "vec_id", "embedding", probe=F.col("vec_id") == 0, k=3)
    rows = out.collect()
    assert [r.neighbor_id for r in rows] == [1, 2, 3]


# ------------------------------------------------- vectorized PQ dup-id guard


def test_pq_vectorized_assert_unique_ids(spark):
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "cent_id bigint, c_emb array<double>"
    )
    dup = spark.createDataFrame(
        [(7, [0.1, 0.1]), (7, [0.9, 0.9])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="duplicate"):
        llm.pq_encode(
            dup, cents, "vec_id", "embedding", n_subspaces=2,
            vectorized=True, assert_unique_ids=True,
        ).collect()
    # unique ids pass the guard and encode normally
    uniq = spark.createDataFrame(
        [(7, [0.1, 0.1]), (8, [0.9, 0.9])], "vec_id bigint, embedding array<double>"
    )
    got = {
        r.vec_id: (r.code0, r.code1)
        for r in llm.pq_encode(
            uniq, cents, "vec_id", "embedding", n_subspaces=2,
            vectorized=True, assert_unique_ids=True,
        ).collect()
    }
    assert got == {7: (0, 0), 8: (1, 1)}


# --------------------------------------------------- per-session persist scope


def test_release_persisted_is_session_scoped(spark):
    from medvedi_spark.operators import _persist

    _persist.release_persisted(spark)  # clean slate for this session
    df = _persist.persist_tracked(spark.range(10))
    df.count()
    # a frame tracked under ANOTHER session's key must survive this
    # session's release (round-5 ADVICE: cross-session eviction)
    other = spark.range(5).persist()
    other.count()
    _persist._PERSISTED.setdefault(-1, []).append(other)
    try:
        assert _persist.release_persisted(spark) == 1
        assert other.storageLevel.useMemory  # untouched by the scoped release
        assert not _persist._PERSISTED.get(id(spark))
    finally:
        _persist._PERSISTED.pop(-1, None)
        other.unpersist(blocking=True)
    # release with no active-session argument defaults to the active one
    _persist.persist_tracked(spark.range(3)).count()
    assert _persist.release_persisted() == 1
