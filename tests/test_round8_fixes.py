"""Round-8 directive fixes (VERDICT r7 "Next round" + ADVICE):

1. st16's rebuilt flag kernel: slice-scheme bloom (one md5 per gram),
   split-string bitmap literal, explode-as-filter — semantics pinned by
   the existing wave7 containment tests; here the PRIMITIVES are pinned.
4. t7/t8 vocabulary broadcasts size-routed through the shared
   _vocab_routed helper (the t12 router extracted).
6. d11's join-back routing: the duplicated-gram verdict broadcasts
   map-side when measured-small, shuffles above the cap — both shapes
   emit identical spans.
7. st17: streaming dedup-on-ingest served from the persisted d17 index
   equals the batch band-join against the same loaded signatures.
A. dataset_fingerprint (cache keys), bits_array_expr (plan literal),
   t14's [A-Za-z] alphabetic rule.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import dataset_fingerprint, load
from medvedi_spark.operators import _persist, llm


# ------------------------------------------------- t7/t8 vocabulary router


@pytest.mark.parametrize("qname", ["t7_tfidf_topterms", "t8_collocations"])
def test_t7_t8_router_shapes_agree(spark, sf_dir, qname, monkeypatch):
    from medvedi_spark.queries.registry import QUERIES

    a = QUERIES[qname].builder(spark, sf_dir).toPandas()
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)  # force the above-cap shuffle shape
    b = QUERIES[qname].builder(spark, sf_dir).toPandas()
    cols = list(a.columns)
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


@pytest.mark.parametrize("qname", ["t7_tfidf_topterms", "t8_collocations"])
def test_t7_t8_hint_present_under_cap_absent_above(spark, sf_dir, qname, monkeypatch):
    """Above the cap the FORCED hint must be gone (the t12 rule): the
    planner's statistics-driven choice still auto-broadcasts at toy
    scale, but a 10⁹-row vocabulary at 100 TB degrades to a shuffle join
    instead of OOMing the driver."""
    from medvedi_spark.queries.registry import QUERIES

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    under = analyzed(QUERIES[qname].builder(spark, sf_dir))
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)
    over = analyzed(QUERIES[qname].builder(spark, sf_dir))
    assert "ResolvedHint" in under
    assert "ResolvedHint" not in over


# ------------------------------------------------- d11 join-back routing


def test_d11_cross_routing_shapes_agree(spark, sf_dir, monkeypatch):
    """Broadcast-verdict (under cap) and shuffled-semi-join (corpus
    scale) shapes emit identical span rows."""
    docs = load(spark, sf_dir, "documents")
    a = llm.duplicate_spans(docs, "doc_id", "text", k=20).toPandas()
    monkeypatch.setattr(_persist, "PERSIST_INPUT_CAP", 0)  # force the corpus-scale path
    b = llm.duplicate_spans(docs, "doc_id", "text", k=20).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_d11_cross_broadcast_under_cap(spark, sf_dir):
    """Under the cap the anchor table is never shuffled for the semi
    join: the verdict side is an explicit broadcast over the persisted
    cross table."""
    docs = load(spark, sf_dir, "documents")
    plan = (
        llm.duplicate_span_rows(docs, "doc_id", "text", k=20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    _persist.release_persisted()


def test_d11_forced_corpus_scale_plan_persists_nothing(spark, sf_dir, monkeypatch):
    """Patching the one input cap forces the real corpus-scale plan:
    neither the anchor table nor the cross-doc verdict is persisted, so
    the executed plan holds no in-memory scan."""
    docs = load(spark, sf_dir, "documents")
    _persist.release_persisted()  # no earlier cache may stand in for a subtree
    monkeypatch.setattr(_persist, "PERSIST_INPUT_CAP", 0)
    try:
        plan = (
            llm.duplicate_span_rows(docs, "doc_id", "text", k=20)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        released = _persist.release_persisted()
    assert "InMemoryTableScan" not in plan
    assert released == 0


# ----------------------------------------------------- st17 index serving


def test_st17_stream_equals_batch_serving(spark, sf_dir):
    """The streamed ingest verdicts equal a batch band-join against the
    SAME loaded index (plan-identical modulo the stream source), and
    every emitted pair is a true >=threshold near-dup pair of d16's
    one-shot pair universe (no drift across the save/load boundary)."""
    import shutil

    from medvedi_spark.operators import dedup_index
    from medvedi_spark.operators.llm import minhash_band_index
    from medvedi_spark.queries.compat_ops import _fmt_tmp
    from medvedi_spark.queries.llm_ops import _D16_THRESHOLD
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    streamed = {
        (r.doc_id, r.dup_of): r.jaccard
        for r in QUERIES["st17_stream_dedup_ingest"].builder(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = _fmt_tmp(sf_dir, "st17idx_test")
    shutil.rmtree(path, ignore_errors=True)
    dedup_index.minhash_index_save(old, "doc_id", "text", path, threshold=_D16_THRESHOLD)
    idx = dedup_index.minhash_index_load(spark, path)
    c_bands = dedup_index.bands_of_sigs(idx.sigs).withColumnRenamed("doc_id", "dup_of")
    c_toks = idx.sigs.select(F.col("doc_id").alias("dup_of"), F.col("toks").alias("toks_c"))
    nsigs, nbands = minhash_band_index(new, "doc_id", "text")
    shared = F.size(F.array_intersect("toks", "toks_c"))
    union = F.size("toks") + F.size("toks_c") - shared
    batch = {
        (r.doc_id, r.dup_of): r.jaccard
        for r in (
            nbands.join(nsigs.select("doc_id", "toks"), "doc_id")
            .join(c_bands, ["band_idx", "band_val"])
            .join(c_toks, "dup_of")
            .withColumn("jaccard", shared.cast("double") / union)
            .filter(F.col("jaccard") >= idx.threshold)
            .select("doc_id", "dup_of", "jaccard")
            .dropDuplicates(["doc_id", "dup_of"])
        ).collect()
    }
    shutil.rmtree(path, ignore_errors=True)
    assert streamed == batch


# ------------------------------------------------------------- primitives


def test_bits_array_expr_equals_lit(spark):
    words = [0, -1, 5, 1 << 62, -(1 << 63), 42]
    df = spark.range(1)
    got = df.select(llm.bits_array_expr(words).alias("a")).first().a
    assert list(got) == words


def test_blocked_bloom_fit_and_member_agree(spark):
    """Fit and membership share the blocked scheme: every fitted value
    is a member (no false negatives by construction), both through the
    one-shot bloom_member and the staged word-prefetch bloom_member_word
    path the hot kernels use."""
    vals = [("alpha",), ("bravo",), ("charlie",), ("delta",)]
    df = spark.createDataFrame(vals, "g string")
    m_bits = 65536
    words = llm.bloom_build_bits(df, "g", m_bits, 3)
    bits = llm.bits_array_expr(words)
    out = df.select(
        "g", llm.bloom_member(F.col("g"), bits, m_bits, 3).alias("hit")
    ).collect()
    assert all(r.hit for r in out)
    digest = F.md5(F.col("g"))
    word = F.element_at(bits, llm._bloom_block_word(digest, m_bits).cast("int") + 1)
    staged = df.select(
        "g", llm.bloom_member_word(digest, word, 3).alias("hit")
    ).collect()
    assert all(r.hit for r in staged)


def test_dataset_fingerprint_file_and_dir(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    fp1 = dataset_fingerprint(str(f))
    f.write_bytes(b"abcd")  # content change -> size change
    assert dataset_fingerprint(str(f)) != fp1

    d = tmp_path / "ds.parquet"
    d.mkdir()
    (d / "part-0000.parquet").write_bytes(b"xx")
    (d / "_SUCCESS").write_bytes(b"")
    fpd = dataset_fingerprint(str(d))
    # regenerating a part file changes the fingerprint even though the
    # DIRECTORY's own stat may not (the ADVICE r7 failure mode)
    (d / "part-0000.parquet").write_bytes(b"yy-longer")
    assert dataset_fingerprint(str(d)) != fpd
    # marker files are not part of the content identity
    assert all(not name.startswith("_") for name, *_ in fpd[1])


def test_t14_allcaps_word_counts_alphabetic(spark):
    from medvedi_spark.queries.text_ops import gopher_rules_frame

    df = spark.createDataFrame([(1, "NASA IBM 123 ... ###")], "doc_id long, text string")
    row = gopher_rules_frame(df).first()
    # 2 of 5 words contain an alphabetic char ([A-Za-z]): the acronyms.
    # Under the pre-ADVICE [a-z] rule this was 0.0.
    assert row.alpha_frac == pytest.approx(0.4)
