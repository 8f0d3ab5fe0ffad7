"""Round-9 directive fixes (VERDICT r8 "Next round" + ADVICE):

7. st16's streaming plan has no repartition (production-safe).
A. dataset_fingerprint recurses into partitioned datasets (key=value
   subdirectories) and treats a raced-away file as a cache miss, not an
   OSError.
A. hamming_topk's broadcast guard scales the probe estimate by the block
   fan-out before comparing to the budget.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from medvedi_spark.catalog import dataset_fingerprint


# ------------------------------------------------ st16 ingest plan


def test_st16_plan_has_no_exchange_by_default(spark, sf_dir):
    """The st16 streaming frame carries no repartition: the production
    plan is exchange-free per-row work."""
    from medvedi_spark.operators import bloom
    from medvedi_spark.queries import stream_ops
    from medvedi_spark.streaming.ops import read_table_stream

    words, m_bits = stream_ops._span_bloom_model(spark, sf_dir)
    stream = read_table_stream(spark, sf_dir, "documents")
    flagged = bloom.bloom_span_flag(
        stream, "doc_id", "text",
        words, m_bits, k_gram=stream_ops._ST16_K, k_hashes=stream_ops._ST16_H,
    )
    plan = flagged._jdf.queryExecution().logical().toString()
    assert "Repartition" not in plan


# --------------------------------------- recursive dataset_fingerprint


def test_dataset_fingerprint_recurses_into_partition_dirs(tmp_path):
    d = tmp_path / "ds.parquet"
    (d / "cell=1").mkdir(parents=True)
    (d / "cell=2").mkdir()
    p1 = d / "cell=1" / "part-0.parquet"
    p2 = d / "cell=2" / "part-0.parquet"
    p1.write_bytes(b"one")
    p2.write_bytes(b"two")
    fp0 = dataset_fingerprint(str(d))
    # in-place rewrite of a nested part file MUST change the fingerprint
    os.utime(p1, ns=(1, 1))
    fp1 = dataset_fingerprint(str(d))
    assert fp1 != fp0
    # content growth inside a partition dir changes it too
    p2.write_bytes(b"two-and-more")
    assert dataset_fingerprint(str(d)) != fp1


def test_dataset_fingerprint_flat_dir_and_delete(tmp_path):
    d = tmp_path / "flat.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"a")
    (d / "part-1").write_bytes(b"b")
    (d / "_SUCCESS").write_bytes(b"")
    fp0 = dataset_fingerprint(str(d))
    # marker files stay excluded
    (d / "_SUCCESS").write_bytes(b"x")
    assert dataset_fingerprint(str(d)) == fp0
    (d / "part-1").unlink()
    assert dataset_fingerprint(str(d)) != fp0


# ------------------------------------- d2 router: fat-posting arm (r9)


def _tok_frame(spark, n_docs: int, vocab: int, set_size: int):
    """Synthetic corpus with exact router statistics: every doc holds
    ``set_size`` distinct tokens drawn round-robin from ``vocab`` ids,
    so avg_df = n_docs * set_size / vocab deterministically."""
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % vocab}" for j in range(set_size)))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _routes_to_prefix(df) -> bool:
    # only the prefix tier computes per-token document frequency
    return "tok_df" in df._jdf.queryExecution().analyzed().toString()


def test_router_fat_postings_take_wide_tier(spark):
    """vocab ≤ 1024 with a fat mean posting list (avg_df ≥ 64) must NOT
    route to prefix filtering: rare-token pruning cannot prune when
    every token sits in ≥64 docs (measured 2-3.7× regression on the
    probe corpus — D2_DECOMP_r9.json)."""
    from medvedi_spark.operators import jaccard

    # density 15/100 = 0.15 < 0.25 (not dense); avg_df = 600*15/100 = 90
    fat = _tok_frame(spark, 600, 100, 15)
    out = jaccard.token_jaccard_pairs(fat, "doc_id", "text", threshold=0.95)
    assert not _routes_to_prefix(out)

    # same density, thin postings: avg_df = 100*15/100 = 15 < 64 → prefix
    thin = _tok_frame(spark, 100, 100, 15)
    out2 = jaccard.token_jaccard_pairs(thin, "doc_id", "text", threshold=0.95)
    assert _routes_to_prefix(out2)


def test_router_fat_arm_capped_at_16_words(spark):
    """The fat-posting arm must not extend past 1024-token vocabularies
    (the 10× probe shape, vocab ~2k / 32-word masks, measured WORSE on
    the wide tier): fat postings over a >1024 vocab still route prefix."""
    from medvedi_spark.operators import jaccard

    big = _tok_frame(spark, 12_000, 1100, 12)  # avg_df ≈ 131, vocab 1100
    out = jaccard.token_jaccard_pairs(big, "doc_id", "text", threshold=0.95)
    assert _routes_to_prefix(out)


def test_router_fat_arm_output_equals_prefix(spark):
    """Tier choice must never change the answer: the fat-routed corpus
    produces identical pairs under the forced prefix plan."""
    from medvedi_spark.operators import _persist, jaccard

    fat = _tok_frame(spark, 120, 40, 10)  # avg_df = 30 < 64? -> adjust
    # avg_df = 120*10/40 = 30; force fat by lowering the gate instead
    tok = _persist.persist_tracked(jaccard.tokenize_distinct(fat, "doc_id", "text"))
    wide = jaccard._jaccard_bitset_wide_shuffled(
        tok, tok.select("t").distinct(), 40, 0.9
    ).collect()
    prefix = jaccard._jaccard_prefix_filter(tok, 0.9).collect()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(map(key, wide)) == sorted(map(key, prefix))
    wj = {key(r): r.jaccard for r in wide}
    pj = {key(r): r.jaccard for r in prefix}
    for k in wj:
        assert abs(wj[k] - pj[k]) < 1e-12


# ------------------------- st18: streaming ExactSubstr removal (new r9)


def test_st18_removes_superset_of_d18(spark, sf_dir):
    """No false negatives: every char the exact d18 rewrite removes is
    removed by the bloom-driven st18 rewrite too (bloom spans contain
    every true duplicate span; the FP tail removes slightly more)."""
    from medvedi_spark.catalog import load
    from medvedi_spark.operators import bloom
    from medvedi_spark.queries.stream_ops import _ST16_H, _ST16_K, _span_bloom_model

    docs = load(spark, sf_dir, "documents")
    words, m_bits = _span_bloom_model(spark, sf_dir)
    approx = {
        r.doc_id: r.removed_chars
        for r in bloom.bloom_span_remove(
            docs, "doc_id", "text", words, m_bits, _ST16_K, _ST16_H
        ).collect()
    }
    exact = {
        r.doc_id: r.removed_chars
        for r in bloom.exact_substring_removal(docs, "doc_id", "text", k=_ST16_K).collect()
    }
    assert set(approx) == set(exact)
    assert all(approx[d] >= exact[d] for d in exact)
    assert any(v > 0 for v in exact.values())  # fixture has real dups


def test_st18_removed_equals_st16_dup_chars(spark, sf_dir):
    """The rewrite excises exactly the spans st16 flags: removed_chars
    equals st16's dup_chars for flagged docs and 0 for the rest."""
    from medvedi_spark.catalog import load
    from medvedi_spark.operators import bloom
    from medvedi_spark.queries.stream_ops import _ST16_H, _ST16_K, _span_bloom_model

    docs = load(spark, sf_dir, "documents")
    words, m_bits = _span_bloom_model(spark, sf_dir)
    removed = {
        r.doc_id: r.removed_chars
        for r in bloom.bloom_span_remove(
            docs, "doc_id", "text", words, m_bits, _ST16_K, _ST16_H
        ).collect()
    }
    flagged = {
        r.doc_id: r.dup_chars
        for r in bloom.bloom_span_flag(
            docs, "doc_id", "text", words, m_bits, _ST16_K, _ST16_H
        ).collect()
    }
    for d, rc in removed.items():
        assert rc == flagged.get(d, 0), d


# --------------------------------- hamming_topk broadcast guard fan-out


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_hamming_guard_scales_by_block_fanout(spark):
    """The broadcast payload is the EXPLODED probe-block frame, so the
    hint decision must survive ~n_blocks× the raw estimate: a probe set
    whose raw bytes fit the 32 MB budget but whose ×6 fan-out does not
    must NOT be hinted."""
    from medvedi_spark.operators import vector

    vec = [float(i % 7) for i in range(8)]
    # range-backed frames carry a real Catalyst size estimate (a
    # LogicalRDD estimates as "unknown = huge" and is never hinted)
    small = spark.range(0, 4).select(
        F.col("id").alias("vec_id"), F.array(*[F.lit(1.0)] * 8).alias("embedding")
    )
    corpus = spark.createDataFrame(
        [(100 + i, vec) for i in range(8)], "vec_id long, embedding array<double>"
    )
    hinted = vector.hamming_topk(corpus, small, "vec_id", "embedding", k=2, radius=5)
    assert "ResolvedHint" in _analyzed(hinted)

    # A probe frame whose RAW estimate sits between cap/n_blocks and cap
    # would previously be hinted; with the fan-out scaling it must not
    # be. Catalyst's range estimate is rows × row-width, so a wide
    # synthetic frame reaches the band deterministically.
    big = (
        spark.range(0, 1_000_000)
        .select(F.col("id").alias("vec_id"), F.array(*[F.lit(1.0)] * 8).alias("embedding"))
    )
    est = int(big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est <= (32 << 20), "fixture raw estimate must be under the cap"
    assert est * 6 > (32 << 20), "fixture must exceed the scaled cap"
    unhinted = vector.hamming_topk(corpus, big, "vec_id", "embedding", k=2, radius=5)
    assert "ResolvedHint" not in _analyzed(unhinted)
