"""Round-10 directive tests.

Covers (VERDICT r9 "Next round"):
#3 Bloom 2^26 cap lift — cap raised to 2^28 with the oracle msize CTEs
   moved in lockstep; the span passes stay streaming-legal with a
   large bitmap.
#4 ANN serve routing size-guard — bulk-probe path (shuffled cell-join)
   bit-equal to the collected/broadcast path; static partition pruning
   survives both modes.
#7 driver-canon canary — the gate's array-column rejection and scalar
   canon assumptions pinned against a canary frame.
ADVICE r9: blocked-bloom ``m_bits`` guard mirrored on the membership
   side; ``dataset_fingerprint`` descends symlinked partition dirs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators import bloom, jaccard


def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(n)],
        "doc_id long, text string",
    )


# --------------------------------------------------------------------------
# directive #3 — Bloom bitmap attach past the old 2^26-era threshold
# --------------------------------------------------------------------------

#: 2^23 bits = 2^17 words — 2× past the threshold where r10's first
#: (reverted) design switched to a broadcast join; the literal must
#: stay correct and join-free here
_BIG_M = 1 << 24


def test_bloom_flag_large_m_literal_and_joinless(spark):
    """A bitmap 2× past the old threshold still rides the plan as a
    constant-folded literal: correct output, and NO join node in the
    plan (the reverted broadcast arm added a BroadcastHashJoin whose
    per-row bitmap inlining was the 150×-probe regression)."""
    docs = _docs(spark)
    ev = docs.filter("doc_id % 10 = 0")
    words, _ = bloom.bloom_fit(ev, "text", n=4, m_bits=_BIG_M)
    out = bloom.bloom_flag(docs, "doc_id", "text", words, _BIG_M, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    rows = out.orderBy("doc_id").collect()
    assert len(rows) > 0
    # every eval doc is flagged (its own grams are all in the filter);
    # neighbors may flag too — overlapping windows share real grams
    flagged = {r["doc_id"] for r in rows}
    assert {i for i in range(40) if i % 10 == 0} <= flagged


def test_bloom_span_flag_large_m_streaming_legal(spark, sf_dir):
    """The st16/st18 span pass, with a large bitmap in its function
    closure, is legal on a readStream frame and matches the batch run
    row-for-row."""
    from medvedi_spark.catalog import load
    from medvedi_spark.streaming.ops import read_table_stream, run_to_memory

    docs = load(spark, sf_dir, "documents")
    words, m = bloom.span_bloom_fit(docs, "doc_id", "text", k_gram=20, m_bits=_BIG_M)
    assert m == _BIG_M
    stream = read_table_stream(spark, sf_dir, "documents")
    got = run_to_memory(
        bloom.bloom_span_flag(stream, "doc_id", "text", words, m, k_gram=20),
        output_mode="append",
    )
    batch = bloom.bloom_span_flag(docs, "doc_id", "text", words, m, k_gram=20)
    s = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(b) > 0
    # removal path too (st18's kernel)
    rem = run_to_memory(
        bloom.bloom_span_remove(stream, "doc_id", "text", words, m, k_gram=20),
        output_mode="append",
    )
    rb = bloom.bloom_span_remove(docs, "doc_id", "text", words, m, k_gram=20)
    assert {tuple(r) for r in rem.collect()} == {tuple(r) for r in rb.collect()}


def test_bloom_auto_m_cap_is_2_28():
    """The cap moved 2^26 → 2^28 (the old cap guarded a literal-parse
    cost that measurement attributed elsewhere). The oracle msize CTEs in
    llm_ops/stream_ops carry the same constant — grep-pinned here so the
    two can't drift apart."""
    assert bloom._BLOOM_M_CAP == 1 << 28
    import inspect

    import medvedi_spark.queries.llm_ops as llm_ops
    import medvedi_spark.queries.stream_ops as stream_ops

    for mod in (llm_ops, stream_ops):
        src = inspect.getsource(mod)
        assert "67108864" not in src, f"{mod.__name__} still clamps at 2^26"
        assert "268435456" in src, f"{mod.__name__} missing the 2^28 clamp"
    # auto-size respects the new cap and warns past it
    with pytest.warns(UserWarning, match="cap"):
        assert bloom.bloom_auto_m_bits(10**9, 3) == 1 << 28


def test_bloom_member_m_bits_guard():
    """ADVICE r9: the membership side mirrors the build-side guard —
    m_bits not a positive multiple of 64 raises instead of silently
    flooring (scheme mismatch) or dividing by zero."""
    for bad in (0, 63, 100, -64):
        with pytest.raises(ValueError, match="multiple of 64"):
            bloom.bloom_member("x", [0], bad, 3)
    # build side already guarded (regression pin)
    with pytest.raises(ValueError):
        bloom.bloom_build_bits(None, "c", m_bits=100)


# --------------------------------------------------------------------------
# directive #4 — ANN serve routing size-guard
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adc_index(spark, sf_dir, tmp_path_factory):
    import medvedi_spark.operators.ann_index as ai
    from medvedi_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 3 != 0")
    cents = corpus.limit(4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    pq = corpus.limit(8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    path = str(tmp_path_factory.mktemp("ann") / "idx")
    ai.ivfadc_save(corpus, cents, pq, "vec_id", "embedding", path, n_subspaces=4, store_vectors=True)
    return ai.ivfadc_load(spark, path)


def test_ann_bulk_probe_equals_collected(spark, sf_dir, adc_index, monkeypatch):
    """Past the ~32 MB routing budget the serve path keeps the routing
    payload distributed (shuffled cell-join); results must equal the
    collected/broadcast path bit-for-bit."""
    import medvedi_spark.operators.ann_index as ai
    from medvedi_spark.operators import _persist
    from medvedi_spark.catalog import load

    queries = load(spark, sf_dir, "embeddings").filter("vec_id % 3 = 0").limit(25)
    small = ai.ivfadc_query_rerank(adc_index, queries, "vec_id", "embedding", k=5)
    small_rows = [r.asDict() for r in small.orderBy("query_id", "rank").collect()]
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)  # force the bulk path
    bulk = ai.ivfadc_query_rerank(adc_index, queries, "vec_id", "embedding", k=5)
    bulk_rows = [r.asDict() for r in bulk.orderBy("query_id", "rank").collect()]
    assert small_rows == bulk_rows and len(bulk_rows) > 0


def test_ann_bulk_probe_partition_pruning_survives(spark, sf_dir, adc_index, monkeypatch):
    """The probed cell set is bounded by the codebook, so the literal
    isin partition filter (static pruning) survives BULK mode: the codes
    FileScan must carry a PartitionFilters entry on cell."""
    import medvedi_spark.operators.ann_index as ai
    from medvedi_spark.operators import _persist
    from medvedi_spark.catalog import load

    queries = load(spark, sf_dir, "embeddings").filter("vec_id % 3 = 0").limit(25)
    monkeypatch.setattr(_persist, "BROADCAST_BUDGET", 0)
    plan = (
        ai.ivfadc_query(adc_index, queries, "vec_id", "embedding", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "cell" in l]
    assert any("cell" in l and ("IN" in l or "in(" in l.lower()) for l in pf), pf


# --------------------------------------------------------------------------
# directive #7 — driver-canon canary
# --------------------------------------------------------------------------


def test_driver_canon_rejects_array_columns():
    """COMMENT-PINNED ASSUMPTION (memory: driver-canon array pitfall):
    the driver's gate canonicalizes rows with a pandas lexsort, which
    raises on array-typed (unhashable list) columns — so the local gate
    must REJECT any query output with an array column rather than
    silently shimming lists to tuples (the shim masked st13's r6
    failure). If the driver's canon ever starts hashing array columns,
    update tools/check_oracle.compare AND this canary together."""
    import importlib.util

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracle.py"),
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    canary = pd.DataFrame({"k": [1, 2], "arr": [[1, 2], [3]]})
    scalar = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    problems = co.compare("canary", canary, canary)
    assert any("array-typed" in p for p in problems)
    assert co.compare("scalar_ok", scalar, scalar) == []
    # scalar canon: int width is canonicalized (int32 == int64), kind is not
    import numpy as np

    a = pd.DataFrame({"k": np.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"k": np.array([1, 2], dtype="int64")})
    assert co.compare("int_width", a, b) == []


# --------------------------------------------------------------------------
# ADVICE r9 — dataset_fingerprint symlinked partitions
# --------------------------------------------------------------------------


def test_dataset_fingerprint_follows_symlinked_partitions(tmp_path):
    from medvedi_spark.catalog import dataset_fingerprint

    real_part = tmp_path / "real_store" / "key=1"
    real_part.mkdir(parents=True)
    f = real_part / "part-0.parquet"
    f.write_bytes(b"v1")
    ds = tmp_path / "dataset"
    ds.mkdir()
    os.symlink(tmp_path / "real_store" / "key=1", ds / "key=1")
    fp1 = dataset_fingerprint(str(ds))
    names1 = [p[0] for p in fp1[1]]
    assert any("part-0.parquet" in n for n in names1), (
        "symlinked partition contents missing from the fingerprint"
    )
    # an in-place rewrite under the symlink must change the fingerprint
    os.utime(f, ns=(1, 1))
    fp2 = dataset_fingerprint(str(ds))
    assert fp1 != fp2
    # symlink cycles terminate (visited-inode guard)
    os.symlink(ds, ds / "loop", target_is_directory=True)
    dataset_fingerprint(str(ds))


# --------------------------------------------------------------------------
# directive #2 — Jaccard prefix-tier AQE-coalescing pin
# --------------------------------------------------------------------------


def _prefix_corpus(spark, n_docs=120):
    # vocab > 4096 distinct tokens forces the prefix tier (sparse sets)
    rows = [
        (i, " ".join(f"tok{(i * 37 + j * 5) % 6000}" for j in range(18)))
        for i in range(n_docs)
    ] + [(n_docs + i, " ".join(f"tok{(i * 37 + j * 5) % 6000}" for j in range(18)))
         for i in range(6)]  # exact dups → jaccard 1.0 pairs exist
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_prefix_pin_output_invariant(spark):
    """The pin only moves exchange placement — pinned and unpinned
    prefix plans must emit identical pair sets."""
    docs = _prefix_corpus(spark)
    saved = jaccard._VERIFY_PIN_MIN_PAIRS

    def _pairs():
        res = jaccard.token_jaccard_pairs(docs, "doc_id", "text", threshold=0.95)
        return sorted(map(tuple, res.collect()))

    try:
        jaccard._VERIFY_PIN_MIN_PAIRS = 0  # force the pin
        pinned = _pairs()
        jaccard._VERIFY_PIN_MIN_PAIRS = float("inf")  # r9 plan
        unpinned = _pairs()
    finally:
        jaccard._VERIFY_PIN_MIN_PAIRS = saved
    assert pinned == unpinned and len(pinned) >= 6


def test_jaccard_prefix_pin_plan_shape(spark):
    """Pinned: the expansion/verify exchanges are user REPARTITION_BY_NUM
    (AQE-coalesce-exempt). Unpinned: no such exchange in the plan."""
    docs = _prefix_corpus(spark)
    saved = jaccard._VERIFY_PIN_MIN_PAIRS

    def _plan():
        df = jaccard.token_jaccard_pairs(docs, "doc_id", "text", threshold=0.95)
        return df._jdf.queryExecution().executedPlan().toString()

    try:
        jaccard._VERIFY_PIN_MIN_PAIRS = 0
        assert "REPARTITION_BY_NUM" in _plan()
        jaccard._VERIFY_PIN_MIN_PAIRS = float("inf")
        assert "REPARTITION_BY_NUM" not in _plan()
    finally:
        jaccard._VERIFY_PIN_MIN_PAIRS = saved


# --------------------------------------------------------------------------
# directive #6 — batched serving (s16)
# --------------------------------------------------------------------------


def test_s16_batched_serve_structure(spark, sf_dir):
    """One serve plan over the batch union: every batch present, k rows
    per (batch, query), batch_id a pure projection of the id ranges."""
    from medvedi_spark.queries import registry
    from medvedi_spark.queries.llm_ops import _S5_K, _S5_PROBES, _S16_BATCHES

    registry._ensure_loaded()
    out = registry.QUERIES["s16_ivfadc_batched_serve"].builder(spark, sf_dir)
    rows = out.collect()
    assert {r["batch_id"] for r in rows} == set(range(_S16_BATCHES))
    per_q: dict = {}
    for r in rows:
        assert r["batch_id"] == r["query_id"] // _S5_PROBES
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_q) == _S16_BATCHES * _S5_PROBES
    assert all(sorted(v) == list(range(1, _S5_K + 1)) for v in per_q.values())

