"""Semantics tests for the round-3 pipeline wave: semantic dedup (d10),
PII redaction (t9), boilerplate filtering (t10), shard shuffle (p5),
overlapping chunking (p6). The generic oracle gate proves value parity;
these tests pin the operator CONTRACTS (invariants a refactor must keep).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.operators.vector import semantic_dedup
from medvedi_spark.queries.text_ops import (
    _P6_SIZE,
    _P6_STRIDE,
    p5_shard_shuffle,
    p6_chunk_overlap,
    t9_pii_redaction,
    t10_boilerplate_filter,
)


def test_semantic_dedup_matches_numpy_within_cluster(spark, sf_dir):
    """Numpy replay: same centroids, same cluster assignment, same
    within-cluster cosine>=tau verdicts."""
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    got = {
        r.vec_id: (r.cell, r.is_dup, r.n_dup_of)
        for r in semantic_dedup(emb, cent, "vec_id", "embedding", threshold=0.3).collect()
    }
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    C = X[ids < 8]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cells = d2.argmin(axis=1)  # ties break to lower cent_id via argmin
    nrm = np.sqrt((X * X).sum(axis=1))
    cos = (X @ X.T) / np.outer(nrm, nrm)
    n_dup = np.zeros(len(ids), dtype=int)
    for j in range(len(ids)):
        same = (cells == cells[j]) & (ids < ids[j])
        n_dup[j] = int((cos[j, same] >= 0.3 - 1e-9).sum())
    for j, vid in enumerate(ids):
        cell, is_dup, n = got[vid]
        assert cell == cells[j], vid
        # numpy float cosine can differ in the last bits from the exact
        # decimal path; allow verdict flips only within 1e-9 of tau
        boundary = np.any(np.abs(cos[j][(cells == cells[j]) & (ids < vid)] - 0.3) < 1e-9)
        if not boundary:
            assert n == n_dup[j], vid
            assert is_dup == (1 if n_dup[j] else 0), vid


def test_semantic_dedup_no_cross_cluster_pairs(spark, sf_dir):
    """Vectors alone in their cluster can never be duplicates."""
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    res = semantic_dedup(emb, cent, "vec_id", "embedding", threshold=-2.0)
    # threshold -2 marks EVERY later vector sharing a cell as dup;
    # n_dup_of must equal the number of earlier same-cell vectors.
    rows = res.orderBy("vec_id").collect()
    seen: dict[int, int] = {}
    for r in rows:
        assert r.n_dup_of == seen.get(r.cell, 0), r.vec_id
        seen[r.cell] = seen.get(r.cell, 0) + 1


def test_pii_redaction_removes_all_patterns(spark, sf_dir):
    res = t9_pii_redaction(spark, sf_dir)
    leaked = res.filter(
        F.col("redacted").rlike(r"@example\.com")
        | F.col("redacted").rlike(r"\d+\.\d+\.\d+\.\d+")
        | F.col("redacted").rlike(r"\+1-555")
    )
    assert leaked.isEmpty()
    counts = res.agg(
        F.min("n_email").alias("a"), F.min("n_ip").alias("b"), F.min("n_phone").alias("c")
    ).first()
    assert (counts.a, counts.b, counts.c) == (1, 1, 1)


def test_boilerplate_filter_rules(spark, sf_dir):
    """Every surviving line: >=5 tokens, has a stopword, no blockword —
    verified by reconstructing lines from clean_text."""
    from medvedi_spark.queries.text_ops import _ALL_STOPS, _T10_BLOCKWORD

    res = t10_boilerplate_filter(spark, sf_dir).collect()
    docs = {r.doc_id: r for r in res}
    assert len(docs) == load(spark, sf_dir, "documents").count()
    for r in res:
        assert 0 <= r.n_kept <= r.n_lines
        assert r.kept_doc == (1 if r.n_kept >= 2 else 0)
        if r.clean_text:
            assert _T10_BLOCKWORD not in r.clean_text.split(" ")
            assert any(w in r.clean_text.split(" ") for w in _ALL_STOPS)


def test_shard_shuffle_deterministic_and_balanced(spark, sf_dir):
    a = p5_shard_shuffle(spark, sf_dir).collect()
    b = p5_shard_shuffle(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # re-runnable
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    # positions are 1..n_s within each shard (dense ranks, no gaps)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 3 * (sum(sizes) / len(sizes))  # md5 spreads


def test_chunk_overlap_reconstructs_documents(spark, sf_dir):
    """Chunk invariants: stride positions, full coverage, overlap =
    size - stride between consecutive chunks, concatenating the
    non-overlapped prefixes rebuilds the document."""
    res = p6_chunk_overlap(spark, sf_dir).collect()
    docs = {r.doc_id: r.text for r in load(spark, sf_dir, "documents").collect()}
    by_doc: dict[int, list] = {}
    for r in res:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        toks = [t for t in docs[doc_id].split(" ") if t]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        rebuilt: list[str] = []
        for c in chunks:
            ctoks = c.chunk_text.split(" ")
            assert len(ctoks) == c.n_chunk_tokens <= _P6_SIZE
            start = c.chunk_idx * _P6_STRIDE
            assert ctoks == toks[start : start + _P6_SIZE]
            rebuilt.extend(ctoks[: _P6_STRIDE] if c is not chunks[-1] else ctoks)
        # full coverage, in order
        assert rebuilt[: len(toks)] == toks
