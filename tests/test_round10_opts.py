"""Focused tests for the round-10 optimization internals that landed
after the directive batch (OPTIMIZATION_r10.md changes 1, 3, 4, 5, 7, 8):

- ``_fan_out_narrow`` (s13/d12 + ExactSubstr precedent): round-robins a
  small narrow frame to session parallelism, preserves rows exactly, and
  is an identity above the size cap (at 100 TB it never repartitions).
- ``_parallel_writes`` (ann_index/dedup_index saves, c18 ingest): runs
  every thunk, propagates the first failure, single-thunk fast path.
- ``connected_components`` in-row symmetrization (change 3): a DIRECTED
  edge list (one orientation only, duplicates, self-loops) yields the
  same components as its explicit symmetric closure — the property the
  old self-union prologue provided and the explode now must.
- driver-side model-state sorts (change 5): ``_sq8_train`` returns rows
  in exactly the order the old ``.orderBy("dim")`` plan produced.
"""

from __future__ import annotations

import pytest

from medvedi_spark.operators import _persist
from medvedi_spark.operators import bloom, graph, quantized
from medvedi_spark.operators.ann_index import _parallel_writes


# --------------------------------------------------------------------------
# change 4/8 — _fan_out_narrow guard behavior
# --------------------------------------------------------------------------


def test_fan_out_narrow_small_input_repartitions_preserving_rows(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    out = bloom._fan_out_narrow(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # round-robin only — the rows themselves are untouched
    assert sorted(r.doc_id for r in out.collect()) == list(range(100))


def test_fan_out_narrow_identity_above_cap(spark, monkeypatch):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    # force the size guard to classify the input as a genuine corpus
    monkeypatch.setattr(_persist, "PERSIST_INPUT_CAP", -1)
    out = bloom._fan_out_narrow(df)
    assert out is df  # no exchange inserted at scale


# --------------------------------------------------------------------------
# change 1/7 — _parallel_writes orchestration
# --------------------------------------------------------------------------


def test_parallel_writes_runs_every_thunk():
    ran = []
    _parallel_writes(
        lambda: ran.append("a"),
        lambda: ran.append("b"),
        lambda: ran.append("c"),
    )
    assert sorted(ran) == ["a", "b", "c"]


def test_parallel_writes_single_thunk_fast_path():
    ran = []
    _parallel_writes(lambda: ran.append("only"))
    assert ran == ["only"]


def test_parallel_writes_propagates_failure():
    ran = []

    def boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        _parallel_writes(lambda: ran.append("ok"), boom)
    assert ran == ["ok"]  # the healthy write still ran


# --------------------------------------------------------------------------
# change 3 — connected_components in-row symmetrization
# --------------------------------------------------------------------------


def _components(df):
    return {r.node: r.component for r in df.collect()}


def test_connected_components_directed_edges_symmetrized(spark):
    # chain given in ONE orientation only, plus a duplicate edge and a
    # self-loop: the in-row explode must behave exactly like the old
    # self-union closure (a->b implies b->a).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 3), (5, 5), (7, 6)], "doc_a long, doc_b long"
    )
    got = _components(graph.connected_components(edges, "doc_a", "doc_b"))
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 6, 7: 6}


def test_connected_components_reverse_only_orientation(spark):
    # the same graph fed backwards lands in the same components
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (6, 7)], "doc_a long, doc_b long"
    )
    got = _components(graph.connected_components(edges, "doc_a", "doc_b"))
    assert got == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}


# --------------------------------------------------------------------------
# change 5 — driver-side model-state sort == the old plan-side orderBy
# --------------------------------------------------------------------------


def test_sq8_train_driver_sort_matches_plan_orderby(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), float(10 - i), 0.5 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    stats = quantized._sq8_train(emb, "embedding")
    reference = quantized.sq8_minmax(emb, "embedding").orderBy("dim").collect()
    assert [tuple(r) for r in stats] == [tuple(r) for r in reference]
    assert [r["dim"] for r in stats] == sorted(r["dim"] for r in stats)
