"""The Arrow/numpy PQ encode vs its exact-decimal reference.

`operators.quantized.pq_encode` (the `_pq_encode_vectorized` pass) promises
BIT-IDENTICAL codes to `_pq_encode_decimal` (and therefore to the DuckDB
oracle): certified float64
argmin inside one zero-shuffle `mapInPandas`, with a Python-`decimal`
replica of `sqdist_dec` re-judging any candidate the float64 error bound
cannot separate from the winner. These tests pin the equivalence — on
real testdata, at k=256, under forced replica evaluation, on exact ties,
and on degenerate rows — plus the loud precondition failures and the
zero-exchange plan shape. (Beyond-reference operator: no medvedi parity
case exists; the contract is equality with this repo's decimal reference.)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators.quantized import _pq_encode_decimal, _pq_encode_vectorized, pq_encode


def _symdiff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _sf_pq(spark, sf_dir, k=16):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    return emb, cent


def _toy(spark, n_vecs=30, n_codes=16, dim=8, seed=7):
    import random

    rng = random.Random(seed)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n_vecs)],
        "vec_id int, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(100 + j, [rng.uniform(-1, 1) for _ in range(dim)]) for j in range(n_codes)],
        "cent_id int, c_emb array<double>",
    )
    return emb, cent


@pytest.mark.parametrize("dense", [True, False])
def test_vectorized_matches_decimal_on_testdata(spark, sf_dir, dense):
    emb, cent = _sf_pq(spark, sf_dir)
    a = _pq_encode_decimal(emb, cent, "vec_id", "embedding", n_subspaces=8, dense=dense)
    b = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=8, dense=dense)
    assert a.schema == b.schema
    assert _symdiff(a, b) == 0


def test_vectorized_matches_decimal_k256(spark):
    emb, cent = _toy(spark, n_codes=256, dim=8)
    a = _pq_encode_decimal(emb, cent, "vec_id", "embedding", n_subspaces=4, dense=True)
    b = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=4, dense=True)
    assert _symdiff(a, b) == 0


def test_forced_replica_matches_spark_decimal_kernel(spark, sf_dir):
    """force_exact routes EVERY (row, subspace) through the Python
    replica of sqdist_dec — if the replica's rounding route (shortest
    round-trip repr -> 10 dp HALF_UP -> exact sum -> string -> double)
    diverged from Spark's decimal cast anywhere on real data, this is
    the test that catches it."""
    emb, cent = _sf_pq(spark, sf_dir)
    a = _pq_encode_decimal(emb, cent, "vec_id", "embedding", n_subspaces=8, dense=True)
    b = _pq_encode_vectorized(
        emb, cent, "vec_id", "embedding", n_subspaces=8, dense=True, force_exact=True,
    )
    assert _symdiff(a, b) == 0


def test_exact_tie_breaks_on_lowest_cent_id(spark):
    """Two centroids with IDENTICAL vectors produce exactly equal d2 —
    the float64 certification must flag them and the replica must break
    the tie on cent_id, matching the decimal reference's min_by struct order."""
    emb, cent = _toy(spark, n_vecs=20, n_codes=6, dim=8)
    dup = cent.withColumn(
        "cent_id", F.col("cent_id") + F.lit(50)
    )  # ids 150..155 duplicate vectors of 100..105
    cb = cent.unionByName(dup)
    for dense in (True, False):
        a = _pq_encode_decimal(emb, cb, "vec_id", "embedding", n_subspaces=4, dense=dense)
        b = pq_encode(emb, cb, "vec_id", "embedding", n_subspaces=4, dense=dense)
        assert _symdiff(a, b) == 0


def test_degenerate_rows_match_decimal_path(spark):
    """NaN elements, null embeddings, and too-short rows all collapse to
    the decimal reference's all-null tie-break (lowest cent_id);
    pq_encode must reproduce it row for row."""
    import pandas as pd
    import numpy as np

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    np.array([0.1, 0.2, 0.3, 0.4], dtype=np.float64),
                    np.array([0.1, np.nan, 0.3, 0.4], dtype=np.float64),
                    None,
                    np.array([0.5], dtype=np.float64),  # shorter than n_subspaces
                ],
            }
        ),
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])],
        "cent_id int, c_emb array<double>",
    )
    for dense in (True, False):
        a = _pq_encode_decimal(emb, cent, "vec_id", "embedding", n_subspaces=2, dense=dense)
        b = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=2, dense=dense)
        assert _symdiff(a, b) == 0


def test_vectorized_rejects_bad_codebooks(spark):
    emb, cent = _toy(spark)
    dup_ids = cent.unionByName(cent)  # duplicate cent_ids
    with pytest.raises(ValueError, match="duplicate cent_id"):
        pq_encode(emb, dup_ids, "vec_id", "embedding")
    import pandas as pd
    import numpy as np

    nan_cb = spark.createDataFrame(
        pd.DataFrame({"cent_id": [0], "c_emb": [np.array([np.nan] * 8)]}),
        "cent_id int, c_emb array<double>",
    )
    with pytest.raises(ValueError, match="non-finite"):
        pq_encode(emb, nan_cb, "vec_id", "embedding")
    ragged = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 4)], "cent_id int, c_emb array<double>"
    )
    with pytest.raises(ValueError, match="differ in dimension"):
        pq_encode(emb, ragged, "vec_id", "embedding")


def test_empty_codebook_yields_no_rows(spark):
    emb, cent = _toy(spark)
    out = pq_encode(emb, cent.filter(F.lit(False)), "vec_id", "embedding")
    assert out.count() == 0


def test_vectorized_encode_plan_has_no_exchange(spark, sf_dir):
    """The decimal reference pays a vec_id-keyed aggregate exchange;
    pq_encode is ONE map-side Arrow pass — at 100 TB that is the
    difference between shuffling the corpus and not."""
    emb, cent = _sf_pq(spark, sf_dir)
    b = pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=8, dense=True)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
