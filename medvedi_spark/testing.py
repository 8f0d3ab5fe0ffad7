"""Public testing helpers — the user-facing equality assertions the
reference ships as ``medvedi.testing``, and the checksum action the
benchmarks time.

Semantics mirrored, not code: index names must match, column-name sets
must match, and every column compares element-wise with descent into
nested ndarray payloads (object columns holding arrays compare their
arrays recursively, and both sides must agree on *being* an array).
Non-object columns defer to :func:`numpy.testing.assert_array_equal`,
which treats NaN/NaT as equal in the same position — the behavior
reference users rely on for float and datetime columns.
"""

from __future__ import annotations

from typing import Hashable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medvedi_spark.frame import MDF, Index

__all__ = ["assert_frame_equal", "assert_index_equal", "checksum"]


def checksum(df: DataFrame) -> DataFrame:
    """One-row frame of the row count and the hash sum of every column.

    Collecting it evaluates every column of every row. A bare ``count()``
    lets Catalyst prune columns, and with them joins that cannot change
    the row count (d18's left joins plan none under count)."""
    return df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*[F.col(c) for c in df.columns])))


def assert_frame_equal(df1: MDF, df2: MDF) -> None:
    """Assert that two MDFs are equivalent (index, columns, values)."""
    assert df1._index == df2._index, "indexes mismatch"
    assert set(df1.columns) == set(df2.columns), (
        f"column names mismatch: {sorted(df1.columns)} != {sorted(df2.columns)}"
    )
    for name in df1.columns:
        _compare_column(df1[name], df2[name], name)


def assert_index_equal(i1: Index, i2: Index) -> None:
    """Assert that two Index views are equivalent (names + level values)."""
    assert i1.names == i2.names, f"index names mismatch: {i1.names} != {i2.names}"
    assert_frame_equal(i1._parent[list(i1.names)], i2._parent[list(i2.names)])


def _compare_column(v1: np.ndarray, v2: np.ndarray, path: Hashable) -> None:
    if v1.dtype.kind == "O" or v2.dtype.kind == "O":
        assert v1.dtype == v2.dtype, f"{path}: dtype {v1.dtype} != {v2.dtype}"
        assert v1.shape == v2.shape, f"{path}: shape {v1.shape} != {v2.shape}"
        for i, (a, b) in enumerate(zip(v1, v2)):
            _compare_cell(a, b, f"{path}[{i}]")
    else:
        np.testing.assert_array_equal(v1, v2, err_msg=str(path))


def _compare_cell(a, b, path: str) -> None:
    a_is_arr = isinstance(a, np.ndarray)
    b_is_arr = isinstance(b, np.ndarray)
    if a_is_arr or b_is_arr:
        # nested payload: both sides must be arrays, compared recursively
        assert a_is_arr and b_is_arr, f"{path}: ndarray vs non-ndarray"
        _compare_column(a, b, path)
        return
    if isinstance(a, float) and isinstance(b, float) and a != a:
        assert b != b, f"{path}: NaN != {b!r}"
        return
    assert a == b, f"{path}: {a!r} != {b!r}"
