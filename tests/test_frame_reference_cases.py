"""Edge cases ported from the reference test suite (SURVEY §5).

Each test names the reference case it encodes (path:line into
/root/reference). Behavior is re-expressed against the MDF wrapper; the
assertions are the reference's observable contract, not its code.
"""

from __future__ import annotations

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from medvedi_spark.frame import MDF, concat, join


# -- explode (tests/test_explode.py:10-32) ----------------------------------


@pytest.mark.parametrize("ignore_index", [False, True])
def test_explode_scalar_mixed(spark, ignore_index):
    """Scalar cells in a list column stay as single rows
    (`medvedi/dataframe.py:581-606`, `tests/test_explode.py:10-22`).
    Delta vs reference: payloads must share one element type (Spark
    columns are typed; the reference's untyped object arrays are not)."""
    df = MDF(
        {"a": np.array([[1, 2], [3], [4, 5, 6], 7], dtype=object), "b": [9, 8, 7, 6]},
        index="b",
        spark=spark,
    )
    out = df.explode("a", ignore_index=ignore_index)
    assert_array_equal(out["a"], [1, 2, 3, 4, 5, 6, 7])
    assert_array_equal(out["b"], [9, 9, 8, 7, 7, 7, 6])
    assert out.index.names == (() if ignore_index else ("b",)) or not ignore_index


def test_explode_non_object_noop_copy(spark):
    """Non-list column: explode returns an equal copy
    (`tests/test_explode.py:25-32`)."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    out = df.explode("a")
    assert out is not df
    assert_array_equal(out["a"], [0, 1, 2])


# -- groupby with external array keys (tests/test_groupby.py:50-57) ---------


def test_groupby_external_array_key(spark):
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 5, 6, 7, 8, 9, 10]}, spark=spark)
    g = df.groupby([0, 1, 0, 1, 0, 1, 0])
    out = g.agg(n=("b", "count"), total=("b", "sum")).to_pandas()
    # stable-sorted by key: group 0 (rows 0,2,4,6), group 1 (rows 1,3,5)
    assert out["n"].tolist() == [4, 3]
    assert out["total"].tolist() == [4 + 6 + 8 + 10, 5 + 7 + 9]


def test_groupby_external_array_wrong_length_raises(spark):
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3]}, spark=spark)
    with pytest.raises(ValueError):
        df.groupby([0, 1, 0, 1, 0, 1])


# -- empty-frame joins (tests/test_join.py:54-75,217-249) -------------------


@pytest.mark.parametrize("how", ["left", "inner", "outer"])
def test_join_with_empty_right(spark, how):
    left = MDF({"a": [1, 2, 3], "b": [4, 5, 6]}, index="a", spark=spark)
    empty = MDF({"a": np.array([], dtype=np.int64), "c": np.array([], dtype=np.int64)}, index="a", spark=spark)
    out = join(left, empty, how=how)
    if how in ("left", "outer"):
        assert_array_equal(out["a"], [1, 2, 3])
        assert_array_equal(out["c"], [0, 0, 0])  # int fill default (δ-1)
    else:
        assert out.empty


def test_join_two_empty(spark):
    e1 = MDF({"a": np.array([], dtype=np.int64)}, index="a", spark=spark)
    e2 = MDF({"a": np.array([], dtype=np.int64)}, index="a", spark=spark)
    assert join(e1, e2, how="outer").empty


def test_join_outer_left_empty(spark):
    empty = MDF({"a": np.array([], dtype=np.int64), "b": np.array([], dtype=np.int64)}, index="a", spark=spark)
    right = MDF({"a": [7, 9], "c": [1, 2]}, index="a", spark=spark)
    out = join(empty, right, how="outer")
    assert_array_equal(out["a"], [7, 9])
    assert_array_equal(out["b"], [0, 0])
    assert_array_equal(out["c"], [1, 2])


# -- concat (tests/test_concat.py:34-76) ------------------------------------


def test_concat_index_mismatch_raises_without_ignore(spark):
    a = MDF({"a": [3, 4, 5]}, spark=spark)
    b = MDF({"a": [0, 1, 2]}, index="a", spark=spark)
    with pytest.raises(ValueError):
        concat(a, b)


def test_concat_index_mismatch_ok_with_ignore_index(spark):
    a = MDF({"a": [3, 4, 5]}, spark=spark)
    b = MDF({"a": [0, 1, 2]}, index="a", spark=spark)
    out = concat(a, b, ignore_index=True)
    assert_array_equal(out["a"], [3, 4, 5, 0, 1, 2])


def test_concat_with_take_slice(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    out = concat(df, df.take([1, 2]), ignore_index=True)
    assert_array_equal(out["a"], [0, 1, 2, 1, 2])


# -- sample with weights (tests/test_sample.py; dataframe.py:523-548) -------


def test_sample_weights_bias(spark):
    np.random.seed(7)
    df = MDF({"a": [0, 1]}, spark=spark)
    picks = [df.sample(n=1, weights=[0.999, 0.001])["a"][0] for _ in range(10)]
    assert picks.count(0) >= 9


# -- astype errors='ignore' (dataframe.py:550-579) --------------------------


def test_astype_ignore_keeps_failed_column_unchanged(spark):
    """Reference `tests/test_astype.py:27-34`: when a conversion fails
    under errors='ignore', the COLUMN stays at its original dtype and
    values — no partial per-value nulling."""
    df = MDF({"a": np.array(["1", "x", "3"], dtype=object)}, spark=spark)
    out = df.astype({"a": np.int64}, errors="ignore")
    np.testing.assert_array_equal(out["a"], ["1", "x", "3"])
    assert out.dtype["a"] == np.dtype(object)


def test_astype_raise_on_bad_value(spark):
    df = MDF({"a": np.array(["1", "x"], dtype=object)}, spark=spark)
    with pytest.raises(Exception):
        df.astype({"a": np.int64}, errors="raise").to_pandas()


# -- isin invert (dataframe.py:901-929) -------------------------------------


def test_isin_invert(spark):
    df = MDF({"a": [1, 2, 3, 4]}, spark=spark)
    mask = df.isin("a", [2, 4], invert=True)
    assert_array_equal(mask, [True, False, True, False])


# -- set_index drop (tests/test_index.py:18-79) -----------------------------


def test_set_index_drop_removes_old_levels(spark):
    df = MDF({"a": [1, 2], "b": [3, 4], "c": [5, 6]}, index="a", spark=spark)
    out = df.set_index("b", drop=True)
    assert out.index.names == ("b",)
    assert "a" not in out.columns


# -- fillna per-column (dataframe.py:1006-1030) -----------------------------


def test_fillna_single_column_only(spark):
    df = MDF(
        {"x": np.array([1.0, np.nan]), "y": np.array([np.nan, 2.0])},
        spark=spark,
    )
    out = df.fillna(0.0, column="x")
    pdf = out.to_pandas()
    assert pdf["x"].tolist() == [1.0, 0.0]
    assert np.isnan(pdf["y"][0])


# -- iloc with array / slice (dataframe.py:264-287) -------------------------


def test_iloc_array_selection(spark):
    df = MDF({"a": [10, 20, 30, 40]}, spark=spark)
    out = df.iloc[np.array([3, 0, 2])]
    assert_array_equal(out["a"], [40, 10, 30])


# -- Grouper reduceat protocol (tests/test_groupby.py:43-57) -----------------


def test_grouper_reduceat_protocol(spark):
    df = MDF({"a": [3, 3, 3, 2, 2, 1, 1], "b": [9, 10, 7, 8, 4, 5, 6]}, spark=spark)
    g = df.groupby("a")
    agg = np.add.reduceat(df["b"][g.order], g.reduceat_indexes())
    assert_array_equal(agg, [11, 12, 26])
    assert_array_equal(g.counts, [2, 2, 3])


def test_grouper_external_order_counts(spark):
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 5, 6, 7, 8, 9, 10]}, spark=spark)
    g = df.groupby([0, 1, 0, 1, 0, 1, 0])
    assert_array_equal(g.counts, [4, 3])
    assert_array_equal(g.order, [0, 2, 4, 6, 1, 3, 5])


def test_grouper_group_indexes(spark):
    df = MDF({"a": [3, 3, 1, 2]}, spark=spark)
    g = df.groupby("a")
    # first row position of each sorted group: 1 -> row 2, 2 -> row 3, 3 -> row 0
    assert_array_equal(g.group_indexes(), [2, 3, 0])


# -- sort_values protocol (reference tests/test_sort_values.py) --------------


def test_sort_values_inplace_and_empty_by(spark):
    m = MDF({"a": [3, 2, 1]}, spark=spark)
    ret = m.sort_values("a", inplace=True, ignore_index=True)
    assert ret is m
    assert_array_equal(m["a"], [1, 2, 3])
    assert m.index.names == ()
    with pytest.raises(ValueError):
        m.sort_values([])


def test_sort_index_bad_level_type(spark):
    m = MDF({"a": [3, 2, 1]}, index="a", spark=spark)
    with pytest.raises(TypeError):
        m.sort_index("a")


def test_sort_values_keeps_index_when_not_ignored(spark):
    m = MDF({"a": [3, 2, 1], "i": [0, 1, 2]}, index="i", spark=spark)
    out = m.sort_values("a")
    assert out.index.names == ("i",)
    assert_array_equal(out["a"], [1, 2, 3])
    assert_array_equal(out["i"], [2, 1, 0])


# -- dedup key validation (reference tests/test_duplicates.py:48-58) ---------


def test_drop_duplicates_bad_keys(spark):
    m = MDF({"a": [1, 2, 2, 3], "b": [0, 1, 2, 3]}, spark=spark)
    with pytest.raises(KeyError):
        m.drop_duplicates("c")
    with pytest.raises(KeyError):
        m.duplicated("c")
    with pytest.raises(TypeError):
        m.drop_duplicates(object())
    with pytest.raises(ValueError):
        m.duplicated([])


def test_drop_duplicates_multichar_column_name(spark):
    """A scalar subset must not be iterated character-wise."""
    m = MDF({"ab": [1, 1, 2], "v": [1, 2, 3]}, spark=spark)
    out = m.drop_duplicates("ab")
    assert_array_equal(out["v"], [1, 3])


def test_drop_duplicates_inplace_ignore_index(spark):
    m = MDF({"a": [1, 2, 2, 3], "b": [0, 1, 2, 3]}, index="b", spark=spark)
    ret = m.drop_duplicates("a", inplace=True, ignore_index=True)
    assert ret is m
    assert_array_equal(m["a"], [1, 2, 3])
    assert_array_equal(m["b"], [0, 1, 3])
    assert m.index.names == ()


def test_groupby_mixed_dtype_keys_order_counts(spark):
    """Reference tests/test_groupby.py:24-34: two-key grouping over
    mixed int+string dtypes; order is the stable sorted permutation and
    counts follow sorted-key group order (note '10' < '4' as a string)."""
    m = MDF(
        {
            "a": [1, 1, 2, 2, 3, 3, 3],
            "b": np.array(["4", "4", "6", "7", "10", "8", "8"]),
        },
        spark=spark,
    )
    g = m.groupby("a", "b")
    assert g.order.tolist() == [0, 1, 2, 3, 4, 5, 6]
    assert g.counts.tolist() == [2, 1, 1, 1, 2]


def test_groupby_empty_frame(spark):
    m = MDF({"a": np.array([], dtype=np.int64)}, spark=spark)
    g = m.groupby("a")
    assert len(g.reduceat_indexes()) == 0
    assert len(g.group_indexes()) == 0
    assert list(g) == []
