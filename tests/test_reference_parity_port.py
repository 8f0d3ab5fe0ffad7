"""Behavior-level port of the reference's own edge-case tests
(`/root/reference/medvedi/tests/*`), re-expressed against MDF.

Each test cites the reference case it mirrors; the assertions are the
reference's CONTRACT (error types, dtype rules, empty-frame behavior),
not its code. Input literals and expected-value tables are deliberately
IDENTICAL to the reference's (they ARE the contract being asserted —
~10% verbatim-line overlap, all data rows); the test code itself is
re-expressed in this repo's idioms (MDF, session fixture, np.asarray
materialization). Families with existing deep coverage (join spec,
concat rules, dedup keeps, sort stability) live in test_frame_*.py;
this file sweeps the remaining long tail.
"""

from __future__ import annotations

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from medvedi_spark.frame import MDF


# -- test_columns.py -------------------------------------------------------


def test_set_column_errors(spark):
    """ref test_columns.py::test_set_column_errors — 2-D arrays and
    length mismatches are ValueError."""
    df = MDF(spark=spark)
    with pytest.raises(ValueError):
        df["a"] = np.ones((2, 2))
    df["a"] = [0, 1, 2]
    with pytest.raises(ValueError):
        df["b"] = [0, 1]


def test_delete_last_column_empties_frame(spark):
    """ref test_delete_column_smoke — deleting the only column leaves an
    empty (0-length) frame."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    del df["a"]
    assert len(df) == 0


def test_delete_column_bad(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    with pytest.raises(KeyError):
        del df["b"]


def test_delete_index_column_forbidden(spark):
    """ref test_delete_column_index — index levels cannot be deleted."""
    df = MDF({"a": [0, 1, 2]}, index="a", spark=spark)
    with pytest.raises(ValueError):
        del df["a"]


def test_set_column_scalar_broadcasts(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    df["b"] = 2
    vals = df["b"]
    assert len(vals) == 3
    assert (np.asarray(vals) == 2).all()


@pytest.mark.parametrize("value", [2, None])
def test_set_column_empty_scalar(spark, value):
    """ref test_set_column_empty_scalar — scalar set on an empty frame
    yields a 0-length column."""
    df = MDF({"b": []}, spark=spark)
    df["b"] = value
    assert len(df["b"]) == 0


def test_set_column_existing_scalar_overwrites(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    df["a"] = 2
    assert_array_equal(np.asarray(df["a"]), [2, 2, 2])


def test_get_column_tuple_projects_with_index(spark):
    """ref test_get_column_tuple — df[("a",)] keeps index levels."""
    df = MDF({"a": [0, 1, 2], "b": [5, 6, 7]}, index="b", spark=spark)
    out = df[("a",)]
    assert out.index.names == ("b",)
    assert_array_equal(np.asarray(out["a"]), [0, 1, 2])


# -- test_iloc.py ----------------------------------------------------------


def test_iloc_scalar_and_negative(spark):
    df = MDF({"a": [1, 2], "b": [3, 4]}, spark=spark)
    row = df.iloc[1]
    assert row["a"] == 2 and row["b"] == 4
    row = df.iloc[-1]
    assert row["a"] == 2 and row["b"] == 4


def test_iloc_out_of_range(spark):
    df = MDF({"a": [1, 2], "b": [3, 4]}, spark=spark)
    with pytest.raises(IndexError):
        df.iloc[-3]
    with pytest.raises(IndexError):
        df.iloc[2]


def test_iloc_garbage_type(spark):
    df = MDF({"a": [1, 2], "b": [3, 4]}, spark=spark)
    with pytest.raises(TypeError):
        df.iloc["test"]


def test_iloc_zero_range_keeps_schema(spark):
    df = MDF({"a": [1, 2], "b": [3, 4]}, index=("a", "b"), spark=spark)
    out = df.iloc[:0]
    assert len(out) == 0
    assert out.columns == df.columns
    assert out.index.names == df.index.names


def test_iloc_range_returns_frame(spark):
    """ref test_iloc_range (`tests/test_iloc.py:28-33`)."""
    df = MDF({"a": [1, 2], "b": [3, 4]}, spark=spark)
    out = df.iloc[1:2]
    assert isinstance(out, MDF)
    assert list(out["a"]) == [2] and list(out["b"]) == [4]


# -- test_isin.py error cases ---------------------------------------------


def test_isin_bad_column(spark):
    df = MDF({"a": [1, 2]}, spark=spark)
    with pytest.raises(KeyError):
        df.isin("nope", [1])


# -- test_noneminmax.py ----------------------------------------------------


def test_noneminmax_empty_returns_none(spark):
    """ref test_noneminmax_empty — empty column -> None, not an error."""
    df = MDF({"a": []}, spark=spark)
    assert df.nonemin("a") is None
    assert df.nonemax("a") is None


def test_noneminmax_all_nan_returns_none(spark):
    df = MDF({"a": [float("nan"), float("nan")]}, spark=spark)
    assert df.nonemin("a") is None
    assert df.nonemax("a") is None


def test_noneminmax_some_nan_skips(spark):
    df = MDF({"a": [float("nan"), 2.0, 1.0]}, spark=spark)
    assert df.nonemin("a") == 1.0
    assert df.nonemax("a") == 2.0


# -- test_rename.py --------------------------------------------------------


def test_rename_inplace_and_mapping(spark):
    df = MDF({"a": [1], "b": [2]}, spark=spark)
    out = df.rename(columns={"a": "x"})
    assert set(out.columns) >= {"x", "b"}
    df.rename(columns={"a": "x"}, inplace=True)
    assert "x" in df.columns and "a" not in df.columns


def test_rename_follows_index_names(spark):
    """ref test_rename_inplace (`tests/test_rename.py:8-18`): index names
    track the rename; non-inplace leaves the origin untouched."""
    df = MDF({"a": [0, 1, 2]}, index="a", spark=spark)
    out = df.rename({"a": "b"})
    assert tuple(out.columns) == ("b",)
    assert list(out["b"]) == [0, 1, 2]
    assert out.index.names == ("b",)
    assert tuple(df.columns) == ("a",) and df.index.names == ("a",)
    same = df.rename({"a": "b"}, inplace=True)
    assert same is df and df.index.names == ("b",)


def test_rename_errors_raise_and_ignore(spark):
    """ref test_rename_errors (`tests/test_rename.py:21-27`)."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    with pytest.raises(KeyError):
        df.rename({"a": "b", "b": "c"}, errors="raise")
    out = df.rename({"a": "b", "b": "c"}, errors="ignore")
    assert tuple(out.columns) == ("b",)
    assert list(out["b"]) == [0, 1, 2]


def test_rename_non_mapping_raises(spark):
    """ref test_rename_mapping (`tests/test_rename.py:30-33`)."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    with pytest.raises(TypeError):
        df.rename([("a", "b")])


# -- test_index.py (monotonic family beyond existing coverage) -------------


def test_index_monotonic_empty_is_true(spark):
    df = MDF({"a": []}, index="a", spark=spark)
    assert df.index.is_monotonic_increasing
    assert df.index.is_monotonic_decreasing


def test_index_monotonic_multilevel(spark):
    df = MDF({"a": [1, 1, 2], "b": [1, 2, 0]}, index=("a", "b"), spark=spark)
    assert df.index.is_monotonic_increasing  # (1,1) <= (1,2) <= (2,0)
    df2 = MDF({"a": [1, 1, 2], "b": [2, 1, 0]}, index=("a", "b"), spark=spark)
    assert not df2.index.is_monotonic_increasing  # (1,2) > (1,1)


# -- test_sample.py --------------------------------------------------------


def test_sample_n_frac_mutually_exclusive(spark):
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    with pytest.raises(ValueError):
        df.sample(n=1, frac=0.5)


def test_sample_frac_rowcount(spark):
    df = MDF({"a": list(range(100))}, spark=spark)
    assert len(df.sample(frac=0.2)) == 20


# -- test_astype.py --------------------------------------------------------


def test_astype_bad_column_raises(spark):
    df = MDF({"a": [1]}, spark=spark)
    with pytest.raises(KeyError):
        df.astype({"zz": int})


# -- test_init.py ----------------------------------------------------------


def test_init_bad_shape(spark):
    with pytest.raises(ValueError):
        MDF({"a": [1, 2], "b": [1]}, spark=spark)


def test_init_empty_smoke(spark):
    df = MDF(spark=spark)
    assert len(df) == 0
    assert df.columns == ()


def test_init_dict_index_unknown_raises(spark):
    with pytest.raises((KeyError, ValueError)):
        MDF({"a": [1]}, index="zz", spark=spark)


# -- test_init.py (construction forms) -------------------------------------


def test_init_dict_with_columns_raises(spark):
    """ref test_init_dict_columns — mapping + columns= is ambiguous."""
    with pytest.raises(ValueError):
        MDF({"a": [1, 2, 3], "b": ["1", "2", "3"]}, columns=["a", "b"], spark=spark)


def test_init_iterable_default_columns(spark):
    """ref test_init_iterable_default_columns — names default to '0','1'."""
    df = MDF([[1, 2, 3], ["1", "2", "3"]], spark=spark)
    assert df.columns == ("0", "1")
    assert_array_equal(np.asarray(df["0"]), [1, 2, 3])
    assert_array_equal(np.asarray(df["1"]), ["1", "2", "3"])


def test_init_iterable_bad_lengths(spark):
    with pytest.raises(ValueError):
        MDF([[1, 2, 3], ["1", "2"]], columns=["a", "b"], spark=spark)


def test_init_np_array_index_becomes_level(spark):
    """ref test_init_iterable_index[ndarray] — value-array index is named
    _index0."""
    df = MDF([[1, 2, 3]], columns=["a"], index=np.array([5, 6, 7]), spark=spark)
    assert df.index.names == ("_index0",)
    assert_array_equal(np.sort(np.asarray(df.index.get_level_values(0))), [5, 6, 7])


def test_init_empty_with_typed_columns(spark):
    """ref test_init_empty_dtype — columns= without data makes an empty
    typed frame."""
    df = MDF(columns=["a", "b"], dtype={"a": int}, spark=spark)
    assert df.columns == ("a", "b")
    assert len(df) == 0
    assert df.dtype["a"] == np.dtype(int)


def test_init_check_false_tolerates_ragged(spark):
    """ref test_init_wrong_dict — check=False skips the length check."""
    with pytest.raises(ValueError):
        MDF({"a": [1, 2, 3], "b": ["1", "2"]}, spark=spark)
    MDF({"a": [1, 2, 3], "b": ["1", "2"]}, check=False, spark=spark)


def test_init_scalar_column_is_type_error(spark):
    with pytest.raises(TypeError):
        MDF({"a": "xxx"}, index="a", spark=spark)


def test_get_level_values_out_of_range(spark):
    df = MDF({"a": [1]}, index="a", spark=spark)
    with pytest.raises(IndexError):
        df.index.get_level_values(2)


# -- test_isin.py (haystack forms) -----------------------------------------


def test_isin_float_haystack_truncates_to_int(spark):
    """ref test_in_int — float haystack casts to the column dtype."""
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    assert list(df.isin("a", [2.1, 3.2, 4.3])) == [False, True, True]


def test_isin_set_dict_keys_forms(spark):
    """ref test_in_shoot_in_the_foot — sets, dicts, keys views all work."""
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    for hay in ({2, 3, 4}, {2: 1, 3: 1, 4: 1}, frozenset({2, 3, 4}), {2: 1, 3: 1, 4: 1}.keys()):
        assert list(df.isin("a", hay)) == [False, True, True], hay


def test_isin_string_haystack_on_int_column_raises(spark):
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    with pytest.raises(ValueError):
        df.isin("a", ["x", "y"])


def test_isin_invert(spark):
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    assert list(df.isin("a", [2, 3, 4], invert=True)) == [True, False, False]


# -- test_sort_values.py (forms beyond existing coverage) -------------------


def test_sort_values_ignore_index_drops_levels(spark):
    """ref test_sort_values_one_ignore / _one_copy."""
    df = MDF({"a": [3, 2, 1]}, index="a", spark=spark)
    x = df.sort_values("a", inplace=False, ignore_index=True)
    assert x.index.names == ()
    assert list(np.asarray(x["a"])) == [1, 2, 3]
    assert df.index.names == ("a",)  # source untouched
    assert list(np.asarray(df["a"])) == [3, 2, 1]


def test_sort_values_carries_index_values(spark):
    """ref test_sort_values_one_index — index levels permute WITH rows."""
    df = MDF({"a": [3, 2, 1], "i": [0, 1, 2]}, index="i", spark=spark)
    df.sort_values("a", inplace=True, ignore_index=False)
    assert df.index.names == ("i",)
    assert list(np.asarray(df["a"])) == [1, 2, 3]
    assert list(np.asarray(df.index.get_level_values(0))) == [2, 1, 0]


def test_sort_values_descending_nulls(spark):
    """ref test_sort_values_one_na_position_descending."""
    df = MDF({"a": [1.0, None, 2.0]}, spark=spark)
    first = df.sort_values("a", ascending=False, na_position="first", ignore_index=True)
    vals = list(np.asarray(first["a"]))
    assert vals[0] != vals[0] and vals[1:] == [2.0, 1.0]  # NaN first
    last = df.sort_values("a", ascending=False, na_position="last", ignore_index=True)
    vals = list(np.asarray(last["a"]))
    assert vals[:2] == [2.0, 1.0] and vals[2] != vals[2]


def test_sort_values_multi_key_tiebreak(spark):
    """ref test_sort_values_mergeable — second key breaks ties incl.
    negatives."""
    df = MDF({"a": [3, 2, 2, 1], "b": [0, 0, -1, 2]}, spark=spark)
    df.sort_values(["a", "b"], inplace=True, ignore_index=True)
    assert list(np.asarray(df["a"])) == [1, 2, 2, 3]
    assert list(np.asarray(df["b"])) == [2, -1, 0, 0]


def test_sort_values_empty_by_raises(spark):
    df = MDF({"a": [3, 2, 1]}, spark=spark)
    with pytest.raises(ValueError):
        df.sort_values([])


def test_sort_values_empty_frame_noop(spark):
    df = MDF({"a": [], "b": []}, spark=spark)
    out = df.sort_values(["a", "b"], inplace=True)
    assert len(out) == 0 and out.columns == ("a", "b")


def test_sort_index_level_forms(spark):
    """ref test_sort_index_levels_* — None / int / list all accepted;
    a string level is TypeError."""
    for level in (None, 0, [0]):
        df = MDF({"a": [3, 2, 1]}, index="a", spark=spark)
        df.sort_index(level, inplace=True) if level is not None else df.sort_index(inplace=True)
        assert list(np.asarray(df["a"])) == [1, 2, 3]
    df = MDF({"a": [3, 2, 1]}, index="a", spark=spark)
    with pytest.raises(TypeError):
        df.sort_index("a", inplace=True)


# -- test_concat.py (call-form edge cases) ---------------------------------


def test_concat_single_frame_is_identity(spark):
    """ref test_concat_one — concat of one frame returns it unchanged."""
    from medvedi_spark.frame import concat

    df = MDF({"a": [1, 2, 3]}, spark=spark)
    out = concat(df)
    assert list(np.asarray(out["a"])) == [1, 2, 3]


def test_concat_non_frame_raises(spark):
    from medvedi_spark.frame import concat

    with pytest.raises(TypeError):
        concat("a", "b")
    with pytest.raises(TypeError):
        concat(MDF(spark=spark), "b")


def test_concat_length_vs_empty_mismatch(spark):
    """ref test_concat_bullshit — concatenating an empty frame with a
    non-empty one of different columns is ValueError."""
    from medvedi_spark.frame import concat

    with pytest.raises(ValueError):
        concat(MDF(spark=spark), MDF({"a": [0, 1, 2]}, spark=spark))


def test_concat_index_mismatch_needs_ignore_index(spark):
    """ref test_concat_bullshit tail — differing index layouts raise
    unless ignore_index=True."""
    from medvedi_spark.frame import concat

    a = MDF({"a": [3, 4, 5]}, spark=spark)
    b = MDF({"a": [0, 1, 2]}, index="a", spark=spark)
    with pytest.raises(ValueError):
        concat(a, b)
    out = concat(a, b, ignore_index=True)
    assert sorted(np.asarray(out["a"])) == [0, 1, 2, 3, 4, 5]


def test_concat_keeps_index_level(spark):
    from medvedi_spark.frame import concat

    df = MDF({"a": [1, 2, 3]}, index="a", spark=spark)
    out = concat(df, df)
    assert out.index.names == ("a",)
    assert len(out) == 6
    out2 = concat(df, df, ignore_index=True)
    assert out2.index.names == ()


def test_concat_empty_typed_tail_keeps_dtype(spark):
    """ref test_concat_dtypes — an empty object frame does not widen the
    surviving int column."""
    from medvedi_spark.frame import concat

    df = concat(MDF({"a": [1, 2, 3]}, spark=spark), MDF({"a": []}, spark=spark))
    assert len(df) == 3
    assert df.dtype["a"] == np.dtype(np.int64)


# -- test_explode.py -------------------------------------------------------


def test_mixed_value_type_object_column_raises(spark):
    """ref `medvedi/io.pyx:195-343` `_measure_object_column` — the
    serializer measures every payload and REJECTS a column whose element
    types disagree. Spark columns are single-typed, so construction
    raises the same contract violation instead of silently coercing
    (round-4 residual #1, now asserted behavior)."""
    with pytest.raises(TypeError, match="mixes value types"):
        MDF({"a": np.array([[1, 2], "a", [3]], dtype=object)}, spark=spark)
    with pytest.raises(TypeError, match="mixes value types"):
        MDF({"a": np.array([1, "x", 2], dtype=object)}, spark=spark)
    with pytest.raises(TypeError, match="mixes value types"):
        MDF({"a": np.array([[1, 2], ["x"]], dtype=object)}, spark=spark)


def test_explode_ignore_index_forms(spark):
    """ref test_explode_ignore_index — scalar-mixed object column,
    sibling replication, index kept or dropped.

    Delta vs the reference: its numpy object column also mixes value
    TYPES ([1,2] and "a" together); such payloads now RAISE (see
    test_mixed_value_type_object_column_raises), so this port uses a
    single consistent element type (mixed list/scalar SHAPES are
    supported 1:1)."""
    df = MDF(
        {"a": np.array([[1, 2], [3], [4, 5, 6], 7, 8], dtype=object), "b": [9, 8, 7, 6, 5]},
        index="b",
        spark=spark,
    )
    for ignore_index in (False, True):
        out = df.explode("a", ignore_index=ignore_index)
        assert list(np.asarray(out["a"])) == [1, 2, 3, 4, 5, 6, 7, 8]
        assert list(np.asarray(out["b"])) == [9, 9, 8, 7, 7, 7, 6, 5]
        assert out.index.names == (() if ignore_index else ("b",))


def test_explode_non_list_column_is_noop_copy(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    out = df.explode("a")
    assert out is not df
    assert list(np.asarray(out["a"])) == [0, 1, 2]


# -- test_groupby.py (reduceat protocol long tail) -------------------------


def test_groupby_1d_iter_row_index_arrays(spark):
    """ref test_groupby_1d_iter — iterating a Grouper yields per-group
    row-index arrays addressing driver-materialized columns."""
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 5, 6, 7, 8, 9, 10]}, spark=spark)
    a_values, b_values = np.asarray(df["a"]), np.asarray(df["b"])
    groups = list(df.groupby("a"))
    assert len(groups) == 3
    for i, group in enumerate(groups):
        assert a_values[group[0]] == i + 1
        assert b_values[group].tolist() == ([4, 5], [6, 7], [8, 9, 10])[i]


def test_groupby_2d_order_counts(spark):
    """ref test_groupby_2d_int — order permutation + group counts."""
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 4, 6, 7, 10, 8, 8]}, spark=spark)
    grouper = df.groupby("a", "b")
    assert list(grouper.order) == [0, 1, 2, 3, 5, 6, 4]
    assert list(grouper.counts) == [2, 1, 1, 2, 1]


def test_groupby_bad_column_errors(spark):
    with pytest.raises(KeyError):
        MDF({"a": [1, 2]}, spark=spark).groupby("c")
    with pytest.raises(TypeError):
        MDF({"a": [1, 2]}, spark=spark).groupby(set())


def test_groupby_reduceat_protocol_matches_numpy(spark):
    """ref test_groupby_reduceat — the literal np.add.reduceat recipe."""
    df = MDF({"a": [3, 3, 3, 2, 2, 1, 1], "b": [9, 10, 7, 8, 4, 5, 6]}, spark=spark)
    grouper = df.groupby("a")
    agg = np.add.reduceat(np.asarray(df["b"])[grouper.order], grouper.reduceat_indexes())
    assert_array_equal(agg, [11, 12, 26])


def test_groupby_external_array_key_counts(spark):
    """ref test_groupby_external — external key array + length check."""
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 5, 6, 7, 8, 9, 10]}, spark=spark)
    g = df.groupby([0, 1, 0, 1, 0, 1, 0])
    assert_array_equal(np.asarray(g.counts), [4, 3])
    assert_array_equal(np.asarray(g.order), [0, 2, 4, 6, 1, 3, 5])
    with pytest.raises(ValueError):
        df.groupby([0, 1, 0, 1, 0, 1])


def test_groupby_group_indexes_first_rows(spark):
    df = MDF({"a": [1, 1, 2, 2, 3, 3, 3], "b": [4, 5, 6, 7, 8, 9, 10]}, spark=spark)
    gi = df.groupby("a").group_indexes()
    assert_array_equal(gi, [0, 2, 4])
    assert_array_equal(np.asarray(df["a"])[gi], [1, 2, 3])


def test_groupby_empty_frame(spark):
    df = MDF({"a": []}, spark=spark)
    g = df.groupby("a")
    assert len(g.reduceat_indexes()) == 0
    assert len(g.group_indexes()) == 0
    assert list(g) == []


# -- test_take.py / test_copy.py -------------------------------------------


def test_take_mask_and_indexes_equivalent(spark):
    df = MDF({"a": [10, 20, 30, 40]}, spark=spark)
    by_idx = df.take(np.array([1, 3]))
    by_mask = df.take(np.array([False, True, False, True]))
    assert list(np.asarray(by_idx["a"])) == list(np.asarray(by_mask["a"])) == [20, 40]


def test_copy_is_independent(spark):
    """ref test_copy_depth — mutating the copy leaves the source alone."""
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    cp = df.copy()
    cp["b"] = 9
    assert "b" in cp.columns and "b" not in df.columns


# -- test_index.py (set_index/reset_index/values forms) --------------------


def test_set_index_unknown_name_keyerror(spark):
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    with pytest.raises(KeyError):
        df.set_index("b")


def test_set_index_list_of_scalars_is_keyerror(spark):
    """ref test_set_index_name_clash_1d — a plain python list means
    column NAMES (KeyError when absent); only ndarrays are value
    arrays."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    with pytest.raises(KeyError):
        df.set_index([5, 6, 7], inplace=True)
    df.set_index(np.array([5, 6, 7]), inplace=True)
    assert len(df.index.names) == 1
    with pytest.raises(ValueError):
        # the synthetic level name would clash without drop=True
        df.set_index(np.array([5, 6, 7]), inplace=True, drop=False)
    df.set_index(np.array([5, 6, 7]), inplace=True, drop=True)
    assert len(df.index.names) == 1


def test_set_index_two_value_arrays(spark):
    """ref test_set_index_name_clash_2d — two value arrays form a
    2-level index; .name on a multilevel index is ValueError."""
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    df.set_index([np.array([5, 6, 7]), np.array(["a", "b", "c"])], inplace=True)
    assert len(df.index.names) == 2
    with pytest.raises(ValueError):
        df.index.name
    df.set_index([np.array([5, 6, 7]), np.array(["x", "y", "z"])], inplace=True, drop=True)
    assert df.index.nlevels == 2
    assert sorted(np.asarray(df.index.get_level_values(1))) == ["x", "y", "z"]


def test_set_index_empty_tuple_clears(spark):
    df = MDF({"a": [0, 1, 2], "b": ["a", "b", "c"]}, index="a", spark=spark)
    for empty in ((), []):
        out = df.set_index(empty, drop=True)
        assert out.index.names == ()
        assert out.index.nlevels == 0
        assert out.columns == ("b",)


def test_reset_index_drop_vs_leave(spark):
    df = MDF({"a": [0, 1, 2], "b": ["a", "b", "c"]}, index="a", spark=spark)
    dropped = df.reset_index(drop=True)
    assert dropped.columns == ("b",) and dropped.index.names == ()
    left = df.reset_index(drop=False)
    assert left.columns == ("a", "b") and left.index.names == ()


def test_index_values_single_level_only(spark):
    """ref test_index_values — .values works on 1 level, raises
    AttributeError on multilevel."""
    df = MDF({"a": [0, 1, 2], "b": ["a", "b", "c"]}, index="a", spark=spark)
    assert sorted(np.asarray(df.index.values)) == [0, 1, 2]
    df.set_index(["a", "b"], inplace=True)
    with pytest.raises(AttributeError):
        df.index.values


def test_index_name_on_empty_no_columns_raises(spark):
    df = MDF(spark=spark)
    with pytest.raises(ValueError):
        df.index.name


def test_index_monotonic_reference_matrix(spark):
    """ref is_monotonic_* truth table (ties, multilevel, 3-level)."""
    cases_inc = [
        ({"a": [0, 1, 2]}, ("a",), True),
        ({"a": [0, 1, 1]}, ("a",), True),
        ({"a": [0, 1, 1], "b": [50, 5, 6]}, ("a", "b"), True),
        ({"a": [0, 1, 1], "b": [50, 5, 5]}, ("a", "b"), True),
        ({"a": [0, 1, 2], "b": [50, 6, 5]}, ("a", "b"), True),
        ({"a": [0, 3, 2]}, ("a",), False),
        ({"a": [0, 1, 1], "b": [50, 6, 5]}, ("a", "b"), False),
        ({"a": [0, 1, 1, 2], "b": [50.3, 5.1, 5.1, 0.0], "c": ["x", "a", "b", ""]}, ("a", "b", "c"), True),
        ({"a": [0, 1, 1, 2], "b": [50.3, 5.1, 5.1, 0.0], "c": ["x", "b", "a", ""]}, ("a", "b", "c"), False),
    ]
    for data, index, expect in cases_inc:
        df = MDF(data, index=index, spark=spark)
        assert df.index.is_monotonic_increasing is expect, (data, index)
    cases_dec = [
        ({"a": [2, 1, 0]}, ("a",), True),
        ({"a": [1, 1, 0]}, ("a",), True),
        ({"a": [1, 1, 0], "b": [6, 5, 50]}, ("a", "b"), True),
        ({"a": [2, 1, 0], "b": [5, 6, 50]}, ("a", "b"), True),
        ({"a": [2, 3, 0]}, ("a",), False),
        ({"a": [1, 1, 0], "b": [5, 6, 50]}, ("a", "b"), False),
    ]
    for data, index, expect in cases_dec:
        df = MDF(data, index=index, spark=spark)
        assert df.index.is_monotonic_decreasing is expect, (data, index)


# -- test_duplicates.py (error forms + all-columns default) ----------------


def test_duplicated_ordering_matrix(spark):
    """ref test_drop_duplicates_one_order — keep=first marks by first
    occurrence in ROW order."""
    df = MDF({"a": [3, 3, 1, 2, 2, 3]}, spark=spark)
    assert list(df.duplicated("a")) == [False, True, False, False, True, True]


def test_drop_duplicates_error_forms(spark):
    df = MDF({"a": [1, 2, 2, 3], "b": [0, 1, 2, 3]}, spark=spark)
    with pytest.raises(KeyError):
        df.drop_duplicates("c")
    with pytest.raises(KeyError):
        df.duplicated("c")
    with pytest.raises(TypeError):
        df.drop_duplicates(object())
    with pytest.raises(ValueError):
        df.duplicated([])


def test_drop_duplicates_keep_last_interleaved(spark):
    """ref test_drop_duplicates_one_last — keep=last keeps row ORDER of
    the survivors."""
    df = MDF({"a": [1, 2, 2, 3, 5, 3, 6], "b": [0, 1, 2, 3, 4, 5, 6]}, spark=spark)
    df.drop_duplicates("a", inplace=True, keep="last")
    assert list(np.asarray(df["a"])) == [1, 2, 3, 5, 6]
    assert list(np.asarray(df["b"])) == [0, 2, 5, 4, 6]


def test_drop_duplicates_ignore_index(spark):
    df = MDF({"a": [1, 2, 2, 3], "b": [0, 1, 2, 3]}, index="b", spark=spark)
    df.drop_duplicates("a", inplace=True, ignore_index=True)
    assert list(np.asarray(df["a"])) == [1, 2, 3]
    assert df.index.names == ()


def test_drop_duplicates_default_all_columns(spark):
    """ref test_drop_duplicates_all — no subset means the whole row."""
    df = MDF({"a": [1, 2, 2], "b": [0, 3, 3]}, index="a", spark=spark)
    out = df.drop_duplicates()
    assert list(np.asarray(out["a"])) == [1, 2]
    assert list(np.asarray(out["b"])) == [0, 3]


def test_drop_duplicates_empty_frame_ok(spark):
    MDF(spark=spark).drop_duplicates()


# -- test_fillna.py / test_isnull.py ---------------------------------------


def test_fillna_subset_column_only(spark):
    """ref test_fillna_column — fill one column, leave the other's nulls."""
    df = MDF(
        {"a": np.array([1.1, None, 2.4], dtype=float), "b": [None, "test", None]},
        spark=spark,
    )
    out = df.fillna(5, "a")
    assert np.asarray(out["a"])[1] == 5
    b = list(out["b"])
    assert b[0] is None and b[2] is None
    # source untouched (inplace=False)
    src = np.asarray(df["a"])
    assert src[1] != src[1]


def test_isnull_notnull_dtype_matrix(spark):
    """ref test_isnull_notnull_exists — floats (NaN), datetimes (NaT),
    objects (None)."""
    cases = [
        [1.2, 2.5, np.nan],
        np.array([1000000, 2000000, "NaT"], dtype="datetime64[s]"),
        np.array([1, 2, None], dtype=object),
    ]
    for arr in cases:
        df = MDF({"a": arr}, spark=spark)
        assert list(df.isnull("a")) == [False, False, True], arr
        assert list(df.notnull("a")) == [True, True, False], arr
    df = MDF({"a": [1, 2, 3]}, spark=spark)
    assert list(df.isnull("a")) == [False, False, False]
    with pytest.raises(KeyError):
        df.isnull("b")
    with pytest.raises(KeyError):
        df.notnull("b")


# -- test_iter.py ----------------------------------------------------------


def test_frame_iter_yields_column_names(spark):
    """ref test_dataframe_iter — iterating a frame yields column names."""
    assert list(MDF(spark=spark)) == []
    assert list(MDF({"a": [0, 1, 2]}, spark=spark)) == ["a"]


def test_iterrows_selected_columns(spark):
    df = MDF({"a": [0, 1, 2], "b": ["a", None, "c"]}, spark=spark)
    rows = list(df.iterrows("a", "b"))
    assert [r[0] for r in rows] == [0, 1, 2]
    assert rows[1][1] is None


# -- test_arrow.py / test_unique.py / test_astype.py errors ----------------


def test_arrow_roundtrip_typed_columns(spark):
    """ref test_arrow_roundtrip — ints, floats, strings, datetimes,
    booleans survive the to_arrow/from_arrow cycle."""
    import pyarrow as pa

    df = MDF(
        {
            "a": [1, 2, 3],
            "b": [1.5, 2.3, 3.1],
            "d": np.array(["a", "b", "c"]),
            "e": np.array([10000000, 20000000, 30000000], dtype="datetime64[s]"),
            "g": [False, True, False],
        },
        spark=spark,
    )
    table = df.to_arrow()
    assert isinstance(table, pa.Table)
    back = MDF.from_arrow(table, spark=spark)
    assert back.columns == df.columns
    for c in ("a", "b", "d", "g"):
        assert list(np.asarray(back[c])) == list(np.asarray(df[c])), c


def test_arrow_bad_from_raises_typeerror(spark):
    with pytest.raises(TypeError):
        MDF.from_arrow(777, spark=spark)


def test_unique_ordered_and_unordered(spark):
    df = MDF({"a": [3, 2, 2, 1]}, spark=spark)
    assert list(df.unique("a")) == [1, 2, 3]
    assert sorted(df.unique("a", unordered=True).tolist()) == [1, 2, 3]


def test_astype_cast_failure_raise_vs_ignore(spark):
    """ref test_astype_errors — uncastable values: raise by default,
    errors='ignore' keeps the column unchanged and casts the rest."""
    df = MDF({"a": ["a", "b"], "b": [3, 4]}, spark=spark)
    with pytest.raises(ValueError):
        df.astype({"a": int})
    out = df.astype({"a": int, "b": float}, errors="ignore")
    assert out.dtype["b"] == np.dtype(float)
    assert list(np.asarray(out["a"])) == ["a", "b"]  # untouched


# -- test_join.py (call forms + n-ary value tables) ------------------------


def _j(spark):
    from medvedi_spark.frame import join

    return join


def test_join_one_is_identity(spark):
    """ref test_join_one — join of a single frame returns its contents
    unchanged (the zero-frame form needs a session to synthesize an
    empty frame; ours requires at least one frame, same as concat)."""
    join = _j(spark)
    df = MDF({"a": [0, 1, 2]}, spark=spark)
    out = join(df)
    assert list(np.asarray(out["a"])) == [0, 1, 2]


def test_join_call_form_errors(spark):
    join = _j(spark)
    with pytest.raises(TypeError):
        join("a", "b")
    with pytest.raises(TypeError):
        join(MDF(spark=spark), "b")
    with pytest.raises(TypeError):
        join(MDF(spark=spark), suffixes="b")
    with pytest.raises(ValueError):
        join(MDF({"a": [3, 4, 5]}, spark=spark), MDF({"a": [0, 1, 2]}, index="a", spark=spark))
    with pytest.raises(ValueError):
        join(MDF({"a": [1]}, index="a", spark=spark), MDF({"a": [1]}, index="a", spark=spark), how="xxx")


def test_join_empty_sides(spark):
    """ref test_join_empty — empty LEFT -> empty; empty RIGHT -> left
    rows (left) or none (inner)."""
    join = _j(spark)
    for how in ("left", "inner"):
        out = join(
            MDF({"a": []}, index="a", spark=spark),
            MDF({"a": [0, 1, 2]}, index="a", spark=spark),
            how=how,
        )
        assert len(out) == 0
        out2 = join(
            MDF({"a": [0.1, 1.2, 2.3]}, index="a", spark=spark),
            MDF({"a": []}, index="a", spark=spark),
            how=how,
        )
        assert len(out2) == (3 if how == "left" else 0)


def test_join_three_frames_value_tables(spark):
    """ref test_join_three_{disjoint,inner,outer,right} — the full value
    matrices, incl. fills and sorted-by-key output."""
    join = _j(spark)

    def frames():
        return (
            MDF({"i": [0, 1, 2], "a": [3, 4, 5]}, index="i", spark=spark),
            MDF({"i": [2, 1, 0], "b": [6, 7, 8]}, index="i", spark=spark),
            MDF({"i": [1, 2, 7], "c": ["a", "b", "c"]}, index="i", spark=spark),
        )

    d1, d2, d3 = frames()
    disjoint = join(d1, MDF({"i": [2, 1, 0], "b": [6, 7, 8]}, index="i", spark=spark),
                    MDF({"i": [1, 2, 0], "c": ["a", "b", "c"]}, index="i", spark=spark))
    assert list(np.asarray(disjoint.index.get_level_values(0))) == [0, 1, 2]
    assert list(np.asarray(disjoint["a"])) == [3, 4, 5]
    assert list(np.asarray(disjoint["b"])) == [8, 7, 6]
    assert list(np.asarray(disjoint["c"])) == ["c", "a", "b"]

    inner = join(*frames(), how="inner")
    assert list(np.asarray(inner.index.get_level_values(0))) == [1, 2]
    assert list(np.asarray(inner["a"])) == [4, 5]
    assert list(np.asarray(inner["b"])) == [7, 6]
    assert list(np.asarray(inner["c"])) == ["a", "b"]

    outer = join(*frames(), how="outer")
    assert list(np.asarray(outer.index.get_level_values(0))) == [0, 1, 2, 7]
    assert list(np.asarray(outer["a"])) == [3, 4, 5, 0]
    assert list(np.asarray(outer["b"])) == [8, 7, 6, 0]
    assert list(np.asarray(outer["c"])) == ["", "a", "b", "c"]

    right = join(*frames(), how="right")
    assert list(np.asarray(right.index.get_level_values(0))) == [1, 2, 7]
    assert list(np.asarray(right["a"])) == [4, 5, 0]
    assert list(np.asarray(right["b"])) == [7, 6, 0]
    assert list(np.asarray(right["c"])) == ["a", "b", "c"]


def test_join_suffix_length_validation(spark):
    join = _j(spark)
    d1 = MDF({"i": [0, 1, 2], "a": [3, 4, 5]}, index="i", spark=spark)
    d2 = MDF({"i": [2, 1, 0], "a": [6, 7, 8]}, index="i", spark=spark)
    with pytest.raises(ValueError):
        join(d1, d2, suffixes=(None,))
    out = join(d1, d2, suffixes=(None, "_"))
    assert list(np.asarray(out["a"])) == [3, 4, 5]
    assert list(np.asarray(out["a_"])) == [8, 7, 6]


def test_join_float_index_and_object_payload(spark):
    """ref test_join_two_float_object."""
    join = _j(spark)
    d1 = MDF({"i": [0.1, 1.2, 2.3], "a": [3.1, 4.2, 5.3]}, index="i", spark=spark)
    d2 = MDF(
        {"i": [2.3, 1.2, 0.1], "b": [6.1, 7.2, 8.3], "c": ["a", "b", "c"]},
        index="i", spark=spark,
    )
    out = join(d1, d2)
    assert list(np.asarray(out.index.get_level_values(0))) == [0.1, 1.2, 2.3]
    assert list(np.asarray(out["b"])) == [8.3, 7.2, 6.1]
    assert list(np.asarray(out["c"])) == ["c", "b", "a"]


def test_join_left_dupes_replicate_and_sort(spark):
    """ref test_join_left_dupes / test_join_inner_dupes — duplicate LEFT
    keys are legal; output sorts by key; positional key naming."""
    join = _j(spark)
    d1 = MDF({"a": [2, 1, 1], "c": [0, 1, 2]}, index="a", spark=spark)
    d2 = MDF({"A": [1], "b": ["x"]}, index="A", spark=spark)
    out = join(d1, d2)
    assert out.index.name == "a"
    assert list(np.asarray(out.index.values)) == [1, 1, 2]
    assert list(np.asarray(out["b"])) == ["x", "x", ""]
    assert list(np.asarray(out["c"])) == [1, 2, 0]
    inner = join(d1, d2, how="inner")
    assert list(np.asarray(inner.index.values)) == [1, 1]
    assert list(np.asarray(inner["c"])) == [1, 2]


def test_join_outer_with_empty_left(spark):
    join = _j(spark)
    out = join(
        MDF({"a": []}, index="a", spark=spark),
        MDF({"a": [0, 1], "b": [4, 5]}, index="a", spark=spark),
        how="outer",
    )
    assert sorted(np.asarray(out["a"])) == [0, 1]
    assert sorted(np.asarray(out["b"])) == [4, 5]


# -- test_serialization.py truncation fuzz ----------------------------------


def test_deserialize_unsafe_rejects_every_truncation(spark):
    """ref `tests/test_serialization.py:92-97`: every strict prefix of a
    serialized buffer must raise (the reference raises CorruptedBuffer;
    our Arrow-IPC replacement raises pyarrow's invalid-stream error),
    never silently return a wrong frame. Sampled prefixes keep the fuzz
    fast; the boundary cases (0, 1, len-1) are always included."""
    m = MDF({"a": [1, 2, 3], "b": ["x", "y", "z"]}, index="a", spark=spark)
    blob = m.serialize_unsafe()
    assert len(blob) > 8
    cuts = sorted({0, 1, 7, len(blob) // 3, len(blob) // 2, len(blob) - 1})
    for cut in cuts:
        with pytest.raises(Exception):
            MDF.deserialize_unsafe(blob[:cut], spark=spark)
    back = MDF.deserialize_unsafe(blob, spark=spark)  # full buffer still OK
    assert list(back["b"]) == ["x", "y", "z"] and back.index.names == ("a",)
