"""MDF — a medvedi-compatible DataFrame API lowered onto PySpark.

The reference (athenianco/medvedi) is an eager, ordered, numpy-columnar
frame (`/root/reference/medvedi/dataframe.py:306`). Spark DataFrames are
lazy and unordered, so this wrapper adds exactly two pieces of state on
top of a ``pyspark.sql.DataFrame``:

- ``_index``: tuple of column names acting as the (possibly multi-level)
  index — a *view*, never separate storage, mirroring the reference
  (`medvedi/dataframe.py:32-39,353`);
- ``__row_id__``: a hidden bigint column carrying row order, because
  medvedi's contract makes order observable (groupby stability, join
  output sorted by key, keep='first' dedup — SURVEY §1.3 δ-2).

Everything else lowers to stock DataFrame API so Catalyst plans it:
no RDDs, no driver-side loops in any operator that scales with rows.
Compat-only deviations from SQL semantics (type-default fills instead of
NULL, last-wins column collisions — SURVEY §1.3) are implemented at the
edges with ``coalesce`` and are opt-out via ``fill_defaults=False``.

Materializing APIs (``__getitem__`` → ndarray, ``iterrows``) collect to
the driver by design — they reproduce the reference's eager contract for
API-server-sized frames. The scale path is ``.df`` / ``.col()`` which
stay lazy.
"""

from __future__ import annotations

import re
from collections.abc import Hashable, Iterable, Iterator, Mapping, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

ROW_ID = "__row_id__"

__all__ = ["MDF", "Index", "Grouper", "join", "concat", "sql", "ROW_ID"]

# ---------------------------------------------------------------------------
# dtype mapping (SURVEY §1.2) and type-default fills (§1.3 δ-1):
# medvedi materializes type defaults, not NULLs, for absent cells
# (`medvedi/dataframe.py:1339-1346` _empty_array).
# ---------------------------------------------------------------------------

_FILL_DEFAULTS: dict[type, Any] = {
    T.LongType: 0,
    T.IntegerType: 0,
    T.ShortType: 0,
    T.ByteType: 0,
    T.DoubleType: float("nan"),
    T.FloatType: float("nan"),
    T.BooleanType: False,
    T.StringType: "",
    T.BinaryType: b"",
}


def _default_for(dtype: T.DataType) -> Any | None:
    return _FILL_DEFAULTS.get(type(dtype))


def _fill_defaults(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """coalesce(col, type_default) for each column that has a default.

    Timestamp/interval/array columns keep NULL (the NaT/None analog).
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    exprs = []
    for c in df.columns:
        if c in cols:
            default = _default_for(by_name[c])
            if default is not None:
                if isinstance(default, float):
                    exprs.append(F.coalesce(F.col(c), F.lit(default)).alias(c))
                    continue
                exprs.append(F.coalesce(F.col(c), F.lit(default)).alias(c))
                continue
        exprs.append(F.col(c))
    return df.select(*exprs)


def _attach_positions(df: DataFrame, *order_exprs: Column, out: str = "__pos__") -> DataFrame:
    """Attach contiguous 0-based positions following ``order_exprs`` —
    WITHOUT funnelling the frame through one task.

    Plan: range-sort on the order expressions (distributed), then
    pos = per-partition offset + intra-partition row_number. The offsets
    come from a per-partition count aggregate (rows = cluster partition
    count, not data rows) whose cumulative sum is the only
    single-partition window in the plan; the frame itself only crosses a
    rangepartitioning exchange and a partition-id hash exchange. The
    order expressions must be a total order (callers append a ROW_ID
    tiebreak), so re-evaluation of the sorted branch is deterministic.
    """
    sdf = df.orderBy(*order_exprs).withColumn("__pid__", F.spark_partition_id())
    counts = sdf.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__cnt__"))
    w_off = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("__off__", F.coalesce(F.sum("__cnt__").over(w_off), F.lit(0))).drop("__cnt__")
    w_pos = Window.partitionBy("__pid__").orderBy(*order_exprs)
    return (
        sdf.join(F.broadcast(offsets), "__pid__")
        .withColumn(out, F.col("__off__") + F.row_number().over(w_pos) - 1)
        .drop("__pid__", "__off__")
    )


def _renumber_by(df: DataFrame, *order_exprs: Column) -> DataFrame:
    """Reassign ``ROW_ID`` as contiguous 0-based ids following
    ``order_exprs`` (see ``_attach_positions`` for the plan shape)."""
    return (
        _attach_positions(df, *order_exprs, out="__new_rid__")
        .drop(ROW_ID)
        .withColumnRenamed("__new_rid__", ROW_ID)
    )


def _positive_weight(weights: str) -> Column:
    """Weight-column sampling filter: keep rows with a finite positive
    weight. NaN must be excluded EXPLICITLY — Spark orders NaN greater
    than any number, so ``w > 0`` alone lets NaN through, where it
    poisons the cumulative sums of the inverse-CDF sampler (total becomes
    NaN and every draw silently misses). NaN/null/nonpositive rows are
    the probability-0 analog of ``np.random.choice`` dropping them; the
    driver-side numpy compat path raises instead, matching the reference."""
    w = F.col(weights).cast("double")
    return (w > 0) & ~F.isnan(w)


def _numpy_to_spark_type(arr: np.ndarray) -> T.DataType:
    kind = arr.dtype.kind
    if kind == "b":
        return T.BooleanType()
    if kind in ("i", "u"):
        return T.LongType() if arr.dtype.itemsize > 4 else T.IntegerType()
    if kind == "f":
        return T.DoubleType() if arr.dtype.itemsize > 4 else T.FloatType()
    if kind == "M":
        return T.TimestampType()
    if kind == "m":
        return T.DayTimeIntervalType()
    if kind == "S":
        return T.BinaryType()
    if kind == "U":
        return T.StringType()
    if kind == "O":
        return _infer_object_type(arr)
    raise TypeError(f"unsupported numpy dtype {arr.dtype!r}")


def _infer_object_type(arr: np.ndarray) -> T.DataType:
    """ODT-style payload inference (`medvedi/io.pyx:195-343`), at the
    python boundary instead of a serializer: examine non-null payloads
    and pick the narrowest Spark type. A column mixing list payloads with
    scalars is typed as an array; the scalars wrap into one-element lists
    at construction, which is exactly what makes ``explode`` keep them as
    single rows (`medvedi/dataframe.py:581-606`).

    Heterogeneous element types RAISE: the reference's serializer
    (`medvedi/io.pyx:195-343`) measures every element and rejects a
    column whose payloads disagree (e.g. ``[[1, 2], "a"]``); Spark
    columns are single-typed, so silently coercing here would corrupt
    data the reference round-trips as an error."""
    elem: T.DataType | None = None
    has_list = False
    for v in arr:
        if v is None:
            continue
        if isinstance(v, dict):
            t: T.DataType = T.StringType()  # JSON payload convention (ODT_JSON)
        elif isinstance(v, (list, tuple, np.ndarray)):
            has_list = True
            if len(v) == 0:
                continue  # empty list says nothing about the element type
            inner = np.asarray(v)
            t = T.StringType() if inner.dtype.kind == "O" else _numpy_to_spark_type(inner)
        else:
            t = _scalar_spark_type(v)
        if elem is None:
            elem = t
        elif elem != t:
            raise TypeError(
                f"object column mixes value types {elem.simpleString()} and "
                f"{t.simpleString()}; the reference serializer rejects "
                "heterogeneous object columns (medvedi/io.pyx:195-343) — "
                "cast payloads to one type first"
            )
    if has_list:
        return T.ArrayType(elem or T.StringType())
    return elem or T.StringType()


def _spark_to_numpy_dtype(dt: T.DataType) -> np.dtype:
    """Inverse of ``_numpy_to_spark_type`` for the ``dtype`` accessor;
    strings/arrays/JSON report as object (the reference's fixed-width
    U/S dtypes normalize to variable-width at the boundary, SURVEY §1.2)."""
    if isinstance(dt, T.BooleanType):
        return np.dtype(bool)
    if isinstance(dt, T.LongType):
        return np.dtype(np.int64)
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return np.dtype(np.int32)
    if isinstance(dt, T.DoubleType):
        return np.dtype(np.float64)
    if isinstance(dt, T.FloatType):
        return np.dtype(np.float32)
    if isinstance(dt, T.TimestampType):
        # __getitem__ materializes through pandas, which is ns-based
        return np.dtype("datetime64[ns]")
    if isinstance(dt, T.DayTimeIntervalType):
        return np.dtype("timedelta64[ns]")
    if isinstance(dt, T.BinaryType):
        return np.dtype("S")
    return np.dtype(object)


def _scalar_spark_type(v: Any) -> T.DataType:
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, bytes):
        return T.BinaryType()
    if isinstance(v, (bool, np.bool_)):
        return T.BooleanType()
    if isinstance(v, (int, np.integer)):
        return T.LongType()
    if isinstance(v, (float, np.floating)):
        return T.DoubleType()
    return T.StringType()


def _normalize_cell(v: Any, ftype: T.DataType | None = None) -> Any:
    if isinstance(v, np.datetime64):
        # .item() on [ns] yields an int; force µs first.
        return v.astype("datetime64[us]").item()
    if isinstance(v, np.timedelta64):
        return v.astype("timedelta64[us]").item()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        return [_normalize_cell(x) for x in v]
    if isinstance(v, (list, tuple)):
        return [_normalize_cell(x) for x in v]
    if isinstance(v, dict):
        import json

        return json.dumps(v, separators=(",", ":"))
    if isinstance(ftype, T.ArrayType):
        # scalar in an array-typed column → one-element list, so explode
        # keeps it as a single row (medvedi scalar-mixed semantics)
        return [_normalize_cell(v)]
    return v


class Index:
    """View over the parent frame's index columns (no storage of its own),
    mirroring `medvedi/dataframe.py:32-186`."""

    def __init__(self, parent: "MDF"):
        self._parent = parent

    @property
    def names(self) -> tuple[Hashable, ...]:
        return self._parent._index

    @property
    def name(self) -> Hashable:
        names = self._parent._index
        if len(names) != 1:
            raise ValueError(f"index has {len(names)} levels, use .names")
        return names[0]

    def __str__(self) -> str:
        """`medvedi/dataframe.py:45-49` format: "(a, b), [not ]unique"."""
        return (
            "(" + ", ".join(map(str, self.names)) + f"), {'' if self.is_unique else 'not '}unique"
        )

    def __sentry_repr__(self) -> str:
        return str(self)

    @property
    def nlevels(self) -> int:
        return len(self._parent._index)

    @property
    def empty(self) -> bool:
        return self._parent.empty

    def get_level_values(self, level: int) -> np.ndarray:
        return self._parent[self._parent._index[level]]

    @property
    def levels(self) -> tuple[np.ndarray, ...]:
        """All index levels as arrays (`medvedi/dataframe.py:150-153`)."""
        return tuple(self._parent[c] for c in self._parent._index)

    @property
    def values(self) -> np.ndarray:
        if self.nlevels != 1:
            # reference contract (`tests/test_index.py:104-109`): .values
            # exists only on single-level indexes
            raise AttributeError("Index.values requires exactly one level")
        return self.get_level_values(0)

    @property
    def is_unique(self) -> bool:
        # one early-exit job, not two full counts (same reasoning as the
        # join m:n guard): any group of size >1 disproves uniqueness
        df = self._parent._df
        keys = list(self._parent._index)
        dup = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") > 1)
        )
        return dup.isEmpty()

    def duplicated(self, keep: str = "first") -> np.ndarray:
        return self._parent.duplicated(subset=list(self._parent._index), keep=keep)

    def diff(self, other: "Index") -> np.ndarray:
        """Anti-join of unique index values → positions in self
        (`medvedi/dataframe.py:169-186`)."""
        if not isinstance(other, Index):
            raise TypeError(f"diff expects an Index, got {type(other).__name__}")
        left = self._parent._df_pos()
        rnames = [f"__r{i}__" for i in range(len(other.names))]
        right = other._parent._df.select(
            *[F.col(str(c)).alias(r) for c, r in zip(other.names, rnames)]
        )
        on = None
        for l, r in zip(self._parent._index, rnames):
            c = left[str(l)].eqNullSafe(right[r])
            on = c if on is None else on & c
        kept = left.join(right, on=on, how="left_anti").select("__pos__")
        return np.asarray(sorted(r["__pos__"] for r in kept.collect()), dtype=np.int64)

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._monotonic(ascending=True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._monotonic(ascending=False)

    def _monotonic(self, ascending: bool) -> bool:
        """Adjacent-pair comparison in row order, distributed: the frame
        range-sorts on ROW_ID, each partition lag-compares internally, and
        only the per-partition (first, last) boundary values — #partitions
        rows — cross a single-partition window."""
        parent = self._parent
        cur = F.struct(*[F.col(k) for k in parent._index])
        sdf = parent._df.orderBy(F.col(ROW_ID)).withColumn("__pid__", F.spark_partition_id())
        w = Window.partitionBy("__pid__").orderBy(F.col(ROW_ID))
        prev = F.lag(cur).over(w)
        cmp = cur >= prev if ascending else cur <= prev
        if not sdf.select((prev.isNotNull() & ~cmp).alias("bad")).filter(F.col("bad")).isEmpty():
            return False
        bounds = sdf.groupBy("__pid__").agg(
            F.min_by(cur, F.col(ROW_ID)).alias("__first__"),
            F.max_by(cur, F.col(ROW_ID)).alias("__last__"),
        )
        wb = Window.orderBy("__pid__")
        prev_last = F.lag("__last__").over(wb)
        cmp_b = F.col("__first__") >= prev_last if ascending else F.col("__first__") <= prev_last
        return bounds.select((prev_last.isNotNull() & ~cmp_b).alias("bad")).filter(F.col("bad")).isEmpty()


class Grouper:
    """Result of ``MDF.groupby`` — aggregation + per-group iteration.

    The reference returns (order, counts) for use with np.ufunc.reduceat
    (`medvedi/dataframe.py:189-261`); on Spark the same use-cases lower to
    groupBy().agg() (G2), first-of-group (G3), and grouped-map
    (G4 → applyInPandas).
    """

    _AGG = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "mean": F.avg,
        "avg": F.avg,
        "count": F.count,
        "first": F.first,
        "last": F.last,
        "any": F.max,
        "all": F.min,
        "collect": F.collect_list,
    }

    def __init__(self, parent: "MDF", keys: Sequence[str]):
        self._parent = parent
        self._keys = list(keys)

    def agg(self, spec: Mapping[str, str | Column] | None = None, **named: str | Column) -> "MDF":
        """Aggregate: ``g.agg({"b": "sum"})`` or ``g.agg(total=("b","sum"))``
        style via kwargs of (col, fn) tuples or Column expressions."""
        exprs: list[Column] = []
        for col, fn in (spec or {}).items():
            exprs.append(self._resolve(col, fn).alias(f"{col}_{fn}" if isinstance(fn, str) else str(col)))
        for out_name, item in named.items():
            if isinstance(item, Column):
                exprs.append(item.alias(out_name))
            else:
                col, fn = item
                exprs.append(self._resolve(col, fn).alias(out_name))
        if not exprs:
            exprs = [F.count(F.lit(1)).alias("count")]
        # stable-sorted group order is part of the reference contract
        # (`medvedi/dataframe.py:897`): sort output by key.
        out = (
            self._parent._df.groupBy(*self._keys)
            .agg(*exprs)
            .orderBy(*[F.asc(k) for k in self._keys])
        )
        return MDF._from_spark(out.withColumn(ROW_ID, F.monotonically_increasing_id()), index=tuple(self._keys))

    def _resolve(self, col: str, fn: str | Column) -> Column:
        if isinstance(fn, Column):
            return fn
        try:
            return self._AGG[fn](col)
        except KeyError:
            raise ValueError(f"unknown aggregate {fn!r}; one of {sorted(self._AGG)}") from None

    def apply(self, fn, schema: str | T.StructType) -> "MDF":
        """Grouped-map (G4, `Grouper.__iter__` use-case): pandas in/out."""
        out = self._parent._df.drop(ROW_ID).groupBy(*self._keys).applyInPandas(fn, schema=schema)
        return MDF._from_spark(out.withColumn(ROW_ID, F.monotonically_increasing_id()), index=())

    def __iter__(self) -> Iterator[np.ndarray]:
        """Yield the row-index array of each group, in sorted-key group
        order — the reference contract (`medvedi/dataframe.py:236-261`:
        ``for group in df.groupby("a"): values[group]``). Driver-side by
        definition (indexes address driver-materialized columns); the
        scale path is ``apply``/``agg``.
        """
        order, counts = self._order_counts()
        pos = 0
        for count in counts:
            yield order[pos : pos + count]
            pos += count

    def iter_frames(self) -> Iterator[tuple[Any, "pd.DataFrame"]]:
        """Convenience beyond the reference: (key, pandas sub-frame)
        pairs, pandas-style."""
        pdf = self._parent._df.orderBy(ROW_ID).drop(ROW_ID).toPandas()
        for key, sub in pdf.groupby(self._keys, sort=True):
            yield key[0] if len(self._keys) == 1 else key, sub

    # -- numpy reduceat protocol (G1-G3: dataframe.py:189-261) -------------
    # Driver-side by definition (the protocol hands raw positions to numpy
    # ufuncs); the distributed path is agg()/apply().

    def _order_counts(self) -> tuple[np.ndarray, np.ndarray]:
        pdf = self._parent._df.select(*self._keys, ROW_ID).orderBy(ROW_ID).toPandas()
        pdf = pdf.reset_index(drop=True)
        srt = pdf.sort_values(self._keys, kind="mergesort")
        order = srt.index.to_numpy(dtype=np.int64)
        counts = srt.groupby(self._keys, sort=False).size().to_numpy(dtype=np.int64)
        return order, counts

    @property
    def order(self) -> np.ndarray:
        """Stable permutation sorting rows into contiguous key groups
        (`medvedi/dataframe.py:189-199`)."""
        return self._order_counts()[0]

    @property
    def counts(self) -> np.ndarray:
        """Group sizes in sorted-key order."""
        return self._order_counts()[1]

    def reduceat_indexes(self) -> np.ndarray:
        """Offsets for ``np.ufunc.reduceat`` over ``col[grouper.order]``
        (`dataframe.py:201-216`)."""
        counts = self.counts
        out = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=out[1:])
        return out

    def group_indexes(self) -> np.ndarray:
        """Position of each group's first row (`dataframe.py:218-234`)."""
        return self.order[self.reduceat_indexes()]


class MDF:
    """medvedi-compatible frame over a Spark DataFrame. See module doc."""

    # -- construction (S1, S3) ---------------------------------------------

    def __init__(
        self,
        data: Mapping[Hashable, Any] | None = None,
        columns: Sequence[Hashable] | None = None,
        index: Hashable | Sequence[Hashable] | None = None,
        copy: bool = False,  # noqa: ARG002 - Spark frames are immutable
        dtype: Mapping[Hashable, Any] | None = None,
        check: bool = True,
        *,
        spark: SparkSession | None = None,
    ):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession; pass spark=")
        if data is None:
            # only a literally-absent data may combine with columns=
            # to synthesize an empty typed frame
            # (`tests/test_init.py::test_init_empty_dtype`)
            data = {c: [] for c in columns} if columns is not None else {}
            columns = None
        if isinstance(data, Mapping):
            if columns is not None:
                # a mapping already names the columns; passing columns=
                # with ANY mapping — even an empty one — is an error
                # (`medvedi/dataframe.py:348-350`)
                raise ValueError("cannot pass columns= with a mapping data")
        else:
            # iterable of columns; names default to "0", "1", ...
            # (`tests/test_init.py:46-50`)
            data = list(data)
            if columns is None:
                columns = [str(i) for i in range(len(data))]
            if len(columns) != len(data):
                raise ValueError(f"columns length mismatch: {len(columns)} != {len(data)}")
            data = dict(zip(columns, data))
        arrays: dict[str, np.ndarray] = {}
        for k, v in data.items():
            if isinstance(v, (str, bytes)) or np.isscalar(v):
                # the reference types this as TypeError, not a shape error
                # (`tests/test_init.py:142-149`)
                raise TypeError(f"column {k!r} must be an array-like, got {type(v).__name__}")
            arr = np.asarray(v)
            if dtype and k in dtype:
                arr = arr.astype(dtype[k])
            if check and arr.ndim != 1:
                raise ValueError(f"column {k!r} must be 1-D, got shape {arr.shape}")
            arrays[str(k)] = arr
        if check and len({len(a) for a in arrays.values()}) > 1:
            raise ValueError("all columns must have equal length")
        # check=False tolerates ragged inputs (`tests/test_init.py:85-100`);
        # shorter columns pad with NULL to the longest
        n = max((len(a) for a in arrays.values()), default=0)
        fields = [T.StructField(k, _numpy_to_spark_type(a)) for k, a in arrays.items()]
        fields.append(T.StructField(ROW_ID, T.LongType(), False))
        ftypes = {k: f.dataType for k, f in zip(arrays, fields)}
        rows = [
            tuple(
                _normalize_cell(arrays[k][i], ftypes[k])
                if i < len(arrays[k]) and not _is_null_cell(arrays[k][i])
                else None
                for k in arrays
            )
            + (i,)
            for i in range(n)
        ]
        self._df = spark.createDataFrame(rows, schema=T.StructType(fields))
        self._index: tuple[str, ...] = ()
        if index is not None:
            self.set_index(index, inplace=True)

    @classmethod
    def _from_spark(cls, df: DataFrame, index: tuple[str, ...] = ()) -> "MDF":
        obj = cls.__new__(cls)
        if ROW_ID not in df.columns:
            df = df.withColumn(ROW_ID, F.monotonically_increasing_id())
        obj._df = df
        obj._index = index
        return obj

    @classmethod
    def from_spark(cls, df: DataFrame, index: Sequence[str] = ()) -> "MDF":
        return cls._from_spark(df, tuple(index))

    @classmethod
    def from_arrow(cls, table, *, spark: SparkSession | None = None, index: Sequence[str] = ()) -> "MDF":
        """S3 (`dataframe.py:1059-1066`)."""
        import pyarrow as pa

        if not isinstance(table, (pa.Table, pa.RecordBatch)):
            raise TypeError(f"from_arrow expects a pyarrow Table, got {type(table).__name__}")
        spark = spark or SparkSession.getActiveSession()
        df = spark.createDataFrame(table.to_pandas())
        return cls._from_spark(df, tuple(index))

    @classmethod
    def read_parquet(cls, path: str, *, spark: SparkSession | None = None, index: Sequence[str] = ()) -> "MDF":
        """S5-replacement: parquet is the serialization format (SURVEY §3.3).
        The read schema is :func:`catalog.parquet_schema`'s, so a repeated
        read runs no schema-inference job."""
        from .catalog import parquet_schema

        spark = spark or SparkSession.getActiveSession()
        return cls._from_spark(spark.read.schema(parquet_schema(spark, path)).parquet(path), tuple(index))

    # -- basic protocol ------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying Spark DataFrame (scale path), row-id included."""
        return self._df

    @property
    def columns(self) -> tuple[str, ...]:
        return tuple(c for c in self._df.columns if c != ROW_ID)

    @property
    def index(self) -> Index:
        return Index(self)

    @property
    def empty(self) -> bool:
        return self._df.isEmpty()

    @property
    def shape(self) -> tuple[int, int]:
        """(rows, value columns) — `medvedi/dataframe.py:472-474`."""
        return len(self), len(self.columns)

    def __len__(self) -> int:
        # Memoized per wrapped plan: every mutation rebinds self._df to a
        # NEW DataFrame object, so keying on its identity is safe and
        # repeated len() (iloc bounds, masks, sampling) costs one job.
        df = self._df
        if self.__dict__.get("_len_of") is not df:
            self.__dict__["_len"] = df.count()
            self.__dict__["_len_of"] = df
        return self.__dict__["_len"]

    def __contains__(self, key: Hashable) -> bool:
        return str(key) in self.columns

    def __iter__(self) -> Iterator[str]:
        """Iterate column names (`tests/test_iter.py:10-12`)."""
        return iter(self.columns)

    def __repr__(self) -> str:
        return f"MDF(columns={list(self.columns)}, index={list(self._index)})"

    # -- P1/P2: projection ----------------------------------------------------

    def __getitem__(self, key):
        if isinstance(key, (list, tuple, set, frozenset)):
            keys = [str(k) for k in key]
            # index columns are implicitly retained (`tests/test_init.py:152-169`)
            keep = list(dict.fromkeys([*self._index, *keys]))
            return MDF._from_spark(self._df.select(*keep, ROW_ID), self._index)
        col = str(key)
        if col not in self.columns:
            raise KeyError(key)
        pdf = self._df.select(col, ROW_ID).orderBy(ROW_ID).toPandas()
        return _to_numpy(pdf[col], self._df.schema[col].dataType)

    def col(self, key: Hashable) -> Column:
        """Lazy column expression (the scale path for P1)."""
        return F.col(str(key))

    # -- P3/P4: set / delete --------------------------------------------------

    def __setitem__(self, key: Hashable, value) -> None:
        name = str(key)
        if name in self._index:
            raise ValueError(f"cannot overwrite index column {name!r}")
        if isinstance(value, Column):
            self._df = self._df.withColumn(name, value)
            return
        if np.isscalar(value) or value is None:
            lit = F.lit(_normalize_cell(value))
            if name in self.columns:
                # scalar assignment keeps the existing column type
                # (`tests/test_columns.py:56-76`): broadcasting 45 into a
                # string column is an error, not a silent retype
                cur = self._df.schema[name].dataType
                if value is not None and isinstance(cur, T.StringType) and not isinstance(value, str):
                    raise ValueError(
                        f"cannot assign non-string scalar {value!r} to string column {name!r}"
                    )
                lit = lit.cast(cur)
            self._df = self._df.withColumn(name, lit)
            return
        arr = np.asarray(value)
        if arr.ndim > 1:
            # multidimensional payloads are rejected, not flattened
            # (`tests/test_columns.py:12-13`)
            raise ValueError(f"can only assign 1-D data, got shape {arr.shape}")
        if not self.columns and not self._index:
            # first column of a columnless frame DEFINES the length
            # (`tests/test_columns.py:10-16`: DataFrame(); df["a"] = [0,1,2])
            fresh = MDF({name: value}, spark=self._df.sparkSession)
            self._df, self._index = fresh._df, fresh._index
            return
        n = len(self)
        if len(arr) != n:
            raise ValueError(f"length mismatch: {len(arr)} != {n}")
        spark = self._df.sparkSession
        lookup = spark.createDataFrame(
            [(i, _normalize_cell(v) if not _is_null_cell(v) else None) for i, v in enumerate(arr)],
            schema=T.StructType(
                [T.StructField("__pos__", T.LongType(), False), T.StructField(name, _numpy_to_spark_type(arr))]
            ),
        )
        left = self._df_pos().drop(name) if name in self._df.columns else self._df_pos()
        self._df = left.join(lookup, on="__pos__", how="left").drop("__pos__")

    def __delitem__(self, key: Hashable) -> None:
        name = str(key)
        if name in self._index:
            raise ValueError(f"cannot delete index column {name!r}")  # `dataframe.py:428-436`
        if name not in self.columns:
            raise KeyError(key)
        out = self._df.drop(name)
        if not [c for c in out.columns if c != ROW_ID]:
            # deleting the last data column leaves a zero-length frame
            # (`tests/test_columns.py:19-23`): length is defined by columns
            out = out.limit(0)
        self._df = out

    # -- P5/P6: take / iloc ----------------------------------------------------

    def _df_pos(self) -> DataFrame:
        """Attach a contiguous 0-based position column (ordered by row id),
        via the distributed partition-offset plan — not a global window."""
        return _attach_positions(self._df, F.col(ROW_ID))

    def take(self, mask_or_indexes, inplace: bool = False) -> "MDF":
        arr = np.asarray(mask_or_indexes)
        pos = self._df_pos()
        if arr.dtype.kind == "b":
            if len(arr) != len(self):
                raise ValueError("boolean mask length mismatch")
            wanted = np.nonzero(arr)[0]
        else:
            wanted = arr.astype(np.int64)
        spark = self._df.sparkSession
        if len(wanted) == 0:
            out = self._df.limit(0)
            if inplace:
                self._df = out
                return self
            return MDF._from_spark(out, self._index)
        # Arrow path: a 10^5-row driver mask serialized as python tuples
        # costs ~1 s in pickling alone; a pandas frame ships as one Arrow
        # batch (c11 3.4 -> 2.3 s).
        order = spark.createDataFrame(
            pd.DataFrame(
                {
                    "__pos__": wanted.astype(np.int64),
                    "__new_rid__": np.arange(len(wanted), dtype=np.int64),
                }
            )
        )
        out = (
            pos.join(order, on="__pos__", how="inner")
            .drop("__pos__", ROW_ID)
            .withColumnRenamed("__new_rid__", ROW_ID)
        )
        if inplace:
            self._df = out
            return self
        return MDF._from_spark(out, self._index)

    def take_where(self, cond: Column, inplace: bool = False) -> "MDF":
        """Scale-path filter (the P5 mask case without materializing a mask)."""
        out = self._df.filter(cond)
        if inplace:
            self._df = out
            return self
        return MDF._from_spark(out, self._index)

    @property
    def iloc(self) -> "Iloc":
        return Iloc(self)

    # -- P7: iterrows -----------------------------------------------------------

    def iterrows(self, *columns: Hashable) -> Iterator[tuple]:
        cols = [str(c) for c in columns] or list(self.columns)
        for row in self._df.select(*cols, ROW_ID).orderBy(ROW_ID).drop(ROW_ID).toLocalIterator():
            yield tuple(row)

    # -- P8/P9: copy / sample ----------------------------------------------------

    def copy(self, shallow: bool = False) -> "MDF":  # noqa: ARG002
        return MDF._from_spark(self._df, self._index)

    def sample(
        self,
        n: int | None = None,
        frac: float | None = None,
        replace: bool = False,
        weights=None,
        ignore_index: bool = False,
    ) -> "MDF":
        if (frac is None) == (n is None):
            # exactly one of n/frac (`medvedi/dataframe.py:540-541`)
            raise ValueError("must define one and only one of `n` and `frac`")
        if frac is not None:
            # frac is an EXACT row-count ratio in the reference
            # (`dataframe.py:542-543`: n = int(len * frac)), not a
            # Bernoulli probability — tests assert len(sample(frac=.5))
            # == len//2 exactly.
            n = int(len(self) * frac)
            frac = None
        if weights is not None:
            if isinstance(weights, str):
                # Distributed weighted sampling (scale path): the
                # Efraimidis–Spirakis A-Res scheme — each row draws
                # key = -ln(u)/w and the weighted sample without
                # replacement is the bottom-n by key. One pass, lowers to
                # TakeOrderedAndProject (per-partition top-n + merge), no
                # weights on the driver. Rows with w <= 0 or null are
                # excluded (probability-0 analog of np.random.choice).
                if n is None:
                    raise ValueError("pass n with column-name weights")
                if replace:
                    return self._sample_weighted_replace(weights, n, ignore_index)
                keyed = (
                    self._df.filter(_positive_weight(weights))
                    .withColumn("__wkey__", -F.log(F.rand()) / F.col(weights))
                )
                out = keyed.orderBy(F.col("__wkey__").asc()).limit(n).drop("__wkey__")
                if ignore_index:
                    out = out.drop(ROW_ID)
                return MDF._from_spark(out, self._index if not ignore_index else ())
            # driver-side numpy compat path (reference semantics,
            # `medvedi/dataframe.py:523-548` is likewise in-memory).
            # np.random.choice over the FRAME length with raw weights, so
            # every reference error surfaces identically: weights shorter/
            # longer than the frame ("'a' and 'p' must have same size"),
            # non-normalized weights ("probabilities do not sum to 1"),
            # n=0 returning an empty frame rather than a full-length draw.
            w = np.asarray(weights, dtype=np.float64)
            idx = np.random.choice(len(self), size=n, replace=replace, p=w)
            return self.take(idx)
        count = len(self)
        if n > count and not replace:
            raise ValueError("n larger than rows without replacement")
        if replace:
            if count == 0 and n > 0:
                # np.random.choice on an empty arange raises
                # (`medvedi/dataframe.py:545`)
                raise ValueError("cannot sample with replacement from an empty frame")
            # n independent draws: a draws table of n random positions
            # joins the positioned frame — distributed, no driver
            # materialization; duplicate positions replicate rows.
            spark = self._df.sparkSession
            draws = spark.range(n).select(
                F.col("id").alias("__draw__"),
                F.floor(F.rand() * F.lit(count)).cast("long").alias("__pos__"),
            )
            out = (
                draws.join(self._df_pos(), on="__pos__", how="inner")
                .drop("__pos__", ROW_ID)
                .withColumnRenamed("__draw__", ROW_ID)
            )
        else:
            out = self._df.orderBy(F.rand()).limit(n)
        if ignore_index:
            out = out.drop(ROW_ID)
        return MDF._from_spark(out, self._index if not ignore_index else ())

    def _sample_weighted_replace(self, weights: str, n: int, ignore_index: bool) -> "MDF":
        """Distributed weighted sampling WITH replacement: ``n``
        independent inverse-CDF draws over per-row cumulative-weight
        intervals (closes the reference's `medvedi/dataframe.py:523-548`
        weighted-replace surface without a driver-side weights array).

        Scale shape: each row's interval ``[lo, hi)`` comes from a
        per-partition cumulative sum (window bounded by partition size)
        plus broadcast partition offsets — the `_attach_positions`
        pattern, no global window. Every boundary float is SHARED, never
        re-derived: ``lo`` is the neighbor's cumsum via ``lag`` (a fresh
        ``hi - w`` rounds differently by an ulp — gap/overlap), and
        per-partition totals are the MAX of the same sequential cumsum
        (not a separate aggregate), so the intervals tile ``[0, total)``
        exactly. The draw→row match is an
        EQUI-join on a bucket key (each row explodes only to the buckets
        its interval overlaps — ~1 + B·wᵢ/total each), never a
        nested-loop range join over corpus × draws. Only the scalar
        total weight reaches the driver.
        """
        spark = self._df.sparkSession
        keep = self._index if not ignore_index else ()
        if n == 0:
            out0 = self._df.limit(0)
            if ignore_index:
                out0 = out0.drop(ROW_ID)
            return MDF._from_spark(out0, keep)
        base = (
            self._df.filter(_positive_weight(weights))
            .withColumn("__pid__", F.spark_partition_id())
            .withColumn(
                "__hi0__",
                F.sum(F.col(weights).cast("double")).over(
                    Window.partitionBy("__pid__").orderBy(ROW_ID)
                ),
            )
        )
        ptot = base.groupBy("__pid__").agg(F.max("__hi0__").alias("__pw__"))
        w_off = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
        offsets = ptot.withColumn(
            "__woff__", F.coalesce(F.sum("__pw__").over(w_off), F.lit(0.0))
        )
        tot_row = offsets.agg(F.max(F.col("__woff__") + F.col("__pw__"))).first()
        total = tot_row[0]
        if total is None or total <= 0:
            raise ValueError("cannot draw a weighted sample: no rows with positive weight")
        # Bucket count scales with n (keeps draws-per-bucket ~1) but is
        # CAPPED: a row holding weight fraction f explodes into ~f*B
        # bucket entries, so an uncapped B = n would build an n-element
        # array for a dominant-weight row. At the cap the per-bucket
        # draw count grows to n/2^20 instead — more join pairs, but
        # distributed ones, not a single-row memory spike.
        n_buckets = min(max(64, int(n)), 1 << 20)
        width = total / n_buckets
        # __lo__ must be the PREVIOUS row's cumsum (lag), never
        # __hi__ - w: that re-rounding differs from the neighbor's cumsum
        # by an ulp, opening micro-gaps (dropped draws) and micro-overlaps
        # (duplicated draws) between adjacent intervals. With lag, adjacent
        # boundaries share the identical float and the tiling is exact.
        wlag = Window.partitionBy("__pid__").orderBy(ROW_ID)
        rows = (
            base.withColumn("__lo0__", F.coalesce(F.lag("__hi0__").over(wlag), F.lit(0.0)))
            .join(F.broadcast(offsets.select("__pid__", "__woff__")), "__pid__")
            .withColumn("__hi__", F.col("__woff__") + F.col("__hi0__"))
            .withColumn("__lo__", F.col("__woff__") + F.col("__lo0__"))
            .withColumn(
                "__b__",
                F.explode(
                    F.sequence(
                        F.greatest(F.floor(F.col("__lo__") / width), F.lit(0)).cast("long"),
                        F.least(F.floor(F.col("__hi__") / width), F.lit(n_buckets - 1)).cast("long"),
                    )
                ),
            )
            .drop("__pid__", "__woff__", "__hi0__", "__lo0__")
        )
        draws = (
            spark.range(n)
            .select(F.col("id").alias("__draw__"), (F.rand() * total).alias("__u__"))
            .withColumn(
                "__b__", F.least(F.floor(F.col("__u__") / width), F.lit(n_buckets - 1)).cast("long")
            )
        )
        # broadcast only a broadcast-SIZED draws table; a huge n falls
        # back to an unhinted join (AQE picks the strategy) instead of
        # shipping gigabytes through the driver
        draws_side = F.broadcast(draws) if n <= 2_000_000 else draws
        out = (
            rows.join(draws_side, "__b__")
            .filter((F.col("__u__") >= F.col("__lo__")) & (F.col("__u__") < F.col("__hi__")))
            .drop("__b__", "__u__", "__lo__", "__hi__", ROW_ID)
            .withColumnRenamed("__draw__", ROW_ID)
        )
        if ignore_index:
            out = out.drop(ROW_ID)
        return MDF._from_spark(out, keep)

    # -- P10-P12: astype / rename / fillna ----------------------------------------

    @property
    def dtype(self) -> dict[str, np.dtype]:
        """Column → numpy dtype map (`tests/test_astype.py:13-16`)."""
        out: dict[str, np.dtype] = {}
        for f in self._df.schema.fields:
            if f.name != ROW_ID:
                out[f.name] = _spark_to_numpy_dtype(f.dataType)
        return out

    def astype(self, dtype, copy: bool = True, errors: str = "raise") -> "MDF":
        mapping = dtype if isinstance(dtype, Mapping) else {c: dtype for c in self.columns}
        known = set(self.columns) | set(self._index)
        for col in mapping:
            if str(col) not in known:
                # unknown column is a KeyError regardless of errors=
                # (`dataframe.py:572-574`: errors only guards cast failures)
                raise KeyError(col)
        targets = {
            str(col): _numpy_to_spark_type(np.empty(0, dtype=np.dtype(target)))
            for col, target in mapping.items()
        }
        # ANSI mode is off (casts NULL silently); reproduce the reference's
        # eager semantics (`dataframe.py:550-579`) by counting values each
        # cast would lose — ONE aggregate for all columns. errors='raise'
        # raises; errors='ignore' keeps the failing column unchanged.
        checks = [
            F.sum(
                (F.col(name).isNotNull() & F.col(name).try_cast(t).isNull()).cast("int")
            ).alias(name)
            for name, t in targets.items()
        ]
        failed: set[str] = set()
        if checks:
            bad = self._df.select(*checks).first()
            failed = {c for c in targets if bad[c]}
            if failed and errors == "raise":
                raise ValueError(f"astype failed for columns {sorted(failed)}")
        df = self._df.select(
            *[
                F.col(c).try_cast(targets[c]).alias(c)
                if c in targets and c not in failed
                else F.col(c)
                for c in self._df.columns
            ]
        )
        if not copy:
            # reference: copy=False converts in place (`tests/test_astype.py:20-24`)
            self._df = df
            return self
        return MDF._from_spark(df, self._index)

    def rename(self, columns: Mapping[Hashable, Hashable], inplace: bool = False, errors: str = "ignore") -> "MDF":
        if not isinstance(columns, Mapping):
            raise TypeError(f"columns must be a mapping, got {type(columns).__name__}")
        mapping = {str(k): str(v) for k, v in columns.items()}
        if errors == "raise":
            missing = set(mapping) - set(self.columns)
            if missing:
                raise KeyError(f"columns not found: {sorted(missing)}")
        # atomic rename via aliases: withColumnsRenamed chains entries
        # sequentially, so {a->b, b->c} would cascade a all the way to c
        mapping = {k: v for k, v in mapping.items() if k in self.columns}
        df = self._df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in self._df.columns]
        )
        index = tuple(mapping.get(c, c) for c in self._index)
        if inplace:
            self._df, self._index = df, index
            return self
        return MDF._from_spark(df, index)

    def fillna(self, value, column: Hashable | None = None, inplace: bool = False) -> "MDF":
        # pandas-style per-column mapping (beyond ref): a dict whose keys
        # are ALL existing column names means {column: fill_value}. Any
        # other dict is a JSON cell payload for the scalar path (object
        # columns legitimately hold dicts), hence the conservative guard.
        if column is None and isinstance(value, Mapping) and value and all(
            str(k) in self.columns for k in value
        ):
            out = self if inplace else self.copy()
            for k, v in value.items():
                out.fillna(v, column=k, inplace=True)
            return out
        cols = [str(column)] if column is not None else list(self.columns)
        df = self._df
        for c in cols:
            dt = df.schema[c].dataType
            expr = F.col(c)
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                expr = F.when(F.isnan(expr) | expr.isNull(), F.lit(value)).otherwise(expr)
            else:
                expr = F.coalesce(expr, F.lit(_normalize_cell(value)))
            df = df.withColumn(c, expr)
        if inplace:
            self._df = df
            return self
        return MDF._from_spark(df, self._index)

    # -- P13: isnull / notnull ------------------------------------------------------

    def _null_cond(self, column: Hashable) -> Column:
        c = str(column)
        if c not in self.columns:
            raise KeyError(column)
        dt = self._df.schema[c].dataType
        cond = F.col(c).isNull()
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            cond = cond | F.isnan(F.col(c))
        return cond

    def isnull(self, column: Hashable) -> np.ndarray:
        pdf = self._df.select(self._null_cond(column).alias("m"), ROW_ID).orderBy(ROW_ID).toPandas()
        return pdf["m"].to_numpy(dtype=bool)

    def notnull(self, column: Hashable) -> np.ndarray:
        return ~self.isnull(column)

    # -- G5-G8: unique / dedup / none-minmax -----------------------------------------

    def unique(self, column: Hashable, unordered: bool = False) -> np.ndarray:
        c = str(column)
        df = self._df.select(c).distinct()
        if not unordered:
            df = df.orderBy(c)
        pdf = df.toPandas()
        return _to_numpy(pdf[c], self._df.schema[c].dataType)

    def _norm_subset(self, subset) -> list[str]:
        """Normalize/validate a dedup key spec (reference
        `tests/test_duplicates.py:48-58`): scalar or sequence of column
        names; KeyError on unknown column, TypeError on non-name objects,
        ValueError on an explicitly empty list."""
        if subset is None:
            return list(self.columns)
        if isinstance(subset, (str, int)):
            subset = [subset]
        elif not isinstance(subset, (list, tuple)):
            raise TypeError(f"subset must be a column name or list/tuple, got {type(subset).__name__}")
        if len(subset) == 0:
            raise ValueError("subset must not be empty")
        cols = []
        for c in subset:
            if not isinstance(c, (str, int)):
                raise TypeError(f"column names must be str/int, got {type(c).__name__}")
            if str(c) not in self.columns:
                raise KeyError(c)
            cols.append(str(c))
        return cols

    def duplicated(self, subset: Sequence[Hashable] | None = None, keep: str = "first") -> np.ndarray:
        cols = self._norm_subset(subset)
        order = F.col(ROW_ID).asc() if keep == "first" else F.col(ROW_ID).desc()
        w = Window.partitionBy(*cols).orderBy(order)
        if keep in ("first", "last"):
            mask = F.row_number().over(w) > 1
        elif keep is False or keep == False:  # noqa: E712
            mask = F.count(F.lit(1)).over(Window.partitionBy(*cols)) > 1
        else:
            raise ValueError(f"keep must be 'first'|'last'|False, got {keep!r}")
        pdf = self._df.select(mask.alias("m"), ROW_ID).orderBy(ROW_ID).toPandas()
        return pdf["m"].to_numpy(dtype=bool)

    def drop_duplicates(
        self,
        subset: Sequence[Hashable] | None = None,
        keep: str = "first",
        ignore_index: bool = False,
        inplace: bool = False,
    ) -> "MDF":
        cols = self._norm_subset(subset)
        if keep in ("first", "last"):
            order = F.col(ROW_ID).asc() if keep == "first" else F.col(ROW_ID).desc()
            w = Window.partitionBy(*cols).orderBy(order)
            out = self._df.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")
            if keep == "last":
                # reference output order is each key's FIRST-occurrence
                # position even when the LAST occurrence's values are kept
                # (`tests/test_duplicates.py::test_drop_duplicates_one_last`:
                # a=[1,2,3,5,6], not kept-row order [1,2,5,3,6]) — remint
                # the surviving row id as the group minimum.
                wmin = Window.partitionBy(*cols)
                out = (
                    self._df.withColumn("__rn__", F.row_number().over(w))
                    .withColumn("__first__", F.min(ROW_ID).over(wmin))
                    .filter(F.col("__rn__") == 1)
                    .drop("__rn__", ROW_ID)
                    .withColumnRenamed("__first__", ROW_ID)
                )
        else:
            w = Window.partitionBy(*cols)
            out = self._df.withColumn("__cnt__", F.count(F.lit(1)).over(w)).filter(F.col("__cnt__") == 1).drop("__cnt__")
        # ignore_index resets the index NAMES; the hidden row ids must
        # survive (they carry the original row order through the
        # partitionBy shuffle — re-minting them here would scramble it).
        index = () if ignore_index else self._index
        if inplace:
            self._df, self._index = out, index
            return self
        return MDF._from_spark(out, index)

    def nonemin(self, column: Hashable):
        return self._none_reduce(column, F.min)

    def nonemax(self, column: Hashable):
        return self._none_reduce(column, F.max)

    def _none_reduce(self, column: Hashable, fn):
        c = str(column)
        expr = F.col(c)
        if isinstance(self._df.schema[c].dataType, (T.DoubleType, T.FloatType)):
            expr = F.when(~F.isnan(expr), expr)
        row = self._df.select(fn(expr).alias("v")).collect()[0]
        return row["v"]

    # -- J3: isin ---------------------------------------------------------------------

    # Above this many literal values, membership lowers to a join instead
    # of an in-plan literal list (a 10^6-element IN-list bloats the plan
    # and serializes to every task).
    _ISIN_LITERAL_MAX = 4096

    @staticmethod
    def _coerce_isin_value(v, column: str, fam: str, ftype: T.DataType):
        """Reference haystack-dtype protocol (`tests/test_isin.py`):
        values coerce to the column dtype with numpy 'unsafe' casting
        (float 2.1 matches int 2), un-coercible dtypes raise ValueError."""
        if v is None:
            return None
        if fam == "numeric":
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise ValueError(f"haystack value {v!r} incompatible with numeric column {column!r}")
            if isinstance(v, float) and isinstance(
                ftype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                return int(v)  # numpy unsafe-cast truncation
            return v
        if fam == "string":
            if not isinstance(v, str):
                raise ValueError(f"haystack value {v!r} incompatible with string column {column!r}")
            return v
        if fam == "binary":
            if isinstance(v, str):
                return v.encode()  # fixed-width S vs U interop
            if not isinstance(v, (bytes, bytearray)):
                raise ValueError(f"haystack value {v!r} incompatible with binary column {column!r}")
            return bytes(v)
        return v

    def isin(self, column: Hashable, haystack, assume_unique: bool = False, invert: bool = False) -> np.ndarray:  # noqa: ARG002
        """J3 membership mask (`medvedi/dataframe.py:901-929`).

        Scale ruling (SURVEY §2.3): the haystack is NEVER collected to the
        driver. An MDF (or large literal) haystack becomes the build side
        of a marker left join — Spark broadcasts it when small (the
        broadcast left_semi shape) and falls back to a shuffled hash join
        when it is corpus-sized, so a 10^8-row haystack cannot OOM the
        driver. Only the boolean mask itself returns driver-side (that is
        the compat contract's return type).
        """
        c = str(column)
        if c not in self.columns:
            raise KeyError(column)
        ftype = self._df.schema[c].dataType
        fam = _dtype_family(ftype)
        hay_df = None
        if isinstance(haystack, MDF):
            hay_col = haystack.columns[0]
            hay_fam = _dtype_family(haystack._df.schema[hay_col].dataType)
            if hay_fam != fam:
                raise ValueError(f"haystack dtype {hay_fam} incompatible with column {c!r} ({fam})")
            hay_df = haystack._df.select(F.col(hay_col).alias("__hay__"))
        else:
            values = [self._coerce_isin_value(_normalize_cell(v), c, fam, ftype) for v in haystack]
            if len(values) > self._ISIN_LITERAL_MAX:
                hay_df = self._df.sparkSession.createDataFrame(
                    [(v,) for v in values], schema=T.StructType(
                        [T.StructField("__hay__", self._df.schema[c].dataType)]
                    )
                )
        if hay_df is None:
            cond = F.col(c).isin(values)
            if invert:
                cond = ~cond
            # null column value -> null cond -> invert's truth value;
            # coalesced JVM-side so the mask lands as non-null booleans
            # (a pandas-side fillna on an object column trips the silent-
            # downcasting FutureWarning).
            cond = F.coalesce(cond, F.lit(bool(invert)))
            pdf = self._df.select(cond.alias("m"), ROW_ID).orderBy(ROW_ID).toPandas()
            return pdf["m"].to_numpy(dtype=bool)
        if not assume_unique:
            hay_df = hay_df.distinct()  # guard row multiplication in the left join
        marked = self._df.select(ROW_ID, F.col(c).alias("__v__")).join(
            hay_df.withColumn("__hit__", F.lit(True)),
            F.col("__v__") == F.col("__hay__"),
            "left",
        )
        # No-match → __hit__ null → False (True when inverted) — same
        # null policy as the literal path's fillna(invert).
        mask = F.coalesce(F.col("__hit__"), F.lit(False))
        if invert:
            mask = ~mask
        pdf = marked.select(mask.alias("m"), ROW_ID).orderBy(ROW_ID).toPandas()
        return pdf["m"].to_numpy(dtype=bool)

    # -- G1: groupby --------------------------------------------------------------------

    def groupby(self, *by: Hashable) -> Grouper:
        """G1. External ungrouped arrays of frame length are legal keys
        (`medvedi/dataframe.py:886-896`) — they attach as hidden columns
        (positional, by row order) before grouping."""
        parent = self
        keys: list[str] = []
        for i, k in enumerate(by or self._index):
            if isinstance(k, (list, tuple, np.ndarray)):
                arr = np.asarray(k)
                if arr.ndim != 1 or len(arr) != len(self):
                    raise ValueError(
                        f"external group key must be 1-D of frame length {len(self)}, got shape {arr.shape}"
                    )
                name = f"__gkey{i}__"
                ext = MDF({name: arr}, spark=self._df.sparkSession)
                joined = parent._df.join(ext._df.withColumnRenamed(ROW_ID, "__gk_rid__"),
                                         F.col(ROW_ID) == F.col("__gk_rid__")).drop("__gk_rid__")
                parent = MDF._from_spark(joined, parent._index)
                keys.append(name)
                continue
            if not isinstance(k, Hashable) or isinstance(k, (set, frozenset)):
                # non-column, non-array key objects are a TypeError
                # (`tests/test_groupby.py::test_groupby_bad_column`)
                raise TypeError(f"invalid group key type {type(k).__name__}")
            name = str(k)
            if name not in self.columns:
                raise KeyError(f"unknown group key {name!r}")
            keys.append(name)
        if not keys:
            raise ValueError("no group keys: pass columns or set an index")
        return Grouper(parent, keys)

    # -- O1/O2: sorts ------------------------------------------------------------------

    def sort_values(
        self,
        by: Hashable | Sequence[Hashable],
        ascending: bool = True,
        inplace: bool = False,
        kind: str = "stable",  # noqa: ARG002 - row-id tiebreak makes every sort stable
        na_position: str = "last",
        ignore_index: bool = False,
        non_negative_hint: bool = False,  # noqa: ARG002 - radix-sort hint is a numpy detail
    ) -> "MDF":
        keys = [by] if isinstance(by, (str, int)) else list(by)
        if not keys:
            raise ValueError("sort_values needs at least one key")
        exprs = []
        for k in keys:
            c = str(k)
            col = F.col(c)
            if isinstance(self._df.schema[c].dataType, (T.DoubleType, T.FloatType)):
                # medvedi's na_position governs NaN; Spark separates NaN from
                # NULL — fold NaN into NULL so one rule places both.
                col = F.when(~F.isnan(F.col(c)), F.col(c))
            if ascending:
                exprs.append(col.asc_nulls_first() if na_position == "first" else col.asc_nulls_last())
            else:
                exprs.append(col.desc_nulls_first() if na_position == "first" else col.desc_nulls_last())
        # stable: ties keep original order; descending reverses ties too
        # (`dataframe.py:623-671` reverses the ascending permutation).
        exprs.append(F.col(ROW_ID).asc() if ascending else F.col(ROW_ID).desc())
        out = _renumber_by(self._df, *exprs)
        index = () if ignore_index else self._index
        if inplace:
            # lazy mutation: rebind the wrapped plan (reference
            # `dataframe.py:623-671` sorts in place and returns self)
            self._df, self._index = out, index
            return self
        return MDF._from_spark(out, index)

    def sort_index(self, level: int | Sequence[int] | None = None, **kwargs) -> "MDF":
        if level is not None and not isinstance(level, int) and (
            isinstance(level, str) or not isinstance(level, Sequence)
        ):
            raise TypeError(f"level must be int or sequence of ints, got {type(level).__name__}")
        levels = range(len(self._index)) if level is None else ([level] if isinstance(level, int) else level)
        return self.sort_values([self._index[i] for i in levels], **kwargs)

    # -- X1/X2: index management -----------------------------------------------------------

    def set_index(self, index: Hashable | Sequence[Hashable], inplace: bool = False, drop: bool = False) -> "MDF":
        if isinstance(index, Index):
            # an Index object contributes its VALUES as synthesized levels
            # (`tests/test_init.py:110-129`: index=other.index → "_index0")
            names = [index.get_level_values(i) for i in range(index.nlevels)]
        elif isinstance(index, (str, int)):
            names: list[Any] = [index]
        elif isinstance(index, np.ndarray) and index.dtype.kind != "O":
            names = [index]  # one value-array level, not a list of names
        else:
            names = list(index)
        cols = []
        df = self._df
        for i, item in enumerate(names):
            if isinstance(item, (str, int)):
                # a scalar is a column NAME — unknown names raise, they do
                # not silently become a broadcast value level
                # (`tests/test_index.py:29-45` in the reference)
                if str(item) not in self.columns:
                    raise KeyError(item)
                cols.append(str(item))
            else:
                arr = np.asarray(item)
                if arr.ndim != 1:
                    raise KeyError(f"index level {i} must be a column name or 1-D array")
                synth = f"_index{i}"
                if (synth in self.columns or synth in self._index) and not drop:
                    raise ValueError(
                        f"synthesized index name {synth!r} clashes with an existing "
                        "column; pass drop=True"
                    )
                # with drop=True an existing synthesized level is REPLACED
                # (`tests/test_index.py:35-58`: repeated value-array
                # set_index overwrites _index{i})
                keep_index = tuple(c for c in self._index if c != synth)
                if synth in df.columns:
                    df = df.drop(synth)
                tmp = MDF._from_spark(df, keep_index)
                tmp[synth] = arr
                df = tmp._df
                cols.append(synth)
        old_index = self._index
        if drop:
            for c in old_index:
                if c not in cols:
                    df = df.drop(c)
        if inplace:
            self._df, self._index = df, tuple(cols)
            return self
        return MDF._from_spark(df, tuple(cols))

    def reset_index(self, inplace: bool = False, drop: bool = False) -> "MDF":
        df = self._df
        if drop:
            for c in self._index:
                df = df.drop(c)
        if inplace:
            self._df, self._index = df, ()
            return self
        return MDF._from_spark(df, ())

    # -- U3: explode -------------------------------------------------------------------------

    def explode(self, column: Hashable, ignore_index: bool = False) -> "MDF":
        c = str(column)
        dt = self._df.schema[c].dataType
        if not isinstance(dt, T.ArrayType):
            # non-list column → no-op copy (`dataframe.py:581-606`)
            return self.copy()
        others = [x for x in self._df.columns if x != c]
        # empty lists drop their row in the reference (0 repeats) — plain
        # explode() does the same; NULL arrays also vanish. posexplode's
        # position column gives the deterministic intra-row tiebreak for
        # the new row ids (ADVICE: mono-id-after-sort is not contractual).
        out = self._df.select(*others, F.posexplode(F.col(c)).alias("__pos_in__", c))
        out = _renumber_by(out, F.col(ROW_ID).asc(), F.col("__pos_in__").asc()).drop("__pos_in__")
        return MDF._from_spark(out, () if ignore_index else self._index)

    def unpivot(
        self,
        ids: Sequence[Hashable],
        values: Sequence[Hashable],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "MDF":
        """Wide → long reshape (pandas ``melt``; a capability the strictly
        columnar-wide reference cannot express). Lowers to Spark's native
        ``unpivot`` — a map-side expand, zero shuffle, linear in
        rows × len(values). Output rows are ordered source-row-major then
        by the ``values`` order, like pandas with ``ignore_index=True``
        per source row."""
        id_cols = [str(c) for c in ids]
        val_cols = [str(c) for c in values]
        pos = F.array_position(F.array(*[F.lit(c) for c in val_cols]), F.col(var_name))
        out = (
            self._df.select(*id_cols, *val_cols, ROW_ID)
            .unpivot([*id_cols, ROW_ID], val_cols, var_name, value_name)
        )
        out = _renumber_by(out, F.col(ROW_ID).asc(), pos.asc())
        return MDF._from_spark(out, ())

    def pivot_table(
        self,
        index: Hashable | Sequence[Hashable],
        columns: Hashable,
        values: Hashable,
        aggfunc: str = "sum",
        pivot_values: Sequence | None = None,
    ) -> "MDF":
        """Long → wide reshape over an aggregate (pandas ``pivot_table``).
        One shuffle on the index keys; at scale, pass ``pivot_values``
        (the distinct pivot labels) to skip Spark's distinct-value
        discovery job — on 100 TB the label set is catalog knowledge, not
        something to recompute. Rows are ordered by the index keys."""
        idx = [str(c) for c in (index if isinstance(index, (list, tuple)) else [index])]
        grouped = self._df.drop(ROW_ID).groupBy(*idx)
        piv = grouped.pivot(str(columns), list(pivot_values) if pivot_values is not None else None)
        out = piv.count() if aggfunc == "count" else getattr(piv, aggfunc)(str(values))
        out = _renumber_by(out, *[F.col(c).asc() for c in idx])
        return MDF._from_spark(out, tuple(idx))

    # -- caching / SQL interop (beyond ref: Spark-native surface) ----------------------------------

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "MDF":
        """Pin the frame's plan result across actions (the reference is
        eager, so every frame is implicitly 'persisted'; on Spark this is
        an explicit, spill-safe choice). Returns self for chaining."""
        from pyspark import StorageLevel

        self._df.persist(getattr(StorageLevel, storage_level))
        return self

    def cache(self) -> "MDF":
        return self.persist()

    def unpersist(self, blocking: bool = False) -> "MDF":
        self._df.unpersist(blocking)
        return self

    def to_view(self, name: str) -> "MDF":
        """Register this frame as a temp view (without the internal row-id
        column) so `spark.sql` / the module-level `sql()` helper can
        query it."""
        self._df.drop(ROW_ID).createOrReplaceTempView(name)
        return self

    # -- S2: arrow / parquet export ---------------------------------------------------------------

    def to_arrow(self):
        return self._df.orderBy(ROW_ID).drop(ROW_ID).toArrow()

    def serialize_unsafe(self) -> bytes:
        """S4 functional replacement: Arrow IPC stream bytes instead of the
        reference's custom binary format (SURVEY §3.3 ruling — parquet/
        Arrow are the storage formats; the wire layout differs by design).
        Index names travel in the schema metadata so the round trip is
        lossless including the index."""
        import pyarrow as pa

        table = self.to_arrow()
        meta = dict(table.schema.metadata or {})
        meta[b"medvedi_spark.index"] = ",".join(map(str, self._index)).encode()
        table = table.replace_schema_metadata(meta)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        return sink.getvalue().to_pybytes()

    @classmethod
    def deserialize_unsafe(cls, data: bytes, *, spark: SparkSession | None = None) -> "MDF":
        """S5 functional replacement (see ``serialize_unsafe``)."""
        import pyarrow as pa

        table = pa.ipc.open_stream(pa.BufferReader(data)).read_all()
        meta = table.schema.metadata or {}
        raw = meta.get(b"medvedi_spark.index", b"").decode()
        index = tuple(n for n in raw.split(",") if n)
        return cls.from_arrow(table, spark=spark, index=index)

    def to_pandas(self) -> pd.DataFrame:
        return self._df.orderBy(ROW_ID).drop(ROW_ID).toPandas()

    def to_parquet(self, path: str, mode: str = "overwrite") -> None:
        """S4-replacement: parquet is the serialize/deserialize format."""
        self._df.write.mode(mode).parquet(path)

    # -- joins (J1) -------------------------------------------------------------------------------

    def join(
        self,
        *others: "MDF",
        how: str = "left",
        suffixes: Sequence[str | None] | None = None,
        copy: bool = False,
        fill_defaults: bool = True,
        check_unique: bool = True,
    ) -> "MDF":
        return join(
            self, *others, how=how, suffixes=suffixes,
            fill_defaults=fill_defaults, check_unique=check_unique, copy=copy,
        )

    def concat(
        self, *others: "MDF", ignore_index: bool = False, strict: bool = True, copy: bool = False
    ) -> "MDF":
        return concat(self, *others, ignore_index=ignore_index, strict=strict, copy=copy)


class Iloc:
    """Positional row access (`medvedi/dataframe.py:264-287`)."""

    def __init__(self, parent: MDF):
        self._parent = parent

    def __getitem__(self, item):
        parent = self._parent
        if isinstance(item, (int, np.integer)):
            n = len(parent)
            i = int(item)
            if i < 0:
                i += n
            if not 0 <= i < n:
                raise IndexError(item)
            # OFFSET/LIMIT over the row-id order instead of the full
            # position-attachment plan: one row never justifies a
            # range-sort + window + broadcast join.
            row = parent._df.orderBy(ROW_ID).offset(i).limit(1).drop(ROW_ID).collect()
            return row[0].asDict()
        if isinstance(item, slice):
            start, stop, step = item.indices(len(parent))
            if step == 1:
                # contiguous slice → OFFSET/LIMIT over the row-id order
                # (TakeOrderedAndProject: per-partition top-(stop), merge,
                # drop the first start rows) — no position-attachment
                # plan, no driver-side index list, no join. The surviving
                # row ids stay an ascending subset, which is all any
                # downstream operator relies on.
                out = parent._df.orderBy(ROW_ID).offset(start).limit(max(stop - start, 0))
                return MDF._from_spark(out, parent._index)
            idx = np.arange(len(parent))[item]
            return parent.take(idx)
        if isinstance(item, str) or (
            isinstance(item, np.ndarray) and item.dtype.kind in ("U", "S", "O")
        ):
            raise TypeError(f"iloc accepts int, slice, or integer/boolean arrays, got {item!r}")
        return parent.take(np.asarray(item))


def _is_null_cell(v: Any) -> bool:
    if v is None:
        return True
    if isinstance(v, float) and v != v:
        return True
    if isinstance(v, np.datetime64) and np.isnat(v):
        return True
    if isinstance(v, np.timedelta64) and np.isnat(v):
        return True
    return False


def _to_numpy(series: pd.Series, dtype: T.DataType) -> np.ndarray:
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        if series.isna().any():
            return series.to_numpy()  # nullable → object/float, caller's delta
        return series.to_numpy(dtype=np.int64 if isinstance(dtype, T.LongType) else np.int32)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return series.to_numpy(dtype=np.float64 if isinstance(dtype, T.DoubleType) else np.float32)
    if isinstance(dtype, T.BooleanType) and not series.isna().any():
        return series.to_numpy(dtype=bool)
    if isinstance(dtype, T.BinaryType):
        return series.map(lambda v: bytes(v) if v is not None else None).to_numpy()
    return series.to_numpy()


# ---------------------------------------------------------------------------
# module-level join / concat (API parity with `medvedi/pure_static.py:13-49`)
# ---------------------------------------------------------------------------


def _dtype_family(dt: T.DataType) -> str:
    """Coercibility family for join-key compatibility (the reference
    raises ValueError when key dtypes cannot merge, e.g. int vs bytes —
    `tests/test_join.py:208-215`). Checked eagerly so the error surfaces
    at join build, not at first materialization."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return "numeric"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "temporal"
    return type(dt).__name__


def join(
    *dfs: MDF,
    how: str = "left",
    suffixes: Sequence[str | None] | None = None,
    fill_defaults: bool = True,
    check_unique: bool = True,
    copy: bool = False,
) -> MDF:
    """n-ary index-equi join with medvedi semantics (SURVEY §2.3 J1):

    - keys are each frame's index levels, matched by POSITION not name
      (`tests/test_join.py:224-231` in the reference);
    - ``right`` = reversed ``left`` (`dataframe.py:1134-1135`);
    - duplicate keys allowed in the first frame only; elsewhere they raise
      (the reference's m:n guard, `dataframe.py:1196-1209`) — checked
      distributed in ONE early-exit job when ``check_unique``;
    - missing matches fill with type defaults, not NULL (δ-1);
    - same-name non-key columns: LAST frame wins, or ``suffixes`` renames;
    - output sorted by key (np.unique sorting, `dataframe.py:1194`).
    """
    for d in dfs:
        if not isinstance(d, MDF):
            raise TypeError(f"join arguments must be frames, got {type(d).__name__}")
    if suffixes is not None and (isinstance(suffixes, str) or not isinstance(suffixes, Sequence)):
        raise TypeError("suffixes must be a sequence of str/None")
    if how not in ("left", "right", "inner", "outer"):
        raise ValueError(f"bad how={how!r}")
    # Degenerate arities (`tests/test_join.py:10-19` in the reference):
    # zero frames → empty frame; one frame → itself (or a copy).
    if len(dfs) == 0:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("join of zero frames needs an active SparkSession")
        return MDF({}, spark=spark)
    if len(dfs) == 1:
        return dfs[0].copy() if copy else dfs[0]
    if len(dfs) > 255:
        raise ValueError("join takes at most 255 frames")
    if how == "right":
        return join(*reversed(dfs), how="left", suffixes=None if suffixes is None else list(reversed(list(suffixes))),
                    fill_defaults=fill_defaults, check_unique=check_unique)
    nlevels = len(dfs[0]._index)
    if nlevels == 0:
        raise ValueError("first frame has no index")
    for d in dfs:
        if len(d._index) != nlevels:
            raise ValueError("all frames must have the same number of index levels")
    if suffixes is not None and len(suffixes) != len(dfs):
        raise ValueError(f"suffixes must have one entry per frame ({len(dfs)})")
    # eager key-dtype compatibility per level (reference: ValueError on
    # unmergeable index dtypes, e.g. int vs bytes)
    for lvl in range(nlevels):
        fams = {
            _dtype_family(d._df.schema[d._index[lvl]].dataType) for d in dfs
        }
        if len(fams) > 1:
            raise ValueError(
                f"incompatible index dtypes at level {lvl}: {sorted(fams)}"
            )
    key_names = [f"__k{i}__" for i in range(nlevels)]
    # suffixes apply only to colliding non-key columns (reference
    # `tests/test_join.py:160-178`); without suffixes, last frame wins.
    from collections import Counter

    collision_counts = Counter(
        c for d in dfs for c in d.columns if c not in d._index
    )
    colliding = {c for c, n in collision_counts.items() if n > 1}
    prepared: list[DataFrame] = []
    all_value_cols: list[list[str]] = []
    for fi, d in enumerate(dfs):
        df = d._df
        # positional key rename
        for kn, local in zip(key_names, d._index):
            df = df.withColumn(kn, F.col(local))
        value_cols = [c for c in d.columns if c not in d._index]
        suffix = None
        if suffixes is not None:
            suffix = suffixes[fi]
        if suffix:
            renames = {c: c + suffix for c in value_cols if c in colliding}
            df = df.withColumnsRenamed(renames)
            value_cols = [renames.get(c, c) for c in value_cols]
        df = df.select(*key_names, *value_cols, *( [ROW_ID] if fi == 0 else [] ))
        if fi > 0 and check_unique:
            # ONE job with an early-exit take(1) instead of the former two
            # full counts — at 100× scale two extra passes over the right
            # side would cost more than the join itself. groupBy treats
            # null keys as ordinary grouping values, so null-keyed
            # duplicates are caught exactly like the old distinct() check.
            dup = (
                df.groupBy(*key_names)
                .agg(F.count(F.lit(1)).alias("__n__"))
                .filter(F.col("__n__") > 1)
            )
            if not dup.isEmpty():
                raise NotImplementedError(
                    f"duplicate index values in joined frame #{fi} — the reference "
                    "forbids many-to-many joins (medvedi/dataframe.py:1196-1209)"
                )
        prepared.append(df)
        all_value_cols.append(value_cols)

    # Last-wins column collisions, REFERENCE scatter semantics
    # (`dataframe.py:1245-1275`): a later frame overwrites only at rows
    # IT matched; rows no later frame matched keep the earliest matched
    # value; rows matched by no contributing frame fill with the type
    # default. Keep every colliding copy under a frame-tagged temp name
    # plus a per-frame match marker, resolve after the joins.
    colliding_present: dict[str, list[int]] = {}
    for fi, cols in enumerate(all_value_cols):
        for c in cols:
            if c in colliding:
                colliding_present.setdefault(c, []).append(fi)
    marker_frames = {fi for fis in colliding_present.values() for fi in fis if fi > 0}
    for fi in range(len(prepared)):
        ren = {c: f"__c{fi}_{c}__" for c in all_value_cols[fi] if c in colliding}
        if ren:
            prepared[fi] = prepared[fi].withColumnsRenamed(ren)
            all_value_cols[fi] = [ren.get(c, c) for c in all_value_cols[fi]]
        if fi in marker_frames:
            prepared[fi] = prepared[fi].withColumn(f"__m{fi}__", F.lit(1))

    spark_how = {"left": "left", "inner": "inner", "outer": "full_outer"}[how]
    out = prepared[0]
    for fi in range(1, len(prepared)):
        right = prepared[fi]
        rk = [f"__rk{i}__" for i in range(nlevels)]
        right = right.withColumnsRenamed(dict(zip(key_names, rk)))
        cond = None
        for a, b in zip(key_names, rk):
            c = out[a].eqNullSafe(right[b])
            cond = c if cond is None else cond & c
        out = out.join(right, on=cond, how=spark_how)
        # outer: surviving key = coalesce(left, right)
        for a, b in zip(key_names, rk):
            out = out.withColumn(a, F.coalesce(F.col(a), F.col(b))).drop(b)

    # resolve collisions: CASE over contributing frames, latest first
    # (frame 0 rows are always "matched" in a left/outer join result)
    for c, fis in colliding_present.items():
        expr = None
        for fi in sorted(fis, reverse=True):
            cond = F.lit(True) if fi == 0 else F.col(f"__m{fi}__").isNotNull()
            val = F.col(f"__c{fi}_{c}__")
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        out = out.withColumn(c, expr)
    drop_tmp = [f"__c{fi}_{c}__" for c, fis in colliding_present.items() for fi in fis]
    drop_tmp += [f"__m{fi}__" for fi in marker_frames]
    if drop_tmp:
        out = out.drop(*drop_tmp)
    # output order: reference dict-insertion order — a colliding name sits
    # at its FIRST contributing frame's position
    value_out: list[str] = []
    for cols in all_value_cols:
        for c in cols:
            m = re.fullmatch(r"__c\d+_(.*)__", c)
            name = m.group(1) if m else c
            if name not in value_out:
                value_out.append(name)
    if fill_defaults:
        out = _fill_defaults(out, value_out)
    # sorted-by-key output; fresh contiguous row ids in that order
    out = _renumber_by(out, *[F.col(k).asc_nulls_first() for k in key_names], F.col(ROW_ID).asc_nulls_first())
    # index names: first frame's names
    renames = dict(zip(key_names, dfs[0]._index))
    out = out.withColumnsRenamed(renames)
    out = out.select(*dfs[0]._index, *value_out, ROW_ID)
    return MDF._from_spark(out, dfs[0]._index)


def concat(*dfs: MDF, ignore_index: bool = False, strict: bool = True, copy: bool = False) -> MDF:
    """U1 vertical concat (`medvedi/pure_static.py:13-30`, impl
    `dataframe.py:1068-1124`): strict requires identical column sets;
    non-strict unions by name and fills absent cells with type defaults.

    Fully lazy: row order across frames is re-established by ONE
    distributed renumber over the union keyed by (frame ordinal, local
    row id) — no per-frame count/renumber actions, so concatenating N
    corpus-sized frames costs one range-sort pass, not N driver jobs.
    """
    for d in dfs:
        if not isinstance(d, MDF):
            raise TypeError(f"concat arguments must be frames, got {type(d).__name__}")
    # Degenerate arities (`tests/test_concat.py:9-16` in the reference):
    if len(dfs) == 0:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("concat of zero frames needs an active SparkSession")
        return MDF({}, spark=spark)
    if len(dfs) == 1:
        return dfs[0].copy() if copy else dfs[0]
    first = dfs[0]
    if not ignore_index:
        for d in dfs[1:]:
            if d._index != first._index:
                raise ValueError("indexes must match unless ignore_index=True")
    if strict:
        cols = set(first.columns)
        for d in dfs[1:]:
            if set(d.columns) != cols:
                raise ValueError("strict concat requires identical column sets")
    all_cols: list[str] = []
    for d in dfs:
        for c in d.columns:
            if c not in all_cols:
                all_cols.append(c)
    parts = [d._df.withColumn("__fi__", F.lit(fi)) for fi, d in enumerate(dfs)]
    # Same-name columns with different dtypes: a ROWLESS frame adopts the
    # dtype of the first non-empty frame (`tests/test_concat.py:84-90` —
    # an empty object column must not stringify a populated int column).
    # The emptiness probe is an isEmpty action, taken only on conflict.
    col_types: dict[str, dict[int, T.DataType]] = {}
    for fi, d in enumerate(dfs):
        for f in d._df.schema.fields:
            if f.name != ROW_ID:
                col_types.setdefault(f.name, {})[fi] = f.dataType
    for cname, owners in col_types.items():
        if len({str(t) for t in owners.values()}) > 1:
            empties = [fi for fi in owners if dfs[fi]._df.isEmpty()]
            non_empty = [fi for fi in owners if fi not in empties]
            if non_empty:
                target = owners[non_empty[0]]
                for fi in empties:
                    parts[fi] = parts[fi].withColumn(cname, F.col(cname).cast(target))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=not strict)
    out = _renumber_by(out, F.col("__fi__").asc(), F.col(ROW_ID).asc()).drop("__fi__")
    if not strict:
        out = _fill_defaults(out, all_cols)
    index = () if ignore_index else first._index
    return MDF._from_spark(out.select(*all_cols, ROW_ID), index)


def sql(query: str, tables: dict[str, "MDF"] | None = None, *, spark=None, index=()) -> "MDF":
    """Run ANSI SQL over MDFs: registers ``tables`` as temp views, runs the
    query through Catalyst, wraps the result. The full Spark SQL surface
    (joins, windows, CTEs, lateral views) applies to compat frames with
    zero copying — the views are lazy plan aliases, not materializations."""
    from pyspark.sql import SparkSession

    for name, mdf in (tables or {}).items():
        mdf.to_view(name)
        spark = spark or mdf._df.sparkSession
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession; pass spark=")
    return MDF.from_spark(s.sql(query), index=index)
