"""Table loading for the driver's TPC-H-ish testdata.

All tables are Parquet; ``load`` returns a plain ``pyspark.sql.DataFrame``
so every downstream operator benefits from parquet column pruning and
predicate pushdown (Catalyst pushes filters/projections into the scan —
check ``.explain("formatted")`` for ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "TABLES",
    "dataset_fingerprint",
    "model_state",
    "parquet_schema",
    "load",
    "load_all",
    "normalize_event_ts",
    "register_views",
    "ensure_session_confs",
]


def dataset_fingerprint(path: str) -> tuple:
    """Content-change fingerprint of a parquet dataset path, for keying
    the session model-state cache (:func:`model_state`: fitted Bloom
    bitmaps, PQ codebooks, inferred parquet schemas).

    A bare ``os.stat(path)`` is wrong twice (ADVICE r7): a parquet
    DIRECTORY's own ``st_size`` does not reflect the part files inside,
    and second-resolution ``st_mtime`` can miss a same-second in-place
    regeneration — silently serving a stale model, which breaks the
    no-false-negative guarantees st14/st16 advertise. So: nanosecond
    mtimes, and for directories the aggregate ``(relpath, size,
    mtime_ns)`` of every data file REACHABLE under the root — recursive
    (ADVICE r8: a key=value-partitioned dataset keeps its part files in
    subdirectories, and a non-recursive listdir only saw the directory
    entries, so an in-place part rewrite inside a partition served a
    stale model — the exact failure this fingerprint exists to catch).
    A file deleted between listing and stat (concurrent rewrite) is
    recorded as a sentinel tuple — i.e. a CHANGED fingerprint / cache
    miss — instead of raising.

    Symlinked partition directories ARE followed (ADVICE r9: the
    default ``followlinks=False`` walk never descended a symlinked
    subdirectory and recorded nothing for it, so an in-place rewrite
    under a symlinked partition silently served a stale cached model).
    A visited-``(st_dev, st_ino)`` guard breaks symlink cycles: a
    directory already walked is pruned instead of re-descended."""
    real = os.path.realpath(path)
    st = os.stat(real)
    if not os.path.isdir(real):
        return (real, st.st_size, st.st_mtime_ns)
    parts = []
    visited: set[tuple[int, int]] = set()
    for dirpath, dirnames, filenames in os.walk(real, followlinks=True):
        try:
            dst = os.stat(dirpath)
            dkey = (dst.st_dev, dst.st_ino)
        except OSError:
            parts.append((os.path.relpath(dirpath, real), -1, -1))
            dirnames[:] = []
            continue
        if dkey in visited:  # symlink cycle / diamond — walk each dir once
            dirnames[:] = []
            continue
        visited.add(dkey)
        # deterministic traversal + skip hidden/marker subtrees
        dirnames.sort()
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in sorted(filenames):
            if name.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(dirpath, name), real)
            try:
                pst = os.stat(os.path.join(dirpath, name))
            except OSError:
                parts.append((rel, -1, -1))  # raced delete → changed key
                continue
            parts.append((rel, pst.st_size, pst.st_mtime_ns))
    return (real, tuple(parts))


_T = TypeVar("_T")

# Fitted model state of the session (Bloom bitmaps, PQ codebooks,
# inferred parquet schemas). Production fits such a model once per frozen
# dataset and serves it everywhere, so the queries that share one pay its
# fit once per process instead of once per call.
_MODEL_STATE: dict[tuple, object] = {}


def model_state(model: str, path: str, params: tuple, fit: Callable[[], _T]) -> _T:
    """Return the ``model`` fitted on the dataset at ``path`` with
    ``params``, running ``fit()`` only on a miss. The key holds the model
    name (two models of one table never collide), the dataset's
    :func:`dataset_fingerprint` (a regenerated dataset misses) and the
    fit parameters."""
    key = (model, dataset_fingerprint(path), params)
    if key not in _MODEL_STATE:
        _MODEL_STATE[key] = fit()
    return _MODEL_STATE[key]


def parquet_schema(spark: SparkSession, path: str):
    """The schema of the parquet dataset at ``path``, for an explicit
    read schema. Spark infers it with one footer-reading job
    (``ParquetUtils.inferSchema``) on every read that has none. The footers
    are immutable per dataset generation, so the inference is cached
    model state, keyed also by ``nanosAsLong``, which decides how a
    ``TIMESTAMP(NANOS)`` column reads. A path that is not a local file or
    directory (a glob, a remote URI) is inferred on every call."""
    if not os.path.exists(path):
        return spark.read.parquet(path).schema
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return model_state("parquet_schema", path, (nanos,), lambda: spark.read.parquet(path).schema)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


# Analyzed-DataFrame cache: a metastore's job. Re-calling spark.read
# re-lists the path and re-reads parquet footers on every query; the
# returned DataFrame is immutable, so one per (session, path) suffices.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Runtime-settable confs every query's correctness depends on. The engine
# contract is "run on ANY SparkSession the caller hands in", so these are
# pinned at table-load time rather than only in the private session factory:
#  - nanosAsLong: the events table stores TIMESTAMP(NANOS), which Spark's
#    parquet reader rejects outright; read as epoch-nanos bigint instead.
#  - UTC timezone: deterministic timestamp rendering (matches the DuckDB
#    oracle, which is UTC-naive).
#  - ANSI off: reference semantics are permissive (NULL on bad cast, no
#    overflow errors), matching medvedi/numpy behavior.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin runtime-settable confs the query contract depends on.

    Idempotent and cheap (conf get is a local map lookup); called from every
    table-load entry point so queries are portable to a vanilla session.
    """
    for conf_key, value in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(conf_key, None) != value:
                spark.conf.set(conf_key, value)
        except Exception:
            # Unknown conf on an older/newer Spark: set unconditionally.
            spark.conf.set(conf_key, value)


def normalize_event_ts(df: DataFrame, column: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to session-TZ ``timestamp``.

    The on-disk physical type has changed between testdata generations
    (TIMESTAMP(NANOS) → timestamp[us]), so the conversion branches on what
    the reader actually produced rather than assuming one encoding:

    - ``bigint`` — the legacy ``nanosAsLong`` path: TIMESTAMP(NANOS) read
      as epoch-nanos. Integer-divide to micros (epoch-nanos exceeds double
      precision, so a float divide would corrupt the low microseconds).
    - ``timestamp_ntz`` — parquet ``isAdjustedToUTC=false`` micros. With
      the session pinned to UTC, reinterpreting as ``timestamp`` is
      value-identical and keeps one dtype across data generations.
    - ``timestamp`` — already the target type; no-op.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(column)
    if dtype == "bigint":
        return df.withColumn(column, F.timestamp_micros(F.expr(f"{column} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(column, F.col(column).cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    _DF_CACHE[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, Exception]:
    """Register tables as temp views for the SQL API surface.

    Registration is per-table and failure-tolerant: one unreadable table
    must not take down SQL queries that never touch it (a view that failed
    to register surfaces later as a TABLE_OR_VIEW_NOT_FOUND naming exactly
    the broken table). Returns the per-table failures for callers that
    want to surface them.
    """
    failures: dict[str, Exception] = {}
    for name in tables:
        try:
            load(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 — isolate per-table breakage
            failures[name] = exc
    return failures
