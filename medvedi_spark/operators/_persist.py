"""Operator size policy and tracked operator-lifetime state.

The size policy: the two budgets every adaptive router compares against
(:data:`PERSIST_INPUT_CAP`, :data:`BROADCAST_BUDGET`) and the one
Catalyst size estimate they read (:func:`estimated_bytes`). Routers read
the budgets through this module at call time, so patching one here moves
every router.

Tracked state: Spark has no "plan was materialized" callback, so an
operator that persists an intermediate (the adaptive-Jaccard gram table,
the global as-of join's range-partitioned stream) cannot self-unpersist,
a stream drain cannot drop the memory sink it hands back, and a query
that writes a scratch directory (:func:`scratch_dir`) cannot remove it
while its returned plan still reads it; long-lived sessions (bench,
notebooks) call :func:`release_persisted` between queries — otherwise
cache blocks, sink rows and scratch files linger until context shutdown
(round-4 ADVICE).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Keyed by the owning SparkSession (id) so release_persisted() from one
# consumer (a bench loop, a test) cannot unpersist frames a concurrent
# query in ANOTHER session is still reading (round-5 ADVICE). Within one
# session the original contract stands: callers release between queries.
_PERSISTED: dict[int, list[DataFrame]] = {}

# Memory-sink temp views of the stream drains (streaming.ops.run_to_memory),
# keyed the same way. A memory sink keeps every result row on the driver
# until its view is dropped.
_SINKS: dict[int, list[tuple[SparkSession, str]]] = {}


# Scratch directories handed out by scratch_dir(), keyed the same way.
# Each holds files a query wrote and its returned plan reads back.
_TMP_DIRS: dict[int, set[str]] = {}


def _session_key(df: DataFrame) -> int:
    try:
        return id(df.sparkSession)
    except Exception:  # noqa: BLE001 — detached frame; fall back to shared bucket
        return 0


def persist_tracked(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.setdefault(_session_key(df), []).append(df)
    return df


def track_sink(spark: SparkSession, view: str) -> None:
    """Register the memory-sink temp view ``view`` for release."""
    _SINKS.setdefault(id(spark), []).append((spark, view))


def scratch_dir(sf_dir: str, tag: str) -> str:
    """Path of the scratch directory ``tag`` for the tables in ``sf_dir``
    (format round trips, exported shards, saved indexes), registered for
    removal by :func:`release_persisted` under the active session and at
    interpreter exit. The caller creates and overwrites it."""
    # pid-scoped: two concurrent harness runs over the same table must
    # not race on the overwrite-then-read-back cycle (one run's delete
    # landing mid-read in the other produced spurious failures).
    path = os.path.join(
        tempfile.gettempdir(),
        f"medvedi_spark_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    spark = SparkSession.getActiveSession()
    _TMP_DIRS.setdefault(id(spark) if spark is not None else 0, set()).add(path)
    return path


def _remove_dirs(paths) -> None:
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)


atexit.register(lambda: _remove_dirs({p for ps in _TMP_DIRS.values() for p in ps}))


#: Input-size ceiling of the corpus-proportional plans. A router whose
#: source estimate is at most this caches its intermediates and
#: repartitions under-split inputs; above it the recompute is the
#: corpus-scale plan. 1 GiB because a persisted intermediate is a
#: multiple of its input: d11's anchor table is ~30x the source text, so
#: the cache stays in the tens of GB here, while an unconditional
#: persist of a 100 TB corpus would try to cache multi-PB.
PERSIST_INPUT_CAP = 1 << 30

#: Bytes a router may broadcast: each caller divides it by its own row
#: footprint to get a row cap. A broadcast side is collected on the
#: driver and copied into every executor, so its size must not grow with
#: the corpus. 32 MB is a few times Spark's 10 MB auto-broadcast
#: threshold, enough for the model-state and vocabulary tables of the
#: measured scales, and still small next to a driver or executor heap.
#: Past it the router drops its hint and the planner picks the join.
BROADCAST_BUDGET = 32 << 20


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's free size estimate of ``df``'s optimized plan, or
    ``None`` when there is none (streaming or detached frames). Every
    router treats ``None`` as over budget."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate unavailable
        return None


def under_persist_cap(df: DataFrame) -> bool:
    """Whether ``df``'s size estimate is known and within
    :data:`PERSIST_INPUT_CAP`."""
    est = estimated_bytes(df)
    return est is not None and est <= PERSIST_INPUT_CAP


def size_guarded_persist(source: DataFrame, df: DataFrame) -> DataFrame:
    """Tracked-persist ``df`` only when ``source`` is under
    :data:`PERSIST_INPUT_CAP`. The shared ruling for operator-internal
    caches that are proportional to the corpus (gram tables, anchor
    tables, signature tables): below the cap the cache beats 2-5
    shuffling recomputes; above it the recompute is the corpus-scale
    plan."""
    if under_persist_cap(source):
        return persist_tracked(df)
    return df


def release_persisted(spark: SparkSession | None = None) -> int:
    """Unpersist the operator-persisted DataFrames of ``spark``, drop
    its memory-sink views and remove its scratch directories (default:
    the active session, falling back to ALL sessions when none is active
    — process teardown); returns the count of frames and views. Safe
    once earlier plans are no longer needed — blocks drop, plans over
    persisted frames stay valid (they recompute if re-executed), while a
    plan that reads a removed scratch directory needs its query rebuilt.
    Scoped per session so one consumer's cleanup cannot evict caches a
    concurrent session still reads."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    keys = [id(spark), 0] if spark is not None else list(_PERSISTED.keys() | _SINKS.keys() | _TMP_DIRS.keys())
    n = 0
    for key in keys:
        for df in reversed(_PERSISTED.pop(key, [])):
            try:
                # blocking: callers snapshot getPersistentRDDs for leak
                # accounting right after this returns — the default async
                # unpersist leaves entries draining and the count races
                df.unpersist(blocking=True)
                n += 1
            except Exception:
                pass  # session already stopped — nothing to release
        for owner, view in _SINKS.pop(key, []):
            try:
                n += bool(owner.catalog.dropTempView(view))
            except Exception:
                pass  # session already stopped — nothing to release
        _remove_dirs(_TMP_DIRS.pop(key, ()))
    return n
