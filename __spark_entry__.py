"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``medvedi_spark.queries.registry`` — every implemented
operator from SURVEY.md §2 registers itself there with a Spark builder
and (where SQL-expressible) a DuckDB oracle string.
"""

from __future__ import annotations

import atexit
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Python WORKERS resolve imports from their own cwd/PYTHONPATH, not the
# driver's sys.path — a mapInPandas/applyInPandas closure that pickles a
# reference into medvedi_spark fails on workers when this file is loaded
# by path from another cwd. Exporting PYTHONPATH here covers sessions
# created AFTER this import; _ship_package covers pre-existing ones.
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from medvedi_spark.queries import registry as _registry  # noqa: E402

_SHIPPED: set[int] = set()
#: the package zips this process wrote, removed at interpreter exit
_ZIPS: set[str] = set()


def _remove_zips() -> None:
    """Delete this process's package zips; a forked child keeps them."""
    for path in _ZIPS:
        if path.endswith(f"_{os.getpid()}.zip"):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
    _ZIPS.clear()


atexit.register(_remove_zips)


def _ship_package(spark: SparkSession) -> None:
    """Make ``medvedi_spark`` importable on this session's Python workers
    regardless of the driver's cwd: zip the package once and addPyFile it
    (idempotent per session)."""
    key = id(spark)
    if key in _SHIPPED:
        return
    _SHIPPED.add(key)
    try:
        import hashlib
        import tempfile
        import zipfile

        # Name the zip by a content hash of the package sources, so an
        # edited package never ships stale bytes, and by this process's
        # pid, so no other process writes or removes it. Every session of
        # the process ships the same file; _remove_zips deletes it at exit.
        pkg = os.path.join(_REPO, "medvedi_spark")
        sources = []
        for root, _dirs, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    sources.append(os.path.join(root, fn))
        sources.sort()
        digest = hashlib.sha256()
        for full in sources:
            digest.update(os.path.relpath(full, _REPO).encode())
            with open(full, "rb") as fh:
                digest.update(fh.read())
        zpath = os.path.join(
            tempfile.gettempdir(),
            f"medvedi_spark_pkg_{digest.hexdigest()[:16]}_{os.getpid()}.zip",
        )
        if zpath not in _ZIPS:
            with zipfile.ZipFile(zpath, "w") as zf:
                for full in sources:
                    zf.write(full, os.path.relpath(full, _REPO))
            _ZIPS.add(zpath)
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # noqa: BLE001 — best effort; PYTHONPATH usually suffices
        pass


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    qs = queries()
    return qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
