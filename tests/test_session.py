"""The tuned session factory: settings a long-lived session relies on."""

from __future__ import annotations

import importlib.util
import os
import sys

from pyspark.sql import functions as F

from medvedi_spark.operators._persist import release_persisted
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.testing import checksum

_WORKLOADS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "workloads.py")


def _serve_small() -> tuple[str, ...]:
    spec = importlib.util.spec_from_file_location("perfbench_workloads", _WORKLOADS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod.SERVE_SMALL.queries


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """The generated-code cache holds a serving loop's working set: a
    second pass over the benchmark's ``serve_small`` queries, each built
    and fully checksummed, compiles no new class."""
    _ensure_loaded()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in _serve_small():
            checksum(QUERIES[name].builder(spark, sf_dir)).collect()
            release_persisted()
        return compiles.getCount() - before

    one_pass()  # cold: fills the cache
    assert one_pass() == 0


def test_release_removes_query_scratch_dirs(spark, sf_dir):
    """A long-lived session keeps no query scratch files: c14's csv round
    trip and st13's streamed index ingest write directories under the
    temp dir, and release_persisted removes both."""
    import tempfile

    _ensure_loaded()
    table = os.path.basename(sf_dir.rstrip("/"))
    dirs = [
        os.path.join(tempfile.gettempdir(), f"medvedi_spark_{tag}_{table}_{os.getpid()}")
        for tag in ("c14csv", "st13idx")
    ]
    for name in ("c14_csv_roundtrip", "st13_stream_index_ingest"):
        QUERIES[name].builder(spark, sf_dir).select(F.count(F.lit(1))).collect()
    assert all(os.path.isdir(d) for d in dirs), dirs
    release_persisted()
    assert not any(os.path.exists(d) for d in dirs), dirs
