"""SparkSession factory tuned for the medvedi-spark engine.

Configured for correctness against a DuckDB oracle (UTC session timezone,
Arrow execution) and for scale (AQE with coalescing + skew-join handling).
On a real cluster the same config applies; only ``master`` and the shuffle
partition count change (cluster deploys should leave
``spark.sql.shuffle.partitions`` to AQE's coalescing with a high initial
partition number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from medvedi_spark.catalog import _REQUIRED_CONFS

__all__ = ["get_spark", "DEFAULT_SF_DIR"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Generated classes kept per JVM (``spark.sql.codegen.cache.maxEntries``,
#: Spark's default 100). A warm serving session should compile nothing:
#: a request that misses the cache pays Janino, and then the JIT and the
#: code-cache sweeper redo their work for the new class. At 100 entries
#: the benchmark's ``serve_small`` recompiled 5-7 classes on every warm
#: request. One sweep of all 145 queries over the sf0.01 tables (each
#: built and fully checksummed, with an unbounded cache) compiled 2,169
#: distinct classes; a second sweep compiled 96 more, from queries whose
#: generated code differs from run to run. 4,096 holds a whole sweep.
CODEGEN_CACHE_ENTRIES = 4096

#: Initial heap of the driver JVM (``-Xms``, passed through
#: ``spark.driver.defaultJavaOptions`` so a user's
#: ``spark.driver.extraJavaOptions`` still applies after it). Started at
#: the JVM's ergonomic 252 MB, G1 grows the heap only when its pauses take
#: too long; its concurrent marking, which a humongous allocation starts
#: whenever occupancy is past the initiating threshold, does not count.
#: On a 4-core host, about one run of the benchmark's ``ingest_write`` in
#: five kept a 540-670 MB heap and ran about 80 marking cycles. Its G1
#: threads used 9-19 CPU s per run against 2-5 s, and it cost 900-1,200
#: CPU ms per request against 600-800. The other runs grew to 1.8-2.2 GB
#: and ran 6-25 cycles. Started at 2 GB, eight runs in a row ran 5 each.
INITIAL_HEAP = "2g"


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "medvedi-spark",
    *,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    The config is scale-first:

    - AQE enabled: runtime re-planning, partition coalescing, skew-join
      splitting — the mechanisms that make a fixed logical plan survive a
      100x data-size change.
    - Arrow enabled: every pandas-UDF / toPandas boundary is columnar.
    - UTC timezone: deterministic timestamp semantics (matches the DuckDB
      oracle, which is UTC-naive).
    - shuffle partitions default to the local core count; at cluster scale
      AQE coalesces from a larger initial number instead.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # UTC, ANSI off, nanosAsLong: pinned again by every table load
        .config(map=_REQUIRED_CONFS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size reducers by data (64MB advisory), not by core count: tiny
        # shuffles collapse to one task instead of `cpus` near-empty ones,
        # and at 100 TB the same advisory yields thousands of partitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", str(ui).lower())  # probes read stage facts from the UI REST API
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.defaultJavaOptions", f"-Xms{INITIAL_HEAP}")
    )
    return builder.getOrCreate()
