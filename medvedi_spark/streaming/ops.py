"""Structured Streaming operators over the events table.

The reference has no streaming at all (SURVEY §2.9) — this module is the
new-capability surface: tumbling/session windows, watermarks, streaming
dedup. Each helper runs a file-source stream to completion against an
in-memory sink and hands back the result as a DataFrame, which makes the
operators testable in the same oracle harness as the batch queries while
remaining genuine ``readStream`` → ``writeStream`` plans (swap the source
for Kafka and the sink for a real table and the plan is production-shaped).
"""

from __future__ import annotations

import itertools
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..operators._persist import track_sink

_SINK_IDS = itertools.count()


def stream_source_schema(spark: SparkSession, path: str):
    """The schema of the parquet file-source stream at ``path``.
    File-source streams need an explicit schema, and inferring it is one
    batch parquet-footer job per stream start. The footer is immutable
    per dataset generation, so the inference is cached model state
    (catalog.model_state) — 13 st queries × one job each is pure fixed
    overhead in a bench sweep (r6 directive #5)."""
    from ..catalog import model_state

    return model_state("stream_schema", path, (), lambda: spark.read.parquet(path).schema)


# Shuffle/state-store width for the availableNow drains. Stateful
# operators allocate one state store per shuffle partition at query
# START and freeze the count into the checkpoint; each store costs
# setup+commit per micro-batch (FIXED-COST-linear in the knob), while
# real per-batch work wants parallelism — a genuine trade even at
# sf0.1. Measured per query (warm session, min of 2, suite totals):
# 8 stores 27.4 s, 4 → 24.4 s, 2 → 25.1 s; isolated cold st1 at sf0.01:
# 8 → 2.9 s, 2 → 1.0 s (state machinery dominates small batches), but
# st6's stateful counter degrades 1.15 → 2.04 s at 2 and the
# stream-stream joins prefer ≥4. 4 is the measured suite optimum; a
# production stream sizes this to throughput via the env override,
# the deployment setting for every drain below. Part of that per-store
# cost was child processes, not state work: without libhadoop the JVM
# starts a `chmod` per checkpoint file it creates and, under Spark's
# default checkpoint manager, a `readlink` per file it renames. A warm
# st1 drain at 4 stores started 152 of them (112 `readlink`, 40
# `chmod`); with _FS_CHECKPOINT_MANAGER it starts 40, all `chmod`.
_STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4"))


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream of the parquet table ``table`` in ``sf_dir``."""
    schema = stream_source_schema(spark, os.path.join(sf_dir, f"{table}.parquet"))
    # The file source requires a directory; glob-filter to the one table.
    return spark.readStream.schema(schema).option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (ts normalized like catalog.load)."""
    from ..catalog import ensure_session_confs, normalize_event_ts

    ensure_session_confs(spark)  # nanosAsLong etc. — portable to any session
    # Schema-adaptive ns→µs / ntz→tz normalization shared with the batch
    # loader — the on-disk encoding has changed between data generations.
    return normalize_event_ts(read_table_stream(spark, sf_dir, "events"))


#: Spark's checkpoint manager over the Hadoop ``FileSystem`` API, used for
#: drains whose checkpoint is on the local filesystem. Spark's default,
#: the ``FileContext`` manager, asks for the link status of every file it
#: renames; without libhadoop (the "Unable to load native-hadoop library"
#: startup warning) Hadoop answers that, and every ``setPermission``, by
#: starting a ``readlink`` or ``chmod`` child process from the JVM. On a
#: 4-core host that child CPU was 0.31-0.38 s of each warm st1 or st3
#: request. The ``FileSystem`` manager renames without the link lookup:
#: 0.09-0.14 s per st1 or st3 request, for the ``chmod`` on file create
#: that stays. A local rename replaces its target atomically, so the
#: default manager's atomic-overwrite rename buys nothing there; an HDFS
#: or S3 checkpoint keeps the default. The state store's checksum
#: manager (``spark.sql.streaming.checkpoint.fileChecksum.enabled``)
#: wraps whichever manager this picks.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _local_checkpoint(spark: SparkSession, location: str | None) -> bool:
    """Whether a checkpoint at ``location`` is on the local filesystem. A
    path without a scheme resolves against ``fs.defaultFS``, as Spark
    resolves it; so does ``None``, the temp directory Spark makes for a
    memory sink when no checkpoint location is set."""
    scheme = urlparse(location).scheme if location else ""
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        scheme = urlparse(default_fs).scheme
    return scheme == "file"


def _drain(result: DataFrame, writer: DataStreamWriter, checkpoint: str | None = None) -> None:
    """Run ``writer`` (a sink configured on ``result.writeStream``, with
    its checkpoint at ``checkpoint``, or at the session's default when
    ``None``) to completion with an availableNow trigger.

    Stateful operators allocate one state store per shuffle partition at
    query START, and that count is frozen into the checkpoint. 32 stores
    for a single-file drain is pure constant overhead, so the drain runs
    with ``_STATE_PARTITIONS`` (see the measured floor decomposition
    there). A local checkpoint is written through
    ``_FS_CHECKPOINT_MANAGER``. The session confs are restored after, also
    when ``start()`` raises. On a real cluster the width is sized to
    stream throughput (``SPARK_GRAFT_STREAM_STATE_PARTITIONS``), not to
    the batch session's shuffle width — same code path."""
    spark = result.sparkSession
    if checkpoint is None:
        checkpoint = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    confs = {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS)}
    if _local_checkpoint(spark, checkpoint):
        confs[_MANAGER_CONF] = _FS_CHECKPOINT_MANAGER
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        query = writer.trigger(availableNow=True).start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def run_to_memory(result: DataFrame, *, output_mode: str) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink, return its table.

    The sink keeps every result row on the driver until its temp view is
    dropped, so the view is tracked per session and
    :func:`~medvedi_spark.operators._persist.release_persisted` drops it
    with the operator persists."""
    spark = result.sparkSession
    name = f"ms_sink_{next(_SINK_IDS)}_{os.getpid()}"
    track_sink(spark, name)
    _drain(result, result.writeStream.outputMode(output_mode).format("memory").queryName(name))
    return spark.table(name)


def run_to_parquet(
    result: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    checkpoint: str | None = None,
) -> None:
    """Drain a streaming DataFrame into append-mode partitioned parquet —
    the production sink shape for a 100 TB/day stream.

    Append mode means only FINALIZED (watermark-expired) windows are ever
    written, so every parquet partition is immutable once created:
    downstream batch jobs can consume partitions without read-write
    races, and re-running the stream from its checkpoint never rewrites
    history. ``partition_by`` should be a coarse time bucket (e.g. a
    window date) so each micro-batch appends whole files to a few
    directories instead of touching thousands.

    The file sink REQUIRES a checkpoint (exactly-once via the sink's
    write-ahead manifest); one is derived next to ``path`` if not given.
    """
    if checkpoint is None:
        checkpoint = os.path.join(path, "_checkpoint")
    writer = (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _drain(result, writer, checkpoint)
