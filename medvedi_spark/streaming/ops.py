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
# the deployment setting for every drain below.
_STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (ts normalized like catalog.load)."""
    from ..catalog import ensure_session_confs, normalize_event_ts

    ensure_session_confs(spark)  # nanosAsLong etc. — portable to any session
    path = os.path.join(sf_dir, "events.parquet")
    schema = stream_source_schema(spark, path)
    # The file source requires a directory; glob-filter to the one table.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Schema-adaptive ns→µs / ntz→tz normalization shared with the batch
    # loader — the on-disk encoding has changed between data generations.
    return normalize_event_ts(stream)


def _drain(result: DataFrame, writer: DataStreamWriter) -> None:
    """Run ``writer`` (a sink configured on ``result.writeStream``) to
    completion with an availableNow trigger.

    Stateful operators allocate one state store per shuffle partition at
    query START, and that count is frozen into the checkpoint. 32 stores
    for a single-file drain is pure constant overhead, so the drain runs
    with ``_STATE_PARTITIONS`` (see the measured floor decomposition
    there); the batch session conf is restored after. On a real cluster
    this width is sized to stream throughput
    (``SPARK_GRAFT_STREAM_STATE_PARTITIONS``), not to the batch session's
    shuffle width — same code path."""
    spark = result.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
        query = writer.trigger(availableNow=True).start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


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
    _drain(result, writer)
