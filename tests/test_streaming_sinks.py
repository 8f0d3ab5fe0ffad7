"""Streaming sink shapes: append-mode partitioned parquet emission.

The memory sink (run_to_memory) exists so the st* queries can be
oracle-checked; run_to_parquet is the production shape — immutable
partitioned files, exactly-once via the sink manifest. The test drains
a watermarked windowed aggregate and checks the parquet output equals
the batch equivalent, restricted to finalized windows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.streaming.ops import read_events_stream, run_to_parquet


def test_run_to_parquet_append_partitioned(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "stream_out")
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.to_date("window.start").alias("day"),
            "n",
        )
    )
    run_to_parquet(agg, out_dir, partition_by=("day",))

    written = spark.read.parquet(out_dir)
    # partition column materialized as directories
    assert "day" in written.columns
    day_dirs = [d for d in os.listdir(out_dir) if d.startswith("day=")]
    assert day_dirs, "expected day=... partition directories"

    # batch equivalent, restricted to watermark-finalized windows
    events = load(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts").alias("m")).collect()[0].m
    batch = (
        events.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
        .filter(
            F.col("window_start") + F.expr("INTERVAL 6 HOURS")
            <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
        )
    )
    got = {(r.window_start, r.n) for r in written.select("window_start", "n").collect()}
    want = {(r.window_start, r.n) for r in batch.collect()}
    assert got == want

    # re-draining from the same checkpoint appends NOTHING (exactly-once)
    run_to_parquet(agg, out_dir, partition_by=("day",))
    assert spark.read.parquet(out_dir).count() == len(want)


def test_st10_rowwise_minhash_equals_batch_aggregate(spark):
    """The capture-free row-wise minhash fold (stream side of st10) must
    produce the same 8 band values as the batch explode+groupBy
    aggregation (d3 / corpus side) for the same document."""
    from pyspark.sql import functions as F

    from medvedi_spark.functions.hashing import minhash_agg_cols, token_hash
    from medvedi_spark.queries.stream_ops import _st10_row_minhash_bands

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "a a a b b c")],
        "doc_id int, text string",
    )
    l = F.split("text", " ")
    big = F.zip_with(
        F.slice(l, 1, F.greatest(F.size(l) - 1, F.lit(0))),
        F.slice(l, 2, F.greatest(F.size(l) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    shing = F.array_distinct(
        F.filter(big, lambda s: ~s.contains("  ") & (s != "") & ~s.startswith(" ") & ~s.endswith(" "))
    )
    rowwise = {
        (r.doc_id, r.bd.band_idx): r.bd.band_val
        for r in docs.withColumn("harr", F.transform(shing, lambda s: token_hash(s)))
        .select("doc_id", F.explode(_st10_row_minhash_bands("harr")).alias("bd"))
        .collect()
    }
    hashed = (
        docs.select("doc_id", F.explode(big).alias("s"))
        .filter(~F.col("s").contains("  ") & (F.col("s") != "") & ~F.col("s").startswith(" ") & ~F.col("s").endswith(" "))
        .distinct()
        .select("doc_id", token_hash(F.col("s")).alias("h"))
    )
    sigs = {r.doc_id: r for r in hashed.groupBy("doc_id").agg(*minhash_agg_cols("h")).collect()}
    for doc_id, sig in sigs.items():
        for i in range(8):
            expect = f"{sig[f'm{2 * i}']},{sig[f'm{2 * i + 1}']}"
            assert rowwise[(doc_id, i)] == expect, (doc_id, i)


def test_st11_state_operator_is_within_watermark(spark, sf_dir):
    """st11's dedup must lower to the WATERMARK-EVICTING state operator
    (DeduplicateWithinWatermark), not plain Deduplicate whose state grows
    forever — the bounded-state guarantee is the point of the query."""
    from medvedi_spark.queries.stream_ops import _st11_plan, st3_stream_dedup  # noqa: F401

    plan = _st11_plan(spark, sf_dir)._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan, plan
    # and the watermark column is attached ahead of it
    assert "EventTimeWatermark" in plan, plan


def test_st11_matches_batch_distinct(spark, sf_dir):
    """Single-batch availableNow drain: within-batch watermarked dedup
    equals the batch global distinct."""
    from medvedi_spark.catalog import load
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    got = {
        (r.user_id, r.event_type)
        for r in QUERIES["st11_watermarked_dedup"].builder(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in load(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_st12_outer_emission_boundary_semantics(spark, tmp_path):
    """Pin the outer-join emission rule the st12 oracle encodes:
    global watermark = MIN of both sides' (max event time − delay); an
    unmatched left row emits a null match iff its join window end is
    STRICTLY before the watermark (end == watermark stays in state)."""
    import pandas as pd

    from medvedi_spark.streaming.ops import run_to_memory

    base = pd.Timestamp("2024-01-01 00:00:00")
    H = pd.Timedelta(hours=1)
    rows = pd.DataFrame(
        {
            "user_id": [1, 2, 3, 9, 8],
            "event_type": ["view", "view", "view", "view", "purchase"],
            "ts": [base, base + 2 * H, base + 3 * H, base + 5 * H, base + 5 * H],
            "value": [1.0] * 5,
        }
    )
    # wm = min(max_view, max_purchase) - 1h = 4h. user 1 (end 1h) and
    # user 2 (end 3h) expire -> null rows; user 3 (end 4h == wm) is the
    # BOUNDARY -> held; user 9 (end 6h) held.
    p = str(tmp_path / "events.parquet")
    rows.to_parquet(p)
    schema = spark.read.parquet(p).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(str(tmp_path))
        .withColumn("ts", F.expr("timestamp_micros(CAST(ts/1000 AS LONG))"))
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purch = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purch,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("user_id", "view_ts", "purchase_ts")
    out = run_to_memory(joined, output_mode="append").toPandas()
    assert sorted(out.user_id) == [1, 2], out
    assert out.purchase_ts.isna().all()


def test_st13_stream_index_ingest_layout(spark, sf_dir):
    """The streaming index ingest (st13) writes the s11 inverted-list
    layout: cell-partitioned parquet directories, every corpus vector
    ingested exactly once, codes equal the batch SQ8 encode."""
    import glob
    import os

    from medvedi_spark.catalog import load
    from medvedi_spark.operators.quantized import _sq8_fit_encode
    from medvedi_spark.operators._persist import scratch_dir
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
    from pyspark.sql import functions as F

    _ensure_loaded()
    out = QUERIES["st13_stream_index_ingest"].builder(spark, sf_dir)
    rows = out.collect()
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    # gated output is LONG FORM (vec_id, cell, i, code) — the q32
    # scalar-only convention (round-7 st13 fix): dim rows per vector
    assert len(rows) == n * dim, "every vector ingested exactly once, one row per dim"
    assert len({r.vec_id for r in rows}) == n
    # directory layout: one partition dir per routed cell
    root = scratch_dir(sf_dir, "st13idx")
    cells_on_disk = {
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(root, "cell=*"))
    }
    assert cells_on_disk == {r.cell for r in rows}
    # codes match the batch SQ8 encoder bit-for-bit
    _, codes, _ = _sq8_fit_encode(emb, "vec_id", "embedding", F.lit(False))
    batch = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for r in rows:
        assert r.code == batch[r.vec_id][r.i - 1], (r.vec_id, r.i)


def test_release_persisted_drops_memory_sinks(spark, sf_dir):
    """Each run_to_memory drain registers a memory-sink temp view;
    release_persisted drops it, so a session that releases after every
    query holds no sinks however many streams it drains."""
    from medvedi_spark.operators._persist import release_persisted
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    release_persisted()  # sinks drained by earlier tests
    before = tables()
    released = 0
    for _ in range(2):
        assert QUERIES["st1_tumbling_window"].builder(spark, sf_dir).count() > 0
        released += release_persisted()
    assert tables() == before
    assert released >= 2  # one sink per drain, counted


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_PARTITIONS = "spark.sql.shuffle.partitions"


def _spy_start(monkeypatch, spark, fail: bool = False) -> list[dict]:
    """Record the manager and shuffle-width confs each stream starts with;
    with ``fail``, ``start()`` raises instead of starting."""
    from pyspark.sql.streaming import DataStreamWriter

    seen: list[dict] = []
    start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        seen.append({k: spark.conf.get(k, None) for k in (_MANAGER, _PARTITIONS)})
        if fail:
            raise RuntimeError("start failed")
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    return seen


def test_local_drain_starts_with_filesystem_manager(spark, sf_dir, tmp_path, monkeypatch):
    """A drain whose checkpoint is local, a memory sink's temp one or a
    file sink's, starts with Spark's FileSystem checkpoint manager."""
    from medvedi_spark.streaming.ops import _FS_CHECKPOINT_MANAGER, run_to_memory

    seen = _spy_start(monkeypatch, spark)
    events = read_events_stream(spark, sf_dir).select("user_id", "event_type")
    assert run_to_memory(events, output_mode="append").count() > 0
    run_to_parquet(events, str(tmp_path / "out"), checkpoint=f"file://{tmp_path}/ck")
    assert spark.read.parquet(str(tmp_path / "out")).count() > 0
    assert [s[_MANAGER] for s in seen] == [_FS_CHECKPOINT_MANAGER] * 2


def test_drain_restores_session_confs(spark, sf_dir, tmp_path, monkeypatch):
    """The manager and the shuffle width are back at their prior values
    after a drain, unset or set, and also when ``start()`` raises."""
    from medvedi_spark.streaming.ops import run_to_memory

    events = read_events_stream(spark, sf_dir).select("user_id")
    width = spark.conf.get(_PARTITIONS)
    assert spark.conf.get(_MANAGER, None) is None
    run_to_memory(events, output_mode="append")
    assert spark.conf.get(_MANAGER, None) is None
    assert spark.conf.get(_PARTITIONS) == width

    prior = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(_MANAGER, prior)
    try:
        run_to_memory(events, output_mode="append")
        assert spark.conf.get(_MANAGER) == prior
        _spy_start(monkeypatch, spark, fail=True)
        with pytest.raises(RuntimeError, match="start failed"):
            run_to_parquet(events, str(tmp_path / "out"))
        assert spark.conf.get(_MANAGER) == prior
        assert spark.conf.get(_PARTITIONS) == width
    finally:
        spark.conf.unset(_MANAGER)


def test_remote_checkpoint_keeps_default_manager(spark, sf_dir, monkeypatch):
    """A checkpoint whose URI scheme is not ``file`` (a file sink's own,
    or the session's default for a memory sink) leaves the manager conf
    untouched, so HDFS and S3 keep Spark's default manager."""
    from medvedi_spark.streaming.ops import _STATE_PARTITIONS, _local_checkpoint, run_to_memory

    assert not _local_checkpoint(spark, "s3a://bucket/ck")
    assert _local_checkpoint(spark, "/tmp/ck") and _local_checkpoint(spark, "file:///tmp/ck")
    seen = _spy_start(monkeypatch, spark, fail=True)
    events = read_events_stream(spark, sf_dir).select("user_id")
    with pytest.raises(RuntimeError):
        run_to_parquet(events, "hdfs://namenode:8020/out", checkpoint="hdfs://namenode:8020/ck")
    spark.conf.set("spark.sql.streaming.checkpointLocation", "s3a://bucket/ck")
    try:
        with pytest.raises(RuntimeError):
            run_to_memory(events, output_mode="append")
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert [s[_MANAGER] for s in seen] == [None, None]
    assert seen[0][_PARTITIONS] == str(_STATE_PARTITIONS)
