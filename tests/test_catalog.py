"""Catalog robustness: schema-adaptive event-ts load, tolerant views.

The on-disk ``events.ts`` physical type changed between testdata
generations (TIMESTAMP(NANOS) read as bigint under nanosAsLong, then
plain timestamp[us] arriving as TIMESTAMP_NTZ). ``normalize_event_ts``
must produce the same session-TZ ``timestamp`` column for every encoding
so queries survive the data changing back.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from medvedi_spark.catalog import normalize_event_ts, register_views

_EPOCH_US = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z


def _expected():
    return dt.datetime(2023, 11, 14, 22, 13, 20, 123456)


def test_normalize_bigint_nanos(spark):
    df = spark.createDataFrame(
        [(_EPOCH_US * 1000,)], StructType([StructField("ts", LongType())])
    )
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0].ts == _expected()


def test_normalize_timestamp_ntz(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2023, 11, 14, 22, 13, 20, 123456),)],
        StructType([StructField("ts", TimestampNTZType())]),
    )
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # Session TZ is UTC: the naive wall-clock value is preserved verbatim.
    assert out.collect()[0].ts == _expected()


def test_normalize_timestamp_passthrough(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2023, 11, 14, 22, 13, 20, 123456),)],
        StructType([StructField("ts", TimestampType())]),
    )
    out = normalize_event_ts(df)
    assert out is df  # no-op, no extra projection in the plan
    assert dict(out.dtypes)["ts"] == "timestamp"


def test_load_events_ts_is_timestamp(spark, sf_dir):
    from medvedi_spark.catalog import load

    events = load(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # The column is usable in timestamp arithmetic (the round-2 regression
    # was a BINARY_OP_DIFF_TYPES crash right here).
    n = events.filter(F.col("ts") > F.lit("2000-01-01").cast("timestamp")).count()
    assert n > 0


def test_register_views_tolerates_broken_table(spark, sf_dir, tmp_path):
    """One unreadable table must not take down unrelated SQL queries."""
    import os
    import shutil

    # Mirror the sf dir with one corrupted table.
    bad_dir = tmp_path / "sf_bad"
    bad_dir.mkdir()
    for name in ("region", "nation"):
        shutil.copy(
            os.path.join(sf_dir, f"{name}.parquet"), bad_dir / f"{name}.parquet"
        )
    (bad_dir / "orders.parquet").write_bytes(b"not a parquet file")

    failures = register_views(spark, str(bad_dir), tables=("region", "nation", "orders"))
    assert set(failures) == {"orders"}
    # Untouched tables still work through SQL.
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n > 0


def test_parquet_schema_follows_the_dataset(spark, tmp_path):
    """The cached read schema of ``MDF.read_parquet`` is re-inferred when
    the dataset is rewritten, and a path that is not a local file or
    directory (a glob, a missing path) still reads or fails the way
    Spark does."""
    import pytest
    from pyspark.errors import AnalysisException

    from medvedi_spark.frame import MDF

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert MDF.read_parquet(path, spark=spark).columns == ("id",)
    spark.range(3).withColumn("b", F.lit("x")).write.mode("overwrite").parquet(path)
    assert MDF.read_parquet(path, spark=spark).columns == ("id", "b")
    assert len(MDF.read_parquet(path + "/*.parquet", spark=spark)) == 3
    with pytest.raises(AnalysisException):
        MDF.read_parquet(str(tmp_path / "missing.parquet"), spark=spark)
