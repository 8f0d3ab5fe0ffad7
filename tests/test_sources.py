"""File source/sink round-trips (SURVEY §2.1 S7 — new capability)."""

from __future__ import annotations

import numpy as np
from numpy.testing import assert_array_equal

from medvedi_spark.frame import MDF
from medvedi_spark.sources import readers as src


def _frame(spark):
    return MDF(
        {"k": [3, 1, 2], "s": np.array(["a", "b", "c"], dtype=object), "v": [1.5, 2.5, 3.5]},
        spark=spark,
    )


def test_parquet_roundtrip(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "t.parquet")
    src.write_parquet(df, p)
    back = src.read_parquet(p, spark=spark).sort_values("k")
    assert_array_equal(back["k"], [1, 2, 3])
    assert_array_equal(back["v"], [2.5, 3.5, 1.5])


def test_parquet_partitioned_write(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "part.parquet")
    src.write_parquet(df, p, partition_by=["k"])
    back = src.read_parquet(p, spark=spark)
    assert sorted(back.to_pandas()["k"].astype(int).tolist()) == [1, 2, 3]


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "t.csv")
    src.write_csv(df, p)
    back = src.read_csv(p, schema="k bigint, s string, v double", spark=spark).sort_values("k")
    assert_array_equal(back["k"], [1, 2, 3])
    assert_array_equal(back["s"], ["b", "c", "a"])


def test_json_roundtrip(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "t.json")
    src.write_json(df, p)
    back = src.read_json(p, spark=spark).sort_values("k")
    assert_array_equal(back["v"], [2.5, 3.5, 1.5])


def test_arrow_roundtrip(spark):
    import pyarrow as pa

    table = pa.table({"a": [1, 2], "b": ["x", "y"]})
    back = src.read_arrow(table, spark=spark)
    assert_array_equal(back["a"], [1, 2])
    out = back.to_arrow()
    assert out.column("b").to_pylist() == ["x", "y"]


def test_orc_roundtrip(spark, tmp_path):
    df = _frame(spark)
    p = str(tmp_path / "t.orc")
    src.write_orc(df, p)
    back = src.read_orc(p, spark=spark).sort_values("k")
    assert_array_equal(back["k"], [1, 2, 3])
    assert_array_equal(back["v"], [2.5, 3.5, 1.5])


def test_text_roundtrip_lines(spark, tmp_path):
    from medvedi_spark.frame import MDF

    df = MDF({"value": ["alpha", "beta", "gamma"]}, spark=spark)
    p = str(tmp_path / "t.txt")
    src.write_text(df, p)
    back = src.read_text(p, spark=spark).sort_values("value")
    assert_array_equal(back["value"], ["alpha", "beta", "gamma"])


def test_text_whole_file(spark, tmp_path):
    (tmp_path / "docs").mkdir()
    (tmp_path / "docs" / "a.txt").write_text("line1\nline2")
    back = src.read_text(str(tmp_path / "docs"), whole_text=True, spark=spark)
    assert back["value"].tolist() == ["line1\nline2"]


def test_p10_export_shard_size_bound(spark, sf_dir):
    """p10's maxRecordsPerFile must bound every shard to <= 200 rows
    without a repartition (task-internal file rotation)."""
    import glob
    import gzip
    import json
    import os

    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    from medvedi_spark.operators._persist import scratch_dir

    _ensure_loaded()
    QUERIES["p10_export_jsonl"].builder(spark, sf_dir).count()
    path = scratch_dir(sf_dir, "p10")
    shards = glob.glob(os.path.join(path, "lang=*", "*.json.gz"))
    assert shards, f"no gzip jsonl shards under {path}"
    for s in shards:
        with gzip.open(s, "rt") as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        assert len(rows) <= 200, f"{s} has {len(rows)} rows"
        assert all("doc_id" in r and "text" in r for r in rows[:1])
    # partition dirs give per-language sampling for free
    langs = {os.path.basename(os.path.dirname(s)) for s in shards}
    assert len(langs) >= 2, langs
