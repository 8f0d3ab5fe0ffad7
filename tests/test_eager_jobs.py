"""Writing and round-trip builders fire only the jobs their work needs.

A read without a schema makes Spark infer one, and that inference is a job
of its own inside ``builder()``: a parquet footer read per
``spark.read.parquet``, a scan of every shard per ``spark.read.json``. A
warm build of p10, c14 and c1 must run none of them."""

from __future__ import annotations

from collections import Counter

import pytest

from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

#: the jobs a warm build may run, by call site
_WARM_JOBS = {
    # the export write; the read back has an explicit schema
    "p10_export_jsonl": {"json": 1},
    # the csv write; both reads have an explicit or cached schema
    "c14_csv_roundtrip": {"csv": 1},
    # to_arrow's sort and collect; the parquet schema is cached
    "c1_arrow_roundtrip": {"toArrow": 3},
}


def _jobs_by_call_site(spark, build) -> Counter:
    """Call sites (``json``, ``parquet``, ...) of the jobs ``build`` runs,
    read as the difference of two ``statusTracker`` readings."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    build()
    sites = Counter()
    for job in sorted(set(tracker.getJobIdsForGroup(None)) - before):
        stage = tracker.getStageInfo(min(tracker.getJobInfo(job).stageIds))
        sites[stage.name.split(" at ")[0]] += 1
    return sites


@pytest.mark.parametrize("name", sorted(_WARM_JOBS))
def test_warm_build_runs_no_schema_inference(spark, sf_dir, name):
    _ensure_loaded()
    builder = QUERIES[name].builder
    builder(spark, sf_dir)
    sites = _jobs_by_call_site(spark, lambda: builder(spark, sf_dir))
    assert dict(sites) == _WARM_JOBS[name], sites
