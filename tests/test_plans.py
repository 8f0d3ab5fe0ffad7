"""Physical-plan invariants: the scale properties the engine promises.

These tests pin what .explain shows, so a regression that silently turns
a broadcast join into a shuffle join (or sneaks a row-at-a-time Python
UDF into the hot path) fails CI, not the 100 TB run.
"""

from __future__ import annotations

import pytest

from tools.explain_audit import plan_facts

from medvedi_spark.queries.registry import queries

STREAMING = {"st1", "st2", "st3", "st4", "st5", "st6"}


@pytest.fixture(scope="module")
def qmap():
    return queries()


def test_no_python_row_udfs_anywhere(spark, sf_dir, qmap):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned from every
    batch query — Python crosses the boundary only via Arrow."""
    for name, fn in qmap.items():
        if name.split("_")[0] in STREAMING:
            continue  # memory-sink reads re-plan; audited separately
        facts = plan_facts(fn(spark, sf_dir))
        assert facts["pyudf"] == 0, f"{name} uses BatchEvalPython"


def test_q1_pushdown_and_pruning(spark, sf_dir, qmap):
    facts = plan_facts(qmap["q1_pricing_summary"](spark, sf_dir))
    assert facts["push"], "l_shipdate filter must reach the parquet scan"
    assert facts["scan_cols"] == [7], "scan must prune to the 7 used columns"
    assert facts["exch"] == 1, "partial+final agg needs exactly one shuffle"


def test_q3_joins_all_broadcast(spark, sf_dir, qmap):
    facts = plan_facts(qmap["q3_revenue_by_nation"](spark, sf_dir))
    assert facts["smj"] + facts["shj"] == 0, "dim joins must broadcast"
    assert facts["bhj"] >= 3


def test_q22_semi_join_broadcast(spark, sf_dir, qmap):
    facts = plan_facts(qmap["q22_exists_semijoin"](spark, sf_dir))
    assert facts["smj"] + facts["shj"] == 0
    assert facts["bhj"] == 1


def test_s1_probe_side_broadcast(spark, sf_dir, qmap):
    facts = plan_facts(qmap["s1_cosine_topk"](spark, sf_dir))
    assert facts["bnlj"] + facts["bhj"] >= 1, "probe side must broadcast"


def test_d1_single_shuffle(spark, sf_dir, qmap):
    facts = plan_facts(qmap["d1_exact_dedup"](spark, sf_dir))
    assert facts["exch"] == 1, "exact dedup is one shuffle on the hash"


def _single_partition_feeds_only_aggregates(df) -> bool:
    """True iff every Exchange SinglePartition in the plan consumes a
    HashAggregate (the tiny per-partition-counts table of _renumber_by),
    never the full frame."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        if "HashAggregate" not in nxt and "SortAggregate" not in nxt and "ObjectHashAggregate" not in nxt:
            return False
    return True


def test_mdf_row_id_reassignment_is_distributed(spark):
    """sort_values/explode/join/concat renumber row ids via per-partition
    offsets: the full frame must never cross an Exchange SinglePartition
    (only the #partitions-row counts table may)."""
    from medvedi_spark.frame import MDF, concat, join as mjoin

    left = MDF({"k": [3, 1, 2, 1], "v": ["x", "y", "z", "w"]}, spark=spark)
    right = MDF({"k": [1, 2], "r": [10, 20]}, spark=spark)
    import numpy as np

    arr = MDF({"k": [1, 2], "l": np.array([[1, 2], [3]], dtype=object)}, spark=spark)
    assert _single_partition_feeds_only_aggregates(left.sort_values("k")._df)
    assert _single_partition_feeds_only_aggregates(arr.explode("l")._df)
    left_i, right_i = left.set_index("k"), right.set_index("k")
    assert _single_partition_feeds_only_aggregates(mjoin(left_i, right_i)._df)
    assert _single_partition_feeds_only_aggregates(concat(left, left, ignore_index=True)._df)
    # position attachment (take/iloc/__setitem__ path) is the same plan
    assert _single_partition_feeds_only_aggregates(left._df_pos())
    assert _single_partition_feeds_only_aggregates(left.take(np.array([2, 0]))._df)


def test_q17_merge_asof_no_expansion_join(spark, sf_dir, qmap):
    """q17 must run the merge-asof plan: the only join is the tiny
    users×checkpoints grid build (broadcast); events flow through a
    union+window, never through a row-multiplying range join."""
    df = qmap["q17_asof_join"](spark, sf_dir)
    facts = plan_facts(df)
    assert facts["smj"] + facts["shj"] == 0, "no shuffled theta/equi join of events"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, "asof must resolve via a window pass"


def test_d3_verify_join_not_hinted_broadcast(spark, sf_dir, qmap):
    """The MinHash verify stage joins candidate pairs back to per-doc token
    SETS — a table proportional to the corpus. An explicit broadcast hint
    there is a 100 TB scale-killer; the join must be left to the planner
    (AQE may still broadcast at tiny SF from runtime stats, which is fine).
    """
    df = qmap["d3_minhash_lsh"](spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical, (
        "d3 must not carry explicit broadcast hints on per-doc set tables"
    )


def test_iloc_contiguous_slice_avoids_position_plan(spark):
    """A step-1 slice must lower to offset/limit over the row-id order —
    no window-function position attachment, no join."""
    from medvedi_spark.frame import MDF

    m = MDF({"a": list(range(100))}, spark=spark)
    plan = m.iloc[10:20].df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan, plan
    assert "Limit" in plan or "TakeOrdered" in plan, plan


def test_d9_eval_side_broadcasts(spark, sf_dir, qmap):
    """Decontamination joins the corpus gram stream against the eval set:
    the eval side must broadcast (it is KBs vs the corpus), and nothing
    may fall back to a shuffle join of the corpus grams."""
    facts = plan_facts(qmap["d9_decontamination"](spark, sf_dir))
    assert facts["bhj"] >= 1, "eval gram set must broadcast"
    assert facts["smj"] + facts["shj"] == 0, "corpus grams must not shuffle-join"


def test_t6_p2_are_shuffle_free(spark, sf_dir, qmap):
    """Repetition signals and hash-bucket sampling are pure map-side
    pipelines: one row in, <=1 row out, zero exchanges."""
    for name in ("t6_repetition", "p2_stratified_sample"):
        facts = plan_facts(qmap[name](spark, sf_dir))
        assert facts["exch"] == 0, f"{name} must not shuffle"


def test_p3_packing_single_group_shuffle(spark, sf_dir, qmap):
    """Sequence packing shuffles ONCE on the (lang, shard) group key and
    runs the next-fit loop inside an Arrow batch."""
    facts = plan_facts(qmap["p3_pack_sequences"](spark, sf_dir))
    assert facts["exch"] == 1
    assert facts["arrow"] == 1 and facts["pyudf"] == 0


def test_s3_centroids_broadcast(spark, sf_dir, qmap):
    """K-means assignment: the centroid (model-state) side broadcasts;
    the single exchange is the per-vector argmin window."""
    facts = plan_facts(qmap["s3_kmeans_assign"](spark, sf_dir))
    assert facts["bnlj"] + facts["bhj"] >= 1, "centroid table must broadcast"
    assert facts["exch"] == 1


def test_s4_s5_codebook_broadcast(spark, sf_dir, qmap):
    """PQ encode/search: the codebook (and s5's LUT) must broadcast;
    the corpus side must never shuffle-join."""
    for name in ("s4_pq_encode", "s5_pq_adc_topk"):
        facts = plan_facts(qmap[name](spark, sf_dir))
        assert facts["bnlj"] + facts["bhj"] >= 1, f"{name}: model state must broadcast"
        assert facts["smj"] + facts["shj"] == 0, f"{name}: corpus must not shuffle-join"


def test_m4_single_shuffle_arrow(spark, sf_dir, qmap):
    """Perceptual-hash dedup: one Arrow pass for the codec work, one
    shuffle for the hash groupBy."""
    facts = plan_facts(qmap["m4_image_ahash_dedup"](spark, sf_dir))
    assert facts["arrow"] == 1 and facts["pyudf"] == 0
    assert facts["exch"] == 1


def test_t9_t10_p6_zero_shuffle(spark, sf_dir, qmap):
    """PII redaction, boilerplate filtering, and chunking are pure
    map-side pipelines — zero exchanges at any corpus size."""
    for name in ("t9_pii_redaction", "t10_boilerplate_filter", "p6_chunk_overlap"):
        facts = plan_facts(qmap[name](spark, sf_dir))
        assert facts["exch"] == 0, f"{name} must not shuffle"


def test_p5_single_shuffle(spark, sf_dir, qmap):
    """The global shard shuffle is exactly ONE exchange (keyed on shard)."""
    facts = plan_facts(qmap["p5_shard_shuffle"](spark, sf_dir))
    assert facts["exch"] == 1


def test_d10_centroids_broadcast_pairs_shuffled_on_cell(spark, sf_dir, qmap):
    """SemDeDup: the codebook broadcasts (nested-loop against the scan);
    the pair join must be a real equi-join on the cluster key, never a
    corpus×corpus nested loop."""
    df = qmap["d10_semantic_dedup"](spark, sf_dir)
    facts = plan_facts(df)
    assert facts["bnlj"] >= 1, "centroid assignment must broadcast the codebook"
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"BroadcastNestedLoopJoin BuildRight, (\w+)", plan):
        assert m.group(1) in ("Inner", "Cross"), plan
    # the within-cell pair join is an equi-join (hash or sort-merge), not BNLJ
    assert facts["bhj"] + facts["smj"] + facts["shj"] >= 1


def test_s5_adc_no_corpus_by_query_shuffle(spark, sf_dir, qmap):
    """ADC scoring: the LUT broadcasts; after the codes aggregate there
    is no exchange proportional to corpus × queries (only the window's
    per-query exchange over candidate scores)."""
    df = qmap["s5_pq_adc_topk"](spark, sf_dir)
    facts = plan_facts(df)
    assert facts["bnlj"] >= 2, "codebook + LUT must both broadcast"
    # exchanges: pq_encode agg, LUT agg, window partitionBy — never a
    # groupBy over (query, neighbor) pairs
    assert facts["exch"] <= 3


def test_s6_ivfadc_cell_bounded(spark, sf_dir, qmap):
    """IVFADC: the candidate join must be a broadcast HASH join on the
    cell id (routing table = model state), never a corpus×queries cross
    join; the scored candidate set is bounded by the probed cells'
    contents, strictly below the flat scan's corpus × queries."""
    df = qmap["s6_ivfadc_topk"](spark, sf_dir)
    facts = plan_facts(df)
    # BNLJs are codebook-sized only: coarse assign + LUT build. The PQ
    # codebook no longer broadcasts at all — pq_encode(vectorized=True)
    # collects it as model state and encodes in one zero-shuffle Arrow
    # pass (MapInPandas), so the corpus side of encoding never joins.
    assert facts["bnlj"] >= 2, "coarse codebook + LUT must broadcast"
    assert facts["bhj"] >= 1, "candidate generation must be a hash join on cell"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, "PQ encode must be the vectorized Arrow pass"

    # numeric cell-bounding: rank over ALL scored rows (k=corpus) must
    # cover < n_queries * (corpus - 1) pairs — the flat scan's count
    from pyspark.sql import functions as F

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import llm as ops

    emb = load(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    n_queries = 5
    coarse = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    all_scored = ops.ivfadc_topk(
        emb, coarse, cent, "vec_id", "embedding",
        probe=F.col("vec_id") < n_queries, k=n_corpus, nprobe=2, n_subspaces=8,
    ).count()
    assert all_scored < n_queries * (n_corpus - 1), (
        f"IVFADC scored {all_scored} pairs — not cell-bounded vs flat "
        f"{n_queries * (n_corpus - 1)}"
    )


def test_s10_ivf_sq8_cell_bounded(spark, sf_dir, qmap):
    """IVF+SQ8: the candidate join must be a broadcast HASH join on the
    cell id (routing table × query codes = model state), no corpus ×
    queries cross join; the scored candidate set is bounded by the
    probed cells' contents, strictly below the flat scan's count."""
    df = qmap["s10_ivf_sq8_topk"](spark, sf_dir)
    facts = plan_facts(df)
    assert facts["bnlj"] >= 1, "coarse codebook must broadcast"
    assert facts["bhj"] >= 1, "candidate generation must be a hash join on cell"
    assert facts["pyudf"] == 0

    from pyspark.sql import functions as F

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import llm as ops

    emb = load(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    n_queries = 5
    coarse = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    all_scored = ops.ivf_sq8_topk(
        emb, coarse, "vec_id", "embedding",
        probe=F.col("vec_id") < n_queries, k=n_corpus, nprobe=2,
    ).count()
    assert all_scored < n_queries * (n_corpus - 1), (
        f"IVF+SQ8 scored {all_scored} pairs — not cell-bounded vs flat "
        f"{n_queries * (n_corpus - 1)}"
    )


def test_c17_upsert_changes_join(spark, sf_dir, qmap):
    """CDC merge: the anti join on the key must be a real join (broadcast
    or shuffled-by-key), and the union adds no exchange."""
    facts = plan_facts(qmap["c17_upsert_merge"](spark, sf_dir))
    assert facts["bhj"] + facts["smj"] + facts["shj"] >= 1
    assert facts["pyudf"] == 0


def test_q38_single_expand_single_shuffle(spark, sf_dir, qmap):
    """Multi-resolution rollup: ONE scan + grouping-sets Expand + one
    aggregate shuffle — not three passes."""
    df = qmap["q38_multires_rollup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    facts = plan_facts(df)
    assert facts["exch"] == 1, "one aggregate shuffle for all resolutions"
    assert len(facts["scan_cols"]) == 1, "single scan of events"


def test_c19_scan_is_partition_pruned(spark, sf_dir, qmap):
    """The lang filter must become a PartitionFilter on the scan AND the
    executed scan must open only lang=en's files — other partitions are
    physically untouched (the 100 TB point of the layout)."""
    import glob
    import os

    df = qmap["c19_partition_pruned_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters:")[1][:120], plan
    # hard evidence, not plan text: the executed scan's numFiles metric
    # must equal the file count under lang=en, strictly below the total
    df.collect()
    scans = [
        n
        for n in _collect_plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName().strip() == "Scan parquet"
    ]
    assert scans, "no parquet scan node found"
    num_files = int(scans[0].metrics().apply("numFiles").value())
    from medvedi_spark.queries.compat_ops import _fmt_tmp

    root = _fmt_tmp(sf_dir, "c19part")
    en_files = len(glob.glob(os.path.join(root, "lang=en", "*.parquet")))
    all_files = len(glob.glob(os.path.join(root, "lang=*", "*.parquet")))
    assert num_files == en_files, (num_files, en_files)
    assert num_files < all_files, "scan read every partition — pruning is dead"


def _collect_plan_nodes(jplan):
    """Flatten a JVM SparkPlan tree (descending through AQE wrappers).

    The ``plan``/``child`` unwrap is applied ONLY to nodes that report no
    children (QueryStageExec, ReusedExchange — wrappers whose subtree is
    hidden from ``children()``). Unwrapping every node duplicated each
    child once per accessor on top of the ``children()`` visit, which is
    EXPONENTIAL in plan depth — a deep join+window plan hung for minutes
    (round-6 ANN index test)."""
    out = [jplan]
    # AdaptiveSparkPlanExec hides its tree behind executedPlan()
    if jplan.nodeName() == "AdaptiveSparkPlan":
        out.append(jplan.executedPlan())
        jplan = jplan.executedPlan()
    i = 0
    while i < len(out):
        node = out[i]
        n_children = 0
        it = node.children().iterator()
        while it.hasNext():
            out.append(it.next())
            n_children += 1
        if n_children == 0:
            # unwrap query-stage / reused wrappers that hide children
            for attr in ("plan", "child"):
                try:
                    out.append(getattr(node, attr)())
                except Exception:  # noqa: BLE001
                    pass
        i += 1
    return out


def test_q40_salted_join_spreads_key(spark, sf_dir, qmap):
    """Salted join: the join key must include the salt column (so the
    shuffle spreads hot keys), and the small side carries the explode."""
    from medvedi_spark.catalog import load
    from medvedi_spark.operators.relational import salted_join
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"), "l_extendedprice")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, ["p_partkey"], "inner", num_salts=8)
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt__" in plan, plan
    # replication factor: right side grows 8x, join output matches plain join
    plain = li.join(part, "p_partkey").count()
    assert joined.count() == plain
