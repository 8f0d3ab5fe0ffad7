"""Query registry: every engine capability exposed as a named query.

Each entry pairs a Spark DataFrame builder with (where expressible) an
equivalent ANSI-SQL oracle string for DuckDB. The driver hash-compares the
two at sf=0.01, so builders follow two hard rules:

1. **Deterministic floats.** Sums over doubles go through exact DECIMAL
   arithmetic and are cast back to DOUBLE at the end, so Spark's
   partial-aggregation order can't produce different bits than DuckDB's
   sequential sum. See ``dsum``/``davg``.
2. **Identical column names.** Every computed column is aliased the same
   in the DataFrame code and the oracle SQL.

Reference parity: the relational queries cover SURVEY.md §2's operator
inventory (citations inline); the ``d*``/``s*``/``t*`` queries are the
north-star LLM-pipeline extensions (§2.10).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = ["QUERIES", "Query", "register", "queries", "oracle_sql"]


# The driver's correctness gate checks the FIRST ``GATE_WINDOW`` entries of
# ``queries()``. Every operator family must keep a verified entry inside the
# window, so ``queries()`` orders gated queries (``Query.gate``) first. The
# rest are deliberate duplicates whose operator is already proven by an
# in-window query; they still run in bench and local check_oracle, they just
# don't spend gate budget.
GATE_WINDOW = 50

# The gate rotation: the queries the driver's window checks this round.
# Each operator family keeps a member, and queries whose code changed
# are re-proven through the driver. Membership alone sets ``Query.gate``
# (see _ensure_loaded). Earlier rotations live in git history and in
# CORRECTNESS_rNN.json.
GATE_ROTATION = frozenset(
    {
        # verdict-directed: r10-touched-but-ungated
        "d12_gram_containment", "s13_jl_projection_topk",
        "st10_stream_lsh_dedup", "s1_cosine_topk", "s2_ann_ivf",
        "s3_kmeans_assign", "s5_pq_adc_topk", "s8_ivfadc_residual",
        "s9_sq8_topk", "s10_ivf_sq8_topk", "c18_bucketed_join",
        # code changed in r11 — re-prove through the driver
        "d3_minhash_lsh", "d4_simhash", "d6_dedup_clusters",
        "d16_fuzzy_dedup_corpus", "d17_fuzzy_dedup_ingest",
        "c11_mdf_dedup_pipeline", "st13_stream_index_ingest",
        "st17_stream_dedup_ingest", "s11_ivf_sq8_index",
        "m7_image_ahash_neardup", "t11_rake_keywords",
        "d5_embedding_neardup", "d10_semantic_dedup",
        "s6_ivfadc_topk", "s7_ivfadc_rerank", "s12_ivfadc_index",
        "s15_ivfadc_index_rerank", "s16_ivfadc_batched_serve",
        # r7-stale fills (the whole remaining r7 set)
        "c12_mdf_explode", "c13_mdf_fillna_astype", "p9_bpe_segment",
        "p10_export_jsonl", "q15_cube", "q36_unpivot_metrics",
        "q37_ranking_windows", "q38_multires_rollup",
        "q39_percentile_disc", "st1_tumbling_window", "st4_sliding_window",
        "st8_stream_static_join",
        # r8-stale family fills
        "c7_grouped_map", "c10_concat_fill_defaults",
        "d11_duplicate_spans", "d18_exact_substring_removal",
        "p1_corpus_clean", "q1_pricing_summary",
        "q28_local_supplier_volume", "t5_winnow_fingerprint",
        "t12_bigram_surprisal",
    }
)


@dataclass
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    gate: bool = True


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(
            name=name, builder=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


def _gate_ordered() -> list[Query]:
    """Gated queries first (registration order), then the extras."""
    qs = list(QUERIES.values())
    return [q for q in qs if q.gate] + [q for q in qs if not q.gate]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {q.name: q.builder for q in _gate_ordered()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {q.name: q.oracle for q in _gate_ordered() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every query-defining module exactly once (registration side effect)."""
    global _LOADED
    if _LOADED:
        return
    from medvedi_spark.queries import compat_ops, llm_ops, relational, stream_ops, text_ops  # noqa: F401

    for q in QUERIES.values():
        q.gate = q.name in GATE_ROTATION
    _LOADED = True
