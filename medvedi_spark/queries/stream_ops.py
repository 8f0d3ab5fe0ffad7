"""Streaming query surface (SURVEY §2.9 — new capability vs the reference).

Each query is a real Structured Streaming plan (readStream → stateful op →
writeStream) drained synchronously into a memory sink so the driver can
hash-compare it against a batch DuckDB oracle. Watermark/window semantics
are chosen so the drained result equals the batch answer (complete mode
for aggregations; append for streaming dedup whose output is key-only).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from medvedi_spark.queries._det import DEC
from medvedi_spark.queries.registry import register
from medvedi_spark.streaming.ops import read_events_stream, read_table_stream, run_to_memory

# --------------------------------------------------------------------------
# st1 — tumbling-window aggregation (6h windows, epoch-aligned like
# DuckDB's time_bucket).
# --------------------------------------------------------------------------


@register(
    "st1_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
    doc="FAILED the round-2 driver gate (events ts load bug): kept in-window so the fix is driver-proven, not just local.",
)
def st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("string").cast("double").alias("value_sum"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "value_sum")
    )
    return run_to_memory(agg, output_mode="complete")


# --------------------------------------------------------------------------
# st2 — session windows (30-minute gap) per user. Spark's session_window
# start == first event ts; the oracle reproduces it with the islands
# (lag + cumulative-flag) construction.
# --------------------------------------------------------------------------


@register(
    "st2_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, sid
    """,
    tags=("streaming", "session"),
)
def st2_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


# --------------------------------------------------------------------------
# st3 — streaming dedup: first-seen (user_id, event_type) pairs. Key-only
# output so "which row was first" (nondeterministic under parallel read)
# never leaks into the result.
# --------------------------------------------------------------------------


@register(
    "st3_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
    doc="Gate duplicate: driver-proven r2-fix through r5; demoted from the "
        "window in r6 (VERDICT r5 directive #3) so the SHOWCASED dedup "
        "exemplar is the bounded-state st11_watermarked_dedup, which is "
        "in-window and proves the same dedup kernel. STATE-BOUND NOTE: "
        "plain dropDuplicates keeps every key forever — correct for this "
        "oracle's GLOBAL-distinct contract, but unbounded state on an "
        "endless stream; st11 is the production watermarked variant.",
)
def st3_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    deduped = events.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_to_memory(deduped, output_mode="append")


# --------------------------------------------------------------------------
# st11 — WATERMARKED streaming dedup (VERDICT r4 directive #3, SURVEY
# §2.9): `dropDuplicatesWithinWatermark` bounds dedup state — keys whose
# event time falls behind the watermark by more than the delay are
# EVICTED, so state is O(keys-per-watermark-window) instead of O(all
# keys ever seen). On a 100 TB/day stream this is the only dedup that
# survives; the price is that duplicates farther apart than the delay
# re-emit (exactly the documented semantics). Deterministic here because
# the availableNow drain reads the single events file in ONE micro-batch
# — the watermark starts at epoch, nothing is evicted mid-batch, and the
# within-batch dedup equals the global distinct, so the same SQL oracle
# applies; output projects only the key columns so "which row was first"
# never leaks into the result.
# --------------------------------------------------------------------------


def _st11_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming plan, pre-drain (shared with the state-operator test)."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@register(
    "st11_watermarked_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark"),
    doc="Bounded-state streaming dedup: dropDuplicatesWithinWatermark "
        "evicts keys older than the 1h watermark delay (st3's plain "
        "dropDuplicates keeps all keys forever).",
)
def st11_watermarked_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(_st11_plan(spark, sf_dir), output_mode="append")


# --------------------------------------------------------------------------
# st4 — sliding window (6h duration, 3h slide): each event lands in two
# overlapping windows. The oracle replicates Spark's window assignment
# (start = floor(ts/slide)*slide - k*slide for k in {0,1}).
# --------------------------------------------------------------------------


@register(
    "st4_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL 3 HOUR, CAST(ts AS TIMESTAMP)) - off * INTERVAL 3 HOUR AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM events, (VALUES (0), (1)) t(off)
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "sliding"),
)
def st4_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "6 hours", "3 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("string").cast("double").alias("value_sum"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "value_sum")
    )
    return run_to_memory(agg, output_mode="complete")


# --------------------------------------------------------------------------
# st5 — watermark + append mode: only FINALIZED windows (window end at or
# before max_event_time - 1h watermark) are emitted; trailing windows stay
# open in state. This is the production late-data pattern — append-mode
# emission is what lets a 100 TB/day stream write immutable parquet
# partitions downstream. Deterministic here because availableNow drains
# the file source in one batch, then the final watermark gates emission.
# --------------------------------------------------------------------------


@register(
    "st5_watermark_append",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
    SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    HAVING window_start + INTERVAL 6 HOUR <= (SELECT max_ts - INTERVAL 1 HOUR FROM mx)
    """,
    tags=("streaming", "watermark", "latedata"),
)
def st5_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    return run_to_memory(agg, output_mode="append")


# --------------------------------------------------------------------------
# st6 — custom stateful operator via applyInPandasWithState (SURVEY §2.9:
# the Spark analog of medvedi's Grouper.__iter__ grouped-map, lifted to
# streams). Per-user running event count + last seen value kept in
# GroupState; state is partitioned by user_id so it shards horizontally.
# Output after the availableNow drain equals the batch aggregate.
# --------------------------------------------------------------------------


@register(
    "st6_stateful_counter",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyinpandas"),
)
def st6_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update_counts(key, pdfs, state):
        import decimal

        import pandas as pd

        q10 = decimal.Decimal("1e-10")
        n, vsum = state.get if state.exists else (0, "0")
        acc = decimal.Decimal(vsum)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                # exact decimal accumulation (same policy as _det.dsum),
                # batched through pandas instead of a per-row python loop
                acc += (
                    pdf["value"]
                    .map(lambda v: decimal.Decimal(repr(float(v))).quantize(q10))
                    .sum()
                )
        state.update((n, str(acc)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_sum": [float(acc)]})

    result = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_counts,
            outputStructType="user_id bigint, n_events bigint, value_sum double",
            stateStructType="n bigint, vsum string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(result, output_mode="update")


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Views joined ``how`` (``"inner"`` for st7, ``"leftOuter"`` for
    st12) to the same user's purchases within the hour after the view,
    both sides watermarked at one hour, drained to a memory table."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select("user_id", "view_ts", "purchase_ts")
    return run_to_memory(joined, output_mode="append")


# --------------------------------------------------------------------------
# st7 — stream-stream interval join: purchases matched to a preceding view
# by the same user within 1 hour. Both sides carry watermarks so the join
# state is bounded (Spark drops view state older than the watermark minus
# the interval) — the property that lets this run forever on an unbounded
# stream. Inner join + availableNow drain == the batch interval join.
# --------------------------------------------------------------------------


@register(
    "st7_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "interval"),
)
def st7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _view_purchase_join(spark, sf_dir, "inner")


# --------------------------------------------------------------------------
# st8 — stream-static enrichment join: the production pattern for
# dimension lookup on a live stream (clickstream × user table, events ×
# device registry). The static side is an ordinary batch DataFrame that
# Spark re-reads per micro-batch and BROADCASTS (no state store at all —
# unlike st7's stream-stream join there is nothing to watermark; the
# static side is simply current as-of each batch). Aggregation after the
# join runs in complete mode so the drained result equals the batch
# answer.
# --------------------------------------------------------------------------


@register(
    "st8_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           e.event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "enrichment"),
    doc="Gate duplicate: streaming family driver-gated by st2/st4-st7; st8 "
        "adds the stream-static broadcast enrichment join, proven by the "
        "same oracle harness locally.",
)
def st8_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.catalog import load

    events = read_events_stream(spark, sf_dir)
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(customer, "user_id")  # stream-static: broadcast, stateless
    agg = (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("string").cast("double").alias("value_sum"),
        )
    )
    return run_to_memory(agg, output_mode="complete")


# --------------------------------------------------------------------------
# st9 — streaming training-data ingest: the streaming face of p1's batch
# pipeline. Documents arrive as a file-source stream and flow through
# language-ID + quality gating (stateless, map-side) into a stateful
# content-hash dropDuplicates — the shape of a production ingest that
# dedups against everything already admitted. Output columns are all
# functions of the dedup key (content hash), so the result set is
# deterministic regardless of arrival order. Oracle = the batch
# equivalent.
# --------------------------------------------------------------------------


_ST9_MIN_TOKENS = 20
_ST9_STOPS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
}
_ST9_CASES_SQL = " ".join(
    f"WHEN n_{lang} >= 2 THEN '{lang}'" for lang in ("en", "es", "fr", "de")
)
_ST9_COUNTS_SQL = ",\n             ".join(
    "len(list_filter(string_split(text, ' '), t -> t IN ({}))) AS n_{}".format(
        ", ".join(f"'{w}'" for w in words), lang
    )
    for lang, words in _ST9_STOPS.items()
)


@register(
    "st9_stream_ingest",
    oracle=f"""
    SELECT DISTINCT md5(text) AS content_hash,
           CASE {_ST9_CASES_SQL} ELSE 'unknown' END AS pred_lang,
           n_tokens
    FROM (
      SELECT text,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             {_ST9_COUNTS_SQL}
      FROM documents
    )
    WHERE n_tokens >= {_ST9_MIN_TOKENS}
    """,
    tags=("streaming", "pipeline", "dedup", "llm"),
    doc="Gate duplicate: streaming dedup state is driver-gated via st3, "
        "the langid/quality kernels via t1/t2; st9 composes them into the "
        "streaming ingest shape, proven by the same oracle harness "
        "locally. STATE-BOUND NOTE: the content-hash dedup state is "
        "global BY SPEC (a re-ingested document is a duplicate no matter "
        "how old the original); bounding it means sharding the hash space "
        "or a TTL policy chosen by the pipeline owner — st11 shows the "
        "watermarked form when recency-bounded dedup is acceptable.",
)
def st9_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_stream(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    counted = docs.select(
        "text",
        F.size(toks).alias("n_tokens"),
        *[
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"n_{lang}")
            for lang, words in _ST9_STOPS.items()
        ],
    )
    pred = F.lit("unknown")
    for lang in reversed(("en", "es", "fr", "de")):
        pred = F.when(F.col(f"n_{lang}") >= 2, F.lit(lang)).otherwise(pred)
    gated = (
        counted.filter(F.col("n_tokens") >= _ST9_MIN_TOKENS)
        .select(F.md5("text").alias("content_hash"), pred.alias("pred_lang"), "n_tokens")
        .dropDuplicates(["content_hash"])
    )
    return run_to_memory(gated, output_mode="append")


# --------------------------------------------------------------------------
# st10 — streaming DEDUP-ON-INGEST against a static MinHash-LSH corpus
# index: arriving documents (the doc_id % 10 == 0 slice, streamed) are
# shingled and minhashed ROW-WISE, band-joined against the pre-built
# corpus band table (stream-static, stateless), and verified by exact
# hash-set Jaccard — the production pattern for rejecting near-dups at
# the door instead of re-running corpus-wide dedup.
#
# Scale shape: the corpus index is the BATCH d3 pipeline (explode + ONE
# groupBy exchange); the stream side cannot put an aggregation before a
# stream-static join, so its 16 minhash mins fold in ONE capture-free
# `aggregate(harr, .., finish=bands)` expression — the hash array is the
# aggregate's subject (evaluated once) and `acc`/`h`/`i` are lambda
# VARIABLES, not captured subexpressions, so nothing re-evaluates
# per-element. The md5 shingle hashing runs twice per arriving doc (once
# for the signature fold, once for the verify token set) — a 2x constant
# on the SMALL side of the join, the price of statelessness before the
# join. Verification joins the static signature table on the candidate
# id; the only stateful operator is the final pair dropDuplicates.
# --------------------------------------------------------------------------

_ST10_THRESH = 0.8


def _st10_row_minhash_bands(harr: str) -> Column:
    """(band_idx, band_val) structs from a token-hash ARRAY column — the
    row-wise equivalent of `minhash_agg_cols` + d3's band assembly. One
    ``F.expr`` string (the nested-lambda fold composed through the
    functions API is several hundred py4j round-trips per plan build;
    see the kernel note in operators/kernels.py)."""
    from medvedi_spark.functions.hashing import MINHASH_COEFFS, MINHASH_PRIME, _ident

    n_bands = len(MINHASH_COEFFS) // 2  # two-min bands, same as minhash_band_index
    init_sql = "array(" + ", ".join(
        [f"cast({MINHASH_PRIME} as bigint)"] * len(MINHASH_COEFFS)
    ) + ")"
    aa_sql = "array(" + ", ".join(
        f"cast({a} as bigint)" for a, _ in MINHASH_COEFFS
    ) + ")"
    bb_sql = "array(" + ", ".join(
        f"cast({b} as bigint)" for _, b in MINHASH_COEFFS
    ) + ")"
    return F.expr(
        f"aggregate({_ident(harr)}, {init_sql}, "
        f"(acc, h) -> transform(acc, (x, i) -> "
        f"least(x, (element_at({aa_sql}, i + 1) * h + element_at({bb_sql}, i + 1)) "
        f"% {MINHASH_PRIME})), "
        f"acc -> transform(sequence(0, {n_bands - 1}), i -> "
        f"struct(cast(i as int) as band_idx, "
        f"concat_ws(',', element_at(acc, 2 * i + 1), element_at(acc, 2 * i + 2)) "
        f"as band_val)))"
    )


def _stream_minhash_candidates(stream: DataFrame) -> DataFrame:
    """Row-wise shingle → hash → minhash-band candidates for an arriving
    document stream: ``(doc_id, toks, band_idx, band_val)``, stateless,
    band-compatible with the batch ``minhash_band_index`` (so the stream
    side can probe either an inline corpus index — st10 — or the
    persisted d17 signature index — st17 — without drift)."""
    from medvedi_spark.functions.hashing import token_hash

    sl = F.split(F.col("text"), " ")
    sbigrams = F.zip_with(
        F.slice(sl, 1, F.greatest(F.size(sl) - 1, F.lit(0))),
        F.slice(sl, 2, F.greatest(F.size(sl) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    sshingles = F.array_distinct(
        F.filter(
            sbigrams,
            lambda s: ~s.contains("  ") & (s != "") & ~s.startswith(" ") & ~s.endswith(" "),
        )
    )
    feats = stream.select(
        "doc_id", F.transform(sshingles, lambda s: token_hash(s)).alias("harr")
    ).select(
        "doc_id",
        F.array_distinct(F.sort_array(F.col("harr"))).alias("toks"),
        _st10_row_minhash_bands("harr").alias("bands"),
    )
    return feats.select("doc_id", "toks", F.explode("bands").alias("bd")).select(
        "doc_id", "toks", F.col("bd.band_idx").alias("band_idx"), F.col("bd.band_val").alias("band_val")
    )


@register(
    "st10_stream_lsh_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    zipped AS (SELECT doc_id, unnest(l) AS w1, unnest(l[2:]) AS w2 FROM toks),
    shingles AS (
      SELECT DISTINCT doc_id, w1 || ' ' || w2 AS s
      FROM zipped WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    ),
    hashed AS (SELECT doc_id, (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647) AS h FROM shingles),
    sigs AS (
      SELECT doc_id, MIN((1083116687 * h + 906378984) % 2147483647) AS m0,
       MIN((277691716 * h + 11814260) % 2147483647) AS m1,
       MIN((663920010 * h + 488240551) % 2147483647) AS m2,
       MIN((1767612842 * h + 265308615) % 2147483647) AS m3,
       MIN((1121143854 * h + 70759107) % 2147483647) AS m4,
       MIN((1146561109 * h + 1522665269) % 2147483647) AS m5,
       MIN((1671573737 * h + 1804750926) % 2147483647) AS m6,
       MIN((604645167 * h + 129730950) % 2147483647) AS m7,
       MIN((699148992 * h + 1320412537) % 2147483647) AS m8,
       MIN((1927927229 * h + 1052486461) % 2147483647) AS m9,
       MIN((1988192828 * h + 1986119057) % 2147483647) AS m10,
       MIN((1545949896 * h + 530925211) % 2147483647) AS m11,
       MIN((861973162 * h + 370983704) % 2147483647) AS m12,
       MIN((174916747 * h + 525484404) % 2147483647) AS m13,
       MIN((174403173 * h + 286741785) % 2147483647) AS m14,
       MIN((1362309592 * h + 1074030877) % 2147483647) AS m15
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, band_idx,
             CASE band_idx
               WHEN 0 THEN m0 || ',' || m1   WHEN 1 THEN m2 || ',' || m3
               WHEN 2 THEN m4 || ',' || m5   WHEN 3 THEN m6 || ',' || m7
               WHEN 4 THEN m8 || ',' || m9   WHEN 5 THEN m10 || ',' || m11
               WHEN 6 THEN m12 || ',' || m13 WHEN 7 THEN m14 || ',' || m15
             END AS band_val
      FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band_idx)
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    hset AS (SELECT DISTINCT doc_id, h FROM hashed),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hset GROUP BY doc_id),
    verified AS (
      SELECT c.doc_id, c.dup_of, COUNT(*) AS n_shared
      FROM candidates c
      JOIN hset x ON x.doc_id = c.doc_id
      JOIN hset y ON y.doc_id = c.dup_of AND y.h = x.h
      GROUP BY c.doc_id, c.dup_of
    )
    SELECT v.doc_id, v.dup_of,
           CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_id
    JOIN sizes sb ON sb.doc_id = v.dup_of
    WHERE CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) >= {_ST10_THRESH}
    """,
    tags=("streaming", "dedup", "minhash", "lsh", "llm"),
    doc="Gate duplicate: the MinHash-LSH kernel is driver-gated via d3 and "
        "streaming statefulness via st3/st6; st10 composes them into "
        "dedup-on-ingest, proven by the same oracle harness locally.",
)
def st10_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.catalog import load
    from medvedi_spark.operators.llm import minhash_band_index

    # ---- static corpus index: the SAME shingle→hash→signature→band
    # pipeline as d3 (shared helper, so stream-vs-corpus band agreement
    # can't drift), over the % 10 != 0 slice
    corpus = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    csigs, cbands = minhash_band_index(corpus, "doc_id", "text")
    c_bands = cbands.withColumnRenamed("doc_id", "dup_of")
    c_toks = csigs.select(F.col("doc_id").alias("dup_of"), F.col("toks").alias("toks_c"))

    # ---- arriving documents: row-wise shingle -> hash -> minhash bands
    stream = read_table_stream(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    cand = _stream_minhash_candidates(stream)
    # stream-static band join (stateless) + static verify join; exact
    # hash-set Jaccard decides, bands only propose
    shared = F.size(F.array_intersect("toks", "toks_c"))
    union = F.size("toks") + F.size("toks_c") - shared
    out = (
        cand.join(c_bands, ["band_idx", "band_val"])
        .join(c_toks, "dup_of")
        .withColumn("jaccard", shared.cast("double") / union)
        .filter(F.col("jaccard") >= _ST10_THRESH)
        .select("doc_id", "dup_of", "jaccard")
        .dropDuplicates(["doc_id", "dup_of"])
    )
    return run_to_memory(out, output_mode="append")


# --------------------------------------------------------------------------
# st12 — watermarked stream-stream LEFT OUTER interval join: st7's
# view→purchase attribution, plus an outer NULL row for every view whose
# match window has fully expired past the watermark — the production
# "unconverted session" feed. Outer emission semantics (verified with a
# boundary-row probe, pinned by the unit test):
#   * global watermark = MIN of the two sides' (max event time − delay);
#   * an unmatched view emits (user_id, view_ts, NULL) iff
#     view_ts + join_window < watermark — STRICTLY (a view whose window
#     end equals the watermark stays in state, not emitted);
#   * matched pairs emit immediately, independent of the watermark.
# The oracle replays exactly that: inner pairs UNION unmatched views
# older than LEAST(max_view, max_purchase) − delay − window.
# --------------------------------------------------------------------------


@register(
    "st12_stream_outer_join",
    oracle="""
    WITH v AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(view_ts) FROM v), (SELECT MAX(purchase_ts) FROM p))
             - INTERVAL 1 HOUR AS w
    ),
    matched AS (
      SELECT v.user_id, v.view_ts, p.purchase_ts
      FROM v JOIN p ON p.user_id = v.user_id
       AND p.purchase_ts >= v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
      SELECT v.user_id, v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      FROM v
      LEFT JOIN (SELECT DISTINCT user_id, view_ts FROM matched) m
        ON m.user_id = v.user_id AND m.view_ts = v.view_ts
      WHERE m.user_id IS NULL
        AND v.view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    )
    SELECT user_id, view_ts, purchase_ts FROM matched
    UNION ALL
    SELECT user_id, view_ts, purchase_ts FROM unmatched
    """,
    tags=("streaming", "join", "interval", "outer", "watermark"),
    doc="Watermarked stream-stream LEFT OUTER interval join; the inner "
        "kernel is driver-gated via st7, outer-emission semantics proven "
        "by the same oracle harness locally + a boundary-row unit test.",
)
def st12_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _view_purchase_join(spark, sf_dir, "leftOuter")


# --------------------------------------------------------------------------
# st13 — STREAMING INDEX INGEST: the update path of the s11 index
# lifecycle. The quantizer state is trained once batch-side and FROZEN
# (FAISS semantics: SQ8 ranges + coarse centroids never move during
# serving); arriving vectors are SQ8-encoded and cell-routed entirely
# MAP-SIDE against that broadcast state — encoding is the s9 affine
# projection, routing is an argmin over a centroid array LITERAL (no
# window functions, streaming-legal, same (d2, cent_id) ordering as
# _coarse_route so batch and stream can never disagree on ties) — and
# appended to the cell-partitioned parquet inverted lists through the
# exactly-once file sink. Stateless: per-row work only, no streaming
# state at all, so a 100 TB/day ingest is embarrassingly parallel.
# Oracle: the coarse-assignment + SQ8-code CTE chains replayed over the
# whole table (the availableNow drain ingests every row once).
# --------------------------------------------------------------------------


def _st13_oracle() -> str:
    from medvedi_spark.queries.llm_ops import _COARSE_CTES, _SQ8_CODE_CTES

    # Long-form (one row per code position) — the repo's q32 convention:
    # the driver's canonicalization lexsorts every column in pandas, which
    # cannot hash an array<int> cell, so gated outputs must be scalar-only.
    return f"""
    WITH {_COARSE_CTES},
    {_SQ8_CODE_CTES}
    SELECT s.vec_id, a.cell, s.i, s.c AS code
    FROM sqcodes s JOIN assign a USING (vec_id)
    """


@register(
    "st13_stream_index_ingest",
    oracle=_st13_oracle(),
    tags=("streaming", "ann", "index-lifecycle", "sink", "llm"),
    doc="Streaming ANN index ingest: vectors SQ8-encoded + cell-routed "
        "map-side against frozen broadcast quantizer state (argmin over "
        "a centroid literal — no streaming state anywhere), appended to "
        "the s11 cell-partitioned parquet inverted lists via the "
        "exactly-once file sink, read back and oracle-matched against "
        "the batch assignment+code CTEs.",
)
def st13_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from medvedi_spark.catalog import load
    from medvedi_spark.operators.kernels import _argmin_cell, _sq8_code
    from medvedi_spark.operators.quantized import _sq8_range_literals, _sq8_train
    from medvedi_spark.operators._persist import scratch_dir
    from medvedi_spark.queries.llm_ops import _S6_COARSE
    from medvedi_spark.streaming.ops import run_to_parquet

    emb = load(spark, sf_dir, "embeddings")
    # frozen quantizer state (model state, trained batch-side once):
    # dims-row SQ8 ranges + n_cells coarse centroids
    vmin_vals, vmax_vals = _sq8_range_literals(_sq8_train(emb, "embedding"))
    cents = (
        emb.filter(F.col("vec_id") < _S6_COARSE)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb"))
        .orderBy("cent_id")
        .collect()
    )
    # map-side cell routing: argmin over the centroid literal via struct
    # ordering on (d2, cent_id) — the same ranking _coarse_route's window
    # uses, expressed without a window so it is streaming-legal (one F.expr
    # string in _argmin_cell)
    enc = read_table_stream(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        _argmin_cell("embedding", cents).alias("cell"),
        _sq8_code("embedding", vmin_vals, vmax_vals).alias("codes"),
    )
    # fresh sink per invocation: the file sink is append-only by design,
    # so a rerun against a stale checkpoint would no-op and a stale dir
    # without the checkpoint would double-ingest
    path = scratch_dir(sf_dir, "st13idx")
    shutil.rmtree(path, ignore_errors=True)
    run_to_parquet(enc, path, partition_by=("cell",))
    back = spark.read.parquet(path)
    # Gated outputs are scalar-only (q32 convention): posexplode the code
    # array to long form (vec_id, cell, i, code), 1-based i to match the
    # oracle's generate_series positions.
    return back.selectExpr(
        "CAST(vec_id AS LONG) AS vec_id",
        "CAST(cell AS LONG) AS cell",
        "posexplode(codes) AS (pos, code)",
    ).select(
        "vec_id",
        "cell",
        (F.col("pos") + F.lit(1)).cast("long").alias("i"),
        F.col("code").cast("int").alias("code"),
    )


# --------------------------------------------------------------------------
# st14 — STREAMING DECONTAMINATION: d14's Bloom prefilter on an arriving
# document stream. The filter is fit ONCE batch-side over the eval suite
# (bounded model state — an auto-sized bitmap of longs, like frozen
# quantizer state in st13) and ships to the stream in the closure of
# d14's Arrow batch pass; each arriving document is flagged by that
# stateless map (one md5 and k bit tests per distinct 4-gram) — no
# join, no watermark, NO STREAMING STATE AT ALL, so a 100 TB/day ingest
# decontaminates embarrassingly parallel at wire speed. This is the shape
# production ingest actually wants: evals are frozen rarely, documents
# arrive forever. Oracle:
# d14's — the availableNow drain sees every corpus row exactly once, so
# the streaming result IS the batch result.
# --------------------------------------------------------------------------


def _st14_oracle() -> str:
    from medvedi_spark.queries.llm_ops import _D14_ORACLE

    return _D14_ORACLE


@register(
    "st14_stream_decontaminate",
    oracle=_st14_oracle(),
    tags=("streaming", "decontamination", "bloom", "llm"),
    doc="Streaming Bloom decontamination: the d14 bitmap fit batch-side "
        "over the frozen eval suite (bounded model state), arriving docs "
        "flagged by d14's stateless Arrow batch pass — zero joins, zero "
        "streaming state, append mode; oracle-matched against the batch "
        "d14 result (the availableNow drain ingests every row once).",
)
def st14_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.bloom import bloom_flag
    from medvedi_spark.queries.llm_ops import _D9_N, _D14_K, _bloom_model

    # fit batch-side ONCE per frozen eval suite: the session-cached model
    # shared with d14. Serve with the SAME constants the fit used — a
    # literal n/k here would silently desync membership tests from the
    # bitmap if the d9/d14 constants ever move (no-false-negative break).
    words, m_bits = _bloom_model(spark, sf_dir)
    stream = read_table_stream(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 != 0)
    flagged = bloom_flag(
        stream, "doc_id", "text", words, m_bits, n=_D9_N, k_hashes=_D14_K
    )
    return run_to_memory(flagged, output_mode="append")


# --------------------------------------------------------------------------
# st15 — STREAMING QUALITY GATE: t14's Gopher rule filter on an arriving
# document stream. Every gate in the rule set is a pure per-row integer
# computation (word counts, cross-multiplied ratios, stopword hits), so
# the streaming plan is ONE stateless projection — no join, no
# watermark, no streaming state — the same wire-speed ingest shape as
# st14's Bloom pass. This is where a 100 TB/day pipeline actually runs
# its quality filter: at ingest, before anything is stored, with the
# keep flag routing documents downstream. Oracle: t14's — the
# availableNow drain sees every document exactly once, so the streaming
# result IS the batch result.
# --------------------------------------------------------------------------


def _st15_oracle() -> str:
    from medvedi_spark.queries.text_ops import T14_ORACLE

    return T14_ORACLE


@register(
    "st15_stream_quality_gate",
    oracle=_st15_oracle(),
    tags=("streaming", "quality", "filter", "llm"),
    doc="Streaming Gopher quality gate: t14's exact-integer rule filter "
        "as a stateless per-row projection over the document stream — "
        "zero joins, zero streaming state, append mode; oracle-matched "
        "against the batch t14 result (the availableNow drain ingests "
        "every row once). Registered after the r7 gate window froze: "
        "proven by the local oracle harness (CORRECTNESS_local_r7) + "
        "the stream≡batch unit test; gates next rotation.",
)
def st15_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.queries.text_ops import gopher_rules_frame

    stream = read_table_stream(spark, sf_dir, "documents")
    return run_to_memory(gopher_rules_frame(stream), output_mode="append")


# --------------------------------------------------------------------------
# st16 — STREAMING DUPLICATE-SPAN FLAGGING: the ExactSubstr family's
# ingest shape. The corpus's cross-doc duplicate 20-grams (d11's
# verdict, one gram-keyed hash aggregate) fold ONCE batch-side into an
# auto-sized Bloom bitmap — bounded model state, exactly st14's recipe
# applied to d11's gram world — and each arriving document then flags
# and MERGES its duplicate spans in one ``mapInArrow`` pass over the
# ascending bloom-hit positions: no join, no window, no watermark, ZERO
# streaming state. No false negatives (every true d11
# span is contained in a flagged span — unit-tested); the deterministic
# false-positive tail is replayed bit-for-bit by the oracle, which
# recomputes the bitmap's position set in SQL (the d14 discipline) and
# re-runs d11's span-merge recurrence over the bloom-hit anchors.
# --------------------------------------------------------------------------

_ST16_K = 20  # char gram width — d11's
_ST16_H = 3   # bloom hashes — d14's

def _span_bloom_model(spark: SparkSession, sf_dir: str) -> tuple[list[int], int]:
    """The fitted span bitmap (model state, like d14/st14's
    ``_bloom_model``): fitted once per corpus generation."""
    from medvedi_spark.catalog import load, model_state
    from medvedi_spark.operators import bloom

    def fit():
        docs = load(spark, sf_dir, "documents")
        return bloom.span_bloom_fit(docs, "doc_id", "text", k_gram=_ST16_K, k_hashes=_ST16_H)

    p = os.path.join(sf_dir, "documents.parquet")
    return model_state("span_bloom", p, (_ST16_K, _ST16_H), fit)


@register(
    "st16_stream_span_flag",
    oracle=f"""
    WITH anchors AS (
      SELECT doc_id, i AS pos,
             substr(text, CAST(i AS INT), {_ST16_K}) AS gram
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text) - {_ST16_K - 1})) AS i)
      WHERE length(text) >= {_ST16_K}
    ),
    dup_g AS (
      SELECT gram FROM anchors GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    idx AS (SELECT unnest(generate_series(0, {_ST16_H - 1})) AS i),
    msize AS (
      SELECT GREATEST(65536, LEAST(268435456,
        CAST(power(2, length(bin(CAST(
          (CAST(count(*) AS BIGINT) * {_ST16_H} * 1000000) // 693147
        AS BIGINT)))) AS BIGINT))) AS m
      FROM dup_g
    ),
    bpos AS (
      SELECT DISTINCT
             (CAST('0x' || substr(md5(d.gram), 1, 15) AS BIGINT)
                % ((SELECT m FROM msize) // 64)) * 64
             + CAST('0x' || substr(md5(d.gram), CAST(16 + 5 * idx.i AS INT), 5) AS BIGINT) % 64
               AS p
      FROM dup_g d, idx
    ),
    hits AS (
      SELECT a.doc_id, a.pos
      FROM anchors a, idx
      WHERE (CAST('0x' || substr(md5(a.gram), 1, 15) AS BIGINT)
               % ((SELECT m FROM msize) // 64)) * 64
            + CAST('0x' || substr(md5(a.gram), CAST(16 + 5 * idx.i AS INT), 5) AS BIGINT) % 64
            IN (SELECT p FROM bpos)
      GROUP BY a.doc_id, a.pos
      HAVING count(*) = {_ST16_H}
    ),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {_ST16_K}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    sp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM marked
    ),
    spans AS (
      SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {_ST16_K - 1} AS e
      FROM sp GROUP BY doc_id, span_id
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
           string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR), ';' ORDER BY s) AS spans
    FROM spans GROUP BY doc_id
    """,
    tags=("streaming", "dedup", "substring", "bloom", "llm"),
    doc="Streaming duplicate-span flagging: d11's cross-doc gram verdict "
        "folded into an auto-sized Bloom bitmap batch-side (bounded "
        "model state), arriving docs flag+merge their spans in one "
        "stateless mapInArrow pass — zero joins, zero streaming state; "
        "no false negatives, FP tail replayed exactly by the oracle. "
        "Per Arrow batch: ONE md5 per char-position 20-gram, the "
        "digests probed together in numpy against the BLOCKED bitmap "
        "(all k bits in one 64-bit word, ONE word fetch per gram; the "
        "oracle replays the blocked positions), hits more than k chars "
        "apart starting a new span.",
)
def st16_stream_span_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators import bloom

    words, m_bits = _span_bloom_model(spark, sf_dir)
    stream = read_table_stream(spark, sf_dir, "documents")
    flagged = bloom.bloom_span_flag(
        stream, "doc_id", "text", words, m_bits, k_gram=_ST16_K, k_hashes=_ST16_H
    )
    return run_to_memory(flagged, output_mode="append")


# --------------------------------------------------------------------------
# st17 — STREAMING DEDUP-ON-INGEST AGAINST THE PERSISTED INDEX (VERDICT
# r7 directive #7: d17's index lifecycle composed with st10's streaming
# kernel). d17 proves BATCH ingest against the saved signature index;
# st10 proves STREAMING dedup against an inline-built corpus index.
# st17 closes the loop: the corpus index is saved once (d17's builder,
# d17's split — doc_id % 3 != 0), then arriving documents (% 3 == 0,
# streamed) are shingled and minhashed ROW-WISE (the shared
# _stream_minhash_candidates kernel, band-compatible with the batch
# builder by construction) and band-joined against the LOADED
# parquet-backed signatures: the corpus side is a map-side projection
# of the stored sigs scan (bands_of_sigs — the same assembly the index
# writer used), so NOTHING on the corpus side is recomputed, collected,
# or broadcast at serve time. Verification is exact hash-set Jaccard
# against the stored token sets. Output = verified (doc_id, dup_of,
# jaccard) ingest verdicts; the oracle replays the entire chain —
# signatures, bands, the % 3 split, verify — in SQL from the same hash
# constants, so the save/load boundary is hash-proven not to drift.
# --------------------------------------------------------------------------

from medvedi_spark.functions.hashing import sql_minhash_aggs, sql_token_hash  # noqa: E402
from medvedi_spark.queries.llm_ops import _D3_SHINGLES_SQL, _D16_THRESHOLD  # noqa: E402

_ST17_ORACLE = f"""
    WITH {_D3_SHINGLES_SQL},
    hashed AS (SELECT doc_id, {sql_token_hash('s')} AS h FROM shingles),
    sigs AS (
      SELECT doc_id, {sql_minhash_aggs('h')}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, band_idx,
             CASE band_idx
               WHEN 0 THEN m0 || ',' || m1   WHEN 1 THEN m2 || ',' || m3
               WHEN 2 THEN m4 || ',' || m5   WHEN 3 THEN m6 || ',' || m7
               WHEN 4 THEN m8 || ',' || m9   WHEN 5 THEN m10 || ',' || m11
               WHEN 6 THEN m12 || ',' || m13 WHEN 7 THEN m14 || ',' || m15
             END AS band_val
      FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band_idx)
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
    ),
    hset AS (SELECT DISTINCT doc_id, h FROM hashed),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hset GROUP BY doc_id),
    verified AS (
      SELECT c.doc_id, c.dup_of, COUNT(*) AS n_shared
      FROM candidates c
      JOIN hset x ON x.doc_id = c.doc_id
      JOIN hset y ON y.doc_id = c.dup_of AND y.h = x.h
      GROUP BY c.doc_id, c.dup_of
    )
    SELECT v.doc_id, v.dup_of,
           CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_id
    JOIN sizes sb ON sb.doc_id = v.dup_of
    WHERE CAST(v.n_shared AS DOUBLE) / (sa.n + sb.n - v.n_shared)
          >= {_D16_THRESHOLD}
    """


@register(
    "st17_stream_dedup_ingest",
    oracle=_ST17_ORACLE,
    tags=("streaming", "dedup", "minhash", "lsh", "index-lifecycle", "llm"),
    doc="Streaming dedup-on-ingest served from the PERSISTED d17 "
        "signature index: arriving docs minhash row-wise and band-join "
        "the loaded parquet-backed sigs (map-side bands_of_sigs "
        "projection — zero corpus recompute/collect/broadcast at serve "
        "time), exact-Jaccard verified against the stored token sets; "
        "oracle replays signatures, bands, split and verify from the "
        "same hash constants across the save/load boundary.",
)
def st17_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from medvedi_spark.catalog import load
    from medvedi_spark.operators import dedup_index
    from medvedi_spark.operators._persist import scratch_dir

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    # index lifecycle: build+save is part of the registered query (the
    # s11/s12/d17 convention — the serve half is what the scale story
    # rests on; the build cost is the query's recorded price)
    path = scratch_dir(sf_dir, "st17idx")
    shutil.rmtree(path, ignore_errors=True)
    dedup_index.minhash_index_save(
        old, "doc_id", "text", path, threshold=_D16_THRESHOLD
    )
    idx = dedup_index.minhash_index_load(spark, path)
    c_bands = dedup_index.bands_of_sigs(idx.sigs).withColumnRenamed("doc_id", "dup_of")
    c_toks = idx.sigs.select(
        F.col("doc_id").alias("dup_of"), F.col("toks").alias("toks_c")
    )

    stream = read_table_stream(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    cand = _stream_minhash_candidates(stream)
    shared = F.size(F.array_intersect("toks", "toks_c"))
    union = F.size("toks") + F.size("toks_c") - shared
    out = (
        cand.join(c_bands, ["band_idx", "band_val"])
        .join(c_toks, "dup_of")
        .withColumn("jaccard", shared.cast("double") / union)
        .filter(F.col("jaccard") >= idx.threshold)
        .select("doc_id", "dup_of", "jaccard")
        .dropDuplicates(["doc_id", "dup_of"])
    )
    return run_to_memory(out, output_mode="append")


# --------------------------------------------------------------------------
# st18 — STREAMING EXACT-SUBSTRING REMOVAL: the REWRITE half of the
# Lee et al. 2021 ExactSubstr pipeline at ingest time. st16 FLAGS a
# document's duplicate spans against the frozen span-Bloom bitmap;
# st18 runs the same span detection and then excises the spans, so
# arriving documents are CLEANED — every flagged span excised, the
# remainder reassembled in order — in the same stateless ``mapInArrow``
# pass: no join, no window, ZERO streaming state. Model state is
# st16's session-cached bitmap (one fit per frozen corpus generation,
# shared). No false negatives: every char d18 removes is removed here
# (every true duplicate span is contained in a flagged span); the
# deterministic false-positive tail excises slightly more, replayed
# bit-for-bit by the oracle, which rebuilds the bloom span set in SQL
# (st16's CTEs) and reconstructs each document from its KEPT chars —
# an independent construction, so the hash match proves the excision,
# not just replays it (the d18 discipline).
# --------------------------------------------------------------------------


@register(
    "st18_stream_substring_removal",
    oracle=f"""
    WITH anchors AS (
      SELECT doc_id, i AS pos,
             substr(text, CAST(i AS INT), {_ST16_K}) AS gram
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text) - {_ST16_K - 1})) AS i)
      WHERE length(text) >= {_ST16_K}
    ),
    dup_g AS (
      SELECT gram FROM anchors GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    idx AS (SELECT unnest(generate_series(0, {_ST16_H - 1})) AS i),
    msize AS (
      SELECT GREATEST(65536, LEAST(268435456,
        CAST(power(2, length(bin(CAST(
          (CAST(count(*) AS BIGINT) * {_ST16_H} * 1000000) // 693147
        AS BIGINT)))) AS BIGINT))) AS m
      FROM dup_g
    ),
    bpos AS (
      SELECT DISTINCT
             (CAST('0x' || substr(md5(d.gram), 1, 15) AS BIGINT)
                % ((SELECT m FROM msize) // 64)) * 64
             + CAST('0x' || substr(md5(d.gram), CAST(16 + 5 * idx.i AS INT), 5) AS BIGINT) % 64
               AS p
      FROM dup_g d, idx
    ),
    hits AS (
      SELECT a.doc_id, a.pos
      FROM anchors a, idx
      WHERE (CAST('0x' || substr(md5(a.gram), 1, 15) AS BIGINT)
               % ((SELECT m FROM msize) // 64)) * 64
            + CAST('0x' || substr(md5(a.gram), CAST(16 + 5 * idx.i AS INT), 5) AS BIGINT) % 64
            IN (SELECT p FROM bpos)
      GROUP BY a.doc_id, a.pos
      HAVING count(*) = {_ST16_H}
    ),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {_ST16_K}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    sp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM marked
    ),
    spans AS (
      SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {_ST16_K - 1} AS e
      FROM sp GROUP BY doc_id, span_id
    ),
    chars AS (
      SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text))) AS i)
    ),
    kept AS (
      SELECT c.doc_id, c.i, c.ch
      FROM chars c
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = c.doc_id AND c.i BETWEEN s.s AND s.e
      )
    ),
    clean AS (
      SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(cl.clean_text, '') AS clean_text,
           CAST(length(d.text) - length(COALESCE(cl.clean_text, '')) AS BIGINT)
             AS removed_chars
    FROM documents d LEFT JOIN clean cl USING (doc_id)
    """,
    tags=("streaming", "dedup", "substring", "rewrite", "bloom", "llm"),
    doc="Streaming ExactSubstr removal at ingest: st16's blocked-Bloom "
        "span detection and d18's excision in one stateless mapInArrow "
        "pass — arriving docs are cleaned (flagged spans excised, "
        "remainder reassembled); zero joins, zero streaming state; no false negatives vs d18, FP tail replayed exactly by "
        "the oracle's independent kept-chars reconstruction. Registered "
        "after the r9 gate window froze: proven by the local oracle "
        "harness (CORRECTNESS_local_r9) + the superset-of-d18 and "
        "st16-consistency unit tests; gates next rotation.",
)
def st18_stream_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators import bloom

    words, m_bits = _span_bloom_model(spark, sf_dir)
    stream = read_table_stream(spark, sf_dir, "documents")
    cleaned = bloom.bloom_span_remove(
        stream, "doc_id", "text", words, m_bits, k_gram=_ST16_K, k_hashes=_ST16_H
    )
    return run_to_memory(cleaned, output_mode="append")
