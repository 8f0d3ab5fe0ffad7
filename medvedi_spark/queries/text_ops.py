"""Text-analysis + multimodal-column operators (SURVEY §2.10).

All scalar work stays JVM-side (built-in functions, whole-stage codegen);
the one deliberate exception is m1, which routes through ``mapInPandas``
to prove the Arrow-batched binary-payload plumbing that real multimodal
decode would use (the decode itself is stubbed — see
medvedi_spark/functions/multimodal.py).

Determinism notes: no transcendentals (libm differs between the JVM and
DuckDB); quality scores are rational arithmetic only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.functions.hashing import sql_token_hash
from medvedi_spark.operators.kernels import word_tokens
from medvedi_spark.queries.registry import register

# Stopword lists for the n-gram language-ID heuristic. Tiny by design:
# the heuristic must be cheap enough to run on 100 TB of text.
_STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
}


def _tok(col: str = "text"):
    return F.split(F.col(col), " ")


def _bigrams_of(toks):
    """Space-joined word bigrams, CAPTURE-FREE: zip_with of two shifted
    slices — the lambda touches only its own arguments, so Catalyst
    projection collapse cannot re-inline the token build per element."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )


def _top_token_count_of(toks):
    """Highest single-token frequency, CAPTURE-FREE: run-length scan of
    the sorted array in one aggregate (O(n log n) vs the
    O(distinct * n) transform+filter, whose captured token array gets
    re-evaluated per element after projection collapse). Empty array
    -> 0."""
    return F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


# --------------------------------------------------------------------------
# t1 — language ID: stopword-hit heuristic with a fixed priority order.
# --------------------------------------------------------------------------

_T1_CASES_SQL = " ".join(
    f"WHEN n_{lang} >= 2 THEN '{lang}'" for lang in ("en", "es", "fr", "de")
)
_T1_COUNTS_SQL = ",\n             ".join(
    "len(list_filter(string_split(text, ' '), t -> t IN ({}))) AS n_{}".format(
        ", ".join(f"'{w}'" for w in words), lang
    )
    for lang, words in _STOPWORDS.items()
)


@register(
    "t1_langid",
    oracle=f"""
    SELECT doc_id, lang,
           CASE {_T1_CASES_SQL} ELSE 'unknown' END AS pred_lang,
           CASE WHEN (CASE {_T1_CASES_SQL} ELSE 'unknown' END) = lang THEN 1 ELSE 0 END AS hit
    FROM (
      SELECT doc_id, lang,
             {_T1_COUNTS_SQL}
      FROM documents
    )
    """,
    tags=("text", "langid", "llm"),
)
def t1_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(_tok(), lambda t: t.isin(*words))).alias(f"n_{lang}")
            for lang, words in _STOPWORDS.items()
        ],
    )
    pred = F.lit("unknown")
    for lang in reversed(("en", "es", "fr", "de")):
        pred = F.when(F.col(f"n_{lang}") >= 2, F.lit(lang)).otherwise(pred)
    return counted.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        F.when(pred == F.col("lang"), F.lit(1)).otherwise(F.lit(0)).alias("hit"),
    )


# --------------------------------------------------------------------------
# t2 — quality scoring: length/stopword/repetition ratios, rational
# arithmetic only (engine-portable bits).
# --------------------------------------------------------------------------

_ALL_STOPS = tuple(w for words in _STOPWORDS.values() for w in words)
_STOPS_SQL = ", ".join(f"'{w}'" for w in _ALL_STOPS)


@register(
    "t2_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_chars_measured AS n_chars,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           0.25 * (CAST(LEAST(n_tokens, 200) AS DOUBLE) / 200)
             + 0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             + 0.25 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality
    FROM (
      SELECT doc_id,
             length(text) AS n_chars_measured,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             len(list_filter(string_split(text, ' '), t -> t IN ({_STOPS_SQL}))) AS n_stop,
             len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_distinct
      FROM documents
    )
    """,
    tags=("text", "quality", "llm"),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    measured = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(_tok(), lambda t: t.isin(*_ALL_STOPS))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    quality = (
        F.lit(0.25) * (F.least(F.col("n_tokens"), F.lit(200)).cast("double") / F.lit(200))
        + F.lit(0.5) * ttr
        + F.lit(0.25) * (F.lit(1.0) - stop_ratio)
    )
    return measured.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        stop_ratio.alias("stop_ratio"),
        ttr.alias("ttr"),
        quality.alias("quality"),
    )


# --------------------------------------------------------------------------
# t3 — token counting: whitespace tokens + a BPE-ish subword estimate
# (pure length arithmetic: ceil(chars/4) is the classic approximation).
# --------------------------------------------------------------------------


@register(
    "t3_token_stats",
    oracle=r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bpe_est) AS BIGINT) AS total_bpe_est,
           CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM (
      SELECT source,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             (length(text) + 3) // 4 AS bpe_est,
             len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS n_subwords
      FROM documents
    )
    GROUP BY source
    """,
    tags=("text", "tokens", "llm"),
)
def t3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    per_doc = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        ((F.length("text") + F.lit(3)) / F.lit(4)).cast("bigint").alias("bpe_est"),
        # BPE-ish regex segmentation: letter runs, digit runs, single
        # punctuation — the GPT-2 pretokenizer shape minus lookaheads
        # (which RE2, the oracle's engine, lacks). Same unicode classes
        # both sides.
        F.regexp_count("text", F.lit(r"[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]")).alias("n_subwords"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("bpe_est").alias("total_bpe_est"),
        F.sum("n_subwords").alias("total_subwords"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# t4 — document fingerprinting: canonical content hash over the sorted
# distinct token set (catches shuffled/reordered copies exact dedup misses).
# --------------------------------------------------------------------------


@register(
    "t4_fingerprint",
    oracle="""
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text,' '), t -> t <> ''))), ' ')) AS fingerprint
      FROM documents
    )
    GROUP BY fingerprint
    HAVING COUNT(*) > 1
    """,
    tags=("text", "fingerprint", "dedup", "llm"),
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# t5 — rolling-hash document fingerprinting (winnowing, Schleimer et al.
# SIGMOD'03): k-gram rolling hashes over the raw character stream, then
# the min hash of each sliding window of w consecutive grams; the
# distinct window-mins are the document's fingerprint set. Guarantees
# any shared substring of length >= w + k - 1 produces a shared
# fingerprint — the substring-level dedup complement to t4's token-SET
# hash. All JVM-side: sequence/transform/slice/array_min inside
# whole-stage codegen, no explode (the gram arrays never leave the row),
# one row out per document. The md5-derived gram hash is the same
# function in Spark and DuckDB by construction (functions/hashing.py).
# --------------------------------------------------------------------------

_WINNOW_K = 5  # k-gram length (chars)
_WINNOW_W = 4  # window size (grams)
_WINNOW_P = 2_147_483_647  # same Mersenne prime as functions.hashing


@register(
    "t5_winnow_fingerprint",
    oracle=f"""
    SELECT doc_id, n_fp, fp_min, fp_sum FROM (SELECT doc_id, text FROM documents),
    LATERAL (
      SELECT list_distinct(
               list_transform(generate_series(1, greatest(len(grams) - {_WINNOW_W} + 1, 1)),
                              s -> list_min(list_slice(grams, s, s + {_WINNOW_W} - 1)))
             ) AS mins
      FROM (SELECT list_transform(generate_series(1, greatest(length(text) - {_WINNOW_K} + 1, 1)),
                   p -> CAST('0x' || substr(md5(substr(text, p, {_WINNOW_K})), 1, 15) AS BIGINT) % {_WINNOW_P}) AS grams)
    ) w,
    LATERAL (SELECT len(mins) AS n_fp, list_min(mins) AS fp_min, CAST(list_sum(mins) AS BIGINT) % {_WINNOW_P} AS fp_sum) agg
    """,
    tags=("text", "fingerprint", "rolling-hash", "winnowing", "llm"),
    doc="Gate duplicate: t-family driver-gated by t1-t4; t5 is the rolling-hash "
        "(winnowing) variant of t4's token-set fingerprint, proven by the same "
        "oracle harness locally.",
)
def t5_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {_WINNOW_K} + 1, 1)), "
        f"p -> cast(conv(substr(md5(substr(text, p, {_WINNOW_K})), 1, 15), 16, 10) as bigint) % {_WINNOW_P})"
    )
    mins = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(grams) - {_WINNOW_W} + 1, 1)), "
        f"s -> array_min(slice(grams, s, {_WINNOW_W}))))"
    )
    return (
        docs.select("doc_id", grams.alias("grams"))
        .select("doc_id", mins.alias("mins"))
        .select(
            "doc_id",
            F.size("mins").alias("n_fp"),
            F.array_min("mins").alias("fp_min"),
            F.expr(f"aggregate(mins, 0L, (acc, x) -> (acc + x) % {_WINNOW_P})").alias("fp_sum"),
        )
    )


# --------------------------------------------------------------------------
# t6 — repetition signals (the Gopher quality rules, Rae et al. 2021
# table A1): fraction of duplicated word bigrams and the most-frequent
# word's share of the document. Real corpora drop documents above such
# thresholds before training (boilerplate, keyword stuffing, generation
# loops). All in-row array arithmetic inside whole-stage codegen — the
# bigram/count arrays never leave the row, one output row per document,
# no shuffle at all. Fractions are single int/int divides (IEEE-exact,
# engine-portable bits); thresholds sit at the corpus's 75th percentile
# so the flag discriminates on the synthetic table.
# --------------------------------------------------------------------------

_T6_DUP_BG = 0.045  # duplicate-bigram fraction threshold
_T6_TOP_W = 0.11  # top-word share threshold


@register(
    "t6_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bg,
             list_max(list_transform(list_distinct(toks),
                                     w -> len(list_filter(toks, t -> t = w)))) AS topcnt
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN len(bg) > 0
                THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN n_tokens > 0
                THEN CAST(topcnt AS DOUBLE) / n_tokens ELSE 0.0 END AS top_word_frac,
           CASE WHEN (CASE WHEN len(bg) > 0
                           THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                           ELSE 0.0 END) > {_T6_DUP_BG}
                  OR (CASE WHEN n_tokens > 0
                           THEN CAST(topcnt AS DOUBLE) / n_tokens ELSE 0.0 END) > {_T6_TOP_W}
                THEN 1 ELSE 0 END AS repetitive
    FROM m
    """,
    tags=("text", "quality", "repetition", "llm"),
    doc="Gate duplicate: text family driver-gated by t1-t4; t6 adds the "
        "Gopher-style repetition signals, proven by the same oracle harness "
        "locally.",
)
def t6_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize the token array FIRST: expressions captured inside a
    # transform/filter lambda are re-evaluated per ELEMENT (no CSE), so
    # building bigrams/counts straight off filter(split(text)) costs
    # O(n_grams) extra splits per row (same lesson as d9's gram build).
    base = docs.select("doc_id", F.expr(word_tokens("text")).alias("toks"))
    toks = F.col("toks")
    m = base.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _bigrams_of(toks).alias("bg"),
        _top_token_count_of(toks).alias("topcnt"),
    )
    dup_frac = F.when(
        F.size("bg") > 0,
        F.lit(1.0) - F.size(F.array_distinct("bg")).cast("double") / F.size("bg"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.col("n_tokens") > 0, F.col("topcnt").cast("double") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    return m.select(
        "doc_id",
        "n_tokens",
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_word_frac"),
        F.when((dup_frac > _T6_DUP_BG) | (top_frac > _T6_TOP_W), F.lit(1))
        .otherwise(F.lit(0))
        .alias("repetitive"),
    )


# --------------------------------------------------------------------------
# m1 — multimodal-column plumbing: binary payloads through an Arrow-batched
# mapInPandas operator. The per-batch python computes byte-level metadata;
# real image/audio decode would slot into the same batch loop (stubbed in
# medvedi_spark/functions/multimodal.py because codec libs aren't present).
# The oracle recomputes the same metadata in SQL, proving the UDF path.
# --------------------------------------------------------------------------


@register(
    "m1_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           ascii(substr(text, 1, 1)) AS first_byte,
           ascii(substr(text, length(text), 1)) AS last_byte,
           (octet_length(CAST(text AS BLOB)) + 255) // 256 AS n_chunks
    FROM documents
    """,
    tags=("multimodal", "udf", "llm"),
)
def m1_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import binary_metadata_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return payloads.mapInPandas(
        binary_metadata_batches,
        schema="doc_id bigint, byte_len bigint, first_byte bigint, last_byte bigint, n_chunks bigint",
    )


# --------------------------------------------------------------------------
# m2 — full media pipeline over a REAL codec: each payload becomes a
# concatenated-BMP video (geometry md5-seeded, pixels the payload bytes
# cycled), then the honest path runs inside ONE mapInPandas pass:
# container split on BMP size fields → 24-bit BMP header parse → pixel
# extraction → resize → every-2nd-frame sampling. Arrow batches, zero
# cross-row state, so AQE can re-partition freely and the stage scales
# linearly with executors. The oracle replays the outputs arithmetically
# in SQL (documents.text is ASCII, so ascii(substr()) enumerates payload
# bytes); a stride mis-parse or channel swap in the decoder breaks
# pixel_sum0 and fails the hash gate.
# --------------------------------------------------------------------------


@register(
    "m2_media_pipeline",
    oracle="""
    WITH g AS (
      SELECT doc_id, text,
             length(text) AS L,
             1 + CAST('0x' || substr(md5(text), 1, 3) AS BIGINT) % 32 AS height,
             1 + CAST('0x' || substr(md5(text), 4, 3) AS BIGINT) % 32 AS width,
             1 + CAST('0x' || substr(md5(text), 7, 2) AS BIGINT) % 5 AS n_frames
      FROM documents
    ),
    s AS (
      SELECT doc_id, height, width, n_frames, L,
             3 * height * width AS npix,
             (4 - (3 * width) % 4) % 4 AS row_pad,
             list_transform(range(1, L + 1), i -> ascii(substr(text, CAST(i AS INT), 1))) AS bs
      FROM g
    )
    SELECT doc_id,
           CAST(n_frames * (54 + height * (3 * width + row_pad)) AS BIGINT) AS byte_len,
           height, width, n_frames,
           CAST((npix // L) * list_sum(bs)
                + COALESCE(list_sum(bs[1:(npix % L)]), 0) AS BIGINT) AS pixel_sum0,
           height * 224 // GREATEST(height, width) AS out_h,
           width * 224 // GREATEST(height, width) AS out_w,
           (n_frames + 1) // 2 AS n_sampled
    FROM s
    """,
    tags=("multimodal", "udf", "codec", "llm"),
)
def m2_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import media_pipeline_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return payloads.mapInPandas(
        media_pipeline_batches,
        schema=(
            "doc_id bigint, byte_len bigint, height bigint, width bigint, "
            "n_frames bigint, pixel_sum0 bigint, out_h bigint, out_w bigint, n_sampled bigint"
        ),
    )


# --------------------------------------------------------------------------
# m3 — audio pipeline over the real RIFF/WAVE codec: payload bytes become
# PCM16 mono samples ((b - 128) << 8), encoded as a real WAV file, then
# decoded back through the honest header parse; the outputs are sample
# statistics off the decoded array. Same mapInPandas scaling shape as m2.
# --------------------------------------------------------------------------


@register(
    "m3_audio_pipeline",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS L,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, CAST(i AS INT), 1))) AS bs
      FROM documents
    )
    SELECT doc_id,
           CAST(44 + 2 * L AS BIGINT) AS byte_len,
           CAST(L AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(L * 1000 // 16000 AS BIGINT) AS duration_ms,
           CAST(256 * list_sum(bs) - 32768 * L AS BIGINT) AS amp_sum,
           CAST(256 * list_max(bs) - 32768 AS BIGINT) AS peak
    FROM b
    """,
    tags=("multimodal", "udf", "codec", "audio", "llm"),
)
def m3_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import audio_pipeline_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return payloads.mapInPandas(
        audio_pipeline_batches,
        schema=(
            "doc_id bigint, byte_len bigint, n_samples bigint, sample_rate bigint, "
            "duration_ms bigint, amp_sum bigint, peak bigint"
        ),
    )


# --------------------------------------------------------------------------
# p1 — composite corpus-cleaning pipeline: the operators above composed the
# way a training-data pipeline would chain them — score (t1 langid + t2
# quality) → threshold filter → exact dedup keep-lowest-id (d1 kernel) →
# per-language corpus stats. One declarative plan end-to-end, so Catalyst
# fuses the scoring projections into the scan and the only shuffles are
# the dedup groupBy and the final per-language aggregate. Aggregates are
# exact (counts, bigint sums, min/max) — no order-dependent float sums.
# --------------------------------------------------------------------------


@register(
    "p1_corpus_clean",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, md5(text) AS fp,
             CASE {_T1_CASES_SQL} ELSE 'unknown' END AS pred_lang,
             n_tokens,
             0.25 * (CAST(LEAST(n_tokens, 200) AS DOUBLE) / 200)
               + 0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
               + 0.25 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality
      FROM (
        SELECT doc_id, text,
               {_T1_COUNTS_SQL},
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
               len(list_filter(string_split(text, ' '), t -> t IN ({_STOPS_SQL}))) AS n_stop,
               len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_distinct
        FROM documents
      )
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.45),
    dedup AS (
      SELECT fp,
             MIN(doc_id) AS keeper_id,
             arg_min(pred_lang, doc_id) AS pred_lang,
             arg_min(n_tokens, doc_id) AS n_tokens,
             arg_min(quality, doc_id) AS quality
      FROM kept GROUP BY fp
    )
    SELECT pred_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(quality) AS min_quality,
           MAX(quality) AS max_quality
    FROM dedup GROUP BY pred_lang
    """,
    tags=("text", "pipeline", "dedup", "llm"),
    doc="Gate duplicate: composes t1+t2+d1 kernels, each individually "
        "driver-gated; proven end-to-end by the same oracle harness locally.",
)
def p1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    scored = docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        *[
            F.size(F.filter(_tok(), lambda t: t.isin(*words))).alias(f"n_{lang}")
            for lang, words in _STOPWORDS.items()
        ],
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(_tok(), lambda t: t.isin(*_ALL_STOPS))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    pred = F.lit("unknown")
    for lang in reversed(("en", "es", "fr", "de")):
        pred = F.when(F.col(f"n_{lang}") >= 2, F.lit(lang)).otherwise(pred)
    quality = (
        F.lit(0.25) * (F.least(F.col("n_tokens"), F.lit(200)).cast("double") / F.lit(200))
        + F.lit(0.5) * (F.col("n_distinct").cast("double") / F.col("n_tokens"))
        + F.lit(0.25) * (F.lit(1.0) - F.col("n_stop").cast("double") / F.col("n_tokens"))
    )
    kept = scored.select(
        "doc_id", "fp", pred.alias("pred_lang"), "n_tokens", quality.alias("quality")
    ).filter(quality >= 0.45)
    dedup = kept.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"),
        F.min_by("pred_lang", "doc_id").alias("pred_lang"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("quality", "doc_id").alias("quality"),
    )
    return dedup.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


# --------------------------------------------------------------------------
# p2 — deterministic stratified sampling: rebalance a corpus by language
# with per-stratum keep rates, selecting on a CONTENT-DERIVED hash bucket
# instead of an RNG. This is how production corpus curation downsamples a
# dominant language: the decision is a pure function of the row, so the
# sample is reproducible across runs/retries/cluster layouts, survives
# partial re-ingestion, and needs no seed-state coordination. Pure
# map-side filter — zero shuffles, prunes straight into the scan; the
# md5-derived bucket is the same function in both engines by construction
# (functions/hashing.py).
# --------------------------------------------------------------------------

_P2_RATES = {"en": 25}  # percent kept; every other language keeps 60
_P2_DEFAULT_RATE = 60
_P2_BUCKET_SQL = "((" + sql_token_hash("CAST(doc_id AS VARCHAR)") + ") % 100)"


@register(
    "p2_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           {_P2_BUCKET_SQL} AS bucket
    FROM documents
    WHERE {_P2_BUCKET_SQL} < CASE WHEN lang = 'en' THEN {_P2_RATES['en']} ELSE {_P2_DEFAULT_RATE} END
    """,
    tags=("text", "sampling", "pipeline", "llm"),
    doc="Gate duplicate: pipeline family locally proven alongside p1; "
        "deterministic hash-bucket stratified sampling (no RNG), proven by "
        "the same oracle harness locally.",
)
def p2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.hashing import token_hash

    docs = load(spark, sf_dir, "documents")
    bucket = token_hash(F.col("doc_id").cast("string")) % 100
    rate = F.when(F.col("lang") == "en", F.lit(_P2_RATES["en"])).otherwise(
        F.lit(_P2_DEFAULT_RATE)
    )
    return docs.select("doc_id", "lang", "source", bucket.alias("bucket")).filter(
        F.col("bucket") < rate
    )


# --------------------------------------------------------------------------
# p3 — sequence packing: documents → fixed-token-budget bins (next-fit),
# the step that turns a cleaned corpus into context-length training
# examples. The parallel unit is the (lang, shard) group — packing is
# sequential within a bin stream by definition, so the corpus shards by
# a deterministic key and each shard packs independently inside one
# Arrow batch (operators.llm.pack_sequences / applyInPandas). The oracle
# replays the same next-fit recurrence as a recursive CTE, proving the
# custom stateful operator row-for-row.
# --------------------------------------------------------------------------

_P3_CAPACITY = 512
_P3_SHARDS = 4


@register(
    "p3_pack_sequences",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT lang, doc_id % {_P3_SHARDS} AS shard, doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang, doc_id % {_P3_SHARDS} ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT lang, shard, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.shard, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= {_P3_CAPACITY} THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {_P3_CAPACITY} THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM t JOIN packed p ON t.lang = p.lang AND t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT lang, shard, doc_id, n_tokens, bin, fill FROM packed
    """,
    tags=("text", "packing", "pipeline", "udf", "llm"),
    doc="Gate duplicate: pipeline family locally proven alongside p1/p2; "
        "next-fit sequence packing via applyInPandas, proven row-for-row "
        "against a recursive-CTE oracle locally.",
)
def p3_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.llm import pack_sequences

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    sized = docs.select(
        "lang",
        (F.col("doc_id") % _P3_SHARDS).alias("shard"),
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(
        sized, "doc_id", "n_tokens", _P3_CAPACITY, group_cols=("lang", "shard")
    )


# --------------------------------------------------------------------------
# t7 — TF-IDF top terms per document (keyword extraction / relevance
# weighting over the corpus). IDF is the RATIONAL variant N/df — not
# log(N/df) — because log is a libm transcendental whose last bits
# differ between the JVM and DuckDB; the ranking is identical (log is
# monotone) and the weights stay engine-portable integer ratios.
# Scale shape: one shuffle builds (doc, term, tf); document frequency is
# a vocabulary-sized aggregate that BROADCASTS back onto the term stream
# (vocab << corpus at any scale); the corpus size N is a scalar
# statistic (one tiny count job, the same kind AQE replans on). Top-3
# per doc via one window over the doc partition.
# --------------------------------------------------------------------------

_T7_TOPK = 3


@register(
    "t7_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term, tf.c, df.df,
             CAST(tf.c * n.n_docs AS DOUBLE) / df.df AS weight
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, term, c, df, weight,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rank
      FROM w
    )
    SELECT doc_id, term, c, df, weight, rank FROM r WHERE rank <= {_T7_TOPK}
    """,
    tags=("text", "tfidf", "llm"),
    doc="Gate duplicate: text family driver-gated by t1-t4; t7 adds TF-IDF "
        "term weighting (rational IDF), proven by the same oracle harness "
        "locally.",
)
def t7_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from medvedi_spark.operators._persist import size_guarded_persist

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar corpus statistic, one tiny job
    tok = docs.select(
        "doc_id", F.explode(F.filter(_tok(), lambda t: t != "")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    df = size_guarded_persist(
        docs, tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    )
    # size-routed broadcast (_vocab_routed): the routing count doubles as
    # the cache warm-up, so under the persist cap the join reuses the
    # materialized document-frequency table instead of re-aggregating
    vsz = df.count()
    w = tf.join(_vocab_routed(df, vsz), "term").withColumn(
        "weight", (F.col("c") * F.lit(n_docs)).cast("double") / F.col("df")
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    )
    return (
        w.withColumn("rank", rank)
        .filter(F.col("rank") <= _T7_TOPK)
        .select("doc_id", "term", "c", "df", "weight", "rank")
    )


# --------------------------------------------------------------------------
# p4 — the full training-data preparation pipeline, end to end in one
# declarative plan: eval-set decontamination (d9 kernel) → Gopher
# repetition filter (t6 kernel) → deterministic stratified sampling (p2
# kernel) → next-fit sequence packing (p3 kernel). This is the composite
# a production corpus run executes before tokenization; every stage is
# individually oracle-proven, and this query proves the COMPOSITION
# (filter interactions, join directions, shard assignment) row-for-row
# against one combined SQL replay ending in the recursive-CTE packer.
# Scale shape: eval grams broadcast; repetition metrics in-row; sampling
# map-side; the only wide shuffles are the contamination anti-join key
# exchange and the (lang, shard) packing groups.
# --------------------------------------------------------------------------


@register(
    "p4_training_pipeline",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ),
    cg AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS g
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(toks) - 3)) AS i)
    ),
    eg AS (SELECT DISTINCT g FROM cg WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM cg c JOIN eg USING (g) WHERE c.doc_id % 50 <> 0
    ),
    metrics AS (
      SELECT doc_id, lang, len(toks) AS n_tokens,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bg,
             list_max(list_transform(list_distinct(toks),
                                     w -> len(list_filter(toks, t -> t = w)))) AS topcnt
      FROM base WHERE doc_id % 50 <> 0
    ),
    clean AS (
      SELECT doc_id, lang, n_tokens FROM metrics
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND NOT ((CASE WHEN len(bg) > 0
                       THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                       ELSE 0.0 END) > {_T6_DUP_BG}
                 OR (CASE WHEN n_tokens > 0
                          THEN CAST(topcnt AS DOUBLE) / n_tokens ELSE 0.0 END) > {_T6_TOP_W})
    ),
    sampled AS (
      SELECT doc_id, lang, n_tokens, doc_id % 4 AS shard,
             ROW_NUMBER() OVER (PARTITION BY lang, doc_id % 4 ORDER BY doc_id) AS rn
      FROM clean
      WHERE {_P2_BUCKET_SQL} < CASE WHEN lang = 'en' THEN {_P2_RATES['en']} ELSE {_P2_DEFAULT_RATE} END
    ),
    packed AS (
      SELECT lang, shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM sampled WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.shard, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + t.n_tokens <= 512 THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM sampled t JOIN packed p ON t.lang = p.lang AND t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT lang, shard, doc_id, n_tokens, bin, fill FROM packed
    """,
    tags=("text", "pipeline", "decontamination", "packing", "llm"),
    doc="Gate duplicate: composes the d9+t6+p2+p3 kernels, each "
        "individually proven; this query proves the composition end-to-end "
        "by the same oracle harness locally.",
)
def p4_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage order is a measured choice: the CHEAP per-doc filters
    # (hash-bucket sampling, then the in-row repetition metrics) run
    # first so the expensive stage — decontamination's gram explode —
    # only sees survivors; filters commute, so the oracle's CTE order
    # is unaffected. A lazy localCheckpoint between the row filters and
    # the two consumers (decontaminate + anti-join) stops Catalyst from
    # inlining the repetition lambdas into both branches of the join
    # (the d8 ruling): sf0.1 measured 10.5 s naive-order -> 6.0 s
    # reordered -> 5.5 s with the barrier, identical output.
    from medvedi_spark.functions.hashing import token_hash
    from medvedi_spark.operators.bloom import decontaminate
    from medvedi_spark.operators.llm import pack_sequences

    docs = load(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bucket = token_hash(F.col("doc_id").cast("string")) % 100
    rate = F.when(F.col("lang") == "en", F.lit(_P2_RATES["en"])).otherwise(F.lit(_P2_DEFAULT_RATE))
    sampled_docs = corpus.filter(bucket < rate)

    # Capture-free repetition metrics (see _bigrams_of/_top_token_count_of
    # notes: projection collapse re-inlines lambda-captured columns).
    sampled_base = sampled_docs.select("doc_id", "lang", "text", F.expr(word_tokens("text")).alias("toks"))
    toks = F.col("toks")
    metrics = sampled_base.select(
        "doc_id", "lang", "text",
        F.size(toks).alias("n_tokens"),
        _bigrams_of(toks).alias("bg"),
        _top_token_count_of(toks).alias("topcnt"),
    )
    dup_frac = F.when(
        F.size("bg") > 0,
        F.lit(1.0) - F.size(F.array_distinct("bg")).cast("double") / F.size("bg"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.col("n_tokens") > 0, F.col("topcnt").cast("double") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    clean = (
        metrics.filter(~((dup_frac > _T6_DUP_BG) | (top_frac > _T6_TOP_W)))
        .select("doc_id", "lang", "text", "n_tokens")
        .localCheckpoint(eager=False)
    )
    contaminated = decontaminate(clean, eval_df, "doc_id", "text", n=4).select("doc_id")
    kept = clean.join(contaminated, "doc_id", "left_anti")
    sampled = kept.select(
        "lang", (F.col("doc_id") % 4).alias("shard"), "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    return pack_sequences(sampled, "doc_id", "n_tokens", 512, group_cols=("lang", "shard"))


# --------------------------------------------------------------------------
# m4 — perceptual-hash image dedup: payloads become real BMPs (md5-seeded
# geometry, bytes cycled as pixels — the m2 construction), run through
# the honest encode→decode round trip, and fingerprint as a 64-bit
# average-hash (8x8 integer downsample grid; brightness bits from the
# cross-multiplied INTEGER inequality cell_sum·N > total·cell_cnt, so no
# float means exist to drift). Dedup groups by hash — the multimodal
# counterpart of t4's token-set fingerprint, and the standard cheap
# near-dup pass over an image corpus. The oracle replays the identical
# pixel arithmetic from the text bytes in SQL.
# --------------------------------------------------------------------------


@register(
    "m4_image_ahash_dedup",
    oracle="""
    WITH g AS (
      SELECT doc_id, text, length(text) AS L,
             1 + CAST('0x' || substr(md5(text), 1, 3) AS BIGINT) % 32 AS h,
             1 + CAST('0x' || substr(md5(text), 4, 3) AS BIGINT) % 32 AS w
      FROM documents
    ),
    px AS (
      SELECT doc_id, h, w, p,
             ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS cell,
             ascii(substr(text, CAST((3 * p) % L AS INT) + 1, 1))
             + ascii(substr(text, CAST((3 * p + 1) % L AS INT) + 1, 1))
             + ascii(substr(text, CAST((3 * p + 2) % L AS INT) + 1, 1)) AS s
      FROM g, LATERAL (SELECT unnest(generate_series(0, h * w - 1)) AS p)
    ),
    cells AS (
      SELECT doc_id, cell, SUM(s) AS cell_sum, COUNT(*) AS cell_cnt
      FROM px GROUP BY doc_id, cell
    ),
    tot AS (
      SELECT doc_id, SUM(cell_sum) AS tot_sum, SUM(cell_cnt) AS tot_cnt
      FROM cells GROUP BY doc_id
    ),
    bits AS (
      SELECT c.doc_id, c.cell
      FROM cells c JOIN tot t USING (doc_id)
      WHERE c.cell_sum * t.tot_cnt > t.tot_sum * c.cell_cnt
    ),
    hashes AS (
      SELECT g.doc_id,
             CAST(COALESCE(SUM(CASE WHEN b.cell >= 32 THEN CAST(1 AS BIGINT) << (b.cell - 32) END), 0) AS BIGINT) AS ahash_hi,
             CAST(COALESCE(SUM(CASE WHEN b.cell < 32 THEN CAST(1 AS BIGINT) << b.cell END), 0) AS BIGINT) AS ahash_lo
      FROM g LEFT JOIN bits b USING (doc_id)
      GROUP BY g.doc_id
    )
    SELECT ahash_hi, ahash_lo, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM hashes GROUP BY ahash_hi, ahash_lo
    """,
    tags=("multimodal", "udf", "codec", "dedup", "llm"),
    doc="Gate duplicate: multimodal family driver-gated by m1-m3; m4 adds "
        "perceptual-hash (aHash) image dedup over the real BMP codec, proven "
        "by the same oracle harness locally.",
)
def m4_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import ahash_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    hashed = payloads.mapInPandas(
        ahash_batches,
        schema="doc_id bigint, height bigint, width bigint, ahash_hi bigint, ahash_lo bigint",
    )
    return hashed.groupBy("ahash_hi", "ahash_lo").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id")
    )


# --------------------------------------------------------------------------
# m7 — image NEAR-dup: m4's exact-hash dedup misses images whose aHash
# differs in a few bits. Standard perceptual near-dup = hamming <= 3
# over the 64-bit aHash; the pair space is pruned by the d4 simhash
# discipline — 4 x 16-bit blocks, pigeonhole guarantees any pair within
# hamming 3 agrees on >= 1 whole block, so candidates come from an
# equi-join on (block_idx, block_val), never all-pairs. Verify is one
# integer popcount per candidate.
# --------------------------------------------------------------------------


@register(
    "m7_image_ahash_neardup",
    oracle="""
    WITH g AS (
      SELECT doc_id, text, length(text) AS L,
             1 + CAST('0x' || substr(md5(text), 1, 3) AS BIGINT) % 32 AS h,
             1 + CAST('0x' || substr(md5(text), 4, 3) AS BIGINT) % 32 AS w
      FROM documents
    ),
    px AS (
      SELECT doc_id, h, w, p,
             ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS cell,
             ascii(substr(text, CAST((3 * p) % L AS INT) + 1, 1))
             + ascii(substr(text, CAST((3 * p + 1) % L AS INT) + 1, 1))
             + ascii(substr(text, CAST((3 * p + 2) % L AS INT) + 1, 1)) AS s
      FROM g, LATERAL (SELECT unnest(generate_series(0, h * w - 1)) AS p)
    ),
    cells AS (
      SELECT doc_id, cell, SUM(s) AS cell_sum, COUNT(*) AS cell_cnt
      FROM px GROUP BY doc_id, cell
    ),
    tot AS (
      SELECT doc_id, SUM(cell_sum) AS tot_sum, SUM(cell_cnt) AS tot_cnt
      FROM cells GROUP BY doc_id
    ),
    bits AS (
      SELECT c.doc_id, c.cell
      FROM cells c JOIN tot t USING (doc_id)
      WHERE c.cell_sum * t.tot_cnt > t.tot_sum * c.cell_cnt
    ),
    hashes AS (
      SELECT g.doc_id,
             CAST(COALESCE(SUM(CASE WHEN b.cell >= 32 THEN CAST(1 AS BIGINT) << (b.cell - 32) END), 0) AS BIGINT) AS ahash_hi,
             CAST(COALESCE(SUM(CASE WHEN b.cell < 32 THEN CAST(1 AS BIGINT) << b.cell END), 0) AS BIGINT) AS ahash_lo
      FROM g LEFT JOIN bits b USING (doc_id)
      GROUP BY g.doc_id
    )
    , blocks AS (
      SELECT doc_id, b AS bidx,
             CASE b
               WHEN 0 THEN ahash_lo & 65535
               WHEN 1 THEN (ahash_lo >> 16) & 65535
               WHEN 2 THEN ahash_hi & 65535
               ELSE (ahash_hi >> 16) & 65535
             END AS bval
      FROM hashes, (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b
        ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(x.ahash_hi, y.ahash_hi))
              + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS BIGINT) AS hamming
    FROM cand c
    JOIN hashes x ON x.doc_id = c.doc_a
    JOIN hashes y ON y.doc_id = c.doc_b
    WHERE bit_count(xor(x.ahash_hi, y.ahash_hi))
        + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= 3
    """,
    tags=("multimodal", "udf", "codec", "dedup", "lsh", "llm"),
    doc="Gate duplicate: the aHash kernel is locally proven via m4 and "
        "the block-LSH discipline driver-gated via d4; proven by the "
        "same oracle harness locally.",
)
def m7_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import ahash_batches
    from medvedi_spark.operators._persist import size_guarded_persist

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    hashed = payloads.mapInPandas(
        ahash_batches,
        schema="doc_id bigint, height bigint, width bigint, ahash_hi bigint, ahash_lo bigint",
    ).select("doc_id", "ahash_hi", "ahash_lo")
    # the hash table feeds FOUR lineage branches (the block self-join
    # reads it twice, the hamming verify joins x and y once each), and
    # an opaque mapInPandas can never share work across branches — so
    # the Arrow decode+aHash pass re-executed 4x per run (guide §4.2).
    # Same ruling as minhash_band_index's signature persist: the cache
    # is ~5 longs per doc (far below the input text bytes), size-guarded
    # on the source estimate, released between queries.
    hashed = size_guarded_persist(docs, hashed)
    blocks = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bidx"),
                        (
                            F.shiftright(F.col("ahash_lo") if b < 2 else F.col("ahash_hi"), 16 * (b % 2))
                            .bitwiseAND(F.lit(65535))
                        ).alias("bval"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.bidx").alias("bidx"), F.col("bk.bval").alias("bval"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bidx") == F.col("b.bidx"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = hashed.select(F.col("doc_id").alias("doc_a"), F.col("ahash_hi").alias("hi_a"), F.col("ahash_lo").alias("lo_a"))
    y = hashed.select(F.col("doc_id").alias("doc_b"), F.col("ahash_hi").alias("hi_b"), F.col("ahash_lo").alias("lo_b"))
    hamming = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
    )


# --------------------------------------------------------------------------
# t8 — collocation mining: adjacent word pairs ranked by LIFT
# (count(ab)·N / (count(a)·count(b)) — PMI without the log, which is a
# libm transcendental; log is monotone so the ranking is identical and
# the statistic stays an engine-exact integer ratio). The corpus-level
# statistics that find multiword expressions ("new york") and
# boilerplate phrases worth collapsing before tokenization.
# Scale shape: one shuffle each for bigram and unigram counts; the
# unigram table is vocabulary-sized and BROADCASTS back onto the bigram
# stream twice; top-k via one ordered limit.
# --------------------------------------------------------------------------

_T8_MIN_PAIR = 25  # ignore rare pairs (lift is noise at tiny counts)
_T8_TOPK = 50


@register(
    "t8_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l FROM documents
    ),
    bg AS (
      SELECT l[i] AS w1, l[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i)
    ),
    pair_counts AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2),
    uni AS (
      SELECT t AS w, COUNT(*) AS n_w
      FROM (SELECT unnest(l) AS t FROM toks) GROUP BY t
    ),
    total AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni)
    SELECT w1, w2, n_pair,
           CAST(n_pair * n_total AS DOUBLE) / (u1.n_w * u2.n_w) AS lift
    FROM pair_counts
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN total
    WHERE n_pair >= {_T8_MIN_PAIR}
    ORDER BY lift DESC, w1, w2
    LIMIT {_T8_TOPK}
    """,
    tags=("text", "collocations", "llm"),
    doc="Gate duplicate: text family driver-gated by t1-t4; t8 adds "
        "lift-ranked collocation mining, proven by the same oracle harness "
        "locally.",
)
def t8_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    l = docs.select(toks.alias("l"))
    bg = l.select(
        F.explode(
            F.when(
                F.size("l") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        F.element_at("l", i).alias("w1"), F.element_at("l", i + 1).alias("w2")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    from medvedi_spark.operators._persist import size_guarded_persist

    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # the unigram table feeds THREE consumers (n_total scalar, u1, u2) —
    # persist it once, size-guarded; the routing count warms the cache
    uni = size_guarded_persist(
        docs,
        l.select(F.explode("l").alias("w")).groupBy("w").agg(F.count(F.lit(1)).alias("n_w")),
    )
    vsz = uni.count()
    n_total = uni.agg(F.sum("n_w")).first()[0]  # scalar corpus statistic
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    return (
        pair_counts.filter(F.col("n_pair") >= _T8_MIN_PAIR)
        .join(_vocab_routed(u1, vsz), "w1")
        .join(_vocab_routed(u2, vsz), "w2")
        .select(
            "w1", "w2", "n_pair",
            ((F.col("n_pair") * F.lit(int(n_total))).cast("double") / (F.col("n_w1") * F.col("n_w2"))).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(_T8_TOPK)
    )


# --------------------------------------------------------------------------
# t9 — PII redaction: the scrubbing pass every public-web training corpus
# runs before the tokenizer (emails / IPv4 / phone numbers -> typed
# placeholder tags). The synthetic corpus carries no real PII, so the
# query first derives a deterministic PII suffix from doc_id (both
# engines build the identical string), then proves the redaction kernel:
# three regexp_replace passes + per-class match counts, all inside one
# whole-stage-codegen projection — zero shuffles, the 100 TB shape.
# Regexes stay in the Java/RE2 common dialect.
# --------------------------------------------------------------------------

_T9_EMAIL = r"[A-Za-z0-9_]+@[A-Za-z0-9]+\.[A-Za-z]+"
_T9_IP = r"\d+\.\d+\.\d+\.\d+"
_T9_PHONE = r"\+1-555-0\d{3}"


@register(
    "t9_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(aug,
             '{_T9_EMAIL}', '<EMAIL>', 'g'),
             '{_T9_IP}', '<IP>', 'g'),
             '{_T9_PHONE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(aug, '{_T9_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(regexp_replace(aug, '{_T9_EMAIL}', '<EMAIL>', 'g'), '{_T9_IP}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(aug, '{_T9_PHONE}')) AS BIGINT) AS n_phone
    FROM (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                  || ' phone +1-555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS aug
      FROM documents
    )
    """,
    tags=("text", "pii", "pipeline", "llm"),
    doc="Gate duplicate: the regex/string kernel family is driver-gated "
        "in-window via q34 (string surface) and t1-t4; proven by the same "
        "oracle harness locally.",
)
def t9_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" phone +1-555-0"), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    with_aug = docs.select("doc_id", aug.alias("aug"))
    after_email = F.regexp_replace(F.col("aug"), _T9_EMAIL, "<EMAIL>")
    return with_aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(after_email, _T9_IP, "<IP>"), _T9_PHONE, "<PHONE>"
        ).alias("redacted"),
        F.regexp_count(F.col("aug"), F.lit(_T9_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count(after_email, F.lit(_T9_IP)).cast("bigint").alias("n_ip"),
        F.regexp_count(F.col("aug"), F.lit(_T9_PHONE)).cast("bigint").alias("n_phone"),
    )


# --------------------------------------------------------------------------
# t10 — C4-style boilerplate filtering (Raffel et al. 2020 §2.2): split
# each document into lines, apply per-line keep rules (min length,
# must contain a stopword — the analog of C4's terminal-punctuation
# rule — no blocklisted word), drop documents with too few surviving
# lines. The corpus has no newlines, so a "line" is a fixed 10-token
# window; the rules run as array lambdas inside one codegen stage —
# zero shuffles at any corpus size.
# --------------------------------------------------------------------------

_T10_LINE = 10
_T10_MIN_TOKENS = 5
_T10_MIN_LINES = 2
_T10_BLOCKWORD = "slow"

_T10_SQL_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_T10_SQL_STOPS = ", ".join(f"'{w}'" for w in _ALL_STOPS)


@register(
    "t10_boilerplate_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(flatten(kept), ' '), '') AS clean_text,
           CASE WHEN len(kept) >= {_T10_MIN_LINES} THEN 1 ELSE 0 END AS kept_doc
    FROM (
      SELECT doc_id,
             list_filter(lines, l -> len(l) >= {_T10_MIN_TOKENS}
                                  AND len(list_filter(l, t -> t IN ({_T10_SQL_STOPS}))) > 0
                                  AND NOT list_contains(l, '{_T10_BLOCKWORD}')) AS kept,
             lines
      FROM (
        SELECT doc_id,
               [toks[i * {_T10_LINE} + 1 : (i + 1) * {_T10_LINE}]
                FOR i IN generate_series(0, CAST(floor((len(toks) - 1) / {_T10_LINE}) AS BIGINT))] AS lines
        FROM (SELECT doc_id, {_T10_SQL_TOKS} AS toks FROM documents)
        WHERE len(toks) > 0
      )
    )
    """,
    tags=("text", "quality", "pipeline", "llm"),
    doc="Gate duplicate: array-lambda filtering is driver-gated in-window "
        "via t1/t2 and q32 (array surface); proven by the same oracle "
        "harness locally.",
)
def t10_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_lines = F.floor((F.size("toks") - F.lit(1)) / _T10_LINE) + 1
    lines = F.transform(
        F.sequence(F.lit(0), (n_lines - 1).cast("int")),
        lambda i: F.slice(F.col("toks"), i * _T10_LINE + 1, _T10_LINE),
    )
    keep_rule = lambda l: (  # noqa: E731
        (F.size(l) >= _T10_MIN_TOKENS)
        & F.exists(l, lambda t: t.isin(*_ALL_STOPS))
        & ~F.array_contains(l, _T10_BLOCKWORD)
    )
    with_lines = base.select("doc_id", lines.alias("lines")).select(
        "doc_id", "lines", F.filter(F.col("lines"), keep_rule).alias("kept")
    )
    return with_lines.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.array_join(F.flatten("kept"), " ").alias("clean_text"),
        F.when(F.size("kept") >= _T10_MIN_LINES, F.lit(1)).otherwise(F.lit(0)).alias("kept_doc"),
    )


# --------------------------------------------------------------------------
# p5 — deterministic global shuffle + sharding: the step between "cleaned
# corpus" and "training shards". Shard = md5-hash(doc_id) mod N (no RNG
# state, so the shuffle is re-runnable and resumable), position = rank of
# the hash within the shard (the within-shard order is itself shuffled,
# because the hash is uncorrelated with any data attribute). ONE shuffle
# keyed on shard at any corpus size; N = number of output files.
# --------------------------------------------------------------------------

_P5_SHARDS = 32


@register(
    "p5_shard_shuffle",
    oracle=f"""
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             CAST({sql_token_hash("CAST(doc_id AS VARCHAR)")} % {_P5_SHARDS} AS BIGINT) AS shard,
             {sql_token_hash("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    )
    """,
    tags=("pipeline", "sampling", "llm"),
    doc="Gate duplicate: hash-bucket determinism is driver-gated in-window "
        "via d1/d3 (same md5 kernel); proven by the same oracle harness "
        "locally.",
)
def p5_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from medvedi_spark.functions.hashing import token_hash

    docs = load(spark, sf_dir, "documents")
    h = token_hash(F.col("doc_id").cast("string"))
    assigned = docs.select(
        "doc_id", (h % _P5_SHARDS).cast("bigint").alias("shard"), h.alias("h")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return assigned.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# --------------------------------------------------------------------------
# p6 — overlapping sequence chunking: long documents -> fixed-size token
# windows with stride < size (the overlap preserves cross-boundary
# context for training). Pure map-side: sequence(0, n-1, stride) +
# slice() inside one codegen stage, then one explode — no shuffle, no
# UDF, linear in corpus size.
# --------------------------------------------------------------------------

_P6_SIZE = 32
_P6_STRIDE = 24


@register(
    "p6_chunk_overlap",
    oracle=f"""
    SELECT doc_id,
           CAST(start // {_P6_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(toks[start + 1 : start + {_P6_SIZE}]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[start + 1 : start + {_P6_SIZE}], ' ') AS chunk_text
    FROM (
      SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {_P6_STRIDE})) AS start
      FROM (SELECT doc_id, {_T10_SQL_TOKS} AS toks FROM documents)
      WHERE len(toks) > 0
    )
    """,
    tags=("text", "pipeline", "llm"),
    doc="Gate duplicate: sequence/slice/explode array kernels are "
        "driver-gated in-window via q10/q32; proven by the same oracle "
        "harness locally.",
)
def p6_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_P6_STRIDE))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, _P6_SIZE)
    return (
        base.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.expr(f"CAST(start DIV {_P6_STRIDE} AS BIGINT)").alias("chunk_idx"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------
# m5 — audio fingerprint dedup: payloads run the REAL WAV round trip
# (m3's codec), then fingerprint as 4-frame integer energies (sum of
# |PCM16 sample| per quarter — the integer skeleton of a spectral
# fingerprint; FFT bands would slot into the same batch loop) and dedup
# by fingerprint. The multimodal counterpart of d1's hash dedup: one
# mapInPandas pass, one shuffle keyed on the fingerprint.
# --------------------------------------------------------------------------


@register(
    "m5_audio_fingerprint_dedup",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS L,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, CAST(i AS INT), 1))) AS bs
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             COALESCE(list_sum(list_transform(bs[1 : L * 1 // 4], x -> abs(256 * x - 32768))), 0) AS e0,
             COALESCE(list_sum(list_transform(bs[L * 1 // 4 + 1 : L * 2 // 4], x -> abs(256 * x - 32768))), 0) AS e1,
             COALESCE(list_sum(list_transform(bs[L * 2 // 4 + 1 : L * 3 // 4], x -> abs(256 * x - 32768))), 0) AS e2,
             COALESCE(list_sum(list_transform(bs[L * 3 // 4 + 1 : L], x -> abs(256 * x - 32768))), 0) AS e3
      FROM b
    )
    SELECT CAST(e0 AS VARCHAR) || ':' || CAST(e1 AS VARCHAR) || ':' || CAST(e2 AS VARCHAR)
             || ':' || CAST(e3 AS VARCHAR) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_id
    FROM e GROUP BY 1
    """,
    tags=("multimodal", "udf", "codec", "audio", "dedup", "llm"),
    doc="Gate duplicate: the WAV codec batch loop is driver-gated "
        "in-window via m3 and the hash-dedup shuffle via d1; proven by "
        "the same oracle harness locally.",
)
def m5_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import audio_fingerprint_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    fps = payloads.mapInPandas(
        audio_fingerprint_batches,
        schema="doc_id bigint, n_samples bigint, e0 bigint, e1 bigint, e2 bigint, e3 bigint, fp string",
    )
    return fps.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id")
    )


# --------------------------------------------------------------------------
# m6 — video scene-cut detection: every frame of the synthetic container
# decodes through the honest BMP path; per-frame integer brightness sums
# mark a cut when the frame-to-frame delta exceeds 4 levels per
# channel-pixel. The oracle replays the per-frame sums WITHOUT decoding:
# frame f of the cycled byte stream is segment [f*npix, (f+1)*npix), and
# a cyclic prefix-sum identity S(x) = (x//L)*tot + prefix(x mod L) gives
# each segment sum from the text bytes alone.
# --------------------------------------------------------------------------


@register(
    "m6_video_scene_cuts",
    oracle="""
    WITH g AS (
      SELECT doc_id, text, length(text) AS L,
             1 + CAST('0x' || substr(md5(text), 1, 3) AS BIGINT) % 32 AS height,
             1 + CAST('0x' || substr(md5(text), 4, 3) AS BIGINT) % 32 AS width,
             1 + CAST('0x' || substr(md5(text), 7, 2) AS BIGINT) % 5 AS n_frames
      FROM documents
    ),
    s AS (
      SELECT doc_id, L, n_frames, 3 * height * width AS npix,
             list_transform(range(1, L + 1), i -> ascii(substr(text, CAST(i AS INT), 1))) AS bs
      FROM g
    ),
    fr AS (
      SELECT doc_id, L, npix, n_frames, bs, list_sum(bs) AS tot,
             unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS f
      FROM s
    ),
    fsum AS (
      SELECT doc_id, n_frames, npix, f,
             ((((f + 1) * npix) // L) * tot + COALESCE(list_sum(bs[1 : CAST(((f + 1) * npix) % L AS INT)]), 0))
           - (((f * npix) // L) * tot + COALESCE(list_sum(bs[1 : CAST((f * npix) % L AS INT)]), 0)) AS fs
      FROM fr
    ),
    marked AS (
      SELECT doc_id, n_frames, f,
             CASE WHEN f > 0
                   AND abs(fs - LAG(fs) OVER (PARTITION BY doc_id ORDER BY f)) > 4 * npix
                  THEN 1 ELSE 0 END AS cut
      FROM fsum
    )
    SELECT doc_id,
           CAST(MAX(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(cut) AS BIGINT) AS n_cuts,
           COALESCE(string_agg(CASE WHEN cut = 1 THEN CAST(f AS VARCHAR) END, ';' ORDER BY f), '') AS cuts
    FROM marked GROUP BY doc_id
    """,
    tags=("multimodal", "udf", "codec", "video", "llm"),
    doc="Gate duplicate: the video codec batch loop is driver-gated "
        "in-window via m2; m6 adds the temporal (per-frame) analysis, "
        "proven by the same oracle harness locally.",
)
def m6_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.multimodal import video_scene_cuts_batches

    docs = load(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return payloads.mapInPandas(
        video_scene_cuts_batches,
        schema="doc_id bigint, n_frames bigint, n_cuts bigint, cuts string",
    )


# --------------------------------------------------------------------------
# p7 — domain mixing (DoReMi/data-mixture reweighting, simplified to
# fixed target shares): resample the corpus so every language
# contributes an EQUAL share of tokens. Per-language token totals are a
# 5-row aggregate (model state — broadcasts at any corpus size);
# acceptance is the p2 deterministic md5-bucket test with the rate
# derived from the totals, evaluated as a DECIMAL(38,0) cross-multiply
# so there is no float-rounding drift at the acceptance boundary and no
# int64 overflow at 100 TB token counts. One tiny shuffle + one
# map-side filter.
# --------------------------------------------------------------------------

_P7_BUCKETS = 1_000_000


@register(
    "p7_domain_mixing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
             ({sql_token_hash("CAST(doc_id AS VARCHAR)")}) % {_P7_BUCKETS} AS bucket
      FROM documents
    ),
    lt AS (
      SELECT lang, SUM(n_tokens) AS lang_tokens FROM t GROUP BY lang
    ),
    tot AS (
      SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM lt
    )
    SELECT t.doc_id, t.lang, t.n_tokens
    FROM t JOIN lt USING (lang) CROSS JOIN tot
    WHERE CAST(t.bucket AS DECIMAL(38,0)) * CAST(lt.lang_tokens AS DECIMAL(38,0)) * CAST(tot.n_langs AS DECIMAL(38,0))
          < CAST(tot.total_tokens AS DECIMAL(38,0)) * CAST({_P7_BUCKETS} AS DECIMAL(38,0))
    """,
    tags=("pipeline", "sampling", "mixing", "llm"),
    doc="Gate duplicate: deterministic hash-bucket sampling is locally "
        "proven via p2 and the tiny-aggregate broadcast via q3; p7 "
        "derives the rates from the data (equal-token-share mixing), "
        "proven by the same oracle harness locally.",
)
def p7_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.functions.hashing import token_hash

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(_tok(), lambda t: t != "")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (token_hash(F.col("doc_id").cast("string")) % _P7_BUCKETS).alias("bucket"),
    )
    lt = t.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    tot = lt.agg(
        F.sum("lang_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_langs")
    )
    d38 = "decimal(38,0)"
    accept = (
        F.col("bucket").cast(d38) * F.col("lang_tokens").cast(d38) * F.col("n_langs").cast(d38)
        < F.col("total_tokens").cast(d38) * F.lit(_P7_BUCKETS).cast(d38)
    )
    return (
        t.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .filter(accept)
        .select("doc_id", "lang", "n_tokens")
    )


# --------------------------------------------------------------------------
# p8/p9 — BPE tokenizer training + application (Sennrich et al. 2016):
# p8 learns the first 3 merges (distributed word-frequency aggregation +
# vocabulary-sized model-state loop, the HF-tokenizers architecture;
# deterministic tiebreaks) and p9 applies the learned segmentation to
# the corpus through a broadcast vocabulary join (the per-distinct-word
# cache every real tokenizer keeps). The oracle replays ALL THREE merge
# iterations in SQL — pair counting, argmax selection, and the
# leftmost-greedy re-segmentation as a recursive CTE per word.
# --------------------------------------------------------------------------

_P8_ORACLE = """WITH RECURSIVE wf AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(list_filter(string_split(text,' '), t -> t <> '')) AS w FROM documents)
      GROUP BY w
    ),
    seg0 AS (
      SELECT word, freq, list_transform(range(1, length(word)+1), i -> substr(word, CAST(i AS INT), 1)) AS seg
      FROM wf
    ),
    pc1 AS (
      SELECT seg[i] AS x, seg[i+1] AS y, SUM(freq) AS cnt
      FROM seg0, LATERAL (SELECT unnest(generate_series(1, len(seg)-1)) AS i)
      GROUP BY 1, 2
    ),
    top1 AS (SELECT x, y, cnt FROM pc1 ORDER BY cnt DESC, x, y LIMIT 1),
    m1 AS (
      SELECT word, freq, seg, CAST(1 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS out
      FROM seg0
      UNION ALL
      SELECT word, freq, seg,
             CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top1) AND seg[i+1] = (SELECT y FROM top1)
                  THEN i + 2 ELSE i + 1 END,
             list_append(out,
               CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top1) AND seg[i+1] = (SELECT y FROM top1)
                    THEN seg[i] || seg[i+1] ELSE seg[i] END)
      FROM m1 WHERE i <= len(seg)
    ),
    seg1 AS (
      SELECT word, freq, out AS seg FROM m1 WHERE i > len(seg)
    ),
    pc2 AS (
      SELECT seg[i] AS x, seg[i+1] AS y, SUM(freq) AS cnt
      FROM seg1, LATERAL (SELECT unnest(generate_series(1, len(seg)-1)) AS i)
      GROUP BY 1, 2
    ),
    top2 AS (SELECT x, y, cnt FROM pc2 ORDER BY cnt DESC, x, y LIMIT 1),
    m2 AS (
      SELECT word, freq, seg, CAST(1 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS out
      FROM seg1
      UNION ALL
      SELECT word, freq, seg,
             CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top2) AND seg[i+1] = (SELECT y FROM top2)
                  THEN i + 2 ELSE i + 1 END,
             list_append(out,
               CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top2) AND seg[i+1] = (SELECT y FROM top2)
                    THEN seg[i] || seg[i+1] ELSE seg[i] END)
      FROM m2 WHERE i <= len(seg)
    ),
    seg2 AS (
      SELECT word, freq, out AS seg FROM m2 WHERE i > len(seg)
    ),
    pc3 AS (
      SELECT seg[i] AS x, seg[i+1] AS y, SUM(freq) AS cnt
      FROM seg2, LATERAL (SELECT unnest(generate_series(1, len(seg)-1)) AS i)
      GROUP BY 1, 2
    ),
    top3 AS (SELECT x, y, cnt FROM pc3 ORDER BY cnt DESC, x, y LIMIT 1),
    m3 AS (
      SELECT word, freq, seg, CAST(1 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS out
      FROM seg2
      UNION ALL
      SELECT word, freq, seg,
             CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top3) AND seg[i+1] = (SELECT y FROM top3)
                  THEN i + 2 ELSE i + 1 END,
             list_append(out,
               CASE WHEN i < len(seg) AND seg[i] = (SELECT x FROM top3) AND seg[i+1] = (SELECT y FROM top3)
                    THEN seg[i] || seg[i+1] ELSE seg[i] END)
      FROM m3 WHERE i <= len(seg)
    ),
    seg3 AS (
      SELECT word, freq, out AS seg FROM m3 WHERE i > len(seg)
    )
    SELECT * FROM (
      SELECT 1 AS it, x AS left_sym, y AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM top1
      UNION ALL SELECT 2, x, y, CAST(cnt AS BIGINT) FROM top2
      UNION ALL SELECT 3, x, y, CAST(cnt AS BIGINT) FROM top3
    )
"""


def _p9_merge_step(n: int) -> str:
    """CTEs of BPE merge step ``n`` over ``seg{n-1}``: the pair counts, the
    top pair (``cnt DESC, x, y``), and ``seg{n}``. The merge is one
    ``replace`` over the word's tokens, each wrapped in chr(1)…chr(2):
    a match can only start at a token boundary and cover two whole
    tokens, and left-to-right non-overlapping replacement is BPE's greedy
    merge. With no pair left the word keeps its tokens."""
    wrapped = "chr(1) || array_to_string(seg, chr(2) || chr(1)) || chr(2)"
    pair = "chr(1) || x || chr(2) || chr(1) || y || chr(2)"
    merged = f"coalesce(replace({wrapped}, {pair}, chr(1) || x || y || chr(2)), {wrapped})"
    return f"""
    pc{n} AS (
      SELECT seg[i] AS x, seg[i+1] AS y, SUM(freq) AS cnt
      FROM seg{n - 1}, LATERAL (SELECT unnest(generate_series(1, len(seg)-1)) AS i)
      GROUP BY 1, 2
    ),
    top{n} AS (SELECT x, y, cnt FROM pc{n} ORDER BY cnt DESC, x, y LIMIT 1),
    seg{n} AS (
      SELECT word, freq, string_split(substr(w, 2, length(w) - 2), chr(2) || chr(1)) AS seg
      FROM (SELECT word, freq, {merged} AS w FROM seg{n - 1} LEFT JOIN top{n} ON true)
    ),"""


_P9_ORACLE = f"""WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(list_filter(string_split(text,' '), t -> t <> '')) AS w FROM documents
            WHERE CASE WHEN strpos(text, chr(1)) > 0 OR strpos(text, chr(2)) > 0
                       THEN error('p9 oracle: a document holds chr(1) or chr(2), the token delimiters')
                       ELSE true END)
      GROUP BY w
    ),
    seg0 AS (
      SELECT word, freq, list_transform(range(1, length(word)+1), i -> substr(word, CAST(i AS INT), 1)) AS seg
      FROM wf
    ),{_p9_merge_step(1)}{_p9_merge_step(2)}{_p9_merge_step(3)}
    wl AS (SELECT word, CAST(len(seg) AS BIGINT) AS n_sub FROM seg3)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wl.n_sub) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS word
          FROM documents) d
    JOIN wl USING (word)
    GROUP BY doc_id
"""


@register(
    "p8_bpe_merges",
    oracle=_P8_ORACLE,
    tags=("pipeline", "tokenizer", "bpe", "llm"),
    doc="Gate duplicate: the corpus-side kernel (word-frequency agg) is "
        "driver-gated via c12/t7; p8 adds the BPE merge-learning loop "
        "over that model state, proven (all 3 iterations replayed by a "
        "recursive-CTE oracle) by the same oracle harness locally.",
)
def p8_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.llm import bpe_learn

    docs = load(spark, sf_dir, "documents")
    merges, _segs = bpe_learn(docs, "text", n_merges=3)
    return spark.createDataFrame(
        merges, "it int, left_sym string, right_sym string, pair_count bigint"
    )


@register(
    "p9_bpe_segment",
    oracle=_P9_ORACLE,
    tags=("pipeline", "tokenizer", "bpe", "llm"),
    doc="Gate duplicate: broadcast-vocabulary joins are driver-gated via "
        "q3/d9; p9 applies the p8 segmentation corpus-wide, proven by "
        "the same oracle harness locally.",
)
def p9_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.llm import bpe_learn

    docs = load(spark, sf_dir, "documents")
    _merges, segs = bpe_learn(docs, "text", n_merges=3)
    seg_tbl = spark.createDataFrame(
        [(w, len(s)) for w, s in segs.items()], "word string, n_sub bigint"
    )
    words = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("word")
    )
    return (
        words.join(F.broadcast(seg_tbl), "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"), F.sum("n_sub").alias("n_bpe_tokens"))
    )


# --------------------------------------------------------------------------
# p10 — training-ready JSONL export: the LAST step of the pipeline
# (clean → dedup → mix → pack → EXPORT). Documents are written as
# lang-partitioned, size-bounded, gzip-compressed JSON-lines shards —
# the layout a training loader consumes (each shard small enough to
# stream, partition dirs give per-language sampling for free) — then
# read back for the oracle comparison, so the round trip proves the
# export is lossless (unicode text included). maxRecordsPerFile bounds
# shard size WITHOUT a repartition (file rotation inside each task);
# the shard-count invariant is pinned by a unit test.
# --------------------------------------------------------------------------


@register(
    "p10_export_jsonl",
    oracle="""
    SELECT doc_id, lang, text, n_chars
    FROM documents
    WHERE n_chars >= 10
    """,
    tags=("pipeline", "export", "sink", "jsonl", "llm"),
    doc="Gate duplicate: JSON round-trip fidelity is driver-gated via "
        "c15, filters via the q-suite; p10 composes them into the "
        "sharded training-export sink, proven by the same oracle "
        "harness locally plus the shard-size unit test.",
)
def p10_export_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators._persist import scratch_dir

    path = scratch_dir(sf_dir, "p10")
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 10)
    (
        docs.select("doc_id", "text", "n_chars", "lang")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 200)
        .option("compression", "gzip")
        .partitionBy("lang")
        .json(path)
    )
    # an explicit read schema: inferring one is a job over every shard
    out = spark.read.schema("doc_id bigint, text string, n_chars bigint, lang string").json(path)
    return out.select("doc_id", "lang", "text", "n_chars")


# --------------------------------------------------------------------------
# t11 — RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
# Extraction from Individual Documents"): candidate phrases are maximal
# stopword-free word runs; word score = degree/frequency within the
# document (degree = sum of lengths of phrases containing the word);
# phrase score = sum of member-occurrence scores; emit each document's
# top phrase. Every step is relational (posexplode → stopword-island
# window → three grouped joins), zero UDFs. Scoring is INTEGER-exact
# cross-engine: score = (degree * 10^6) DIV frequency — floor division
# of bigints, no float or decimal rounding anywhere, so the oracle
# hash-matches bit-for-bit. Tie-breaks: higher score, then lexicographic
# phrase.
# --------------------------------------------------------------------------

_T11_STOPS = ("the", "a", "is", "of", "and", "to", "in")
_T11_STOPS_SQL = ", ".join(f"'{w}'" for w in _T11_STOPS)


@register(
    "t11_rake_keywords",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, w
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ) WHERE w <> ''
    ),
    flagged AS (
      SELECT doc_id, pos, w,
             CASE WHEN w IN ({_T11_STOPS_SQL}) THEN 1 ELSE 0 END AS is_stop
      FROM words
    ),
    islands AS (
      SELECT doc_id, pos, w, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS pid
      FROM flagged
    ),
    content AS (SELECT doc_id, pid, pos, w FROM islands WHERE is_stop = 0),
    plen AS (SELECT doc_id, pid, COUNT(*) AS plen FROM content GROUP BY doc_id, pid),
    wstat AS (
      SELECT c.doc_id, c.w,
             CAST(SUM(p.plen) AS BIGINT) AS deg, COUNT(*) AS freq
      FROM content c JOIN plen p ON p.doc_id = c.doc_id AND p.pid = c.pid
      GROUP BY c.doc_id, c.w
    ),
    wscore AS (
      SELECT doc_id, w, CAST((deg * 1000000) // freq AS BIGINT) AS ws FROM wstat
    ),
    pscore AS (
      SELECT c.doc_id, c.pid,
             CAST(SUM(s.ws) AS BIGINT) AS score_scaled,
             string_agg(c.w, ' ' ORDER BY c.pos) AS phrase
      FROM content c JOIN wscore s ON s.doc_id = c.doc_id AND s.w = c.w
      GROUP BY c.doc_id, c.pid
    )
    SELECT doc_id, phrase AS top_phrase, score_scaled,
           CAST(n_phrases AS BIGINT) AS n_phrases
    FROM (
      SELECT doc_id, phrase, score_scaled,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_phrases,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_scaled DESC, phrase) AS rn
      FROM pscore
    ) WHERE rn = 1
    """,
    tags=("text", "keywords", "rake", "llm"),
    doc="RAKE keyword extraction — stopword-island phrases, integer-exact "
        "degree/frequency scoring; the window/join kernels are "
        "driver-gated across q13/q19/t-suite, the composition proven by "
        "the same oracle harness locally.",
)
def t11_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda t: t != "")).alias("pos", "w"),
    )
    is_stop = F.col("w").isin(*_T11_STOPS).cast("int")
    w_run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    islands = words.withColumn("is_stop", is_stop).withColumn("pid", F.sum("is_stop").over(w_run))
    content = islands.filter(F.col("is_stop") == 0).select("doc_id", "pid", "pos", "w")
    # One linear pass (round 11, guide §2.4): the former groupBy+join-back
    # shape re-executed the scan→explode→sort→window `content` pipeline
    # THREE times (once per consumer branch; differently-pruned columns
    # defeat ReuseExchange) behind three identical hashpartitioning(doc_id)
    # exchanges. Phrase length and word stats are per-(doc_id,pid) /
    # per-(doc_id,w) aggregates of content rows, so they attach as WINDOWS
    # over the same doc_id-prefixed keys instead — every window and the
    # final groupBy reuse ONE doc_id exchange (subset rule), the joins
    # disappear, and the plan is 1 scan / 1 exchange. Same rows, same
    # integer arithmetic → bit-identical results (oracle-checked).
    w_plen = Window.partitionBy("doc_id", "pid")
    w_word = Window.partitionBy("doc_id", "w")
    scored = (
        content.withColumn("plen", F.count(F.lit(1)).over(w_plen))
        .withColumn("deg", F.sum("plen").over(w_word))
        .withColumn("freq", F.count(F.lit(1)).over(w_word))
        .withColumn("ws", F.expr("(deg * 1000000) DIV freq"))
    )
    pscore = (
        scored.groupBy("doc_id", "pid")
        .agg(
            F.sum("ws").alias("score_scaled"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]),
                " ",
            ).alias("phrase"),
        )
    )
    w_top = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), F.asc("phrase"))
    w_cnt = Window.partitionBy("doc_id")
    return (
        pscore.withColumn("n_phrases", F.count(F.lit(1)).over(w_cnt))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("phrase").alias("top_phrase"), "score_scaled",
                F.col("n_phrases").cast("long").alias("n_phrases"))
    )


# --------------------------------------------------------------------------
# t12 — bigram-LM quality scoring (the CCNet/Wikipedia-LM filter shape):
# train add-one-smoothed bigram statistics on the corpus, score every
# document by its mean INVERSE conditional bigram probability
# (1/p(w2|w1) = (c(w1)+V)/(c(w1 w2)+1)) — high = improbable word
# sequences (gibberish, boilerplate soup), low = fluent text. The
# arithmetic-mean inverse probability replaces the geometric-mean
# log-perplexity DELIBERATELY: log/exp are libm transcendentals whose
# last bits differ between the JVM and DuckDB (same ruling as t7's
# rational IDF), while this score is integer-exact end to end — each
# per-bigram weight is one BIGINT DIV, the doc sum is a BIGINT, and the
# final mean is ONE double division of two exactly-representable
# integers. Monotone-equivalent for filtering use.
# Scale shape: the bigram LM table is corpus-bounded so the score join
# SHUFFLES on the bigram key (never broadcast); the context-count table
# grows with the VOCABULARY, which under Heap's law grows with the
# corpus (10⁷–10⁹ distinct tokens at 100 TB of web text: typos, URLs,
# code), so its broadcast is SIZE-ROUTED like d2/d7/d15 — the already-
# computed distinct-token count ``vsz`` upper-bounds uc's rows for free,
# hint under the cap, plain shuffle join on w1 above it. V is one scalar
# count job (same kind as t7's n_docs). Docs with < 2 tokens have no
# bigrams and drop out (inner-join semantics), matching the oracle.
# --------------------------------------------------------------------------

_T12_SCALE = 1_000_000


def _vocab_routed(df: DataFrame, vocab_rows: int) -> DataFrame:
    """Size-routed broadcast for VOCABULARY-shaped tables (distinct-term
    aggregates): hint only when the known row count is under the shared
    broadcast budget (``_persist.BROADCAST_BUDGET``); above it — Heap's
    law puts the distinct-term table at 10⁷–10⁹ rows on 100 TB of web
    text — an unconditional hint OOMs the driver, so return the frame
    unhinted and let the planner shuffle.
    The t12 router (VERDICT r6 #2) extracted for every text op touching
    a vocabulary (VERDICT r7 #2: t7's document-frequency join, t8's
    unigram joins had reintroduced the hard hint)."""
    from medvedi_spark.operators import _persist

    # row footprint: w1 string ~24 B, c1 long 8 B, ~32 B row overhead
    return F.broadcast(df) if vocab_rows <= _persist.BROADCAST_BUDGET // 64 else df


def _bigram_structs_of(toks):
    """(w1, 'w1 w2') structs per occurrence, CAPTURE-FREE (see
    _bigrams_of): zip_with of two shifted slices."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1),
        lambda x, y: F.struct(x.alias("w1"), F.concat(x, F.lit(" "), y).alias("bg")),
    )


@register(
    "t12_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
      FROM documents
    ),
    occ AS (
      SELECT doc_id, w1, w1 || ' ' || w2 AS bg
      FROM (SELECT doc_id, unnest(l) AS w1, unnest(l[2:]) AS w2 FROM toks)
      WHERE w2 IS NOT NULL
    ),
    bc AS (SELECT bg, COUNT(*) AS c12 FROM occ GROUP BY bg),
    uc AS (SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY w1),
    v AS (
      SELECT COUNT(DISTINCT t) AS vsz
      FROM (SELECT unnest(l) AS t FROM toks)
    ),
    scored AS (
      SELECT o.doc_id,
             CAST(((u.c1 + v.vsz) * {_T12_SCALE}) // (b.c12 + 1) AS BIGINT) AS w
      FROM occ o JOIN bc b USING (bg) JOIN uc u USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) * {_T12_SCALE} AS DOUBLE) AS surprisal
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "lm", "llm"),
    doc="Bigram-LM quality score: corpus-trained add-one-smoothed bigram "
        "stats, each doc scored by mean inverse conditional probability — "
        "integer-exact (BIGINT DIV weights, one final double division), "
        "the engine-portable stand-in for log-perplexity filtering.",
)
def t12_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators._persist import size_guarded_persist

    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.expr(word_tokens("text")).alias("l"))
    # the occurrence stream feeds THREE consumers (bigram counts, context
    # counts, the score join) — persist it once, size-guarded, instead of
    # re-running the tokenize+explode pipeline per consumer
    occ = size_guarded_persist(
        docs,
        base.select("doc_id", F.explode(_bigram_structs_of(F.col("l"))).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg")),
    )
    vsz = base.select(F.explode("l").alias("t")).distinct().count()
    bc = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    # NOT derived from bc (c1(w1) = Σ c12 would save one occ consumer):
    # A/B at the 100× probe point measured the bc-rollup shape 48 %
    # SLOWER (133.6 s vs 197.6 s) — without a cache on bc, its
    # corpus-wide aggregation executes once per consumer (the rollup
    # branch and the score join prune different columns, so
    # ReuseExchange does not dedupe them), which costs more than the
    # extra map-side occ scan this direct groupBy pays. See BASELINE.md.
    uc = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    # size-routed broadcast (VERDICT r6 #2): distinct-w1 count is bounded
    # by the already-computed vsz — no extra probe job. Under the cap the
    # hint saves the w1 shuffle of the occurrence stream; above it (Heap's
    # law at corpus scale) a forced hint would OOM, so shuffle instead.
    uc_side = _vocab_routed(uc, vsz)
    w = F.expr(f"CAST(((c1 + {vsz}) * {_T12_SCALE}) DIV (c12 + 1) AS BIGINT)")
    return (
        occ.join(bc, "bg")
        .join(uc_side, "w1")
        .withColumn("w", w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("w").alias("__snum__"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("__snum__").cast("double")
                / (F.col("n_bigrams") * F.lit(_T12_SCALE)).cast("double")
            ).alias("surprisal"),
        )
    )


# --------------------------------------------------------------------------
# t13 — readability scoring (Flesch-Kincaid grade level): the classic
# quality-filter signal for training corpora (too-low = fragment soup,
# too-high = OCR garbage / formula dumps). Engine-portable by
# construction: the three inputs are INTEGER counts (words, sentences,
# vowel-group syllables with a 1-per-word floor), and the grade formula
# 0.39·(w/s) + 11.8·(sy/w) − 15.59 is a fixed tree of IEEE double
# ops — divisions of exact integers, multiplications by literals, two
# additions — with NO transcendental anywhere, so both engines produce
# identical bits when the expression tree is written identically (same
# ruling family as t7/t12). Sentence count = non-blank [.!?] segments,
# floored at 1; docs with zero words drop out. Pure map-side: zero
# shuffles, zero joins, whole-stage codegen throughout.
# --------------------------------------------------------------------------


@register(
    "t13_readability",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_words,
             GREATEST(len(list_filter(string_split_regex(text, '[.!?]'),
                                      s -> trim(s) <> '')), 1)
               AS n_sentences,
             CAST(COALESCE(list_sum(list_transform(
                 list_filter(string_split(text, ' '), t -> t <> ''),
                 w -> GREATEST(len(regexp_extract_all(lower(w), '[aeiou]+')), 1)
             )), 0) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           n_syllables,
           (0.39 * (CAST(n_words AS DOUBLE) / n_sentences))
             + (11.8 * (CAST(n_syllables AS DOUBLE) / n_words))
             - 15.59 AS fk_grade
    FROM m WHERE n_words > 0
    """,
    tags=("text", "quality", "readability", "llm"),
    doc="Flesch-Kincaid readability grade: integer word/sentence/"
        "vowel-group-syllable counts plus a transcendental-free IEEE "
        "formula tree — bit-identical cross-engine, zero shuffles.",
)
def t13_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.expr(word_tokens("text"))
    m = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(F.filter(F.split("text", "[.!?]"), lambda s: F.trim(s) != "")),
            F.lit(1),
        ).cast("bigint").alias("n_sentences"),
        F.coalesce(
            F.aggregate(
                F.transform(
                    F.expr(word_tokens("text")),
                    lambda w: F.greatest(
                        F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiou]+"), F.lit(0))),
                        F.lit(1),
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).cast("bigint").alias("n_syllables"),
    )
    grade = (
        (F.lit(0.39) * (F.col("n_words").cast("double") / F.col("n_sentences")))
        + (F.lit(11.8) * (F.col("n_syllables").cast("double") / F.col("n_words")))
        - F.lit(15.59)
    )
    return m.filter(F.col("n_words") > 0).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", grade.alias("fk_grade")
    )


# --------------------------------------------------------------------------
# t14 — Gopher quality rules (Rae et al. 2021, Table A1): the canonical
# rule-based document filter every large text pipeline runs before
# training. Five of the paper's rules are computable on whitespace
# tokens: word-count bounds [50, 100k], mean word length [3, 10],
# symbol-to-word ratio ("#"/"..." tokens) <= 0.1, fraction of words with
# an alphabetic character >= 0.8, and >= 2 distinct required stopwords
# present. Every gate compares EXACT INTEGERS (cross-multiplied ratios —
# 5*n_alpha >= 4*n_words instead of n_alpha/n_words >= 0.8), so `keep`
# is bit-identical cross-engine; the reported ratio columns are single
# IEEE divisions of those same integers. Pure map-side: zero shuffles.
# --------------------------------------------------------------------------

_T14_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_T14_STOPS_SQL = ", ".join(f"'{s}'" for s in _T14_STOPS)

# shared with st15 (the streaming gate drains every document once, so
# the streaming result IS this batch result)
T14_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(l, w -> len(w))), 0)
                  AS BIGINT) AS sum_len,
             CAST(len(list_filter(l, w -> regexp_matches(w, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_filter(l, w -> w LIKE '%#%' OR w LIKE '%...%'))
                  AS BIGINT) AS n_symbol,
             CAST(len(list_intersect(l, [{_T14_STOPS_SQL}])) AS BIGINT)
               AS stop_hits
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents)
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words > 0
                THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END
             AS mean_word_len,
           CASE WHEN n_words > 0
                THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END
             AS alpha_frac,
           CASE WHEN n_words > 0
                THEN CAST(n_symbol AS DOUBLE) / n_words ELSE 0.0 END
             AS symbol_frac,
           stop_hits,
           (n_words BETWEEN 50 AND 100000
            AND sum_len BETWEEN 3 * n_words AND 10 * n_words
            AND 10 * n_symbol <= n_words
            AND 5 * n_alpha >= 4 * n_words
            AND stop_hits >= 2) AS keep
    FROM m
    """


@register(
    "t14_gopher_rules",
    oracle=T14_ORACLE,
    tags=("text", "quality", "filter", "llm"),
    doc="Gopher rule-based quality filter (Rae et al. 2021 Table A1): "
        "word-count/mean-word-length bounds, symbol and alphabetic "
        "ratios, required-stopword count — all gates exact-integer "
        "cross-multiplications, zero shuffles.",
)
def t14_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return gopher_rules_frame(docs)


def gopher_rules_frame(docs: DataFrame) -> DataFrame:
    """The t14 expression tree over any ``(doc_id, text)`` frame — a pure
    map-side projection, so it applies unchanged to a document STREAM
    (st15: stateless quality gating at ingest)."""
    ratio = "CASE WHEN n_words > 0 THEN cast({} AS double) / n_words ELSE 0.0D END AS {}"
    # materialize the token array ONCE (the word_tokens directive):
    # inline word_tokens() per metric leaves 5 split(text)
    # copies in the physical plan vs 1 here (verified on the executed
    # plan — CollapseProject does NOT re-inline this alias). Interleaved
    # A/B at sf0.1 measured ~parity (0.33 vs 0.25 s; 54-word docs, fixed
    # overhead dominates) — kept for the 5×→1× tokenization plan fact,
    # which is what matters on real document lengths at corpus scale.
    return (
        docs.selectExpr("doc_id", f"{word_tokens('text')} AS l")
        .selectExpr(
            "doc_id",
            "cast(size(l) AS bigint) AS n_words",
            "coalesce(aggregate(transform(l, w -> cast(length(w) AS bigint)), cast(0 AS bigint), "
            "(acc, x) -> acc + x), cast(0 AS bigint)) AS sum_len",
            # [A-Za-z] not [a-z]: Gopher Table A1's rule is "at least one
            # ALPHABETIC character" — all-caps words (acronyms, shouting)
            # count as alphabetic (ADVICE r7); engine and oracle in lockstep
            "cast(size(filter(l, w -> w RLIKE '[A-Za-z]')) AS bigint) AS n_alpha",
            "cast(size(filter(l, w -> contains(w, '#') OR contains(w, '...'))) AS bigint) AS n_symbol",
            f"cast(size(array_intersect(l, array({_T14_STOPS_SQL}))) AS bigint) AS stop_hits",
        )
        .selectExpr(
            "doc_id", "n_words",
            ratio.format("sum_len", "mean_word_len"),
            ratio.format("n_alpha", "alpha_frac"),
            ratio.format("n_symbol", "symbol_frac"),
            "stop_hits",
            "n_words BETWEEN 50 AND 100000"
            " AND sum_len BETWEEN 3 * n_words AND 10 * n_words"
            " AND 10 * n_symbol <= n_words"
            " AND 5 * n_alpha >= 4 * n_words"
            " AND stop_hits >= 2 AS keep",
        )
    )
