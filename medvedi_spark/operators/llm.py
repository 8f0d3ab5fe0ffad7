"""Reusable LLM-data-pipeline operators (SURVEY §2.10), parameterized.

Every function here is a pure DataFrame→DataFrame operator: no
driver-side materialization (the one exception is documented), no
row-at-a-time Python UDFs, shuffles keyed on blocking values rather than
all-pairs — the properties that let the same plan run on 500 rows or
100 TB. The registered bench queries (`medvedi_spark.queries.llm_ops`)
are thin calls into this module with fixed parameters; users compose
these directly with their own columns/thresholds.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medvedi_spark.functions.hashing import _ident as _hashing_ident
from medvedi_spark.functions.hashing import minhash_agg_cols, simhash_col, token_hash
from medvedi_spark.queries._det import DEC

# Tracked operator-lifetime persists (shared with operators.relational);
# sessions running many queries reclaim blocks with release_persisted().
# The size budgets are read through the module (_persist.X) at call time.
from medvedi_spark.operators import _persist
from medvedi_spark.operators._persist import (  # noqa: F401  (re-export)
    _PERSISTED,
    persist_tracked as _persist_tracked,
    release_persisted,
    size_guarded_persist as _size_guarded_persist,
)


# --------------------------------------------------------------------------
# Vector-distance kernels (dot_dec/dot_double here; sqdist_dec/
# sqdist_double further down) and the other expression kernels in this
# module take str arguments and build their whole HOF chain as ONE
# ``F.expr`` SQL string, which parses JVM-side in one py4j round-trip.
# Composing the same tree through the functions API costs one round-trip
# per call: cProfile of a serve-plan construction measured 8 000 of them
# ≈ 3.3 s of a 4.2 s call (~57 ms per sqdist_dec), pure driver-side
# chatter paid per operator call at ANY scale.
# --------------------------------------------------------------------------

# str kernel args are SQL FRAGMENTS (slices, lambda vars, dotted paths —
# anything that parses as an expression). Plain identifiers get
# backtick-quoted so a reserved-word or otherwise-quotable COLUMN NAME
# forwarded by a public caller (e.g. vector_norms' vec_col) parses as
# the column it names instead of failing (ADVICE r10). Backticks vanish
# at parse time, so quoted and bare identifiers build the identical
# analyzed expression. ONE shared implementation (hashing._ident) so the
# quoting rule cannot drift between the hashing and llm expr kernels.
_sql_ident = _hashing_ident


def _sql_double(v: float) -> str:
    """SQL double literal with exact round-trip: repr() is the shortest
    string that parses back to the same IEEE double (Java's parseDouble
    is correctly rounded like Python's), and the D suffix keeps the SQL
    type double (a bare ``255.0`` would parse as DECIMAL). None and
    non-finite values have no SQL literal form and raise ValueError."""
    if v is None or not math.isfinite(float(v)):
        raise ValueError(f"no SQL double literal for {v!r}: model-state values must be finite")
    return repr(float(v)) + "D"


def _sql_double_array(vals) -> str:
    """``array(...)`` SQL literal of doubles (a CreateArray of literals)."""
    return "array(" + ", ".join(_sql_double(v) for v in vals) + ")"


def dot_dec(a: str, b: str) -> Column:
    """Exact-decimal dot product of two double arrays (order-free sum,
    engine-independent bits — see queries/_det.py). Args are SQL
    fragments (plain column names are backtick-quoted; see the kernel
    note above)."""
    a, b = _sql_ident(a), _sql_ident(b)
    return F.expr(
        f"cast(cast(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(cast(x as double) * cast(y as double) as {DEC})), "
        f"cast(0 as {DEC}), (acc, x) -> cast((acc + x) as {DEC})) as string) as double)"
    )


def dot_double(a: str, b: str) -> Column:
    """Plain double dot product — fast pre-filter only (order-dependent
    last bits, so never emitted in results). Args are SQL fragments, as
    for :func:`dot_dec`."""
    a, b = _sql_ident(a), _sql_ident(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(x as double) * cast(y as double)), 0.0D, (acc, x) -> acc + x)"
    )


# -- dedup ------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups by content hash: one shuffle keyed on the hash;
    payloads never move twice (only ids aggregate)."""
    return (
        df.groupBy(F.md5(text_col).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def tokenize_distinct(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, whitespace-split, empty tokens dropped,
    per-document distinct."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(F.split(text_col, " "))).alias("t"))
        .filter(F.col("t") != "")
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Exact token-set Jaccard self-join with adaptive algorithm selection.

    One scalar corpus statistic (vocabulary size — a tiny aggregate job,
    the same kind of runtime statistic AQE replans on) picks the plan:

    - vocab <= ``_BITSET_VOCAB_LIMIT`` (64) → bitset path: token sets become
      int64 masks; only DISTINCT masks compare pairwise, with
      popcount(a&b)/popcount(a|b) in whole-stage codegen. Token blocking
      provably cannot prune on a tiny vocabulary, so this is the only
      plan that stays fast there.
    - otherwise → prefix-filter path (AllPairs/PPJoin): lossless
      candidate blocking for threshold t; scales to large-vocabulary
      corpora because the shuffle is keyed on rare prefix tokens.

    Both are exact: identical output either way.
    """
    # NOT fanned out (_fan_out_narrow): measured sf0.1 A/B 2.31 s ->
    # 5.92 s with the exchange (BASELINE.md r8 rejection) — the in-row
    # array_distinct bounds this family's explosion to ~distinct tokens
    # per doc, and its 100x curve was healthy without it.
    tok = tokenize_distinct(df, id_col, text_col)
    return _jaccard_adaptive(tok, threshold)


def char_ngrams_distinct(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, gram) pairs: all distinct character n-grams of the text."""
    grams = F.expr(
        f"CASE WHEN length(__ng_text__) >= {n} THEN "
        f"transform(sequence(1, length(__ng_text__) - {n - 1}), i -> substring(__ng_text__, i, {n})) "
        f"ELSE array() END"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__ng_text__"))
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("t"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact character-n-gram-set Jaccard self-join; same adaptive plan
    family as :func:`token_jaccard_pairs`, with the wide-bitset middle
    tier carrying the n-gram sweet spot (n-gram vocabularies are
    alphabet^n-bounded, usually hundreds-to-thousands)."""
    # not fanned out — same measured rejection as token_jaccard_pairs
    grams = char_ngrams_distinct(df, id_col, text_col, n)
    return _jaccard_adaptive(grams, threshold)


def _jaccard_adaptive(tok: DataFrame, threshold: float) -> DataFrame:
    """Plan selection from two scalar corpus statistics (one tiny agg
    job, the same kind of runtime statistic AQE replans on): vocabulary
    size and set density (avg distinct grams per doc / vocab).

    - vocab ≤ ``_BITSET_VOCAB_LIMIT`` → single-long bitset.
    - vocab ≤ ``_WIDE_BITSET_VOCAB_LIMIT`` AND dense sets (avg set ≥
      ``_DENSE_FRACTION`` of the vocab) → wide bitset
      (array<bigint> masks): when most docs contain a large fraction of
      the vocab, every blocking scheme degenerates (all pairs share a
      gram), so comparing distinct mask vectors at codegen speed is the
      only plan that stays fast.
    - otherwise → prefix-filter (AllPairs/PPJoin): sparse sets block
      well on rare prefix grams; scales to unbounded vocabularies.

    All three are exact: identical output whichever plan runs.

    The bitset tiers compare DISTINCT masks pairwise with the smaller side
    broadcast; distinct-mask count is bounded by distinct-doc count, so when
    ``n_docs`` exceeds what a mask table can broadcast (`_mask_broadcast_cap`)
    the compare is routed to the popcount-banded SHUFFLED self-join instead
    (`_jaccard_bitset_wide_shuffled`) — same output, no broadcast of a
    corpus-proportional table.

    The distinct-gram table is PERSISTED for the plan's lifetime: it is
    consumed three times (stats, vocab/bit assignment, mask build), each
    recompute paying the tokenize+explode+DISTINCT shuffle again —
    measured 11.9s → 4.7s on d7 at sf0.1. At corpus scale the
    MEMORY_AND_DISK copy is still cheaper than three shuffling
    recomputes; eviction is LRU (the stats ``.first()`` below populates
    the cache eagerly, so the later consumers always hit it). The persist
    is TRACKED — sessions running many queries reclaim the blocks with
    :func:`release_persisted` once the returned plan has materialized.
    """
    tok = _persist_tracked(tok)
    stats = tok.agg(
        F.countDistinct("t").alias("n_vocab"),
        F.countDistinct("doc_id").alias("n_docs"),
        (F.count(F.lit(1)) / F.countDistinct("doc_id")).alias("avg_set"),
    ).first()
    n_vocab = stats.n_vocab
    vocab = tok.select("t").distinct()
    if n_vocab <= _BITSET_VOCAB_LIMIT:
        if stats.n_docs <= _mask_broadcast_cap(1):
            return _jaccard_bitset(tok, vocab, threshold)
        return _jaccard_bitset_wide_shuffled(tok, vocab, n_vocab, threshold)
    # FAT-POSTING arm (r9, VERDICT r8 #6's d2 decomposition): prefix
    # filtering prunes by RARE tokens, so when the MEAN posting list is
    # already ≥ _FAT_POSTING_DF docs, even each doc's rarest prefix
    # tokens carry huge document frequencies and the candidate set
    # explodes quadratically per token (measured on the probe corpus:
    # vocab 239 / avg_df 922 → 362k candidate pairs for 5k docs, the
    # Σ df·(df−1)/2 bound 4.2M; the routed prefix plan 9.1-10.5 s vs
    # the forced wide-bitset 2.3-4.4 s — interleaved, D2_DECOMP_r9).
    # The arm is deliberately capped at _FAT_POSTING_VOCAB (16-word
    # masks): at the probe's 10× shape (vocab ~2k, 32-word masks) the
    # wide compare measured WORSE than prefix, so only the regime the
    # A/B proved routes differently.
    avg_df = stats.n_docs * stats.avg_set / n_vocab if n_vocab else 0.0
    dense = stats.avg_set >= _DENSE_FRACTION * n_vocab
    fat = n_vocab <= _FAT_POSTING_VOCAB and avg_df >= _FAT_POSTING_DF
    if n_vocab <= _WIDE_BITSET_VOCAB_LIMIT and (dense or fat):
        nwords = (n_vocab + 63) // 64
        if stats.n_docs <= _mask_broadcast_cap(nwords):
            return _jaccard_bitset_wide(tok, vocab, n_vocab, threshold)
        return _jaccard_bitset_wide_shuffled(tok, vocab, n_vocab, threshold)
    return _jaccard_prefix_filter(tok, threshold)


# Plan tiers of _jaccard_adaptive: a single-long mask up to 64 grams,
# wide masks up to 4096 grams (64 longs) when sets are dense, i.e. the
# mean set holds at least a quarter of the vocabulary.
_BITSET_VOCAB_LIMIT = 64
_WIDE_BITSET_VOCAB_LIMIT = 4096
_DENSE_FRACTION = 0.25

# Fat-posting routing bounds (see _jaccard_adaptive): the wide tier is
# forced over prefix filtering only where the r9 interleaved A/B proved
# it — masks of at most 16 longs, mean posting list ≥ 64 docs (below
# that, each token in <64 docs keeps per-token candidate blocks small
# and prefix pruning works as designed).
_FAT_POSTING_VOCAB = 1024
_FAT_POSTING_DF = 64


def _mask_broadcast_cap(nwords: int) -> int:
    """Max distinct-mask rows safely broadcastable for the quadratic
    compare: the broadcast budget over the per-row footprint of an
    ``array<bigint>`` mask (8 B/word + ~32 B row overhead). Distinct-doc
    count upper-bounds distinct-mask count, so the router can apply this
    cap without an extra mask-build job."""
    return _persist.BROADCAST_BUDGET // (8 * nwords + 32)


def _expand_mask_groups(groups: DataFrame, near: DataFrame) -> DataFrame:
    """Common tail of the bitset paths: groups of docs with IDENTICAL
    sets expand to jaccard=1.0 pairs for free; near-mask pairs expand to
    the cross product of their doc groups."""
    intra = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_a"), F.col("ids").alias("ids_b"))
        .select("doc_a", F.explode("ids_b").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.lit(1.0))
    )
    # NO broadcast hint on ga/gb: `groups` is corpus-proportional (one row
    # per distinct token set). `near` (pairs above threshold) is the small
    # side; the planner/AQE broadcasts it from runtime stats when it fits.
    ga = groups.select(F.col("mask").alias("mask_a"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("mask").alias("mask_b"), F.col("ids").alias("ids_b"))
    cross = (
        near.join(ga, "mask_a")
        .join(gb, "mask_b")
        .select("jaccard", F.explode("ids_a").alias("ida"), "ids_b")
        .select("jaccard", "ida", F.explode("ids_b").alias("idb"))
        .select(F.least("ida", "idb").alias("doc_a"), F.greatest("ida", "idb").alias("doc_b"), "jaccard")
    )
    return intra.select("doc_a", "doc_b", "jaccard").unionAll(cross.select("doc_a", "doc_b", "jaccard"))


def _jaccard_bitset(tok: DataFrame, vocab: DataFrame, threshold: float) -> DataFrame:
    bits = vocab.select("t", (F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("t")) - 1).alias("bit"))
    masks = (
        tok.join(F.broadcast(bits), "t")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask"))
    )
    # group identical sets: dup groups expand to jaccard=1.0 pairs for free
    groups = masks.groupBy("mask").agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    mt = groups.select("mask")
    ma, mb = mt.alias("ma"), mt.alias("mb")
    shared = F.bit_count(F.col("ma.mask").bitwiseAND(F.col("mb.mask")))
    union = F.bit_count(F.col("ma.mask").bitwiseOR(F.col("mb.mask")))
    near = (
        ma.join(F.broadcast(mb), F.col("ma.mask") < F.col("mb.mask"))
        .withColumn("jaccard", shared.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("ma.mask").alias("mask_a"), F.col("mb.mask").alias("mask_b"), "jaccard")
    )
    return _expand_mask_groups(groups, near)


def _wide_mask_groups(tok: DataFrame, vocab: DataFrame, vocab_size: int) -> DataFrame:
    """Per-doc fixed-length ``array<bigint>`` bitmask (one long per 64
    grams), grouped by identical mask → (mask, ids). Shared by the
    broadcast and shuffled wide-bitset compare strategies."""
    nwords = (vocab_size + 63) // 64
    bits = vocab.select("t", (F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("t")) - 1).alias("bit"))
    word_masks = (
        tok.join(F.broadcast(bits), "t")
        .groupBy("doc_id", F.expr("bit DIV 64").alias("w"))
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")).alias("m"))
    )
    masks = (
        word_masks.groupBy("doc_id")
        .agg(F.map_from_arrays(F.collect_list("w"), F.collect_list("m")).alias("wm"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda i: F.coalesce(F.element_at("wm", i.cast("int")), F.lit(0)),
            ).alias("mask"),
        )
    )
    # groups has five consumers, but Spark's ReusedExchange already
    # dedups the upstream work — checkpointing here measured SLOWER
    # (12-15s vs 7s at sf0.1); keep the plan lazy.
    return masks.groupBy("mask").agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))


# The mask width is ALWAYS known when the wide-bitset tiers are selected
# (the router measured the vocabulary), so the popcount folds unroll into
# flat bit_count(+) expression chains instead of higher-order-function
# lambdas. Measured at sf0.1 d7: warm 7.4 → 6.5 s, and FIRST execution
# 15.2 → 8.2 s — the lambda plan's codegen compile was most of the cold
# cost. Width is router-capped at 64 words (vocab ≤ 4096), so the
# expression tree stays well under codegen method-size limits.
def _unrolled_pc(col: str, nwords: int) -> Column:
    import functools
    import operator as _op

    return functools.reduce(
        _op.add, [F.bit_count(F.element_at(F.col(col), i + 1)) for i in range(nwords)]
    )


def _unrolled_shared(a: str, b: str, nwords: int) -> Column:
    import functools
    import operator as _op

    return functools.reduce(
        _op.add,
        [
            F.bit_count(
                F.element_at(F.col(a), i + 1).bitwiseAND(F.element_at(F.col(b), i + 1))
            )
            for i in range(nwords)
        ],
    )


def _jaccard_bitset_wide(tok: DataFrame, vocab: DataFrame, vocab_size: int, threshold: float) -> DataFrame:
    """Bitset path for vocabularies past 64: masks are fixed-length
    array<bigint> (one long per 64 grams) and the pairwise score is an
    unrolled per-word AND + bit_count sum — flat expressions inside
    whole-stage codegen, no UDF, no higher-order-function lambdas.
    Only DISTINCT masks compare pairwise (identical sets are grouped
    first), which is what keeps the quadratic step small: on corpora
    where every doc pair shares a gram (tiny vocab), NO blocking scheme
    can prune, so comparing distinct sets at full vector speed is the
    honest plan. The router guarantees the distinct-mask table fits the
    `_mask_broadcast_cap` budget before selecting this strategy; past the
    cap, `_jaccard_bitset_wide_shuffled` runs instead."""
    nwords = (vocab_size + 63) // 64
    groups = _wide_mask_groups(tok, vocab, vocab_size)
    mt = groups.select("mask", _unrolled_pc("mask", nwords).alias("pc"))
    # repartition the probe side: the post-agg mask table is 1-2 tiny
    # partitions, and without this the quadratic compare stage runs on
    # one core.
    ma = mt.repartition(tok.sparkSession.sparkContext.defaultParallelism).alias("ma")
    mb = F.broadcast(mt).alias("mb")
    # lossless size prefilter: jaccard >= t ⟹ |a∩b| >= t·|a∪b| ⟹
    # min(pc) >= t·max(pc) — an integer compare (epsilon slack for the
    # double product; false positives die in the exact fold below)
    # prunes most mask pairs before any array work.
    size_ok = (
        F.least(F.col("ma.pc"), F.col("mb.pc")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("ma.pc"), F.col("mb.pc")) - F.lit(1e-9)
    )
    shared = _unrolled_shared("ma.mask", "mb.mask", nwords)
    near = (
        ma.join(mb, (F.col("ma.mask") < F.col("mb.mask")) & size_ok)
        .withColumn("jaccard", shared.cast("double") / (F.col("ma.pc") + F.col("mb.pc") - shared))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("ma.mask").alias("mask_a"), F.col("mb.mask").alias("mask_b"), "jaccard")
    )
    return _expand_mask_groups(groups, near)


# Salt fan-out for the popcount-band shuffle join: popcount has a small
# value domain (≤ vocab+1 keys), so without salting every mask with the
# same popcount lands on one reducer. 16 deterministic salts spread each
# band over 16 reducers at the cost of a 16× replication of the (tiny
# per-row) probe keys.
_BAND_SALTS = 16


def _jaccard_bitset_wide_shuffled(tok: DataFrame, vocab: DataFrame, vocab_size: int, threshold: float) -> DataFrame:
    """Dense-corpus bitset compare WITHOUT broadcasting the mask table.

    Same inputs/outputs as `_jaccard_bitset_wide`, selected by the router
    when distinct masks may exceed the broadcast budget. The quadratic
    compare becomes an EQUI-join banded on popcount: jaccard ≥ t forces
    |pc_a − pc_b| into a narrow ratio band (min ≥ t·max), so the side with
    the smaller popcount emits one probe row per admissible partner
    popcount in [pc, pc/t] and the join shuffles on (popcount, salt) —
    bounded fan-out (≤ (1/t − 1)·pc + 1 keys/mask), no broadcast, no
    cartesian node. Exactness is unchanged: the band is a lossless
    necessary condition and the zip_with/bit_count fold re-scores every
    surviving pair."""
    nwords = (vocab_size + 63) // 64
    groups = _wide_mask_groups(tok, vocab, vocab_size)
    mt = groups.select("mask", _unrolled_pc("mask", nwords).alias("pc"))
    hi = F.least(F.floor(F.col("pc") / F.lit(threshold)).cast("int"), F.lit(vocab_size))
    # fan-outs ADD, not multiply: the probe side explodes only its popcount
    # band (keyed by its own deterministic salt), the build side replicates
    # once per salt value.
    probe = mt.select(
        "mask",
        "pc",
        F.explode(F.sequence(F.col("pc"), hi)).alias("pc_key"),
        F.pmod(F.xxhash64("mask"), F.lit(_BAND_SALTS)).cast("int").alias("salt"),
    ).alias("ma")
    build = mt.select(
        "mask", "pc", F.explode(F.sequence(F.lit(0), F.lit(_BAND_SALTS - 1))).alias("salt")
    ).alias("mb")
    shared = _unrolled_shared("ma.mask", "mb.mask", nwords)
    # each unordered pair exactly once: the smaller-popcount side probes;
    # popcount ties break on the (comparable) mask arrays.
    once = (F.col("mb.pc") > F.col("ma.pc")) | (
        (F.col("mb.pc") == F.col("ma.pc")) & (F.col("ma.mask") < F.col("mb.mask"))
    )
    near = (
        probe.join(
            build,
            (F.col("ma.pc_key") == F.col("mb.pc")) & (F.col("ma.salt") == F.col("mb.salt")),
        )
        .filter(once)
        .withColumn("jaccard", shared.cast("double") / (F.col("ma.pc") + F.col("mb.pc") - shared))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("ma.mask").alias("mask_a"), F.col("mb.mask").alias("mask_b"), "jaccard")
    )
    return _expand_mask_groups(groups, near)


#: pin the prefix tier's pair-expansion/verify exchanges only when the
#: analytic candidate bound Σ df·(df−1)/2 over the PREFIX tokens says
#: the CPU work is real — below this, AQE's byte-coalescing to 1-2
#: tasks is the right plan (tiny corpora) and the pin is pure overhead.
_VERIFY_PIN_MIN_PAIRS = 1 << 16


def _jaccard_prefix_filter(tok: DataFrame, threshold: float) -> DataFrame:
    # global document frequency per token (vocab-sized → broadcast join)
    df_map = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tok_df"))
    ranked = tok.join(F.broadcast(df_map), "t")
    w = Window.partitionBy("doc_id").orderBy("tok_df", "t")
    w_sz = Window.partitionBy("doc_id")
    prefix = (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(w_sz))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("doc_id", "t", "n")
    )
    # AQE coalesces post-shuffle partitions by BYTES, but the pair
    # expansion and verify stages here are small-bytes/CPU-heavy: at the
    # 10× probe shape the routed plan rode an AQE-coalesced 1-2
    # partition stream side for its whole 142 s (D2_DECOMP_r9 — jstack'd
    # hashAgg→Generate→BHJ single-task straggler; VERDICT r9 what's-
    # wrong #1). Fix: EXPLICIT-count key-based repartitions on the two
    # exchanges the joins insert anyway — a user REPARTITION_BY_NUM
    # shuffle is exempt from AQE coalescing, keeps the join's
    # co-partitioning (so no NET-NEW shuffle, unlike the rejected r9
    # tok.repartition(par) fan-out arm, which added a round-robin
    # shuffle and lost 2.2 s at x1), and holds the expansion/verify
    # stages at session parallelism. SIZE-GUARDED by the exact
    # Σ df·(df−1)/2 bound over prefix tokens (one vocab-sized agg job on
    # the already-persisted tok): tiny corpora keep AQE's 1-2 tasks.
    spark = tok.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # guard statistic: Σ df·(df−1)/2 over the FULL-token posting lists —
    # every candidate pair shares at least one token, so this upper-
    # bounds the candidate volume whatever the prefix truncation keeps.
    # One light agg on the router-persisted tok (the prefix-token bound
    # would be tighter but costs a join + two window passes — the A/B's
    # whole x1 overhead); over-triggering costs ≤0.7 s, under-triggering
    # costs the 6× single-task stall, so the bias is deliberate.
    bound = (
        df_map.select(F.sum(F.col("tok_df") * (F.col("tok_df") - 1) / 2).alias("b"))
        .first()["b"]
    )
    pin = bound is not None and bound >= _VERIFY_PIN_MIN_PAIRS
    if pin:
        prefix = prefix.repartition(n_part, "t")
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # PPJoin LENGTH filter, applied inside the candidate join: jaccard =
    # |∩|/|∪| ≤ min(|a|,|b|)/max(|a|,|b|), so any pair above the
    # threshold has min ≥ t·max — provably lossless pruning. Without it,
    # corpora whose gram frequencies grow with corpus size (every real
    # corpus) produce prefix blocks whose cross products swamp the
    # verify stage: measured on the 5k-doc probe corpus, candidates drop
    # 3.68 M → length-compatible pairs only, and the verify join stops
    # shuffling two token arrays per spurious pair (90 s → seconds).
    candidates = (
        pa.join(
            pb,
            (F.col("pa.t") == F.col("pb.t"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (
                F.least(F.col("pa.n"), F.col("pb.n"))
                >= F.lit(threshold) * F.greatest(F.col("pa.n"), F.col("pb.n"))
            ),
        )
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    if pin:
        # verify-join input: replaces join1's own doc_a exchange with a
        # coalesce-exempt one; join2's doc_b exchange carries the full
        # toks_a arrays (corpus-proportional bytes), so AQE's byte model
        # is honest there and it stays adaptive.
        candidates = candidates.repartition(n_part, "doc_a")
    token_sets = tok.groupBy("doc_id").agg(F.sort_array(F.collect_list("t")).alias("toks"))
    ta = token_sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = token_sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    shared = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - shared
    return (
        candidates.join(ta, "doc_a").join(tb, "doc_b")
        .withColumn("jaccard", shared.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def gram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |G(A)∩G(B)| / |G(A)| ≥ ``threshold``
    over word n-gram sets — the quotation / subset-document detector
    (a doc whose grams mostly appear in another is a quote, an excerpt,
    or a superseded revision; Jaccard misses these when the container is
    much longer). Set-similarity-join prefix filtering (Chaudhuri et
    al., ICDE 2006), asymmetric form:

    - the CONTAINED side ships only its ``m - ceil(t*m) + 1`` rarest
      grams (document-frequency ascending — a qualifying pair must share
      at least one of them) into the candidate join;
    - the CONTAINER side cannot be pruned (asymmetry) and stays a full
      inverted index — the join is prefix × index, shuffled on the gram
      hash (AQE sizes it; the gram df table is corpus-sized, so it is
      joined, never broadcast);
    - verification is an exact ``array_intersect`` over md5-derived
      gram-hash sets — both engines build the identical integer sets, so
      parity is exact (same ruling as d3's hashed-set Jaccard).

    Returns ``(doc_a, doc_b, containment)`` with doc_a the contained doc.
    """
    from medvedi_spark.functions.hashing import token_hash

    # fanned out (_fan_out_narrow): the pre-distinct map side (word
    # split → n-gram explode → md5 per gram) is the heavy-per-row case
    # — a single-row-group fixture runs it as ~1 s single-task leaf
    # stages (r10 job trace). Size-guarded: a real multi-row-group
    # corpus never repartitions. A/B in D12_AB_r10.json.
    toks = _fan_out_narrow(df).select(
        F.col(id_col).alias("doc_id"), F.expr(word_tokens(text_col)).alias("l")
    )
    grams = (
        toks.select("doc_id", F.explode(F.expr(word_ngrams_of("l", n))).alias("g"))
        .select("doc_id", token_hash(F.col("g")).alias("h"))
        .distinct()
    )
    # Five lineage branches consume the distinct-gram table, but an
    # interleaved A/B at sf0.1 showed a tracked persist here is a WASH
    # (the recomputed branches are cheap column-pruned scans of the same
    # exchange, several of which ReuseExchange does dedupe) — unlike d3's
    # signature table or s8's routing table, so no cache.
    gram_df = grams.groupBy("h").agg(F.count(F.lit(1)).alias("gram_df"))
    w = Window.partitionBy("doc_id").orderBy("gram_df", "h")
    w_sz = Window.partitionBy("doc_id")
    prefix = (
        grams.join(gram_df, "h")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(w_sz))
        .filter(F.col("rn") <= F.col("m") - F.ceil(F.lit(threshold) * F.col("m")) + 1)
        .select("doc_id", "h")
    )
    candidates = (
        prefix.alias("pa")
        .join(grams.alias("pb"), (F.col("pa.h") == F.col("pb.h")) & (F.col("pa.doc_id") != F.col("pb.doc_id")))
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    gram_sets = grams.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    ga = gram_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    gb = gram_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    shared = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        candidates.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("containment", shared.cast("double") / F.size("hs_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def minhash_band_index(df: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame]:
    """Corpus MinHash-LSH index (Broder 1997): bigram shingles →
    md5-derived token hashes → 16 minhash mins + the distinct hash set,
    in ONE groupBy pass — then 8 two-min bands for candidate blocking.

    Returns ``(sigs, bands)``: ``sigs`` is ``(doc_id, m0..m15, toks)``
    (``toks`` = sorted distinct hash set, the exact-verify payload) and
    ``bands`` is ``(doc_id, band_idx, band_val)``. Shared by the batch
    pairwise dedup (d3) and the streaming dedup-on-ingest corpus side
    (st10) so shingling rules, the hash family, and band assembly can
    never drift apart.
    """
    from medvedi_spark.functions.hashing import MINHASH_COEFFS, minhash_agg_cols, token_hash

    # not fanned out (_fan_out_narrow): sf0.1 A/B measured neutral for
    # d3/d16/st10 (BASELINE.md r8 rejection note) and the 26.7x r7 100x
    # curve was healthy — the one groupBy pass aggregates the explosion
    # immediately, unlike the ExactSubstr anchor family.
    toks = df.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("l"))
    bigrams = F.zip_with(
        F.slice(F.col("l"), 1, F.greatest(F.size("l") - 1, F.lit(0))),
        F.slice(F.col("l"), 2, F.greatest(F.size("l") - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    shingles = (
        toks.select("doc_id", F.explode(bigrams).alias("s"))
        .filter(
            ~F.col("s").contains("  ")
            & (F.col("s") != "")
            & ~F.col("s").startswith(" ")
            & ~F.col("s").endswith(" ")
        )
        .distinct()
    )
    hashed = shingles.select("doc_id", token_hash(F.col("s")).alias("h"))
    # ONE aggregation produces both the minhash mins and the full hash
    # set per doc — the groupBy exchange computes once and every branch
    # (banding, verification) reuses it instead of re-running the
    # shingle explode+distinct pipeline.
    sigs = hashed.groupBy("doc_id").agg(
        *minhash_agg_cols("h"),
        F.array_distinct(F.sort_array(F.collect_list("h"))).alias("toks"),
    )
    # The signature table feeds FOUR lineage branches (the band self-join
    # references bands twice; the exact-verify joins toks once per pair
    # side) whose pruned columns differ, so ReuseExchange does not dedupe
    # them and the shingle explode+distinct+groupBy pipeline re-executes
    # per consumer (measured at sf0.1: d3 2.62 → 0.63 s, st10
    # 3.88 → 2.48 s). The cache is corpus-proportional (~16 ints + the
    # distinct hash set per doc ≈ 1.7× the input text bytes), so it gets
    # the shared Catalyst-estimate size guard: persist below the cap,
    # recompute (corpus-linear, shuffle-keyed) above it.
    sigs = _size_guarded_persist(df, sigs)
    bands = sigs.select("doc_id", F.explode(_band_structs()).alias("bd")).select(
        "doc_id", F.col("bd.band_idx").alias("band_idx"), F.col("bd.band_val").alias("band_val")
    )
    return sigs, bands


def _band_structs() -> Column:
    """Two-min band (band_idx, band_val) struct array over signature
    columns m0..m15 — shared by :func:`minhash_band_index` and
    ``dedup_index.bands_of_sigs`` so band assembly can never drift.
    One ``F.expr`` string (see the kernel note above dot_dec)."""
    from medvedi_spark.functions.hashing import MINHASH_COEFFS

    n_bands = len(MINHASH_COEFFS) // 2
    return F.expr(
        "array(" + ", ".join(
            f"struct({i} as band_idx, concat_ws(',', m{2 * i}, m{2 * i + 1}) as band_val)"
            for i in range(n_bands)
        ) + ")"
    )


def simhash_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, n_blocks: int = 4) -> DataFrame:
    """SimHash near-dup: 32-bit signature per doc in one aggregate pass;
    byte-block LSH is EXACT for hamming <= n_blocks - 1 by pigeonhole.

    Docs sharing a signature collapse into one group before the block
    join (same trick as the Jaccard bitset path): the quadratic LSH join
    runs over DISTINCT signatures only, hamming computes once per
    signature pair, and doc pairs expand afterward — intra-group pairs
    are hamming 0 by construction."""
    tok = tokenize_distinct(df, id_col, text_col)
    hashed = tok.select("doc_id", token_hash(F.col("t")).alias("h"))
    sigs = hashed.groupBy("doc_id").agg(simhash_col("h").alias("simhash"))
    groups = sigs.groupBy("simhash").agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    intra = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_a"), F.col("ids").alias("ids_b"))
        .select("doc_a", F.explode("ids_b").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.lit(0))
    )
    bits_per = 32 // n_blocks
    blocks = groups.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("simhash", bits_per * i).bitwiseAND(F.lit((1 << bits_per) - 1)).alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    la, lb = blocks.alias("la"), blocks.alias("lb")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    near = (
        la.join(
            lb,
            (F.col("la.blk") == F.col("lb.blk"))
            & (F.col("la.val") == F.col("lb.val"))
            & (F.col("la.simhash") < F.col("lb.simhash")),
        )
        .select(F.col("la.simhash").alias("sim_a"), F.col("lb.simhash").alias("sim_b"))
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)  # cross pairs: hamming >= 1
    )
    ga = groups.select(F.col("simhash").alias("sim_a"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("simhash").alias("sim_b"), F.col("ids").alias("ids_b"))
    cross = (
        near.join(ga, "sim_a")
        .join(gb, "sim_b")
        .select("hamming", F.explode("ids_a").alias("ida"), "ids_b")
        .select("hamming", "ida", F.explode("ids_b").alias("idb"))
        .select(F.least("ida", "idb").alias("doc_a"), F.greatest("ida", "idb").alias("doc_b"), "hamming")
    )
    return intra.select("doc_a", "doc_b", "hamming").unionAll(cross.select("doc_a", "doc_b", "hamming"))


# pointer jumps per label-propagation round in connected_components'
# large-graph path (2 vs the single path-halving jump: CC_CHAIN_AB_r11.json)
_CC_JUMPS = 2


# connected_components' single-task ceiling: up to 5 M symmetrized edges
# the numpy contraction runs in one executor task.
_SMALL_GRAPH_EDGES = 5_000_000


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list.

    This is THE dedup finisher — near-dup pairs only become a dedup
    decision once transitive groups collapse to one keeper per cluster.
    Adaptive plan, chosen by the materialized edge count:

    - **small graph** (≤ ``_SMALL_GRAPH_EDGES`` symmetrized edges, the
      common case after LSH pruning — near-dup graphs are sparse
      relative to the corpus): contract in ONE executor task via
      ``mapInPandas`` — vectorized numpy min-propagation with pointer
      jumping over the factorized node ids. One shuffle (repartition to
      a single task), one job, no per-round scheduling. Data never
      touches the driver.
    - **large graph**: distributed iterative min-label propagation with
      path-halving pointer jumping — O(log n) rounds, each a
      join+min-agg shuffle, frontier localCheckpointed per round so
      lineage stays flat. The convergence test scans the checkpoint
      (prev label rides along as a column) — no extra join.

    Returns (node, component) with component = min node id reachable.
    """
    # localCheckpoint (not persist): each round's plan must TRUNCATE, or
    # the nested lineage of N rounds blows up the optimizer (observed
    # OOM at ~10 rounds on a 2k-edge graph with plain persist).
    # Symmetrize IN-ROW (explode of the edge + its reverse) rather than
    # via self-union: one pass over the (possibly expensive) upstream
    # pairs plan instead of two lineage branches, which also drops the
    # eager pre-union checkpoint that existed only to guard the double
    # execution — one driver job fewer per dedup finisher (d6/d16/d17/
    # st17/c11 all pay this prologue; guide §1.4/§5).
    src, dst = F.col(a_col), F.col(b_col)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(src.alias("src"), dst.alias("dst")),
                    F.struct(dst.alias("src"), src.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_sym = sym.count()
    if n_sym <= _SMALL_GRAPH_EDGES:
        node_t = sym.schema["src"].dataType.simpleString()

        def _contract(batches):
            import numpy as np
            import pandas as pd

            srcs, dsts = [], []
            for pdf in batches:
                srcs.append(pdf["src"].to_numpy())
                dsts.append(pdf["dst"].to_numpy())
            if not srcs:
                return
            src = np.concatenate(srcs)
            dst = np.concatenate(dsts)
            # factorize: nodes sorted ascending, so the min label INDEX
            # is also the min node id — index-space mins are id-space mins.
            nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
            e_src, e_dst = inv[: len(src)], inv[len(src):]
            label = np.arange(len(nodes), dtype=np.int64)
            while True:
                new = label.copy()
                np.minimum.at(new, e_src, label[e_dst])  # one-hop neighbor min
                new = np.minimum(new, new[new])  # pointer jump (path halving)
                if np.array_equal(new, label):
                    break
                label = new
            yield pd.DataFrame({"node": nodes, "component": nodes[label]})

        return sym.repartition(1).mapInPandas(_contract, f"node {node_t}, component {node_t}")

    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.col("component").alias("prev_component"),
            F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias("component"),
        )
        # pointer jumping (path halving): adopt the component's own
        # component, contracting label chains exponentially — O(log n)
        # rounds instead of O(diameter). Two jumps per round (round 11,
        # guide §2 iteration count / §5 driver jobs): each extra jump is
        # one more labels-sized join INSIDE the round but compounds the
        # contraction (~5x chain shortening per round vs ~2.5x), so the
        # expensive per-round fixed costs — the edges-side neighbor-min
        # shuffle, the checkpoint, the convergence count — are paid
        # ~40% fewer times (CC_CHAIN_AB_r11.json). The fixpoint (min
        # reachable id per node) is unchanged: jumps only accelerate the
        # monotone descent, and the loop still exits on changed == 0.
        cur = stepped
        for _jump in range(_CC_JUMPS):
            lk = cur.select(F.col("node").alias("jnode"), F.col("component").alias("jcomp"))
            cur = cur.join(lk, cur.component == lk.jnode, "left").select(
                "node",
                "prev_component",
                F.least(F.col("component"), F.coalesce(F.col("jcomp"), F.col("component"))).alias("component"),
            )
        new_labels = cur.localCheckpoint(eager=True)
        # convergence test is a scan of the just-materialized checkpoint —
        # prev label rides along as a column, so no join against the old
        # frame and no extra shuffle.
        changed = new_labels.filter(F.col("component") != F.col("prev_component")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels


# -- embedding similarity ---------------------------------------------------

# |double_dot - exact_dot| for a 64-term sum of O(1) products is ~1e-14;
# the refine band is 2e-9 — five orders of margin, so the fast prune is
# lossless (see _refine_topk proof sketch).
_REFINE_EPS = 2e-9


def _refine_topk(scored: DataFrame, part_col: str, fast_col: str, k: int) -> DataFrame:
    """Lossless top-k pre-selection on a fast (double) score.

    Keeps every row whose fast score is within ``_REFINE_EPS`` of the
    k-th best fast score in its partition; the exact top-k is provably
    inside this set: any excluded row e has fast_e < kth_fast - eps, so
    exact_e < kth_fast - eps + err; meanwhile k kept rows each have
    exact >= kth_fast - err — with eps > 2*err, e can never displace
    them. Callers compute the expensive exact score on the survivors
    only (typically exactly k rows) and re-rank."""
    w_fast = Window.partitionBy(part_col).orderBy(F.desc(fast_col))
    w_part = Window.partitionBy(part_col)
    with_rank = scored.withColumn("__rnf__", F.row_number().over(w_fast))
    kth = F.max(F.when(F.col("__rnf__") == k, F.col(fast_col))).over(w_part)
    return (
        with_rank.withColumn("__kth__", kth)
        .filter(F.col(fast_col) >= F.coalesce(F.col("__kth__"), F.lit(float("-inf"))) - _REFINE_EPS)
        .drop("__rnf__", "__kth__")
    )


def vector_norms(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(F.col(id_col).alias("vec_id"), F.sqrt(dot_dec(vec_col, vec_col)).alias("nrm"))


def embedding_neardup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    n_bands: int = 8,
    bits_per_band: int = 8,
) -> DataFrame:
    """Sign-bit hyperplane banding (axis-aligned SRP-LSH) + exact-cosine
    verification on candidates only. The shuffle is keyed on (band,
    value), never all-pairs."""
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sign_bit = lambda i: F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_idx"),
                sum(
                    (sign_bit(bits_per_band * k + j) * F.lit(1 << j) for j in range(1, bits_per_band)),
                    sign_bit(bits_per_band * k),
                ).alias("band_val"),
            )
            for k in range(n_bands)
        ]
    )
    bands = e.select("vec_id", F.explode(band_structs).alias("b")).select(
        "vec_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_val") == F.col("bb.band_val"))
            & (F.col("ba.vec_id") < F.col("bb.vec_id")),
        )
        .select(F.col("ba.vec_id").alias("vec_a"), F.col("bb.vec_id").alias("vec_b"))
        .distinct()
    )
    norms = vector_norms(e, "vec_id", "embedding")
    x = e.join(norms, "vec_id").select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    y = e.join(norms, "vec_id").select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    # two-phase verify: a plain-double cosine prunes candidates first
    # (decimal arithmetic is ~10x the cost of double); the epsilon band
    # makes the prune lossless — a 64-term double dot's error is ~1e-13
    # relative, far inside 1e-9 — then the exact decimal cosine decides.
    fast = dot_double("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .filter(fast >= threshold - 1e-9)
        .withColumn("cosine", dot_dec("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def cosine_topk(emb: DataFrame, id_col: str, vec_col: str, probe: Column, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): the probe side
    broadcasts; base vectors stream through one codegen stage."""
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    norms = vector_norms(e, "vec_id", "embedding")
    probe_df = (
        e.filter(probe)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .join(norms.withColumnRenamed("vec_id", "query_id").withColumnRenamed("nrm", "q_nrm"), "query_id")
    )
    base = e.join(norms, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"), F.col("nrm").alias("n_nrm")
    )
    scored = (
        F.broadcast(probe_df)
        .crossJoin(base)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_fast", dot_double("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm")))
    )
    # exact decimal only near the top-k boundary (lossless, see _refine_topk)
    cand = _refine_topk(scored, "query_id", "cos_fast", k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cosine", dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_ann(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    probe: Column,
    centroids: DataFrame | None = None,
    centroid_filter: Column | None = None,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-bucketed approximate nearest neighbor (the scale path).

    ``centroids`` is the coarse codebook — at 100 TB it comes from an
    offline k-means and broadcasts, exactly as here; for the bench a
    fixed subset of vectors (``centroid_filter``) stands in. Every vector
    is assigned to its argmax-inner-product cell in ONE broadcast-join
    pass; a probe searches only its top-``nprobe`` cells.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if centroids is None:
        if centroid_filter is None:
            raise ValueError("pass centroids= or centroid_filter=")
        centroids = e.filter(centroid_filter).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
        )
    # cell scoring in fast double, exact decimal only for the ~nprobe
    # surviving cells per vector (lossless — see _refine_topk)
    fast_cells = e.crossJoin(F.broadcast(centroids)).withColumn(
        "dot_fast", dot_double("embedding", "c_emb")
    )
    cand_cells = _refine_topk(fast_cells, "vec_id", "dot_fast", nprobe)
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("cent_id"))
    ranked = cand_cells.withColumn("dot", dot_dec("embedding", "c_emb")).withColumn(
        "rn", F.row_number().over(w_assign)
    )
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", F.col("cent_id").alias("cell"))
    probes = (
        ranked.filter(probe & (F.col("rn") <= nprobe))
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    )
    cand = probes.join(assign.withColumnRenamed("vec_id", "neighbor_id"), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    norms = vector_norms(e, "vec_id", "embedding")
    q = e.join(norms, "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    n = e.join(norms, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"), F.col("nrm").alias("n_nrm")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .withColumn("cos_fast", dot_double("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm")))
    )
    top = _refine_topk(scored, "query_id", "cos_fast", k)
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        top.withColumn("cosine", dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm")))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def word_tokens(text_col: str) -> str:
    """SQL text of the whitespace-split token array of ``text_col``, empty
    tokens dropped. Materialize it in a select() BEFORE using it inside
    any transform/filter lambda: Spark does not common-subexpression-
    eliminate outer expressions captured inside a lambda (see
    :func:`word_ngrams_of`). Catalyst's CollapseProject can still
    re-inline it through an alias, so per-element work should use
    capture-free builders (``text_ops._bigrams_of``)."""
    return f"filter(split({_sql_ident(text_col)}, ' '), t -> t != '')"


def word_ngrams(text_col: str, n: int) -> Column:
    """In-row array of word ``n``-grams (space-joined): whitespace-split,
    empty tokens dropped; documents shorter than ``n`` tokens yield an
    empty array. All inside whole-stage codegen — the gram arrays are
    built per row, so nothing explodes until the caller decides to."""
    return F.expr(word_ngrams_of(word_tokens(text_col), n))


def word_ngrams_of(toks: str, n: int) -> str:
    """SQL text of ``word_ngrams`` over an existing token-array
    expression ``toks`` (a SQL fragment; plain column names are quoted).

    PERF NOTE: pass a plain column REFERENCE (materialize the token
    array in a prior select), not a computed expression — Spark does not
    common-subexpression-eliminate outer expressions captured inside a
    lambda, so a computed ``toks`` here is re-evaluated once per GRAM
    (measured 2.7× on d9's corpus side)."""
    toks = _sql_ident(toks)
    # sequence(1, k) DESCENDS when k < 1 — guard short docs explicitly.
    return (
        f"CASE WHEN size({toks}) >= {n} "
        f"THEN transform(sequence(1, size({toks}) - {n - 1}), i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing at least one
    contiguous ``n``-token span with any held-out evaluation document —
    the published guard against test-set contamination in a training
    corpus (GPT-3 appendix C / The Pile use 13-gram overlap; ``n`` is the
    knob). Returns one row per contaminated corpus doc:
    ``(doc_id, n_shared_grams, n_eval_docs)``.

    Scale shape: an eval set is KBs against a 100 TB corpus, so its
    distinct ``(gram, eval_id)`` pairs BROADCAST; the corpus side is one
    map-side pipeline (in-row gram build → explode → broadcast hash join)
    and the only shuffle is the final per-doc aggregate, which carries
    matched docs only — a vanishing fraction of the corpus.
    """
    toks = F.expr(word_tokens(text_col))
    eg = (
        eval_df.select(F.col(id_col).alias("eval_id"), toks.alias("__toks__"))
        .select("eval_id", F.explode(F.expr(word_ngrams_of("__toks__", n))).alias("g"))
        .distinct()
    )
    cg = corpus.select(F.col(id_col).alias("doc_id"), toks.alias("__toks__")).select(
        "doc_id", F.explode(F.array_distinct(F.expr(word_ngrams_of("__toks__", n)))).alias("g")
    )
    return (
        cg.join(F.broadcast(eg), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


# --------------------------------------------------------------------------
# Blocked Bloom filter (VERDICT r8 directive #4): all k bit positions of
# a key live in ONE 64-bit word — the register-blocked variant of the
# split-block Bloom filter (Putze/Sanders/Singler 2007, "Cache-,
# hash- and space-efficient bloom filters"; parquet-format's
# split-block filter is the same idea at 256-bit blocks). A membership
# probe costs ONE random fetch into the bitmap (element_at of the key's
# word) instead of k DRAM-random fetches — at st16's 2^26-bit (8 MiB)
# filter probed once per CHARACTER of the corpus inside interpreted
# HOF lambdas, the k-fetch pattern was the residual super-linearity of
# the r8 100× curve. Cost: bit clumping raises the false-positive rate
# ~1.3-2× over the ideal independent-hash filter at the same m (the
# literature's measured penalty) — acceptable because every consumer
# treats the FP tail as deterministic contract replayed exactly by its
# oracle, and an exact pass downstream resolves flags.
#
# Derivation (ONE md5 per key, non-overlapping hex slices — the r8
# ADVICE's correlated-slice issue is structurally gone):
#   digest = md5(key)                       -- 32 hex chars
#   word   = int(digest[0:15], 16) % (m/64) -- 60 bits → block index
#   bit_i  = int(digest[15+5i : 20+5i], 16) % 64, i < k — 20 bits each
# Replayable in ANSI SQL:
#   (CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % (m // 64)) * 64
#   + CAST('0x' || substr(md5(g), 16 + 5*i, 5) AS BIGINT) % 64
# --------------------------------------------------------------------------


def _bloom_block_word(digest: str, m_bits: int) -> str:
    """SQL text of the 0-based word index of a key's block: hex chars
    1-15 (60 bits) of the md5 digest (the SQL fragment ``digest``), mod
    ``m_bits / 64``.

    Mirrors the build-side guard (ADVICE r9): a membership probe whose
    ``m_bits`` is not a positive multiple of 64 would silently floor the
    word count — a scheme mismatch against any filter built through
    :func:`bloom_build_bits` (which rejects such sizes), and
    ``m_bits < 64`` is a modulo-by-zero expression at runtime."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(
            f"blocked bloom m_bits must be a positive multiple of 64, got {m_bits}"
        )
    return f"(cast(conv(substring({digest}, 1, 15), 16, 10) as bigint) % {m_bits // 64})"


def _bloom_block_bit(digest: str, i: int) -> str:
    """SQL text of bit-in-word ``i`` of a key: 5 hex chars (20 bits) at offset
    ``16 + 5*i`` — disjoint from the word slice and from every other
    bit slice. Supports k_hashes ≤ 3 (slice 2 ends at hex char 30)."""
    if i > 2:
        raise ValueError("blocked bloom bit slices support k_hashes <= 3")
    return f"(cast(conv(substring({digest}, {16 + 5 * i}, 5), 16, 10) as bigint) % 64)"


#: auto-size clamp for :func:`bloom_auto_m_bits` — floor keeps tiny eval
#: sets on the historical 8 KB default; the cap (2^28 bits = 32 MiB of
#: longs) bounds the bitmap model state a session holds and ships. The
#: cap was 2^26 through r9 on the belief that the split-string plan
#: literal's SQL text was the binder past that; round-10 MEASURED the
#: alternatives (BLOOM150_r10.json + the litbench matrix in BASELINE):
#: the literal's real per-action cost is fold + JavaSerializer boxing of
#: the folded GenericArrayData into the task closure — ~1 s at 2^17
#: words, ~7-15 s at 2^21, LINEAR in words and INDEPENDENT of rows —
#: while every attribute-bound alternative (broadcast one-row array
#: join, scalar subquery materialized to a column) inlines the full
#: bitmap into EVERY row at the interpreted-HOF boundary (measured 570 s
#: vs ~90 s expected at the 150× probe; scalar subqueries are outright
#: illegal inside higher-order functions). The literal is therefore the
#: right plan at every size: corpora large enough to want 2^21+ words
#: run kernels that dwarf the fixed per-action cost. Cap raised to 2^28
#: = 2^22 words ≈ 30 s/action worst-case — acceptable against the
#: corpus scans such a filter implies, and the FP warning path stays for
#: anything larger.
_BLOOM_M_FLOOR = 1 << 16
_BLOOM_M_CAP = 1 << 28


def bloom_auto_m_bits(n_grams: int, k_hashes: int = 3) -> int:
    """Bloom bitmap size for ``n_grams`` distinct keys at ``k_hashes``
    hashes: the optimal-k inversion ``m ≈ n·k/ln 2`` computed in EXACT
    integer arithmetic (``n·k·10⁶ // 693147``, then the next power of
    two) so a SQL oracle can replay the identical size —
    ``power(2, length(bin(q)))`` in DuckDB matches ``1 << q.bit_length()``
    bit-for-bit (parity-tested over 0..10⁷ grams). Clamped to
    [2^16, 2^28]; warns when the cap truncates, because a saturated
    filter silently degrades to a pass-everything prefilter (round-5
    VERDICT "What's wrong" #2).

    Design point for the BLOCKED layout (ADVICE r9): confining all k
    bits to one 64-bit word raises the false-positive rate ~1.3-2× over
    the ideal independent-hash filter at the same m (the literature's
    measured blocked/split-block penalty). The sizing deliberately keeps
    the classic n·k/ln 2 formula rather than compensating with an extra
    doubling, because every consumer treats the FP tail as a
    DETERMINISTIC CONTRACT replayed bit-for-bit by its oracle and
    resolved by a downstream exact pass — the filter is a prefilter, not
    the verdict — and the next-power-of-two rounding already overshoots
    the formula by 1-2× on average, absorbing most of the blocked
    penalty. Callers that need the ideal-filter FP rate should pass an
    explicit ``m_bits`` one doubling up.
    """
    q = int(n_grams) * int(k_hashes) * 1_000_000 // 693_147
    m = (1 << q.bit_length()) if q > 0 else 1
    if m > _BLOOM_M_CAP:
        import warnings

        warnings.warn(
            f"bloom_auto_m_bits: {n_grams} grams want {m} bits but the cap is "
            f"{_BLOOM_M_CAP}; expect an elevated false-positive rate "
            f"(~{n_grams * k_hashes / _BLOOM_M_CAP:.1f} bits-set ratio)",
            stacklevel=2,
        )
        return _BLOOM_M_CAP
    return max(m, _BLOOM_M_FLOOR)


def bloom_build_bits(
    df: DataFrame, col: str, m_bits: int = 65536, k_hashes: int = 3
) -> list[int]:
    """Build a BLOCKED Bloom-filter bitmap over the distinct values of
    ``df[col]`` (see the blocked-scheme comment above — all ``k_hashes``
    bits of a key land in one 64-bit word).

    Returns the filter as ``m_bits / 64`` signed 64-bit words — MODEL
    STATE, like k-means centroids: the collect is bounded by
    ``m_bits / 64`` WORDS (1 KB of longs at the default; the word-keyed
    ``bit_or`` aggregate in :func:`_collect_bitmap_words` folds the
    position stream distributed), never by the data. Fit and membership
    (:func:`bloom_member_word`) MUST share the scheme or the
    no-false-negative guarantee breaks.
    """
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    digest = f"md5({_sql_ident(col)})"
    w = _bloom_block_word(digest, m_bits)
    pos = ", ".join(f"{w} * 64 + {_bloom_block_bit(digest, i)}" for i in range(k_hashes))
    return _collect_bitmap_words(df.select(F.explode(F.expr(f"array({pos})")).alias("p")), m_bits)


def bits_array_sql(words: list[int]) -> str:
    """SQL text of the bitmap-words array as a CONSTANT-FOLDED value —
    ONE string literal split+cast JVM-side, never ``F.lit(list)``.

    ``F.lit`` on a Python list marshals one py4j call per element and
    plants an ``array()`` node per word in every plan that uses it: at
    st16's 16K-word bitmap that was measured at **7.3 s of driver time
    per query build** plus ~0.3 s of re-folding per analysis — the
    dominant term of VERDICT r7 #1's 41 s, hiding OUTSIDE the executor
    timeline. One ``split('w0,w1,…')`` string costs 0.04 s to build and
    Catalyst constant-folds it to the identical array literal.

    The bloom kernels attach their bitmap this way at every size up to
    the 2^28 cap. A broadcast one-row-array join for bitmaps past 2^17
    words measured 570 s at the 150× probe where the literal
    extrapolates to ~90 s: an attribute-bound array column is INLINED
    into every row's UnsafeRow at the interpreted-HOF boundary (the bloom
    kernels are CodegenFallback lambdas, so the stage materializes rows;
    750k docs × 16 MB of copies = the whole wall). A scalar subquery
    avoids the join but is illegal inside higher-order functions
    (UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION),
    and materializing it to a column re-creates the same per-row copy.
    A folded Literal is the ONLY attachment whose value is one shared
    instance per task — its cost is fold + closure-serialization of the
    boxed array, ~1 s at 2^17 words and ~7-15 s at 2^21, linear in
    words, independent of rows (measured matrix in BASELINE r10)."""
    return "cast(split('" + ",".join(map(str, words)) + "', ',') as array<bigint>)"


def _collect_bitmap_words(pos: DataFrame, m_bits: int) -> list[int]:
    """OR a bit-position stream into ``m_bits / 64`` signed words — the
    bitmap assembly DISTRIBUTED (word-keyed `bit_or` aggregate), so the
    driver collects at most ``m_bits / 64`` rows (1M longs at the 2^26
    cap) instead of one row per distinct POSITION: at st16's 100× probe
    the position set is tens of millions of rows, and the previous
    row-at-a-time driver loop was a single-core multi-minute stall
    (observed load-average 1.0 during the fit). The shifted masks are
    already Spark-signed longs — no high-bit re-bias needed."""
    agg = (
        pos.select(
            (F.col("p") / F.lit(64)).cast("int").alias("w"),
            # F.shiftleft takes only a literal shift — the SQL form
            # accepts a column
            F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
    )
    words = [0] * (m_bits // 64)
    for r in agg.collect():
        words[r["w"]] = r["mask"]
    return words


def bloom_member_word(digest: str, word: str, k_hashes: int) -> str:
    """SQL text of the blocked membership test given the key's md5 HEX
    DIGEST and its ALREADY-FETCHED block word (``element_at(bits,
    word_index + 1)``, done exactly once by the caller — typically
    staged through a materialized ``struct(digest, word)`` array so
    interpreted HOF lambdas can't re-fetch it): all ``k_hashes`` bit
    tests are cheap substring/conv/bit arithmetic against the one local
    word — ZERO additional bitmap fetches, zero additional hashing. Both
    arguments are SQL fragments."""
    return " AND ".join(
        f"(bit_get({word}, cast({_bloom_block_bit(digest, i)} as int)) = 1)"
        for i in range(k_hashes)
    )


def _bloom_fetch_word(digest: str, bitmap_words: list[int], m_bits: int) -> str:
    """SQL text of the one bitmap fetch of a key: its block word in the
    bitmap literal (see :func:`bits_array_sql`)."""
    index = _bloom_block_word(digest, m_bits)
    return f"element_at({bits_array_sql(bitmap_words)}, cast({index} as int) + 1)"


def _bloom_word_stage(bitmap_words: list[int], m_bits: int) -> str:
    """SQL text of the word-fetch stage of the bloom kernels over the
    staged digest array ``__dg__``: ``struct(digest, block word)`` per
    element, ONE bitmap fetch each. The bitmap is attached as the
    constant-folded plan literal (see :func:`bits_array_sql` —
    attribute-bound arrays inline per row at the interpreted-HOF
    boundary)."""
    return f"transform(__dg__, d -> named_struct('d', d, 'w', {_bloom_fetch_word('d', bitmap_words, m_bits)}))"


def bloom_member(value: str, bitmap_words: list[int], m_bits: int, k_hashes: int) -> Column:
    """Convenience one-shot blocked membership test of column ``value``
    against a Bloom bitmap: md5 once, fetch the block word, test the
    ``k_hashes`` bits — no join, no shuffle. For HOT paths (per-gram /
    per-char loops inside interpreted HOF lambdas, which re-evaluate
    every subexpression per reference) do NOT use this: stage the digest
    and the fetched word through materialized arrays and call
    :func:`bloom_member_word` (the bloom_flag / bloom_span_flag shape)."""
    digest = f"md5(`{value}`)"
    word = _bloom_fetch_word(digest, bitmap_words, m_bits)
    return F.expr(bloom_member_word(digest, word, k_hashes))


def bloom_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    m_bits: int | None = None,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination: :func:`decontaminate`'s at-scale form.

    d9 broadcasts the eval set's exact ``(gram, eval_id)`` pairs; that
    broadcast grows with the eval corpus. Here the eval grams are folded
    into a bounded Bloom bitmap (``m_bits=None`` auto-sizes via
    :func:`bloom_auto_m_bits` from the eval-side distinct-gram count —
    one cheap count over the gram subplan the build needs anyway — so a
    10⁶-gram eval suite no longer saturates the historical 8 KB default
    into a pass-everything no-op), and the corpus side
    becomes a ZERO-JOIN map-side projection: each doc counts its distinct
    ``n``-grams whose ``k_hashes`` bit positions are all set. Returns
    ``(doc_id, hit_grams)`` for flagged docs only.

    Bloom guarantees no false negatives — every truly contaminated doc is
    flagged (unit-tested against d9) — and a tunable false-positive tail
    that a downstream exact pass (d9 itself) resolves. The only shuffle
    anywhere is the eval-side distinct while BUILDING the filter.
    """
    words, m_bits = bloom_fit(eval_df, text_col, n=n, m_bits=m_bits, k_hashes=k_hashes)
    return bloom_flag(corpus, id_col, text_col, words, m_bits, n=n, k_hashes=k_hashes)


def bloom_fit(
    eval_df: DataFrame,
    text_col: str,
    n: int = 8,
    m_bits: int | None = None,
    k_hashes: int = 3,
) -> tuple[list[int], int]:
    """Build the decontamination Bloom filter over ``eval_df``'s distinct
    word ``n``-grams. Returns ``(bitmap_words, m_bits)`` — bounded MODEL
    STATE (see :func:`bloom_build_bits`), so the fit runs once batch-side
    and the bitmap ships as a literal to any consumer, including a
    streaming plan (st14)."""
    grams = (
        eval_df.select(F.expr(word_tokens(text_col)).alias("__toks__"))
        .select(F.explode(F.array_distinct(F.expr(word_ngrams_of("__toks__", n)))).alias("g"))
        .distinct()
    )
    if m_bits is None:
        # the sizing count and the position build both consume the gram
        # subplan — persist the narrow one-column distinct set (size-
        # guarded: eval corpora are small by nature, but don't cache one
        # that isn't) so it executes once, not twice
        grams = _size_guarded_persist(eval_df, grams)
        m_bits = bloom_auto_m_bits(grams.count(), k_hashes)
    return bloom_build_bits(grams, "g", m_bits, k_hashes), m_bits


def bloom_flag(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    bitmap_words: list[int],
    m_bits: int,
    n: int = 8,
    k_hashes: int = 3,
) -> DataFrame:
    """Flag corpus docs whose distinct word ``n``-grams hit the blocked
    Bloom bitmap: a PURE per-row projection — no join, no shuffle, no
    state — so the identical plan is legal on a batch frame AND a
    readStream frame (st14's streaming decontamination). Returns
    ``(doc_id, hit_grams)`` for flagged docs.

    Kernel shape (the bloom_span_flag staging discipline): interpreted
    HOF lambdas re-evaluate every subexpression per reference, so the
    per-gram hot path stages through MATERIALIZED arrays — gram array,
    then ``struct(digest, block word)`` with ONE md5 and ONE bitmap
    ``element_at`` per gram — and the membership test against the
    staged struct is pure local bit arithmetic
    (:func:`bloom_member_word`)."""
    member = bloom_member_word("x.d", "x.w", k_hashes)
    # explode-as-filter (see bloom_span_flag): a Filter here would be
    # predicate-pushed to the scan WITH the whole hits kernel inlined —
    # every gram membership-tested twice per doc.
    return (
        corpus.selectExpr(f"{_sql_ident(id_col)} AS doc_id", f"{word_tokens(text_col)} AS __toks__")
        .selectExpr("doc_id", f"array_distinct({word_ngrams_of('__toks__', n)}) AS __g__")
        .selectExpr("doc_id", "transform(__g__, g -> md5(g)) AS __dg__")
        .selectExpr("doc_id", f"{_bloom_word_stage(bitmap_words, m_bits)} AS __dw__")
        .selectExpr("doc_id", f"cast(size(filter(__dw__, x -> {member})) as bigint) AS __hg__")
        .selectExpr(
            "doc_id",
            "explode(CASE WHEN __hg__ > 0 THEN array(__hg__) "
            "ELSE cast(array() as array<bigint>) END) AS hit_grams",
        )
    )


# cross_group_overlap's in-row ceiling: up to 1024 distinct groups the
# per-key group set is expanded in-row, past it the self-join runs.
_MAX_INROW_GROUPS = 1024


def cross_group_overlap(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Pairwise overlap matrix between groups: for every unordered group
    pair ``(a < b)``, how many distinct ``key_col`` values occur in both.

    The dedup-analysis companion to :func:`exact_dedup`: run it on a
    content fingerprint keyed by ``source``/``domain`` and the matrix
    names WHERE the duplication lives (mirror sites, cross-source
    scrapes) before any rows are dropped.

    ADAPTIVE (the d2/d7 router pattern): per-key work of the in-row
    shape is quadratic in the number of groups sharing that key — a hot
    key shared by 10⁴ groups would materialize a 5·10⁷-struct array in
    ONE row. One cheap column-pruned ``count_distinct(group)`` routes:

    - ``≤ _MAX_INROW_GROUPS`` (sources, languages, shards — the common
      case): ONE aggregate shuffle on the key (``collect_set`` dedupes
      map-side, no separate distinct pass), then in-row expansion of the
      sorted group set into ordered pairs and a matrix-sized aggregate —
      no self-join.
    - beyond it (per-domain, millions of groups): the fp-keyed
      SELF-JOIN — distinct ``(key, group)`` once, join on the key with
      ``group_a < group_b``, aggregate. Shuffles the same pair multiset
      but never materializes a per-key group array; skewed keys are
      AQE's ordinary skew-join case rather than a single giant row.

    Both shapes emit the identical matrix (equality is unit-tested; the
    registered oracle IS the self-join formulation).
    """
    n_groups = df.select(F.col(group_col)).agg(F.count_distinct(group_col)).collect()[0][0]
    if n_groups > _MAX_INROW_GROUPS:
        h = df.select(
            F.col(key_col).alias("__k__"), F.col(group_col).alias("__g__")
        ).distinct()
        return (
            h.alias("a")
            .join(
                h.alias("b"),
                (F.col("a.__k__") == F.col("b.__k__")) & (F.col("a.__g__") < F.col("b.__g__")),
            )
            .groupBy(
                F.col("a.__g__").alias("group_a"), F.col("b.__g__").alias("group_b")
            )
            .agg(F.count(F.lit(1)).alias("shared_keys"))
        )
    arr = F.array_sort(F.collect_set(F.col(group_col)))
    grouped = df.groupBy(F.col(key_col).alias("__k__")).agg(arr.alias("__gs__"))
    gs = F.col("__gs__")
    pairs = F.flatten(
        F.transform(
            gs,
            lambda x, i: F.transform(
                F.slice(gs, i + F.lit(2), F.greatest(F.size(gs) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("group_a"), y.alias("group_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.group_a", "p.group_b")
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("shared_keys"))
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 5,
    prefix_block: int = 64,
) -> DataFrame:
    """Character-level near-dup pairs by bounded Levenshtein distance.

    Scale shape: candidates are generated by an EQUI-join on a
    deterministic blocking key (the first ``prefix_block`` characters),
    so the pair space shuffles by block instead of going all-pairs —
    the same candidate-then-verify discipline as the LSH operators, with
    the same explicitly-documented recall bound (an edit inside the
    prefix moves a document to another block). Within a block, a length
    band |len(a)-len(b)| <= max_dist prunes before any DP work, and the
    verify uses Spark's thresholded ``levenshtein(l, r, k)`` which
    early-exits the O(len^2) DP as soon as the bound is exceeded —
    JVM-side, whole-stage codegen, no UDF.
    """
    # Distinct-text discipline (same as the n-gram compare): the DP runs
    # once per distinct TEXT pair, never per doc pair — a 500-copy dup
    # cluster costs one group row, not 125k DP invocations. Identical
    # texts expand to within-group pairs at dist 0; distinct-text matches
    # expand to the id cross product, ordered doc_a < doc_b.
    groups = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .select(
            "text",
            "ids",
            F.substring("text", 1, prefix_block).alias("__blk__"),
            F.length("text").alias("__len__"),
        )
    )
    a, b = groups.alias("a"), groups.alias("b")
    band = F.abs(F.col("a.__len__") - F.col("b.__len__")) <= max_dist
    # The candidate join carries ONLY the cheap conditions; the DP runs
    # after a localCheckpoint lineage barrier. Without the barrier,
    # Catalyst pushes the dist filter into the join condition, where the
    # levenshtein expression lands ahead of the cheap guards and drops
    # the stage out of codegen — measured 16x slower at sf0.1. The
    # checkpointed set is the post-blocking candidates, i.e. exactly the
    # verify workload, so its size is bounded by design (same ruling as
    # the connected-components rounds in d6).
    cand = (
        a.join(b, (F.col("a.__blk__") == F.col("b.__blk__")) & (F.col("a.text") < F.col("b.text")) & band)
        .select(
            F.col("a.text").alias("ta"),
            F.col("b.text").alias("tb"),
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
        )
        .localCheckpoint(eager=False)
    )
    cross = (
        cand.withColumn("dist", F.levenshtein("ta", "tb", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(F.explode("ids_a").alias("ia"), "ids_b", "dist")
        .select("ia", F.explode("ids_b").alias("ib"), "dist")
        .select(
            F.least("ia", "ib").alias("doc_a"), F.greatest("ia", "ib").alias("doc_b"), "dist"
        )
    )
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), F.col("ids").alias("ids2"))
        .select("doc_a", F.explode("ids2").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.lit(0))
    )
    return cross.unionByName(within)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    capacity: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Next-fit sequence packing: assign documents to fixed-token-budget
    bins, the preprocessing step that turns a cleaned corpus into
    training examples (documents concatenated up to the model's context
    length). Within each group, documents are taken in ``id_col`` order;
    a document joins the current bin when it fits, else opens the next
    bin (a document larger than ``capacity`` gets a bin of its own).
    Returns the input group/id/size columns plus ``bin`` (0-based per
    group) and ``fill`` (bin occupancy after placement).

    Scale shape: packing is inherently sequential *within* a bin stream,
    so the parallel unit is the group — callers shard the corpus
    (e.g. ``group_cols=("lang", "shard")`` with a hash-derived shard) and
    each group packs independently inside one Arrow batch via
    ``applyInPandas``; the loop is per-group python over int64 arrays,
    bounded by the shard size the caller controls. This is the standard
    industrial shape: global next-fit across 100 TB would serialize the
    corpus, per-shard next-fit preserves the capacity invariant and
    parallelizes embarrassingly.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if not group_cols:
        raise ValueError("pack_sequences needs >= 1 group column (the parallel unit)")
    cols = [*group_cols, id_col, size_col]
    schema = StructType(
        [df.schema[c] for c in cols]
        + [StructField("bin", LongType()), StructField("fill", LongType())]
    )
    cap = int(capacity)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[cols].sort_values(id_col, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy()
        bins = np.empty(len(sizes), dtype=np.int64)
        fills = np.empty(len(sizes), dtype=np.int64)
        b, fill = 0, 0
        for i in range(len(sizes)):
            n = int(sizes[i])
            if i > 0 and fill + n <= cap:
                fill += n
            else:
                b += 1 if i > 0 else 0
                fill = n
            bins[i], fills[i] = b, fill
        return pdf.assign(bin=bins, fill=fills)

    return df.select(*cols).groupBy(*group_cols).applyInPandas(_pack, schema)


def _sqdist_dec_sql(a: str, b: str) -> str:
    return (
        f"cast(cast(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast((cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double)) as {DEC})), "
        f"cast(0 as {DEC}), (acc, x) -> cast((acc + x) as {DEC})) as string) as double)"
    )


def sqdist_dec(a: str, b: str) -> Column:
    """Exact-decimal squared-L2 distance of two double arrays (order-free
    fold, engine-independent bits — same policy as dot_dec). Args are SQL
    fragments (column names included), as for :func:`dot_dec`."""
    return F.expr(_sqdist_dec_sql(_sql_ident(a), _sql_ident(b)))


def sqdist_double(a: str, b: str) -> Column:
    """Plain double squared-L2 — fast pre-filter only (order-dependent
    last bits, so never emitted in results; pairs with _refine_topk).
    Args are SQL fragments, as for :func:`sqdist_dec`."""
    a, b = _sql_ident(a), _sql_ident(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def kmeans_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "c_emb",
) -> DataFrame:
    """Nearest-centroid assignment: each vector → argmin squared-L2 cell
    (ties break on centroid id). The centroid table is model state
    (k × dim doubles), so it BROADCASTS at any corpus scale; the scan
    side streams map-side — the only shuffle is the caller's.
    Returns ``(vec_id, cell, d2)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    c = centroids.select(F.col(cent_id_col).alias("cent_id"), F.col(cent_vec_col).alias("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    return (
        e.crossJoin(F.broadcast(c))
        .withColumn("d2", sqdist_dec("embedding", "c_emb"))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"), "d2")
    )


def _argmin_cell(vec_col: str, cents) -> Column:
    """In-row nearest-centroid cell from collected centroid Rows
    (``cent_id``/``c_emb``): min over (d2, cent_id) structs — the same
    ranking :func:`_coarse_route`'s window uses, expressed without a
    window so it is streaming-legal (st13's map-side routing against
    frozen quantizer state). One ``F.expr`` string: one py4j round-trip
    where the functions API took ~4 700 (≈0.8 s per plan build,
    CONSTR_PROFILE_r11.json). A None or non-finite centroid coordinate
    raises ValueError (see :func:`_sql_double`)."""
    v = _sql_ident(vec_col)
    structs = ", ".join(
        f"struct({_sqdist_dec_sql(v, _sql_double_array(r['c_emb']))} as d2, "
        f"cast({int(r['cent_id'])} as bigint) as cell)"
        for r in cents
    )
    return F.expr(f"array_min(array({structs})).cell")


def sq8_minmax(emb: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension (min, max) training stats for SQ8 scalar
    quantization (the FAISS ``SQ8`` codec's trained range). Plan shape:
    posexplode → groupBy(dim) with min/max PARTIAL-AGGREGATED map-side,
    so the shuffle carries partitions × dims rows, never corpus × dims;
    the result is MODEL STATE (dims rows) like a k-means codebook.
    min/max involve no arithmetic, so the values are engine-exact.
    Returns ``(dim, vmin, vmax, n)`` with 1-based dims; ``n`` counts the
    vectors contributing to the dim (uniform-dim corpora have one value
    of ``n`` — the raggedness probe :func:`_sq8_fit_encode` enforces,
    for free in the same partial agg)."""
    return (
        emb.select(F.posexplode(vec_col).alias("d0", "x"))
        .select((F.col("d0") + 1).alias("dim"), F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"), F.count(F.lit(1)).alias("n"))
    )


def _sq8_code(vec: str, vmin, vmax) -> Column:
    """Affine int8 codes: round((x − vmin) · 255 / (vmax − vmin)), a
    fixed IEEE-double op sequence both engines execute identically;
    ``round`` is half-away-from-zero in Spark and DuckDB alike, and the
    operands are nonnegative, so codes are bit-exactly replayable.
    Constant dimensions (vmax == vmin) code to 0. The range is trained
    on the corpus itself, so values never leave [vmin, vmax] and no
    clamp is needed.

    ``vmin``/``vmax`` are the positional range VALUE lists, rendered as
    array literals in one ``F.expr`` string (~30 py4j round-trips where
    the functions API took ~800-1 100 per encode projection,
    CONSTR_PROFILE_r11.json). A None or non-finite range value raises
    ValueError (see :func:`_sql_double`)."""
    v = _sql_ident(vec)
    mn, mx = _sql_double_array(vmin), _sql_double_array(vmax)
    return F.expr(
        f"transform({v}, (x, i) -> "
        f"case when element_at({mx}, i + 1) > element_at({mn}, i + 1) "
        f"then cast(round((cast(x as double) - element_at({mn}, i + 1)) * 255.0D "
        f"/ (element_at({mx}, i + 1) - element_at({mn}, i + 1))) as int) "
        f"else 0 end)"
    )


def sq8_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
) -> DataFrame:
    """SQ8 scalar-quantized L2 top-k: the OTHER standard production
    quantizer next to PQ (FAISS ``IndexScalarQuantizer``/SQ8) — every
    float32 dimension becomes one affine int8 code, a fixed 4× data
    reduction with near-exact recall, and distances become INTEGER
    arithmetic: d2 = Σ (c_i − q_i)², each term ≤ 255² and the sum far
    inside int64, so scoring is EXACT in both engines — no decimal
    machinery needed at all, the strongest oracle-replay story in the
    ANN family.

    Plan shape: the stats pass is one partial-aggregated shuffle to
    dims rows (:func:`sq8_minmax`, collected as model state); encoding
    is a zero-shuffle projection against the broadcast range literals;
    scoring joins corpus codes × broadcast quantized probes and folds
    the integer distance in one codegen-friendly pass; top-k is the
    usual per-query window. Corpus-linear per query like the s1 exact
    baseline — SQ8's production win is the 4× smaller scan (and at
    100 TB you compose it with IVF routing exactly like s6 composes
    PQ). Returns ``(query_id, neighbor_id, rank, d2)``.

    Measured recall@10 vs exact L2 top-10 at sf0.01 (500 vectors, 64
    dims, 5 probes): 0.88 mean (0.8–0.9 per query). The synthetic
    embeddings are near-uniform random, so true neighbors sit in a
    dense distance band where per-dimension quantization noise
    (range/255 ≈ half a ULP of the data spread) flips rank ties; on
    real clustered embeddings SQ8's published recall is ≥0.95, and the
    s7-style exact-refine composition recovers the remainder.
    """
    e, codes, qcodes = _sq8_fit_encode(emb, id_col, vec_col, probe)
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(qcodes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _sq8_d2().alias("d2"))
    )
    return _sq8_rank(scored, k)


def _sq8_check_stats(stats) -> None:
    """The vmin/vmax literals are positional (element_at(lit, i+1) == dim
    i+1's range), which is only sound when the collected stats cover
    dims 1..len contiguously AND every vector has every dim — ragged
    embeddings would silently misalign codes instead of erroring
    (round-5 ADVICE). posexplode makes dims structurally contiguous,
    but assert both anyway; the per-dim counts come free from the same
    partial agg. Shared by the inline path and the ann_index loaded
    path (which replays the checks on ranges read back from parquet)."""
    if stats and [r["dim"] for r in stats] != list(range(1, len(stats) + 1)):
        raise ValueError(
            f"sq8 stats dims are not contiguous 1..{len(stats)}: "
            f"{[r['dim'] for r in stats][:8]}…"
        )
    if len({r["n"] for r in stats}) > 1:
        raise ValueError(
            "sq8 requires uniform-dimension embeddings; per-dim counts differ "
            f"(min {min(r['n'] for r in stats)}, max {max(r['n'] for r in stats)})"
        )


def _sq8_train(emb: DataFrame, vec_col: str):
    """Collect + validate the SQ8 per-dimension range stats (model
    state: dims rows of ``(dim, vmin, vmax, n)``, ordered)."""
    # collected unordered, sorted driver-side: .orderBy on the dims-row
    # aggregate adds a range-partition sample job + full exchange before
    # the collect (same ruling as the vectorized-encode codebook sort)
    stats = sorted(sq8_minmax(emb, vec_col).collect(), key=lambda r: r["dim"])
    _sq8_check_stats(stats)
    return stats


def _sq8_range_literals(stats):
    """Positional vmin/vmax range VALUES from validated stats rows —
    plain lists; :func:`_sq8_code` renders them as array literals. A
    dimension that is null in every vector yields None (min/max of
    all-null), which :func:`_sq8_code` rejects with a ValueError."""
    return (
        [None if r["vmin"] is None else float(r["vmin"]) for r in stats],
        [None if r["vmax"] is None else float(r["vmax"]) for r in stats],
    )


def _sq8_fit_encode(emb, id_col, vec_col, probe):
    """Shared SQ8 train+encode: collect the per-dimension range (model
    state, dims rows), encode corpus and probes as zero-shuffle
    projections against the broadcast range literals. Returns
    ``(e, codes[vec_id, codes], qcodes[query_id, qcodes])``."""
    stats = _sq8_train(emb, vec_col)  # model state: dims rows
    vmin_vals, vmax_vals = _sq8_range_literals(stats)
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = e.select("vec_id", _sq8_code("embedding", vmin_vals, vmax_vals).alias("codes"))
    qcodes = (
        e.filter(probe)
        .select(
            F.col("vec_id").alias("query_id"),
            _sq8_code("embedding", vmin_vals, vmax_vals).alias("qcodes"),
        )
    )
    return e, codes, qcodes


def _sq8_d2() -> Column:
    """Integer squared-L2 over SQ8 code arrays ``codes``/``qcodes`` —
    every term ≤ 255², the sum far inside int64, bit-exact anywhere.
    One ``F.expr`` string (see the kernel note above dot_dec)."""
    return F.expr(
        "aggregate(zip_with(codes, qcodes, (a, b) -> cast((a - b) * (a - b) as long)), "
        "cast(0 as long), (acc, x) -> acc + x)"
    )


def _sq8_rank(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def ivf_sq8_topk(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-routed SQ8 search (FAISS ``IndexIVFScalarQuantizer``): the
    composition that makes :func:`sq8_topk` scale, exactly as
    :func:`ivfadc_topk` (s6) does for PQ. The flat SQ8 scan scores every
    corpus code per query; here queries route through the shared coarse
    quantizer (:func:`_coarse_route` — the same ranking feeds corpus
    assignment and query routing, so ties can never disagree) and score
    only the codes in their ``nprobe`` nearest cells: per-query work is
    ``nprobe / n_cells`` of the corpus.

    Plan shape: coarse assignment is the s2/s6 broadcast-codebook pass;
    corpus SQ8 codes join their cell on ``vec_id`` (one vec_id-keyed
    shuffle, corpus-linear); the (query, cell, qcodes) routing table is
    model state (queries × nprobe rows) and BROADCASTS, so candidate
    generation is a broadcast hash join on ``cell`` — no corpus × queries
    cross join anywhere. Scoring is :func:`sq8_topk`'s pure-int64 fold,
    bit-exactly oracle-replayable; distances within the probed cells are
    IDENTICAL to the flat scan's (same codes, same arithmetic), so
    routing changes only which candidates are seen, never how they
    score. Returns ``(query_id, neighbor_id, rank, d2)``.

    Measured recall@10 vs exact L2 top-10 at sf0.01 (500 vectors, 64
    dims, 8 coarse cells, nprobe=2, 5 probes): 0.86 mean vs the flat
    :func:`sq8_topk`'s 0.88 — the cell restriction costs 0.02 recall
    while scoring ~nprobe/n_cells = 1/4 of the corpus; at scale the
    reduction is n_cells/nprobe with recall set by the SQ8 codes, not
    the routing, until nprobe shrinks toward 1.
    """
    e, codes, qcodes = _sq8_fit_encode(emb, id_col, vec_col, probe)
    assign, probe_cells = _coarse_route(e, coarse_centroids, probe, nprobe)
    corpus = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    routed = probe_cells.join(qcodes, "query_id")  # model state: queries × nprobe
    scored = (
        corpus.join(F.broadcast(routed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _sq8_d2().alias("d2"))
    )
    return _sq8_rank(scored, k)


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd iterations: init = vectors of the ``k``
    smallest ids, then ``n_iter`` rounds of (assign → recompute means).
    Returns ``(assignment DataFrame, final centroids)``.

    Scale shape (the same as Spark MLlib's KMeans): centroids are MODEL
    state — k × dim doubles — collected to the driver each round and
    re-broadcast; the data side never moves. The mean update aggregates
    per (cell, dimension) with exact-decimal sums (posexplode → one
    shuffle per round keyed on k × dim groups), so results are
    independent of partitioning/merge order — reruns and different
    cluster layouts produce identical centroids.
    """
    spark = emb.sparkSession
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cents = [[float(x) for x in r.embedding] for r in e.orderBy("vec_id").limit(k).collect()]
    assign = None
    for _ in range(n_iter):
        cent_df = spark.createDataFrame(
            list(enumerate(cents)), "cent_id int, c_emb array<double>"
        )
        assign = kmeans_assign(e, cent_df, "vec_id", "embedding")
        dims = (
            assign.join(e, "vec_id")
            .select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("x").cast("double").cast(DEC)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("cell", "pos", (F.col("s").cast("string").cast("double") / F.col("n")).alias("m"))
        )
        rows = dims.groupBy("cell").agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        ).collect()
        new = {int(r.cell): [float(p.m) for p in r.pm] for r in rows}
        # empty cells keep their previous centroid (standard Lloyd choice)
        cents = [new.get(i, v) for i, v in enumerate(cents)]
    return assign, cents


def pq_train(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    k: int = 16,
    n_iter: int = 3,
) -> DataFrame:
    """Deterministic per-subspace Lloyd training of a PQ codebook (the
    training step of Jégou et al., TPAMI 2011 — what FAISS's
    ``ProductQuantizer::train`` does): for every subspace, k-means its
    subvectors with init = the subvectors of the ``k`` smallest ids and
    ``n_iter`` fixed assign→mean rounds. Returns a ``k``-row codebook
    DataFrame ``(cent_id, c_emb)`` in CONCATENATED form — row ``j``'s
    subspace-``s`` slice is subspace ``s``'s centroid ``j`` — which
    :func:`pq_encode` / :func:`_pq_lut` slice back apart, so trained
    sub-codebooks drop into every existing PQ/ADC composition unchanged.

    Determinism contract (what makes the result oracle-replayable, the
    same discipline as :func:`kmeans_lloyd`): assignment distances are
    exact-decimal with centroid-id tiebreaks; the mean update sums each
    dimension in exact decimal and performs ONE double division per
    (cell, dim); empty cells keep their previous sub-centroid. Every
    step is a fixed IEEE/decimal op sequence, so a SQL replay of the
    same iterations produces bit-identical centroids.

    Scale shape: centroids are MODEL state (k × dim doubles) collected
    per round and re-broadcast; each round's E-step is the CERTIFIED
    vectorized encode (:func:`_pq_encode_vectorized` — one zero-shuffle
    Arrow pass, bit-identical to the decimal plan; measured 3× the
    decimal crossJoin's speed at k=64 × S=16), and the M-step is ONE
    vec_id-keyed join + ONE (cell, dim)-keyed exact-decimal aggregate
    whose output is k × dim rows. At 100 TB, train on a sample (pass
    ``emb.sample(...)``) — the standard PQ practice — and encode the
    full corpus with the returned model-state codebook.
    """
    spark = emb.sparkSession
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # the training frame is consumed 1 + 2·n_iter times (init collect,
    # then encode + mean-join per round) — when it is a DERIVED plan
    # (s8's residual frame) each consumer re-executes its joins, so it
    # gets the shared size-guarded cache (recompute above the cap: at
    # 100 TB training reads a sample anyway)
    from medvedi_spark.operators._persist import size_guarded_persist

    e = size_guarded_persist(emb, e)
    init = sorted(
        ((r.vec_id, [float(x) for x in r.embedding]) for r in e.orderBy("vec_id").limit(k).collect()),
        key=lambda t: t[0],
    )
    cents = [v for _, v in init]
    dim = len(cents[0])
    for _ in range(n_iter):
        cent_df = spark.createDataFrame(
            list(enumerate(cents)), "cent_id int, c_emb array<double>"
        )
        codes = _pq_encode_vectorized(
            e, cent_df, "vec_id", "embedding", n_subspaces,
            "cent_id", "c_emb", dense=False,
        )
        assigned = codes.join(e, "vec_id")
        cells = F.array(*[F.col(f"code{s}") for s in range(n_subspaces)])
        longf = assigned.select(
            cells.alias("__cells__"),
            (F.size("embedding") / n_subspaces).cast("int").alias("__sd__"),
            F.posexplode("embedding").alias("p0", "x"),
        )
        s_col = F.floor(F.col("p0") / F.col("__sd__")).cast("int")
        stats = (
            longf.withColumn("__s__", s_col)
            .filter(F.col("__s__") < n_subspaces)
            .select(
                F.element_at("__cells__", F.col("__s__") + 1).alias("cell"),
                F.col("p0").alias("p"),
                F.col("x").cast("double").alias("x"),
            )
            .groupBy("cell", "p")
            .agg(F.sum(F.col("x").cast(DEC)).alias("sm"), F.count(F.lit(1)).alias("n"))
            .select(
                "cell", "p",
                (F.col("sm").cast("string").cast("double") / F.col("n")).alias("m"),
            )
            .collect()
        )
        new = {(int(r.cell), int(r.p)): float(r.m) for r in stats}
        cents = [
            [new.get((j, p), cents[j][p]) for p in range(dim)] for j in range(k)
        ]
    # dims >= subdim * n_subspaces (when dim % n_subspaces != 0) lie
    # outside every subspace slice, so no mean row exists for them and
    # they pass through from the init — matching pq_encode, which never
    # reads them either.
    return spark.createDataFrame(list(enumerate(cents)), "cent_id int, c_emb array<double>")


# Certification slack for the vectorized PQ encode (see
# _pq_encode_vectorized): per element the decimal kernel rounds the
# double squared-diff to 10 dp (|err| <= 5e-11); the float64 batch sum
# and the final decimal->string->double cast add O(ulp) on top. Any
# candidate within 2x this of the per-(row, subspace) float64 minimum
# is re-judged by the exact Python-decimal replica instead of trusted
# to float64 — the same eps-margin argument as _refine_topk.
_PQ_CERT_SLACK_PER_ELEM = 1.1e-10
_PQ_CERT_SLACK_REL = 1e-12


def _pq_sqdist_cmp_exact(xs, cs) -> float:
    """Python replica of :func:`sqdist_dec`'s COMPARISON value for one
    (row-slice, centroid-slice) pair: per element, diff and square in
    IEEE float64 (bit-identical to Spark's double ops), round the square
    to ``decimal(28,10)`` via the shortest round-trip representation
    (``repr`` == Java ``Double.toString``, the route Spark's
    double→decimal cast takes) with HALF_UP, sum exactly, then one
    string→double cast. Used only for near-tie candidates the float64
    certification can't separate."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-10)
    tot = Decimal(0)
    for x, c in zip(xs.tolist(), cs.tolist()):
        d = x - c
        sq = d * d
        tot += Decimal(repr(sq)).quantize(q, rounding=ROUND_HALF_UP)
    return float(str(tot))


def _pq_encode_vectorized(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int,
    cent_id_col: str,
    cent_vec_col: str,
    dense: bool,
    force_exact: bool = False,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Arrow-vectorized PQ encoding: numpy float64 argmin per subspace
    with a certified error bound; candidates the bound can't separate
    from the winner are re-judged by :func:`_pq_sqdist_cmp_exact`, so the
    emitted codes are BIT-IDENTICAL to the default decimal path (and the
    DuckDB oracle) while the hot loop is one einsum-shaped batch op
    instead of ~corpus × k interpreted decimal folds (measured at sf0.1:
    consuming all 8 code columns cost 2.9 s decimal vs ~0.4 s here).

    Scale shape: the codebook is MODEL STATE (k × dim, same ruling as
    kmeans_lloyd's centroid collect) — collected once, shipped in the
    closure; the corpus pass is ONE ``mapInPandas`` projection with ZERO
    shuffle (the decimal path pays a vec_id-keyed aggregate exchange).
    Degenerate rows (null / non-finite / short slices) reproduce the
    decimal path's observed all-null tie-break: lowest ``cent_id`` wins.
    Codebook preconditions are enforced here, loudly: unique ids, finite
    values, uniform dims. ``vec_id`` uniqueness is ASSUMED by default
    (the decimal path folds duplicate ids into one groupBy row; this path
    emits one row per input row, so duplicates would silently diverge) —
    pass ``assert_unique_ids=True`` to spend one count-distinct job
    verifying it before encoding.

    ``force_exact=True`` routes EVERY (row, subspace) through the
    Python-decimal replica — the equivalence-test hook proving the
    replica matches Spark's decimal kernel, never the production path.
    """
    import numpy as np

    spark = emb.sparkSession
    # codebook order established DRIVER-SIDE: a Spark .orderBy on this
    # k-row model-state frame pays a range-partition sampling job plus a
    # full shuffle-partition-count exchange before the collect (measured
    # 3 driver jobs / ~0.7 s per encode at sf0.1); pandas sort of the
    # collected rows is plan-free and identical for the unique ids this
    # function enforces (na_position='first' mirrors ASC NULLS FIRST).
    cb = (
        centroids.select(F.col(cent_id_col).alias("cent_id"), F.col(cent_vec_col).alias("c_emb"))
        .toPandas()
        .sort_values("cent_id", na_position="first", kind="mergesort")
        .reset_index(drop=True)
    )
    id_type = emb.select(F.col(id_col).alias("vec_id")).schema["vec_id"].dataType.simpleString()
    cid_type = (
        centroids.select(F.col(cent_id_col).alias("cent_id")).schema["cent_id"].dataType.simpleString()
    )
    code_type = "int" if dense else cid_type
    schema = ", ".join([f"vec_id {id_type}"] + [f"code{s} {code_type}" for s in range(n_subspaces)])
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if assert_unique_ids:
        dup = e.groupBy("vec_id").count().where(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError(
                "vectorized pq_encode emits one row per input row; duplicate "
                f"{id_col} values would diverge from the decimal path's groupBy fold"
            )
    if len(cb) == 0:
        # decimal path: crossJoin against an empty codebook -> no rows
        return spark.createDataFrame([], schema)
    cent_ids = cb["cent_id"].to_numpy()
    if len(np.unique(cent_ids)) != len(cent_ids):
        raise ValueError("vectorized pq_encode requires unique centroid ids")
    try:
        cmat = np.stack([np.asarray(v, dtype=np.float64) for v in cb["c_emb"]])
    except ValueError as exc:
        raise ValueError("vectorized pq_encode requires a uniform-dim codebook") from exc
    if not np.isfinite(cmat).all():
        raise ValueError("vectorized pq_encode requires finite centroids; use the default path")
    cb_dim = cmat.shape[1]
    subs = n_subspaces
    # Bind everything the worker closure needs as LOCALS: cloudpickle
    # serializes closure cells by value, but module-level names pickle as
    # references to medvedi_spark.operators.llm — unimportable on workers
    # when the driver loaded this repo by file path from another cwd
    # (the __spark_entry__ contract; caught by the /verify drive).
    slack_elem = _PQ_CERT_SLACK_PER_ELEM
    slack_rel = _PQ_CERT_SLACK_REL

    def cmp_exact(xs, cs) -> float:
        # nested duplicate of _pq_sqdist_cmp_exact: a nested def is
        # value-serialized by cloudpickle; the module-level twin (kept
        # for unit tests/docs) would pickle as an import reference
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-10)
        tot = Decimal(0)
        for x, c in zip(xs.tolist(), cs.tolist()):
            d = x - c
            sq = d * d
            tot += Decimal(repr(sq)).quantize(q, rounding=ROUND_HALF_UP)
        return float(str(tot))

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # default cidx 0 = lowest cent_id — the decimal path's
            # all-null-d2 tie-break for every degenerate case
            codes = np.zeros((subs, n), dtype=np.int64)
            lens = np.fromiter(
                ((len(v) if v is not None else -1) for v in pdf["embedding"]), dtype=np.int64, count=n
            )
            for dim in np.unique(lens):
                idx = np.flatnonzero(lens == dim)
                w = int(dim) // subs if dim > 0 else 0
                if w <= 0:
                    continue
                xmat = np.stack([np.asarray(pdf["embedding"].iloc[i], dtype=np.float64) for i in idx])
                for s in range(subs):
                    lo, hi = s * w, (s + 1) * w
                    if hi > cb_dim:
                        continue  # short centroid slice -> null d2 everywhere -> lowest cent_id
                    xs, cs = xmat[:, lo:hi], cmat[:, lo:hi]
                    finite = np.isfinite(xs).all(axis=1)
                    d2 = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
                    best = np.argmin(d2, axis=1)  # first occurrence = lowest cidx
                    dmin = d2[np.arange(len(idx)), best]
                    eps = w * slack_elem + slack_rel * (np.abs(dmin) + 1.0)
                    near = d2 <= (dmin + 2.0 * eps)[:, None]
                    ambiguous = near.sum(axis=1) > 1
                    if force_exact:
                        ambiguous = np.ones(len(idx), dtype=bool)
                        near = np.ones_like(near)
                    for j in np.flatnonzero(ambiguous & finite):
                        cand = np.flatnonzero(near[j])
                        best[j] = min((cmp_exact(xs[j], cs[ci]), ci) for ci in cand)[1]
                    best[~finite] = 0
                    codes[s, idx] = best
            data = {"vec_id": pdf["vec_id"]}
            for s in range(subs):
                data[f"code{s}"] = codes[s] if dense else cent_ids[codes[s]]
            yield pd.DataFrame(data)

    return e.mapInPandas(encode, schema)


def pq_encode(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "c_emb",
    dense: bool = False,
    vectorized: bool = False,
    _force_exact: bool = False,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``n_subspaces`` contiguous subvectors and replace each with the id of
    its nearest sub-codebook centroid — the compression step that turns a
    100 TB float corpus into bytes-per-vector codes for ADC-style ANN
    (Jégou et al., TPAMI 2011). Returns ``(vec_id, code0..code{S-1})``.

    Scale shape: the codebook is MODEL state (k × dim doubles) and
    broadcasts; all ``n_subspaces`` argmins share ONE broadcast
    nested-loop pass and ONE aggregate shuffle keyed on the vector id
    (8 × min_by in a single groupBy — not 8 joins). Ties break on
    centroid id, and subspace distances accumulate in exact decimal, so
    codes are bit-reproducible across partitionings and engines.

    ``dense=True`` emits DENSE POSITIONAL codes (0..k-1, the rank of the
    winning centroid id) instead of raw centroid ids — the form ADC
    scoring wants, so downstream lookups are pure ``element_at``
    arithmetic with no id→position translation. The position column is a
    ``row_number`` over the k-row codebook (model state; the
    single-partition window sorts k rows, not corpus rows).

    ``vectorized=True`` switches to :func:`_pq_encode_vectorized` — the
    same codes bit-for-bit, but computed as one zero-shuffle Arrow batch
    pass with the codebook collected as model state. Opt in when the
    codebook is a CHEAP base plan (collecting a derived plan executes
    its whole upstream pipeline at build time — the s8 residual-codebook
    trap); the decimal path stays the default and the oracle's shape.
    The vectorized path ASSUMES unique ``vec_id`` (the decimal path folds
    duplicates into one groupBy row; vectorized emits one row per input
    row) — ``assert_unique_ids=True`` spends one count job verifying.
    """
    if vectorized:
        return _pq_encode_vectorized(
            emb, centroids, id_col, vec_col, n_subspaces, cent_id_col, cent_vec_col, dense,
            force_exact=_force_exact, assert_unique_ids=assert_unique_ids,
        )
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    c = centroids.select(F.col(cent_id_col).alias("cent_id"), F.col(cent_vec_col).alias("c_emb"))
    if dense:
        c = c.withColumn("cidx", F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("cent_id")) - 1)
    cand = e.crossJoin(F.broadcast(c))
    aggs = []
    w_sql = f"cast((size(embedding) / {n_subspaces}) as int)"
    for s in range(n_subspaces):
        start_sql = f"(({w_sql} * {s}) + 1)"
        d2 = sqdist_dec(
            f"slice(embedding, {start_sql}, {w_sql})",
            f"slice(c_emb, {start_sql}, {w_sql})",
        )
        cand = cand.withColumn(f"__d{s}__", d2)
        aggs.append(
            F.min_by("cidx" if dense else "cent_id", F.struct(F.col(f"__d{s}__"), F.col("cent_id"))).alias(
                f"code{s}"
            )
        )
    return cand.groupBy("vec_id").agg(*aggs)


def _pq_lut(
    queries: DataFrame,
    centroids: DataFrame,
    n_subspaces: int,
    key_cols: tuple[str, ...] = ("query_id",),
    n_codes: int | None = None,
):
    """Shared ADC machinery for :func:`pq_adc_topk` / :func:`ivfadc_topk`:
    build the per-query dense LUT array (one flat ``array<double>`` per
    ``key_cols`` group, position = ``s * n_codes + cidx``) and the
    positional ``element_at`` scoring expression over
    ``code0..code{S-1}`` columns. Residual IVFADC passes
    ``key_cols=("query_id", "cell")`` — the query residual (and thus the
    LUT) differs per probed cell. Returns ``(lut_arr DataFrame[*key_cols,
    lut], d2_approx Column)``. The only driver-side model state is the
    codebook SIZE (one count)."""
    c = centroids.select(F.col("cent_id"), F.col("c_emb")).withColumn(
        "cidx", F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("cent_id")) - 1
    )
    if n_codes is None:
        # codebook size — the only model state collected. Pass n_codes
        # when the codebook is a DERIVED plan (s8's residual codebook):
        # counting such a plan executes its whole upstream pipeline as an
        # extra job at build time (round-5 code-review catch).
        n_codes = c.count()
    lut = queries.crossJoin(F.broadcast(c))
    # One ``F.expr`` string each for the per-subspace struct array, the
    # LUT fold and the scoring chain (see the kernel note above dot_dec:
    # composed through the functions API, this function alone was 2.86 s
    # of py4j chatter per serve-plan construction).
    w_sql = f"cast((size(q_emb) / {n_subspaces}) as int)"
    structs = []
    for s in range(n_subspaces):
        start = f"(({w_sql} * {s}) + 1)"
        d2_sql = _sqdist_dec_sql(
            f"slice(q_emb, {start}, {w_sql})", f"slice(c_emb, {start}, {w_sql})"
        )
        structs.append(f"struct({s} as s, {d2_sql} as d2)")
    sd = F.explode(F.expr(f"array({', '.join(structs)})"))
    lut = lut.select(*key_cols, "cidx", sd.alias("sd")).select(
        *key_cols, "cidx", F.col("sd.s").alias("s"), F.col("sd.d2").alias("d2")
    )
    # one flat array per key group, position = s * n_codes + cidx
    lut_arr = lut.groupBy(*key_cols).agg(
        F.expr(
            f"transform(array_sort(collect_list(struct(s * {n_codes} + cidx as p, d2 as v))), "
            f"x -> x.v)"
        ).alias("lut")
    )
    chain = f"cast(element_at(lut, {0 * n_codes} + code0 + 1) as {DEC})"
    for s in range(1, n_subspaces):
        term = f"cast(element_at(lut, {s * n_codes} + code{s} + 1) as {DEC})"
        chain = f"cast(({chain} + {term}) as {DEC})"
    return lut_arr, F.expr(chain)


def pq_adc_topk(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int | None = None,
    vectorized_encode: bool = False,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: queries stay
    full-precision, the corpus is its PQ codes, and each candidate's
    approximate distance is the sum over subspaces of a per-query lookup
    table LUT[s][code] = d2(query_sub_s, centroid_code) — the standard
    billion-scale ANN scoring loop (Jégou et al.).

    Scale shape: the LUT is (queries × k_codebook × subspaces) — model
    state, folded to ONE dense double ARRAY per query and broadcast;
    every (query, vector) score is then 8 O(1) positional array reads +
    a fixed-order exact-decimal fold inside a single codegen stage — the
    true ADC inner loop, with NO per-subspace shuffle or re-aggregation
    (a long-form join + groupBy shuffle grows with corpus × queries; a
    MAP-typed LUT is 5× slower because Spark map lookups LINEAR-SCAN the
    entries per read). Corpus codes come from ``pq_encode(dense=True)``
    and the LUT rows carry the same ``row_number``-derived position, so
    every lookup is pure positional arithmetic — no id→index translation
    anywhere (an earlier O(k) chained CASE WHEN per code column was a
    codegen blow-up at k=256: ~2k stacked whens per expression). The only
    driver-side model state is the codebook SIZE (one count).
    Decimal addition is exact (associative), so the fixed-order fold is
    bit-identical to the order-free SQL SUM the oracle runs.
    Returns ``(query_id, neighbor_id, rank, d2_approx)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = pq_encode(
        emb, centroids, id_col, vec_col, n_subspaces=n_subspaces, dense=True,
        vectorized=vectorized_encode,
    )
    queries = e.filter(probe).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    lut_arr, d2_approx = _pq_lut(queries, centroids, n_subspaces, n_codes=n_codes)
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(lut_arr))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", d2_approx.cast("string").cast("double").alias("d2_approx")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_approx"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2_approx")
    )


def _coarse_route(
    e: DataFrame, coarse_centroids: DataFrame, probe, nprobe: int,
    persist_routing: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF coarse routing: every vector's argmin-L2 cell
    (broadcast codebook) plus each probe's ``nprobe`` nearest cells —
    both derived from ONE ranking so corpus assignment and query routing
    can never disagree on ties. Cell scoring runs in fast double first;
    exact decimal only for the ~nprobe surviving cells per vector
    (lossless — see _refine_topk; negated distance because the refiner
    keeps top-k DESCENDING). Returns ``(assign[vec_id, cell],
    probe_cells[query_id, cell])``."""
    c = coarse_centroids.select(F.col("cent_id"), F.col("c_emb"))
    fast_cells = e.crossJoin(F.broadcast(c)).withColumn(
        "nd2_fast", -sqdist_double("embedding", "c_emb")
    )
    cand_cells = _refine_topk(fast_cells, "vec_id", "nd2_fast", max(nprobe, 1))
    w_cell = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    # The ranking feeds BOTH outputs as lineage branches that differ in
    # pruned columns, which ReuseExchange does NOT dedupe, so the
    # corpus × codebook scoring pass re-executes once per consumer.
    # ``persist_routing`` caches it projected to FOUR narrow columns
    # (~24 bytes × nprobe rows per vector vs 100s of bytes per input
    # vector — the IVF assignment table a production index materializes
    # anyway; the probe predicate is evaluated while e's columns are
    # still in scope). Measured interleaved in one session at sf0.1:
    # the cache write + lost pipelining costs ~0.3 s, each avoided
    # recompute saves ~0.8 s — a 1.6 s (40 %) win for residual IVFADC's
    # THREE consumers (res + corpus join + probe routing), a ~0.3 s
    # LOSS for plain IVFADC's two. Callers opt in at >= 3 consumers.
    ranked = (
        cand_cells
        .withColumn("d2", sqdist_dec("embedding", "c_emb"))
        .withColumn("__rn__", F.row_number().over(w_cell))
        .withColumn("__probe__", probe)
        .select("vec_id", F.col("cent_id").alias("cell"), "__rn__", "__probe__")
    )
    if persist_routing:
        ranked = _persist_tracked(ranked)
    assign = ranked.filter(F.col("__rn__") == 1).select("vec_id", "cell")
    probe_cells = (
        ranked.filter(F.col("__probe__") & (F.col("__rn__") <= nprobe))
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    return assign, probe_cells


def ivfadc_topk(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    pq_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 8,
    n_codes: int | None = None,
    vectorized_encode: bool = False,
) -> DataFrame:
    """IVFADC: inverted-file routing composed with ADC scoring (Jégou et
    al., TPAMI 2011 — the billion-scale ANN serving architecture). Fixes
    :func:`pq_adc_topk`'s scale flaw: a flat ADC scan scores EVERY corpus
    code for every query; here a query ADC-scores only the codes in its
    ``nprobe`` nearest coarse cells, so per-query work is
    ``nprobe / n_cells`` of the corpus instead of all of it.

    Plan shape: coarse assignment is one broadcast nested-loop pass over
    the coarse codebook (model state, argmin-L2 like
    :func:`kmeans_assign`); corpus PQ codes join their cell id on
    ``vec_id`` (vec_id-keyed shuffle, corpus-linear); the (query, cell)
    routing table × per-query LUT is model state and BROADCASTS, so
    candidate generation is a broadcast HASH join on ``cell`` — no
    corpus × queries cross join anywhere (with ``vectorized_encode``
    the codes side never joins at all: the PQ codebook is collected
    model state and encoding is one zero-shuffle Arrow pass; otherwise
    its only crossJoin is against the k-row codebook). Scoring reuses
    the dense positional ``element_at`` LUT fold from ``pq_adc_topk``
    (exact decimal, order-free, oracle-replayable).

    This is the NON-RESIDUAL IVFADC variant (codes quantize raw vectors,
    not ``x - centroid`` residuals) so the DuckDB oracle can replay the
    identical arithmetic with the same shared-cell filter; residual
    encoding is a drop-in refinement of ``pq_encode``'s input and does
    not change the plan shape.

    Measured recall@10 vs exact L2 top-10 at sf0.01 (500 vectors, 8
    coarse cells, nprobe=2, 16-centroid PQ codebook, 5 probes):
    **0.36 for IVFADC vs 0.32 for the flat-scan pq_adc_topk** — the cell
    restriction costs nothing here (it even filters some PQ-quantization
    false positives) while scoring ~nprobe/n_cells = 1/4 of the corpus;
    at scale the reduction is ``n_cells / nprobe`` with recall set by the
    PQ codebook, not the routing, until nprobe shrinks toward 1.

    Returns ``(query_id, neighbor_id, rank, d2_approx)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    assign, probe_cells = _coarse_route(e, coarse_centroids, probe, nprobe)
    codes = pq_encode(
        emb, pq_centroids, id_col, vec_col, n_subspaces=n_subspaces, dense=True,
        vectorized=vectorized_encode,
    )
    corpus = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    queries = e.filter(probe).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    lut_arr, d2_approx = _pq_lut(queries, pq_centroids, n_subspaces, n_codes=n_codes)
    # routing × LUT = model state (queries × nprobe rows); broadcast hash
    # join on cell bounds scored rows to the probed cells' contents.
    routed = probe_cells.join(lut_arr, "query_id")
    scored = (
        corpus.join(F.broadcast(routed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2_approx.cast("string").cast("double").alias("d2_approx"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_approx"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2_approx")
    )


def ivfadc_rerank_topk(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    pq_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    shortlist: int = 30,
    nprobe: int = 2,
    n_subspaces: int = 8,
    n_codes: int | None = None,
    vectorized_encode: bool = False,
) -> DataFrame:
    """Two-stage IVFADC search: ADC shortlists ``shortlist`` candidates
    per query (cell-bounded, compressed-domain — :func:`ivfadc_topk`),
    then ONLY those candidates are re-scored against the ORIGINAL
    full-precision vectors and re-ranked to ``k`` — the standard
    production serving shape (FAISS's IVFADC + refine stage): quantization
    error decides nothing final, yet the expensive exact distance touches
    ``shortlist`` rows per query instead of a corpus scan.

    Plan shape: the shortlist is (queries × shortlist) rows — model-state
    sized, so the exact-rescore join brings the CANDIDATES to the corpus
    vectors by neighbor id (one shuffle keyed on the id, or broadcast
    when the shortlist fits); query vectors broadcast. The exact distance
    is the same order-free decimal ``sqdist_dec`` the oracle replays.

    Returns ``(query_id, neighbor_id, rank, d2)`` with exact distances.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cand = ivfadc_topk(
        emb, coarse_centroids, pq_centroids, id_col, vec_col, probe,
        k=shortlist, nprobe=nprobe, n_subspaces=n_subspaces, n_codes=n_codes,
        vectorized_encode=vectorized_encode,
    ).select("query_id", "neighbor_id")
    q = e.filter(probe).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    rescored = (
        cand.join(n, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("d2", sqdist_dec("q_emb", "n_emb"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def coarse_residuals(
    emb: DataFrame, coarse_centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``(vec_id, cell, residual)`` — each vector minus its coarse
    centroid, under the SAME assignment ranking as
    :func:`ivfadc_residual_topk` (shared ``_coarse_route`` kernel, so a
    codebook trained on this frame is bit-compatible with the codes that
    operator encodes). Exposed for residual-domain codebook training."""
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    assign, _ = _coarse_route(e, coarse_centroids, F.lit(False), 1)
    cc = coarse_centroids.select(F.col("cent_id").alias("cell"), F.col("c_emb").alias("cc_emb"))
    residual = F.zip_with("embedding", "cc_emb", lambda x, y: x.cast("double") - y.cast("double"))
    return (
        e.join(assign, "vec_id")
        .join(F.broadcast(cc), "cell")
        .select("vec_id", "cell", residual.alias("residual"))
    )


def ivfadc_residual_topk(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    pq_centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 8,
    pq_centroid_filter=None,
    pq_train_k: int | None = None,
    pq_train_iters: int | None = None,
    n_codes: int | None = None,
    vectorized_encode: bool = False,
) -> DataFrame:
    """RESIDUAL IVFADC — the faithful published form (Jégou et al., TPAMI
    2011 §IV): PQ encodes the residual ``x − coarse_centroid(x)`` rather
    than the raw vector, so the codebook spends its bits on the
    within-cell remainder (residual norms ≪ vector norms → lower
    quantization error at the same code size). The price is that a
    query's LUT differs PER PROBED CELL: the LUT table is keyed
    ``(query_id, cell)`` — still model state, ``queries × nprobe`` rows.

    Plan shape: one coarse-routing pass shared with :func:`ivfadc_topk`
    (broadcast codebook, double prefilter + lossless decimal refine);
    corpus residuals come from a broadcast join of the assignment back
    to the coarse codebook (map-side, zero shuffle beyond pq_encode's
    one aggregate); scoring is the same broadcast hash join on ``cell``
    with positional ``element_at`` lookups. All residual arithmetic is
    plain IEEE double subtraction (bit-identical across engines) with
    exact-decimal accumulation, so the oracle replays it exactly.

    Returns ``(query_id, neighbor_id, rank, d2_approx)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # three routing consumers here (res, corpus join, probe routing) —
    # past the measured break-even, see _coarse_route
    assign, probe_cells = _coarse_route(e, coarse_centroids, probe, nprobe, persist_routing=True)
    cc = coarse_centroids.select(F.col("cent_id").alias("cell"), F.col("c_emb").alias("cc_emb"))
    residual = F.zip_with("embedding", "cc_emb", lambda x, y: x.cast("double") - y.cast("double"))
    res = (
        e.join(assign, "vec_id")
        .join(F.broadcast(cc), "cell")
        .select("vec_id", "cell", residual.alias("residual"))
    )
    if pq_centroids is None and pq_train_k is not None:
        # The sub-codebook must live in the RESIDUAL domain (residuals
        # cluster near zero — quantizing them against raw-vector
        # codewords throws the bits away) AND be TRAINED there: run the
        # deterministic per-subspace Lloyd rounds over the residual
        # frame. pq_train's init collect / per-round passes execute the
        # residual plan, whose coarse routing is persisted above, so the
        # repeated upstream cost is one narrow cached-table scan per
        # round. Measured recall@10 at sf0.01: 0.28 untrained residual
        # stand-in → 0.72 trained (S=32, k=64, 3 iters).
        pq_centroids = pq_train(
            res, "vec_id", "residual",
            n_subspaces=n_subspaces, k=pq_train_k, n_iter=pq_train_iters or 3,
        )
        n_codes = pq_train_k
    elif pq_centroids is None:
        # The untrained stand-in: the filtered vectors' own residuals as
        # codewords (measured recall@10 at sf0.01: 0.12 raw-domain
        # codebook vs 0.28 residual-domain), kept for the closed-form
        # oracle replay and A/B baselines.
        if pq_centroid_filter is None:
            raise ValueError("pass pq_centroids=, pq_centroid_filter= or pq_train_k=")
        pq_centroids = res.filter(pq_centroid_filter).select(
            F.col("vec_id").alias("cent_id"), F.col("residual").alias("c_emb")
        )
        # size the LUT from the CHEAP base filter, not the derived
        # residual plan — counting the latter would execute the whole
        # coarse-routing pipeline as an extra build-time job
        n_codes = e.filter(pq_centroid_filter).count()
    # vectorized_encode: opt in ONLY when pq_centroids is a cheap/local
    # plan (collecting a derived codebook executes its upstream pipeline
    # — the same trap as pq_adc_topk's note); residual vec_ids are
    # unique by construction (one row per corpus vector)
    codes = pq_encode(
        res, pq_centroids, "vec_id", "residual", n_subspaces=n_subspaces, dense=True,
        vectorized=vectorized_encode,
    )
    corpus = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    qres = (
        probe_cells.join(e.withColumnRenamed("vec_id", "query_id"), "query_id")
        .join(F.broadcast(cc), "cell")
        .select("query_id", "cell", residual.alias("q_emb"))
    )
    lut_arr, d2_approx = _pq_lut(
        qres, pq_centroids, n_subspaces, key_cols=("query_id", "cell"), n_codes=n_codes
    )
    scored = (
        corpus.join(F.broadcast(lut_arr), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2_approx.cast("string").cast("double").alias("d2_approx"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_approx"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2_approx")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "c_emb",
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid, then
    dedup by exact cosine WITHIN each cluster only. A vector is a
    duplicate when some earlier-id vector in the same cell has
    cosine >= ``threshold``.

    Scale shape: the centroid table is model state and broadcasts
    (``kmeans_assign``); the pair join shuffles on ``cell``, so the
    quadratic verify is bounded per-cluster (k chosen so n/k rows fit an
    executor) instead of corpus-global — the property that makes
    SemDeDup tractable where all-pairs cosine is not. Verification uses
    the d5 two-phase policy: lossless double prefilter, exact-decimal
    decide. Returns one row per vector: ``(vec_id, cell, is_dup,
    n_dup_of)``.
    """
    assign = kmeans_assign(emb, centroids, id_col, vec_col, cent_id_col, cent_vec_col).select(
        "vec_id", "cell"
    )
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    norms = vector_norms(e, "vec_id", "embedding")
    side = assign.join(e, "vec_id").join(norms, "vec_id")
    a = side.select(
        "cell", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    b = side.select(
        "cell", F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    fast = dot_double("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    dup_counts = (
        a.join(b, ["cell"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(fast >= threshold - 1e-9)
        .withColumn("cosine", dot_dec("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_b")
        .agg(F.count(F.lit(1)).alias("n_dup_of"))
    )
    return (
        assign.join(dup_counts, assign.vec_id == dup_counts.vec_b, "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("n_dup_of").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_dup"),
            F.coalesce(F.col("n_dup_of"), F.lit(0)).cast("bigint").alias("n_dup_of"),
        )
    )


def _fan_out_narrow(df: DataFrame) -> DataFrame:
    """Round-robin a NARROW batch frame to the session's parallelism when
    its scan is under-partitioned — the guarded fix for single-row-group
    inputs (parquet cannot split inside a row group, so a one-row-group
    file is ONE partition no matter what ``maxPartitionBytes`` says).

    The ExactSubstr family explodes ~``k``× the input text: one
    row-group's scan partition becomes a multi-GB single-task partial
    aggregate that spills and merge-sorts on one core — measured at the
    100× probe as a >1 h straggler (jstack: ``UnsafeSorterSpillMerger``
    at load 1.0), the true cause of d11's r7 160.8× curve point.
    Shuffling the narrow doc frame first costs one exchange of the RAW
    text (trivial next to the 30× anchor volume) and restores
    full-width parallelism.

    The guard is the free Catalyst size estimate, NOT the scan's
    partition count: Spark schedules ``totalBytes / parallelism``-sized
    splits, but a split only yields rows if a ROW-GROUP midpoint falls
    inside it — the 118 MB single-row-group probe file scheduled 29
    splits of which 28 were empty, so ``rdd.getNumPartitions()`` reads
    as "parallel" while one task does everything. Under the shared 1 GB
    cap the round-robin exchange is trivially cheap and guarantees
    real parallelism; above it a genuine corpus is multi-file/
    multi-row-group and the scan's own parallelism is trusted (at
    100 TB this never repartitions)."""
    if _persist.under_persist_cap(df):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def _span_anchors(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Every char position's length-``k`` substring: ``(doc_id, pos,
    gram)``, 1-based — the shared anchor projection of the ExactSubstr
    family (d11 detection, d18 removal, st16's bloom fit)."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t__"))
        .filter(F.length("__t__") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(__t__) - {k - 1}), i -> substring(__t__, i, {k}))"
                )
            ).alias("p0", "gram"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), F.col("gram"))
    )


def span_bloom_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_gram: int = 20,
    k_hashes: int = 3,
    m_bits: int | None = None,
) -> tuple[list[int], int]:
    """Fold the corpus's CROSS-DOC duplicate ``k_gram``-char substrings
    into an auto-sized Bloom bitmap — bounded MODEL STATE for streaming
    duplicate-span flagging (st16), exactly as :func:`bloom_fit` bounds
    the eval suite for st14. The cross-doc verdict reuses d11's
    skew-proof hash aggregate (one gram-keyed shuffle); the bitmap
    collect is bounded by ``m_bits``, never by the corpus."""
    anchors = _span_anchors(_fan_out_narrow(df), id_col, text_col, k_gram)
    cross = (
        anchors.groupBy("gram")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("__cross__"))
        .filter(F.col("__cross__"))
        .select("gram")
    )
    cross = _size_guarded_persist(df, cross)
    if m_bits is None:
        m_bits = bloom_auto_m_bits(cross.count(), k_hashes)
    return bloom_build_bits(cross, "gram", m_bits, k_hashes), m_bits


def _bloom_hit_positions(k_hashes: int) -> str:
    """SQL text of the span kernels' hit stage over the staged
    ``struct(digest, block word)`` array ``__dw__`` (see
    :func:`_bloom_word_stage`): the 1-based position of each hit, or -1."""
    return (
        f"transform(__dw__, (x, i) -> CASE WHEN {bloom_member_word('x.d', 'x.w', k_hashes)} "
        "THEN cast(i + 1 as bigint) ELSE cast(-1 as bigint) END)"
    )


def bloom_span_flag(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bitmap_words: list[int],
    m_bits: int,
    k_gram: int = 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Flag per-document duplicate SPANS against a frozen span-Bloom
    bitmap (:func:`span_bloom_fit`): every char position whose
    ``k_gram``-substring hits the filter is an anchor, and consecutive
    anchors merge into maximal spans ENTIRELY IN-ROW (an ``aggregate``
    fold over the ascending hit positions — no window, no join, no
    shuffle, NO STREAMING STATE), so the identical plan runs on a batch
    frame and a readStream frame at wire speed. Output matches d11's
    ``(doc_id, n_spans, dup_chars, spans)`` for contaminated docs, up to
    the filter's deterministic false-positive tail (no false negatives —
    every true d11 span is contained in a flagged span).

    Merge recurrence (d11's, in fold form): a hit at ``p`` extends the
    open span iff ``p <= cur_e + 1`` (equivalent to d11's
    ``pos <= prev + k`` since ``cur_e = prev + k - 1``), else the open
    span is emitted and a new one starts at ``p``.

    Kernel shape (VERDICT r7 #1, blocked layout r9 per VERDICT r8 #4):
    Catalyst higher-order lambdas run interpreted and re-evaluate every
    subexpression per use, so the hot path stages through MATERIALIZED
    arrays — gram array (one substring per position), digest array (ONE
    md5 per gram), then a ``struct(digest, block word)`` array with ONE
    bitmap ``element_at`` per position (the blocked filter confines all
    ``k_hashes`` bits to that word) — and the membership test
    (:func:`bloom_member_word`) is pure local bit arithmetic. vs the r8
    sliced scheme this removes 2 of the 3 DRAM-random fetches into the
    up-to-8 MiB bitmap per character of corpus text."""
    t = F.col("__t__")
    k = k_gram
    grams = F.when(
        F.length(t) >= k,
        F.expr(
            f"transform(sequence(1, length(__t__) - {k - 1}), i -> substring(__t__, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    digests = F.transform(F.col("__g__"), lambda g: F.md5(g))
    staged = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t__"))
        .select("doc_id", grams.alias("__g__"))
        .select("doc_id", digests.alias("__dg__"))
    )
    word_of = F.expr(_bloom_word_stage(bitmap_words, m_bits))
    pos_or_neg = F.expr(_bloom_hit_positions(k_hashes))
    hit_positions = F.filter(F.col("__pn__"), lambda p: p > 0)
    empty_spans = F.array().cast("array<struct<s:bigint,e:bigint>>")
    neg = F.lit(-1).cast("bigint")
    folded = F.aggregate(
        F.col("__hits__"),
        F.struct(neg.alias("cs"), neg.alias("ce"), empty_spans.alias("sp")),
        lambda acc, p: F.struct(
            F.when((acc["cs"] >= 0) & (p <= acc["ce"] + 1), acc["cs"])
            .otherwise(p).alias("cs"),
            (p + F.lit(k - 1)).cast("bigint").alias("ce"),
            F.when(
                (acc["cs"] >= 0) & (p > acc["ce"] + 1),
                F.concat(
                    acc["sp"],
                    F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
                ),
            ).otherwise(acc["sp"]).alias("sp"),
        ),
        lambda acc: F.when(
            acc["cs"] >= 0,
            F.concat(
                acc["sp"],
                F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
            ),
        ).otherwise(acc["sp"]),
    )
    spans_str = F.array_join(
        F.transform(
            F.col("__sp__"),
            lambda x: F.concat_ws("-", x["s"].cast("string"), x["e"].cast("string")),
        ),
        ";",
    )
    dup_chars = F.aggregate(
        F.col("__sp__"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + (x["e"] - x["s"] + 1),
    )
    # The contaminated-docs-only cut is an EXPLODE of a 0/1-element
    # array, NOT a Filter: PushDownPredicates substitutes a filter's
    # aliases and pushes it through the Exchange to the scan, planting a
    # SECOND full copy of the kernel in the (often single-task) scan
    # stage — measured as the bulk of VERDICT r7 #1's 41 s. A Generate
    # cannot be pushed or duplicated, so the kernel runs exactly once,
    # post-exchange. (HOFs are CodegenFallback: no codegen CSE would
    # have deduplicated the pushed copy.)
    row = F.when(
        F.size("__sp__") > 0,
        F.array(
            F.struct(
                F.size("__sp__").cast("bigint").alias("n_spans"),
                dup_chars.alias("dup_chars"),
                spans_str.alias("spans"),
            )
        ),
    ).otherwise(
        F.array().cast("array<struct<n_spans:bigint,dup_chars:bigint,spans:string>>")
    )
    return (
        staged.select("doc_id", word_of.alias("__dw__"))
        .select("doc_id", pos_or_neg.alias("__pn__"))
        .select("doc_id", hit_positions.alias("__hits__"))
        .select("doc_id", folded.alias("__sp__"))
        .select("doc_id", F.explode(row).alias("__r__"))
        .select("doc_id", "__r__.n_spans", "__r__.dup_chars", "__r__.spans")
    )


def bloom_span_remove(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bitmap_words: list[int],
    m_bits: int,
    k_gram: int = 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Streaming-legal ExactSubstr REMOVAL against a frozen span-Bloom
    bitmap: :func:`bloom_span_flag`'s in-row span detection (staged
    gram/digest/block-word arrays, one bitmap fetch per position,
    ascending-fold span merge) composed with
    :func:`exact_substring_removal`'s gap-fold rewrite — every flagged
    span is excised and the remaining text reassembled, ENTIRELY IN-ROW
    (no join, no window, no shuffle, NO STREAMING STATE), so the
    identical plan runs on a batch frame and a readStream frame at wire
    speed. This is the ingest-time cleaner of the Lee et al. 2021
    pipeline: st16 flags, this rewrites.

    Output matches d18's ``(doc_id, clean_text, removed_chars)`` for
    EVERY input row (clean docs pass through verbatim with
    ``removed_chars = 0``), up to the filter's deterministic
    false-positive tail — no false negatives: every d18-removed char is
    removed here too (every true duplicate span is contained in a
    flagged span; unit-tested).

    Unlike st16's contaminated-docs-only output there is NO filter
    anywhere in this plan (every row is emitted), so the
    explode-as-filter guard against predicate-pushdown kernel
    duplication is unnecessary — the kernel appears exactly once.
    """
    t = F.col("__t__")
    k = k_gram
    grams = F.when(
        F.length(t) >= k,
        F.expr(
            f"transform(sequence(1, length(__t__) - {k - 1}), i -> substring(__t__, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    digests = F.transform(F.col("__g__"), lambda g: F.md5(g))
    staged = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t__"))
        .select("doc_id", "__t__", grams.alias("__g__"))
        .select("doc_id", "__t__", digests.alias("__dg__"))
    )
    word_of = F.expr(_bloom_word_stage(bitmap_words, m_bits))
    pos_or_neg = F.expr(_bloom_hit_positions(k_hashes))
    hit_positions = F.filter(F.col("__pn__"), lambda p: p > 0)
    empty_spans = F.array().cast("array<struct<s:bigint,e:bigint>>")
    neg = F.lit(-1).cast("bigint")
    folded = F.aggregate(
        F.col("__hits__"),
        F.struct(neg.alias("cs"), neg.alias("ce"), empty_spans.alias("sp")),
        lambda acc, p: F.struct(
            F.when((acc["cs"] >= 0) & (p <= acc["ce"] + 1), acc["cs"])
            .otherwise(p).alias("cs"),
            (p + F.lit(k - 1)).cast("bigint").alias("ce"),
            F.when(
                (acc["cs"] >= 0) & (p > acc["ce"] + 1),
                F.concat(
                    acc["sp"],
                    F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
                ),
            ).otherwise(acc["sp"]).alias("sp"),
        ),
        lambda acc: F.when(
            acc["cs"] >= 0,
            F.concat(
                acc["sp"],
                F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
            ),
        ).otherwise(acc["sp"]),
    )
    # d18's gap-fold rewrite over the (ascending by construction) span
    # array: each span contributes the gap before it, the finisher
    # appends the tail — O(spans + chars) per doc, no per-char explode.
    clean = F.aggregate(
        F.col("__sp__"),
        F.struct(F.lit(1).cast("bigint").alias("pos"), F.lit("").alias("acc")),
        lambda acc, x: F.struct(
            (x["e"] + 1).alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(acc["pos"].cast("int"), (x["s"] - acc["pos"]).cast("int")),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            t.substr(acc["pos"].cast("int"), (F.length(t) - acc["pos"] + 1).cast("int")),
        ),
    )
    return (
        staged.select("doc_id", "__t__", word_of.alias("__dw__"))
        .select("doc_id", "__t__", pos_or_neg.alias("__pn__"))
        .select("doc_id", "__t__", hit_positions.alias("__hits__"))
        .select("doc_id", "__t__", folded.alias("__sp__"))
        # clean is staged before removed_chars references it: a single
        # projection would evaluate the whole gap-fold twice per row
        # (interpreted HOF, no CSE)
        .select("doc_id", "__t__", clean.alias("clean_text"))
        .select(
            "doc_id",
            "clean_text",
            (F.length("__t__") - F.length("clean_text")).cast("bigint").alias("removed_chars"),
        )
    )


def duplicate_span_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): find,
    per document, the character spans whose length-``k`` substrings also
    occur in ANOTHER document — the spans ExactSubstr dedup removes.

    Plan (suffix arrays don't distribute; anchor hashing does):
    1. anchor every position: (doc, pos, hash(substr(pos, k))) — corpus-
       linear rows, built in one codegen stage;
    2. keep hashes seen in >= 2 distinct docs — ONE shuffle keyed on the
       hash (the only join-like step; never all-pairs);
    3. merge surviving anchor positions per doc into maximal spans
       (anchors <= k apart overlap) — window + aggregate keyed on doc.

    Returns one row per MAXIMAL span: ``(doc_id, span_id, s, e)``,
    1-based inclusive char ranges, disjoint within a doc by
    construction (``duplicate_spans`` summarizes them per doc;
    ``exact_substring_removal`` excises them from the text).

    The shuffle key is the k-gram STRING itself — exact by construction
    (a 31/61-bit hash key showed birthday collisions at 10^6 anchors,
    i.e. false spans) and cheaper than hashing every anchor; at larger
    ``k`` substitute a 128-bit md5 key to bound shuffle width, which
    keeps collisions below 10^-18 per corpus.
    """
    anchors = _span_anchors(_fan_out_narrow(df), id_col, text_col, k)
    # The anchor table is consumed TWICE (gram-verdict agg + join-back
    # left side). Persisting it trades one MEMORY_AND_DISK copy for the
    # second posexplode+scan pass (measured at sf0.1: warm min
    # 5.6 s → 4.6 s) — but anchors are ~(k + overhead) ≈ 30× the input
    # text bytes, so an unconditional persist at a 100 TB corpus would
    # materialize a multi-PB cache; the shared size guard keeps the
    # re-derived codegen-linear posexplode pass as the corpus-scale plan.
    anchors = _size_guarded_persist(df, anchors)
    # Cross-doc verdict via partial aggregation + join-back — NOT a
    # gram-partitioned window. A window partition is the GLOBAL
    # occurrence list of one gram: a boilerplate header repeated across a
    # 100 TB corpus lands on one task, and AQE cannot split window
    # partitions. A hash aggregate instead combines min/max per gram
    # map-side and shuffles one row per (map partition, gram) —
    # skew-proof regardless of how hot a gram is — and the semi join back
    # to the anchors is a shuffle join AQE's skew-join CAN split.
    # (A gram-keyed window was ~2× faster at sf0.1 on uniform data but
    # has an unbounded straggler ceiling; this shape trades that constant
    # for scale safety.)
    cross = (
        anchors.groupBy("gram")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("__cross__"))
        .filter(F.col("__cross__"))
        .select("gram")
    )
    # Join-back routing (VERDICT r7 #6 — the 160.8× 100×-curve point):
    # the duplicated-gram verdict is bounded by the DISTINCT-gram count,
    # which in the skew regime that hurts the shuffle join (boilerplate /
    # tiny-vocab corpora: few grams, huge occurrence lists) is exactly
    # when it is tiny. Under the shared persist cap, materialize the
    # verdict once and — when its measured row count fits the ~32 MB
    # broadcast budget — ship it map-side, so the ~30×-text-width anchor
    # table is NEVER shuffled for the semi join (measured at the 100×
    # probe: see BASELINE.md r8). Above the cap (corpus scale, where the
    # verdict can be corpus-proportional) keep the shuffled semi join,
    # whose stragglers AQE's skew-join can split.
    cross_side = cross
    if _persist.under_persist_cap(df):
        cross = _persist_tracked(cross)
        n_cross = cross.count()
        cross_side = F.broadcast(cross) if n_cross <= _persist.BROADCAST_BUDGET // 64 else cross
    hits = anchors.join(cross_side, "gram", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn(
            "brk",
            F.when(F.col("pos") > F.lag("pos").over(w) + k, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("span_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k - 1).alias("e"))
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
) -> DataFrame:
    """Per-document summary of :func:`duplicate_span_rows`: contaminated
    docs with span count, duplicated char total, and the "s-e;s-e"
    range string (1-based inclusive). See the row form for the plan."""
    spans = duplicate_span_rows(df, id_col, text_col, k)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "e"))),
                    lambda x: F.concat_ws("-", x["s"].cast("string"), x["e"].cast("string")),
                ),
                ";",
            ).alias("spans"),
        )
    )


def exact_substring_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2021 ExactSubstr dedup at
    character granularity: excise every cross-document duplicate span
    (:func:`duplicate_span_rows`) from each document and reassemble the
    remaining text in order. :func:`repeated_block_filter` is the
    word-block approximation of the same rewrite; this is the faithful
    char-exact form the paper trains on.

    Plan: span detection inherits d11's corpus-linear anchor-hash shape;
    spans per doc collapse to ONE sorted struct array (span volume is
    duplication volume, orders below corpus size), join back to the
    corpus on the id key, and the rewrite is a single map-side
    ``aggregate`` fold over the span array — each span contributes one
    ``substr`` of the gap before it, the finisher appends the tail, so
    per-doc work is O(spans + chars) with no per-char explode anywhere.

    Returns ``(doc_id, clean_text, removed_chars)`` for EVERY input row
    (clean docs pass through verbatim with ``removed_chars = 0``).
    """
    spans = duplicate_span_rows(df, id_col, text_col, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__sp__")
    )
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t__"))
    joined = base.join(per_doc, "doc_id", "left")
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    text = F.col("__t__")
    clean = F.aggregate(
        F.coalesce(F.col("__sp__").cast("array<struct<s:bigint,e:bigint>>"), empty),
        F.struct(F.lit(1).cast("bigint").alias("pos"), F.lit("").alias("acc")),
        lambda acc, x: F.struct(
            (x["e"] + 1).alias("pos"),
            F.concat(
                acc["acc"],
                text.substr(acc["pos"].cast("int"), (x["s"] - acc["pos"]).cast("int")),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            text.substr(
                acc["pos"].cast("int"),
                (F.length(text) - acc["pos"] + 1).cast("int"),
            ),
        ),
    )
    removed = F.aggregate(
        F.coalesce(F.col("__sp__").cast("array<struct<s:bigint,e:bigint>>"), empty),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + (x["e"] - x["s"] + 1),
    )
    return joined.select(
        "doc_id",
        clean.alias("clean_text"),
        removed.alias("removed_chars"),
    )


def repeated_block_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_words: int = 4,
) -> DataFrame:
    """Corpus-level repeated-block REMOVAL (the rewrite step of CCNet,
    Wenzek et al. 2020, arXiv:1911.00359 — dedup at paragraph granularity
    — and the "remove" half of Lee et al. 2021 ExactSubstr, whose
    detection half is :func:`duplicate_spans`): chop every document into
    fixed ``block_words``-word blocks, drop each block whose exact text
    recurs in at least one OTHER document (shared boilerplate, quoted
    headers, license banners), and reassemble the surviving blocks in
    their original order.

    Plan — corpus-linear, three key-bounded shuffles, never all-pairs:
    1. blocks: one codegen projection builds all blocks per doc
       (``transform(sequence, slice, array_join)``) + posexplode;
    2. cross-doc verdict: ``groupBy(block).agg(min(doc) != max(doc))`` —
       a partial (map-side combining) aggregate, so a block repeated in
       millions of docs still shuffles ONE row per map partition: no hot
       key, unlike a block-keyed window;
    3. mark + rebuild: left join the verdict back on the block text
       (shuffle join, NOT broadcast — the dup set is corpus-scale) and
       re-aggregate per doc, ordering kept blocks by position inside the
       aggregate (``array_sort(collect_list(struct(pos, block)))``).

    Returns ``(doc_id, n_blocks, n_dropped, clean_text)`` — one row per
    non-empty input doc; ``clean_text = ''`` when every block was shared.
    The join key is the block STRING (exact by construction; at larger
    block sizes substitute a 128-bit md5 key to bound shuffle width —
    same ruling as :func:`duplicate_spans`).
    """
    b = int(block_words)
    blocks = (
        df.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("__t__"))
        .filter(F.size("__t__") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(__t__) / cast({b} as double)) as int) - 1), "
                    f"i -> array_join(slice(__t__, i * {b} + 1, {b}), ' '))"
                )
            ).alias("pos", "block"),
        )
    )
    # Consumed twice (verdict agg + join-back left side) — same
    # size-guarded persist ruling as duplicate_spans' anchor table.
    blocks = _size_guarded_persist(df, blocks)
    shared = (
        blocks.groupBy("block")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("__x__"))
        .filter(F.col("__x__"))
        .select("block", F.lit(True).alias("__dup__"))
    )
    flagged = blocks.join(shared, "block", "left").select(
        "doc_id", "pos", "block", F.coalesce("__dup__", F.lit(False)).alias("is_dup")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("is_dup"), F.struct("pos", "block"))
                    )
                ),
                lambda x: x["block"],
            ),
            " ",
        ).alias("clean_text"),
    )


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int = 3,
    min_count: int = 1,
    max_vocab: int | None = None,
) -> tuple[list[tuple[int, str, str, int]], dict[str, tuple[str, ...]]]:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016,
    arXiv:1508.07909) — the tokenizer-training kernel.

    Architecture mirrors production BPE trainers (HuggingFace
    tokenizers): the CORPUS-scale work is one distributed word-frequency
    aggregation; the merge loop then runs on that vocabulary-sized
    table, which is MODEL state (same ruling as ``kmeans_lloyd``'s
    centroids). On web-scale corpora the raw space-split "word" universe
    is NOT bounded (URLs, typos, punctuation-glued tokens reach 10^9+
    distinct strings on 100 TB), so scale callers OPT IN to two
    distributed prunes, exactly as production trainers do: a ``min_count``
    frequency floor and a deterministic ``max_vocab`` top-M cap (count
    desc, word asc — Spark plans the ordered limit as
    TakeOrderedAndProject: per-partition partial top-M, only M rows ever
    reach the driver, no single-partition sort). Both default OFF
    (exact full-vocabulary counts, matching the reference aggregation);
    when a ``max_vocab`` cap actually prunes, a ``UserWarning`` signals
    that merge counts diverge from the full aggregation (round-4
    ADVICE). Pruned tail words carry negligible pair mass by
    construction (each contributes < min_count or ranks below M).
    Ties in merge selection break
    deterministically (count desc, then pair lexicographic).
    Returns (merges [(iteration, left, right, count)], final
    segmentation per word).
    """
    wf = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    if min_count > 1:
        wf = wf.filter(F.col("f") >= min_count)
    if max_vocab is not None:
        # deterministic top-M (count desc, word asc) — lowers to
        # TakeOrderedAndProject; fetch M+1 rows so an ACTUAL prune is
        # detectable without a second count job, and warn (merge counts
        # then diverge from the uncapped aggregation — round-4 ADVICE)
        rows = wf.orderBy(F.col("f").desc(), F.col("w").asc()).limit(max_vocab + 1).collect()
        if len(rows) > max_vocab:
            import warnings

            warnings.warn(
                f"bpe_learn: max_vocab={max_vocab} pruned the vocabulary — "
                "merge counts will diverge from a full-vocabulary "
                "aggregation (pruned tail words carry < the cap's rank mass)",
                UserWarning,
                stacklevel=2,
            )
            rows = rows[:max_vocab]
        freq = {r.w: r.f for r in rows}  # pruned, vocabulary-sized model state
    else:
        freq = {r.w: r.f for r in wf.collect()}  # full-vocabulary model state
    segs: dict[str, tuple[str, ...]] = {w: tuple(w) for w in freq}
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, f in freq.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + f
        if not pc:
            break
        (x, y), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append((it, x, y, cnt))
        for w, s in segs.items():
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = tuple(out)
    return merges, segs


# -- end-to-end fuzzy dedup ---------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """Verified MinHash-LSH near-duplicate pairs (Broder 1997): the d3
    candidate+verify glue as a reusable operator.

    Candidates come from the banded signature self-join (shuffle keyed on
    (band_idx, band_val) — never all-pairs); verification is exact Jaccard
    over the per-doc md5-derived hash sets, two equi-joins on doc id with
    an in-row ``array_intersect`` fold. Deliberately NO broadcast hint on
    the verify side: the signature table carries the corpus's token sets,
    which at 100 TB dwarfs any broadcast cap — these joins shuffle on doc
    id, and AQE may still elect a broadcast at small SF from runtime
    stats. Returns ``(doc_a, doc_b, jaccard)`` with ``doc_a < doc_b``.
    """
    sigs, bands = minhash_band_index(df, id_col, text_col)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    candidates = (
        ba.join(
            bb,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_val") == F.col("bb.band_val"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = sigs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    shared = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - shared
    return (
        candidates.join(ta, "doc_a").join(tb, "doc_b")
        .withColumn("jaccard", shared.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def fuzzy_dedup_survivors(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """End-to-end corpus fuzzy dedup — the GPT-3/Gopher recipe as ONE
    operator: MinHash-LSH near-dup pairs → transitive clusters
    (connected components) → keep the smallest-id member per cluster →
    return the SURVIVING rows of ``df`` (all columns intact).

    This is the operator a 100 TB pipeline actually runs; d3 (pairs) and
    d6 (clusters) are its two halves exposed for inspection. Scale shape:
    the pair stage shuffles on band values, the component stage is
    adaptive (one-task numpy contraction for sparse post-LSH graphs,
    distributed min-label propagation beyond), and the final filter is a
    left_anti shuffle join of the corpus against the drop list — each
    stage is keyed, bounded, and broadcast-free on the corpus side.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold)
    comps = connected_components(pairs, "doc_a", "doc_b")
    drops = comps.filter(F.col("component") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


# -- Johnson-Lindenstrauss projection ANN -------------------------------------


def jl_sign_matrix(dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (Achlioptas
    2003's database-friendly projection, density 1): entry (j, i) is the
    parity of the first 8 hex chars of ``md5("jl:{j}:{i}")``. md5-derived
    instead of RNG-seeded so any engine — including the DuckDB oracle —
    reproduces the identical literals with no shared random state.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(vec_col: Column | str, signs: list[list[int]]) -> Column:
    """Project a float-array column through a ±1 sign matrix → a compact
    ``out_dim`` double array. Each output coordinate is an order-free
    exact-decimal sum of signed inputs (±1 products are exact in double),
    cast to double through a string — the same engine-portability policy
    as dot_dec, so the oracle reproduces identical bits. Pure projection:
    no shuffle, no UDF, whole-stage codegen throughout.
    """
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    outs = []
    for row in signs:
        prods = F.zip_with(
            vec, F.lit(row), lambda x, s: (x.cast("double") * s.cast("double")).cast(DEC)
        )
        outs.append(
            F.aggregate(prods, F.lit(0).cast(DEC), lambda acc, x: (acc + x).cast(DEC))
            .cast("string")
            .cast("double")
        )
    return F.array(*outs)


def jl_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    probe: Column,
    dim: int,
    out_dim: int = 8,
    n_candidates: int = 25,
    k: int = 10,
) -> DataFrame:
    """JL random-projection top-k: squared-L2 ANN through a dim→out_dim
    ±1 projection, exact rerank on the full vectors.

    Two-stage plan, both corpus passes map-side:
    1. project every vector (zero-shuffle projection), broadcast the
       projected QUERIES onto the corpus stream, keep the ``n_candidates``
       closest per query in the reduced space (one per-query window on a
       queries×n_candidates-sized set). Candidate scan cost is
       corpus × out_dim instead of corpus × dim; the JL lemma bounds the
       rank distortion and the rerank restores exactness for survivors.
    2. gather the full vectors for the (tiny) candidate set — broadcast
       hash joins INTO the corpus scan, never the reverse — and re-rank
       by exact-decimal distance.

    All distances exact decimal (order-free, engine-portable bits), ties
    broken on neighbor id. Returns (query_id, neighbor_id, d2, rank).
    """
    signs = jl_sign_matrix(dim, out_dim)
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # corpus projection IS fanned out (_fan_out_narrow): the out_dim
    # decimal aggregate HOFs are CodegenFallback-interpreted, so this is
    # the heavy-per-row case (like the ExactSubstr anchors, unlike the
    # rejected d2/d3 fan-outs) — a single-row-group fixture file runs
    # the whole corpus projection in ONE task. Size-guarded: never
    # repartitions a real multi-row-group corpus. Interleaved A/B at
    # sf0.1 in JL_AB_r10.json.
    proj = _fan_out_narrow(e).select("vec_id", jl_project("embedding", signs).alias("yproj"))
    # ONE query-side frame built from emb.filter(probe) — a tiny pruned
    # scan — carrying BOTH the projected vector (candidate stage) and the
    # full vector (rerank stage). Never built from the corpus projection:
    # a corpus-sized frame on a broadcast side is the 100 TB failure
    # mode; and one shared frame beats two independent filtered branches
    # (A/B at sf0.1: 3.7 s vs 4.4 s — the broadcast build job runs once).
    qboth = emb.filter(probe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        jl_project(F.col(vec_col), signs).alias("qy"),
    )
    qp = qboth.select("query_id", "qy")
    scored = (
        proj.crossJoin(F.broadcast(qp))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2p", sqdist_dec("qy", "yproj"))
        .select("query_id", "vec_id", "d2p")
    )
    # salted two-phase top-C: a single per-query window would funnel the
    # whole corpus×queries stream onto n_queries hot keys (one straggler
    # task per query at scale). Phase 1 takes top-C within (query, salt)
    # — 64 parallel keys per query, deterministic hash salt — and phase 2
    # finishes over the 64×C survivors. Exact: the global top-C by
    # (d2p, vec_id) is always contained in the union of per-salt top-Cs.
    salt = F.pmod(F.xxhash64("vec_id"), F.lit(64))
    w_salted = Window.partitionBy("query_id", "__salt__").orderBy(
        F.asc("d2p"), F.asc("vec_id")
    )
    pre = (
        scored.withColumn("__salt__", salt)
        .withColumn("__rn__", F.row_number().over(w_salted))
        .filter(F.col("__rn__") <= n_candidates)
    )
    w_fast = Window.partitionBy("query_id").orderBy(F.asc("d2p"), F.asc("vec_id"))
    cand = (
        pre.withColumn("__rnf__", F.row_number().over(w_fast))
        .filter(F.col("__rnf__") <= n_candidates)
        .select("query_id", "vec_id")
    )
    qfull = qboth.select("query_id", "q_emb")
    reranked = (
        e.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("d2", sqdist_dec("q_emb", "embedding"))
    )
    w_exact = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "d2", "rank")
    )


def srp_signature(
    emb: DataFrame, id_col: str, vec_col: str, n_bits: int = 60
) -> DataFrame:
    """Per-vector binary code: sign bits of the first ``n_bits`` embedding
    dimensions packed into one non-negative BIGINT (axis-aligned SRP —
    the same sign convention as :func:`embedding_neardup`, packed instead
    of banded). 60 bits keeps the value strictly positive, so a later
    XOR of two signatures never touches the sign bit and ``bit_count``
    agrees bit-for-bit with DuckDB's two's-complement count. One
    map-side projection — zero shuffles, zero joins."""
    if not 0 < n_bits <= 60:
        raise ValueError(f"n_bits must be in (0, 60], got {n_bits}")
    sign_bit = lambda i: F.when(  # noqa: E731
        F.element_at(vec_col, i + 1) >= 0, F.lit(1).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    sig = sum(
        (sign_bit(i) * F.lit(1 << i).cast("bigint") for i in range(1, n_bits)),
        sign_bit(0),
    )
    return emb.select(F.col(id_col).alias("vec_id"), sig.alias("sig"))


def hamming_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    radius: int = 5,
    n_bits: int = 60,
    n_blocks: int = 6,
) -> DataFrame:
    """Binary-code ANN: exact radius-bounded Hamming top-k over packed
    SRP sign signatures — the FAISS ``IndexBinaryMultiHash`` shape
    (Norouzi et al. 2012, "Fast search in Hamming space with multi-index
    hashing") expressed as DataFrame ops. ``queries`` is a separate
    frame with the same ``(id_col, vec_col)`` schema — the near-dup
    probe workload (is this vector's close binary twin already in the
    corpus?), not a corpus self-join.

    Completeness is a pigeonhole guarantee, not a recall estimate: the
    signature splits into ``n_blocks`` contiguous blocks, and any pair
    within Hamming distance ``n_blocks - 1`` must agree on at least one
    whole block, so with ``radius <= n_blocks - 1`` the block join loses
    nothing and the result is EXACT (the oracle brute-forces all pairs
    and hash-matches). The radius/block trade is explicit: wide blocks
    (default 10 bits) make corpus survival per block ~2^-10, so the
    prefilter prunes ~99% of the corpus — but cap the exact radius at
    ``n_blocks - 1``. This is the near-dup regime the structure is FOR;
    at radii approaching ``n_bits/2`` (random codes) every exact method
    degenerates toward brute force and :func:`jl_topk`/:func:`ivf_topk`
    are the right operators instead.

    Scale shape: signatures are one map-side projection over the corpus;
    the probe side (signatures + exploded blocks) is broadcast when its
    free Catalyst size estimate fits the ~32 MB budget (size-routed —
    bulk probe workloads shuffle instead), so candidate generation is
    normally a map-side broadcast join over the corpus block stream —
    the corpus is never shuffled. The only exchanges are
    the distinct over surviving (probe, neighbor) pairs (bounded by
    collision volume, not corpus size) and the per-probe top-k window.
    """
    if radius > n_blocks - 1:
        raise ValueError(
            f"radius {radius} breaks the pigeonhole guarantee for "
            f"{n_blocks} blocks (max exact radius {n_blocks - 1})"
        )
    if n_bits % n_blocks:
        raise ValueError(f"n_bits {n_bits} must split evenly into {n_blocks} blocks")
    bits_per = n_bits // n_blocks
    mask = (1 << bits_per) - 1
    sigs = srp_signature(emb, id_col, vec_col, n_bits)

    def blocks_of(df: DataFrame) -> DataFrame:
        block_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright("sig", bits_per * b)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_blocks)
            ]
        )
        return df.select("vec_id", "sig", F.explode(block_structs).alias("b")).select(
            "vec_id", "sig", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
        )

    probes = srp_signature(queries, id_col, vec_col, n_bits)
    pb = blocks_of(probes).select(
        F.col("vec_id").alias("probe_id"), F.col("sig").alias("psig"), "blk", "val"
    )
    # size-routed broadcast (ADVICE r7): `queries` is caller-supplied, so
    # the probe-block frame is only hinted when Catalyst's FREE input
    # estimate of the probe side stays in the broadcast budget; a bulk
    # probe workload falls back to a plain shuffled join instead of
    # blowing the driver.
    # The payload actually broadcast is `pb` — `queries` AFTER the
    # block explosion (n_blocks rows per probe, each carrying the packed
    # sig + blk + val) — so the raw-probe estimate is scaled by the
    # fan-out before it is compared to the budget (ADVICE r8: hinting on
    # the pre-explosion size let a real payload exceed the cap by the
    # fan-out factor while the guard passed). The embedding column
    # dominates the raw estimate and is NOT in pb, so fan-out × raw is a
    # safe overestimate of the broadcast bytes.
    probe_bytes = _persist.estimated_bytes(queries)
    fits = probe_bytes is not None and probe_bytes * n_blocks <= _persist.BROADCAST_BUDGET
    pb_side = F.broadcast(pb) if fits else pb
    cand = (
        blocks_of(sigs)
        .join(pb_side, ["blk", "val"])
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.bit_count(F.col("psig").bitwiseXOR(F.col("sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= radius)
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", F.col("hamming").cast("int").alias("hamming"), "rnk")
    )
