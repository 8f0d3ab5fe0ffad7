"""Exact set-similarity pair operators and the adaptive Jaccard router.

:func:`_jaccard_adaptive` picks one of four plans (single-long bitset,
wide bitset, salted wide bitset, prefix filter) from the measured
vocabulary, set density and posting-list length; its thresholds and
the mask broadcast cap live next to it. The token and char-n-gram pair
operators and the n-gram containment operator are its callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medvedi_spark.operators import _persist
from medvedi_spark.operators.bloom import _fan_out_narrow
from medvedi_spark.operators.kernels import _unrolled_pc, _unrolled_shared, word_ngrams_of, word_tokens


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
    tok = _persist.persist_tracked(tok)
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
