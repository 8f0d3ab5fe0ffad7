"""Reusable LLM-data-pipeline operators (SURVEY §2.10), parameterized.

Every function here is a pure DataFrame→DataFrame operator: no
driver-side materialization (the one exception is documented), no
row-at-a-time Python UDFs, shuffles keyed on blocking values rather than
all-pairs — the properties that let the same plan run on 500 rows or
100 TB. The registered bench queries (`medvedi_spark.queries.llm_ops`)
are thin calls into this module and its siblings with fixed parameters;
users compose these directly with their own columns/thresholds.

This module holds exact dedup, MinHash/SimHash, cross-group overlap,
edit distance, sequence packing, BPE and fuzzy dedup. Each adaptive
plan decision has its own module: :mod:`.jaccard` (set-similarity
router), :mod:`.graph` (connected components), :mod:`.bloom` (Bloom
filters and spans), :mod:`.vector` and :mod:`.quantized` (ANN); the
SQL-text kernels live in :mod:`.kernels`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medvedi_spark.functions.hashing import simhash_col, token_hash
from medvedi_spark.operators import _persist
from medvedi_spark.operators.graph import connected_components
from medvedi_spark.operators.jaccard import tokenize_distinct


# -- dedup ------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups by content hash: one shuffle keyed on the hash;
    payloads never move twice (only ids aggregate)."""
    return (
        df.groupBy(F.md5(text_col).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
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
    from medvedi_spark.functions.hashing import minhash_agg_cols, token_hash

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
    sigs = _persist.size_guarded_persist(df, sigs)
    bands = sigs.select("doc_id", F.explode(_band_structs()).alias("bd")).select(
        "doc_id", F.col("bd.band_idx").alias("band_idx"), F.col("bd.band_val").alias("band_val")
    )
    return sigs, bands


def _band_structs() -> Column:
    """Two-min band (band_idx, band_val) struct array over signature
    columns m0..m15 — shared by :func:`minhash_band_index` and
    ``dedup_index.bands_of_sigs`` so band assembly can never drift.
    One ``F.expr`` string (see the kernel note in kernels.py)."""
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
