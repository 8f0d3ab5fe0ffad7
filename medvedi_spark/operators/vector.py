"""Embedding search and clustering: exact and IVF cosine top-k, k-means,
JL-projection and binary Hamming ANN, embedding near-dup and semantic
dedup. Exact results come from the decimal kernels in
:mod:`~medvedi_spark.operators.kernels`; double kernels only prune,
through :func:`_refine_topk`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medvedi_spark.operators import _persist
from medvedi_spark.operators.bloom import _fan_out_narrow
from medvedi_spark.operators.kernels import dot_dec, dot_double, jl_project, sqdist_dec, srp_signature
from medvedi_spark.queries._det import DEC


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
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-bucketed approximate nearest neighbor (the scale path).

    ``centroids`` is the coarse codebook ``(cent_id, c_emb)`` — at 100 TB
    it comes from an offline k-means and broadcasts, exactly as here; s2
    passes a fixed subset of vectors as a stand-in. Every vector is
    assigned to its argmax-inner-product cell in ONE broadcast-join
    pass; a probe searches only its top-``nprobe`` cells.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
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


def kmeans_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment: each vector → argmin squared-L2 cell
    (ties break on centroid id). The centroid table is model state
    (k × dim doubles), so it BROADCASTS at any corpus scale; the scan
    side streams map-side — the only shuffle is the caller's.
    Returns ``(vec_id, cell, d2)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    c = centroids.select("cent_id", "c_emb")
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    return (
        e.crossJoin(F.broadcast(c))
        .withColumn("d2", sqdist_dec("embedding", "c_emb"))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"), "d2")
    )


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


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
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
    assign = kmeans_assign(emb, centroids, id_col, vec_col).select("vec_id", "cell")
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
