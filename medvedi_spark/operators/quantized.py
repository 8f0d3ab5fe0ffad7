"""Quantized ANN: SQ8 scalar quantization, product quantization (PQ
training, encoding, ADC scoring) and the IVFADC family over the shared
coarse-cell routing (:func:`_coarse_route`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medvedi_spark.operators import _persist
from medvedi_spark.operators.kernels import _sq8_code, _sq8_d2, _sqdist_dec_sql, sqdist_dec, sqdist_double
from medvedi_spark.operators.vector import _refine_topk
from medvedi_spark.queries._det import DEC


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
    # the collect (same ruling as pq_encode's codebook sort)
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
    per round and re-broadcast; each round's E-step is :func:`pq_encode`
    (one zero-shuffle Arrow pass, bit-identical to the decimal reference
    :func:`_pq_encode_decimal`; measured 3× the decimal crossJoin's
    speed at k=64 × S=16), and the M-step is ONE vec_id-keyed join + ONE
    (cell, dim)-keyed exact-decimal aggregate whose output is k × dim
    rows. At 100 TB, train on a sample (pass
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
        codes = pq_encode(e, cent_df, "vec_id", "embedding", n_subspaces)
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


def _pq_encode_vectorized(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int,
    dense: bool,
    force_exact: bool = False,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """The body of :func:`pq_encode`: numpy float64 argmin per subspace
    with a certified error bound; candidates the bound can't separate
    from the winner are re-judged by an exact Python replica, so the
    emitted codes are BIT-IDENTICAL to the decimal reference
    :func:`_pq_encode_decimal` (and the DuckDB oracle) while the hot loop
    is one einsum-shaped batch op instead of ~corpus × k interpreted
    decimal folds (measured at sf0.1: consuming all 8 code columns cost
    2.9 s decimal vs ~0.4 s here).

    Scale shape: the codebook is MODEL STATE (k × dim, same ruling as
    kmeans_lloyd's centroid collect) — collected once, shipped in the
    closure; the corpus pass is ONE ``mapInPandas`` projection with ZERO
    shuffle (the decimal reference pays a vec_id-keyed aggregate
    exchange). Degenerate rows (null / non-finite / short slices)
    reproduce the reference's observed all-null tie-break: lowest
    ``cent_id`` wins. Codebook preconditions are enforced here, loudly:
    unique ids, finite values, uniform dims. ``vec_id`` uniqueness is
    ASSUMED by default (the reference folds duplicate ids into one
    groupBy row; this pass emits one row per input row, so duplicates
    would silently diverge) — pass ``assert_unique_ids=True`` to spend
    one count-distinct job verifying it before encoding.

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
        centroids.select("cent_id", "c_emb")
        .toPandas()
        .sort_values("cent_id", na_position="first", kind="mergesort")
        .reset_index(drop=True)
    )
    id_type = emb.select(F.col(id_col).alias("vec_id")).schema["vec_id"].dataType.simpleString()
    cid_type = centroids.schema["cent_id"].dataType.simpleString()
    code_type = "int" if dense else cid_type
    schema = ", ".join([f"vec_id {id_type}"] + [f"code{s} {code_type}" for s in range(n_subspaces)])
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if assert_unique_ids:
        dup = e.groupBy("vec_id").count().where(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError(
                f"duplicate {id_col} values: pq_encode emits one code row per "
                "input row, so every vector needs a unique id"
            )
    if len(cb) == 0:
        # the reference crossJoins against an empty codebook -> no rows
        return spark.createDataFrame([], schema)
    cent_ids = cb["cent_id"].to_numpy()
    if len(np.unique(cent_ids)) != len(cent_ids):
        raise ValueError("PQ codebook has duplicate cent_id values")
    try:
        cmat = np.stack([np.asarray(v, dtype=np.float64) for v in cb["c_emb"]])
    except ValueError as exc:
        raise ValueError("PQ codebook vectors differ in dimension") from exc
    if not np.isfinite(cmat).all():
        raise ValueError("PQ codebook has non-finite values (NaN or inf)")
    cb_dim = cmat.shape[1]
    subs = n_subspaces
    # Bind everything the worker closure needs as LOCALS: cloudpickle
    # serializes closure cells by value, but module-level names pickle as
    # references to medvedi_spark.operators.quantized — unimportable on workers
    # when the driver loaded this repo by file path from another cwd
    # (the __spark_entry__ contract; caught by the /verify drive).
    slack_elem = _PQ_CERT_SLACK_PER_ELEM
    slack_rel = _PQ_CERT_SLACK_REL

    def cmp_exact(xs, cs) -> float:
        """Python replica of :func:`sqdist_dec`'s COMPARISON value for one
        (row-slice, centroid-slice) pair: per element, diff and square in
        IEEE float64 (bit-identical to Spark's double ops), round the
        square to ``decimal(28,10)`` via the shortest round-trip
        representation (``repr`` == Java ``Double.toString``, the route
        Spark's double→decimal cast takes) with HALF_UP, sum exactly,
        then one string→double cast. Used only for near-tie candidates
        the float64 certification can't separate. Nested, so cloudpickle
        serializes it by value."""
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
            # default cidx 0 = lowest cent_id — the decimal reference's
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
    dense: bool = False,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``n_subspaces`` contiguous subvectors and replace each with the id of
    its nearest sub-codebook centroid — the compression step that turns a
    100 TB float corpus into bytes-per-vector codes for ADC-style ANN
    (Jégou et al., TPAMI 2011). ``centroids`` is ``(cent_id, c_emb)``.
    Returns ``(vec_id, code0..code{S-1})``.

    Scale shape: the codebook is MODEL state (k × dim doubles), collected
    once at build time, and the corpus is ONE zero-shuffle Arrow pass
    (:func:`_pq_encode_vectorized`). Codes are bit-identical to the
    exact-decimal reference :func:`_pq_encode_decimal`, ties broken on
    centroid id, so they reproduce across partitionings and engines.
    Pass a cheap codebook plan (a base-table filter or a local frame):
    collecting a derived plan runs its whole upstream pipeline as a
    build-time job. ``vec_id`` must be unique (one code row per input
    row); ``assert_unique_ids=True`` spends one count job verifying it.

    ``dense=True`` emits DENSE POSITIONAL codes (0..k-1, the rank of the
    winning centroid id) instead of raw centroid ids — the form ADC
    scoring wants, so downstream lookups are pure ``element_at``
    arithmetic with no id→position translation.
    """
    return _pq_encode_vectorized(
        emb, centroids, id_col, vec_col, n_subspaces, dense, assert_unique_ids=assert_unique_ids
    )


def _pq_encode_decimal(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    dense: bool = False,
) -> DataFrame:
    """Reference PQ encode in the oracle's shape, which the tests hold
    :func:`pq_encode` to code for code: all ``n_subspaces`` argmins share
    ONE broadcast nested-loop pass over the codebook and ONE aggregate
    shuffle keyed on the vector id (S × min_by in a single groupBy);
    subspace distances accumulate in exact decimal and ties break on
    centroid id. With ``dense=True`` the position column is a
    ``row_number`` over the k-row codebook."""
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    c = centroids.select("cent_id", "c_emb")
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
    # LUT fold and the scoring chain (see the kernel note in kernels.py:
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
    codegen blow-up at k=256: ~2k stacked whens per expression).
    Driver-side model state is the codebook ``pq_encode`` collects and,
    unless ``n_codes`` is passed, its SIZE (one count). Decimal addition is exact (associative), so the fixed-order fold is
    bit-identical to the order-free SQL SUM the oracle runs.
    Returns ``(query_id, neighbor_id, rank, d2_approx)``.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = pq_encode(emb, centroids, id_col, vec_col, n_subspaces=n_subspaces, dense=True)
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
        ranked = _persist.persist_tracked(ranked)
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
    corpus × queries cross join anywhere (the codes side never joins
    at all: the PQ codebook is collected model state and encoding is
    one zero-shuffle Arrow pass). Scoring reuses
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
    codes = pq_encode(emb, pq_centroids, id_col, vec_col, n_subspaces=n_subspaces, dense=True)
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
    pq_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probe,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 8,
    n_codes: int | None = None,
) -> DataFrame:
    """RESIDUAL IVFADC — the faithful published form (Jégou et al., TPAMI
    2011 §IV): PQ encodes the residual ``x − coarse_centroid(x)`` rather
    than the raw vector, so the codebook spends its bits on the
    within-cell remainder (residual norms ≪ vector norms → lower
    quantization error at the same code size). The price is that a
    query's LUT differs PER PROBED CELL: the LUT table is keyed
    ``(query_id, cell)`` — still model state, ``queries × nprobe`` rows.

    ``pq_centroids`` must live in the RESIDUAL domain (residuals cluster
    near zero — raw-vector codewords throw the bits away): train it with
    :func:`pq_train` over :func:`coarse_residuals` of the same coarse
    codebook, as s8 does. Measured recall@10 at sf0.01: 0.12 raw-domain
    codebook, 0.28 untrained residual stand-in, 0.72 trained (S=32,
    k=64, 3 iters).

    Plan shape: one coarse-routing pass shared with :func:`ivfadc_topk`
    (broadcast codebook, double prefilter + lossless decimal refine);
    corpus residuals come from a broadcast join of the assignment back
    to the coarse codebook (map-side), encoded by :func:`pq_encode`'s
    zero-shuffle Arrow pass; scoring is the same broadcast hash join on
    ``cell`` with positional ``element_at`` lookups. All residual
    arithmetic is plain IEEE double subtraction (bit-identical across
    engines) with exact-decimal accumulation, so the oracle replays it
    exactly.

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
    # residual vec_ids are unique by construction (one row per vector)
    codes = pq_encode(res, pq_centroids, "vec_id", "residual", n_subspaces=n_subspaces, dense=True)
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
