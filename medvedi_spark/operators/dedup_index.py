"""Incremental fuzzy-dedup index: persist MinHash signatures + verified
pairs, dedup corpus additions without recomputing the existing corpus.

The production pattern (VERDICT r6 directive #7): a training corpus is
deduped ONCE with :func:`~medvedi_spark.operators.llm.fuzzy_dedup_survivors`
(d16), then grows by ingestion forever. Recomputing shingles, minhash
signatures and the banded self-join over the whole historical corpus per
ingest batch is corpus-quadratic over the pipeline's lifetime; this
module is the s11-style save/load split for the dedup family
(st10 already proves the streaming half of the same idea):

- ``sigs/`` — the per-doc signature table ``(doc_id, m0..m15, toks)``
  from :func:`~medvedi_spark.operators.llm.minhash_band_index`: 16
  minhash mins + the distinct hash set (the exact-verify payload).
  Parquet, corpus-linear, written once per corpus generation.
- ``pairs/`` — the VERIFIED near-dup pairs within the indexed corpus.
  Saving pairs (not just signatures) is what makes ingest EQUAL to the
  one-shot dedup of the union: transitive chains may run through
  already-dropped old docs, so old-internal edges must participate in
  the component closure — and they were already paid for at build time.
- ``meta.json`` — threshold + hash-family fingerprint, so an ingest
  against an index built with different semantics fails loudly instead
  of silently mixing incompatible signatures.

Ingest computes signatures and bands ONLY for the arriving batch, joins
its bands against the loaded corpus bands (derived map-side from the
sigs scan — a projection + explode, no shuffle on the corpus side),
verifies with exact Jaccard over the stored hash sets, unions the new
edges with the stored ones, and closes components. The result is
bit-equal to the one-shot d16 on the union (the d17 registered query
hash-checks exactly that against d16's own oracle).

Scale shape per ingest batch of size B over history of size N: the
expensive signature pipeline runs over B only; the band join shuffles
(B + N) band rows keyed on (band_idx, band_val) — the same key the
one-shot uses — and the verify joins are doc-id-keyed. Nothing
broadcasts on the corpus side; nothing recomputes N's shingles.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medvedi_spark.functions.hashing import MINHASH_COEFFS
from medvedi_spark.operators.graph import connected_components
from medvedi_spark.operators.llm import minhash_band_index

__all__ = [
    "MinhashDedupIndex",
    "bands_of_sigs",
    "minhash_index_save",
    "minhash_index_load",
    "fuzzy_dedup_ingest",
]

_HASH_FAMILY = f"md5-bigram-minhash-{len(MINHASH_COEFFS)}"


@dataclass(frozen=True)
class MinhashDedupIndex:
    """Loaded dedup index: frames, not data — nothing is collected."""

    sigs: DataFrame  # (doc_id, m0..m15, toks)
    pairs: DataFrame  # (doc_a, doc_b, jaccard) within the indexed corpus
    threshold: float


def bands_of_sigs(sigs: DataFrame) -> DataFrame:
    """LSH bands from a signature table: two-min concatenated band
    values, the exact band assembly of
    :func:`~medvedi_spark.operators.llm.minhash_band_index` (the struct
    array is the SAME ``llm._band_structs`` column, so an index written
    by one and read by the other can never drift). Pure projection +
    explode — map-side over a sigs scan."""
    from medvedi_spark.operators.llm import _band_structs

    return sigs.select("doc_id", F.explode(_band_structs()).alias("bd")).select(
        "doc_id", F.col("bd.band_idx").alias("band_idx"), F.col("bd.band_val").alias("band_val")
    )


def _verified_pairs(candidates: DataFrame, sigs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the stored
    hash sets — the verify tail of
    :func:`~medvedi_spark.operators.llm.minhash_lsh_pairs` (doc-id-keyed
    joins, no broadcast hints: the sig table is corpus-sized)."""
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


def minhash_index_save(
    df: DataFrame, id_col: str, text_col: str, path: str, threshold: float = 0.8
) -> None:
    """Build and persist the dedup index of ``df``: signature table,
    verified internal near-dup pairs, and semantics metadata. The
    candidate+verify chain is inlined (not delegated to
    ``minhash_lsh_pairs``) so it reuses THIS sigs frame's size-guarded
    persist for both the parquet write and the pair verification."""
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
    pairs = _verified_pairs(candidates, sigs, threshold)
    # The two artifact writes are independent jobs over the SAME
    # size-guard-persisted sigs frame — run them concurrently (guide
    # §2.6): the pairs job's band-join tail back-fills executors the
    # sigs write frees, instead of paying the two job latencies back to
    # back (the save half of d17/st17 measured 5.1 s sequential at
    # sf0.1; the persist's per-block locks make the shared scan safe).
    from medvedi_spark.operators.ann_index import _parallel_writes

    _parallel_writes(
        lambda: sigs.write.mode("overwrite").parquet(os.path.join(path, "sigs")),
        lambda: pairs.write.mode("overwrite").parquet(os.path.join(path, "pairs")),
    )
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "threshold": threshold,
                "hash_family": _HASH_FAMILY,
                # writer-pinned schemas: the load skips the parquet
                # footer/schema-inference job (see ann_index._read_pinned)
                "schemas": {"sigs": sigs.schema.json(), "pairs": pairs.schema.json()},
            },
            f,
        )


def minhash_index_load(spark: SparkSession, path: str) -> MinhashDedupIndex:
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("hash_family") != _HASH_FAMILY:
        raise ValueError(
            f"index at {path} was built with hash family {meta.get('hash_family')!r}, "
            f"this build uses {_HASH_FAMILY!r} — rebuild the index"
        )
    from medvedi_spark.operators.ann_index import _read_pinned

    schemas = meta.get("schemas", {})
    return MinhashDedupIndex(
        sigs=_read_pinned(spark, os.path.join(path, "sigs"), schemas.get("sigs")),
        pairs=_read_pinned(spark, os.path.join(path, "pairs"), schemas.get("pairs")),
        threshold=float(meta["threshold"]),
    )


def fuzzy_dedup_ingest(
    index: MinhashDedupIndex,
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup ``old ∪ new`` using the persisted index of ``old``: equals
    ``fuzzy_dedup_survivors(old.unionByName(new))`` bit-for-bit WITHOUT
    recomputing old's signatures or old-internal pairs.

    New work per batch: signatures of ``new`` only; candidates =
    (new × new bands) ∪ (new × old bands); verify; union with stored
    pairs; component closure; one left_anti of the union corpus against
    the drop list.
    """
    new_sigs, new_bands = minhash_band_index(new_df, id_col, text_col)
    old_bands = bands_of_sigs(index.sigs)
    nb_a, nb_b = new_bands.alias("na"), new_bands.alias("nb")
    new_new = (
        nb_a.join(
            nb_b,
            (F.col("na.band_idx") == F.col("nb.band_idx"))
            & (F.col("na.band_val") == F.col("nb.band_val"))
            & (F.col("na.doc_id") < F.col("nb.doc_id")),
        )
        .select(F.col("na.doc_id").alias("doc_a"), F.col("nb.doc_id").alias("doc_b"))
    )
    ob, nb = old_bands.alias("ob"), new_bands.alias("nn")
    cross = (
        ob.join(
            nb,
            (F.col("ob.band_idx") == F.col("nn.band_idx"))
            & (F.col("ob.band_val") == F.col("nn.band_val")),
        )
        .select(
            F.least(F.col("ob.doc_id"), F.col("nn.doc_id")).alias("doc_a"),
            F.greatest(F.col("ob.doc_id"), F.col("nn.doc_id")).alias("doc_b"),
        )
    )
    candidates = new_new.unionByName(cross).distinct()
    all_sigs = index.sigs.select("doc_id", "toks").unionByName(
        new_sigs.select("doc_id", "toks")
    )
    new_pairs = _verified_pairs(candidates, all_sigs, index.threshold)
    all_pairs = index.pairs.select("doc_a", "doc_b").unionByName(
        new_pairs.select("doc_a", "doc_b")
    )
    comps = connected_components(all_pairs, "doc_a", "doc_b")
    drops = comps.filter(F.col("component") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return old_df.unionByName(new_df).join(drops, id_col, "left_anti")
