"""Blocked Bloom filters, eval-set decontamination and the ExactSubstr
span operators.

The Bloom filter is auto-sized from the eval-side distinct-gram count
(:func:`bloom_auto_m_bits`), and its consumers (:func:`bloom_flag`,
:func:`bloom_span_flag`, :func:`bloom_span_remove`) are Arrow batch
passes sharing one numpy membership probe (:func:`_bloom_probe`); the
exact span operators fan a narrow, under-partitioned doc frame out to the
session's parallelism first (:func:`_fan_out_narrow`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from medvedi_spark.functions.hashing import _ident
from medvedi_spark.operators import _persist
from medvedi_spark.operators.kernels import word_ngrams_of, word_tokens


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
# probe costs ONE random fetch into the bitmap (the key's block word)
# instead of k: the span passes (st16, st18) probe once per character
# of the text, against a bitmap of up to 2^28 bits. Cost: bit clumping
# raises the false-positive rate ~1.3-2× over the ideal independent-hash
# filter at the same m (the literature's measured penalty) — acceptable
# because every consumer treats the FP tail as deterministic contract
# replayed exactly by its oracle, and an exact pass downstream resolves
# flags.
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


def _check_m_bits(m_bits: int) -> int:
    """The word count ``m_bits / 64`` of a blocked filter, after the
    membership-side mirror of the build-side guard (ADVICE r9): a probe
    whose ``m_bits`` is not a positive multiple of 64 would silently
    floor the word count — a scheme mismatch against any filter built
    through :func:`bloom_build_bits` (which rejects such sizes), and
    ``m_bits < 64`` is a modulo by zero at runtime."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(
            f"blocked bloom m_bits must be a positive multiple of 64, got {m_bits}"
        )
    return m_bits // 64


def _bloom_block_word(digest: str, m_bits: int) -> str:
    """SQL text of the 0-based word index of a key's block: hex chars
    1-15 (60 bits) of the md5 digest (the SQL fragment ``digest``), mod
    ``m_bits / 64`` (guarded by :func:`_check_m_bits`)."""
    return f"(cast(conv(substring({digest}, 1, 15), 16, 10) as bigint) % {_check_m_bits(m_bits)})"


def _bloom_block_bit(digest: str, i: int) -> str:
    """SQL text of bit-in-word ``i`` of a key: 5 hex chars (20 bits) at offset
    ``16 + 5*i`` — disjoint from the word slice and from every other
    bit slice. Supports k_hashes ≤ 3 (slice 2 ends at hex char 30)."""
    if i > 2:
        raise ValueError("blocked bloom bit slices support k_hashes <= 3")
    return f"(cast(conv(substring({digest}, {16 + 5 * i}, 5), 16, 10) as bigint) % 64)"


#: auto-size clamp for :func:`bloom_auto_m_bits` — floor keeps tiny eval
#: sets on the historical 8 KB default; the cap (2^28 bits = 32 MiB of
#: longs) bounds the bitmap model state a session holds and ships to the
#: Python workers of the Arrow passes, in each pass's function closure.
#: Anything larger takes the FP warning path.
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
    digest = f"md5({_ident(col)})"
    w = _bloom_block_word(digest, m_bits)
    pos = ", ".join(f"{w} * 64 + {_bloom_block_bit(digest, i)}" for i in range(k_hashes))
    return _collect_bitmap_words(df.select(F.explode(F.expr(f"array({pos})")).alias("p")), m_bits)


def bits_array_sql(words: list[int]) -> str:
    """SQL text of the bitmap-words array as a CONSTANT-FOLDED value —
    ONE string literal split+cast JVM-side, never ``F.lit(list)``, which
    marshals one py4j call per element and plants an ``array()`` node per
    word in the plan (7.3 s of driver time per build at a 16K-word
    bitmap, against 0.04 s for the one string). The SQL membership test
    (:func:`bloom_member`) attaches its bitmap this way; the Arrow passes
    (:func:`bloom_flag`, :func:`bloom_span_flag`,
    :func:`bloom_span_remove`) ship theirs in the function closure."""
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
    DIGEST and its already-fetched block word: all ``k_hashes`` bit tests
    are substring/conv/bit arithmetic against the one word — no further
    bitmap fetch, no further hashing. Both arguments are SQL fragments."""
    return " AND ".join(
        f"(bit_get({word}, cast({_bloom_block_bit(digest, i)} as int)) = 1)"
        for i in range(k_hashes)
    )


def _bloom_fetch_word(digest: str, bitmap_words: list[int], m_bits: int) -> str:
    """SQL text of the one bitmap fetch of a key: its block word in the
    bitmap literal (see :func:`bits_array_sql`)."""
    index = _bloom_block_word(digest, m_bits)
    return f"element_at({bits_array_sql(bitmap_words)}, cast({index} as int) + 1)"


def bloom_member(value: str, bitmap_words: list[int], m_bits: int, k_hashes: int) -> Column:
    """One-shot blocked membership test of column ``value`` against a
    Bloom bitmap, in SQL: md5 once, fetch the block word, test the
    ``k_hashes`` bits — no join, no shuffle. It is the reference that the
    tests hold the Arrow passes' numpy probe (:func:`_bloom_probe`) to."""
    digest = f"md5(`{value}`)"
    word = _bloom_fetch_word(digest, bitmap_words, m_bits)
    return F.expr(bloom_member_word(digest, word, k_hashes))


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
        grams = _persist.size_guarded_persist(eval_df, grams)
        m_bits = bloom_auto_m_bits(grams.count(), k_hashes)
    return bloom_build_bits(grams, "g", m_bits, k_hashes), m_bits


def _bloom_probe(bitmap_words: list[int], m_bits: int, k_hashes: int):
    """Check a blocked filter and return its membership probe for the
    Arrow passes: a function from a list of 16-byte md5 digests to a numpy
    bool array, true where the filter holds the key. numpy takes block
    word ``hex[0:15] % (m_bits/64)`` and bit ``i`` ``hex[15+5i:20+5i] %
    64`` of every digest at once — exactly the SQL scheme of
    :func:`bloom_member_word`. The guards run on the driver, before any
    plan is built: ``m_bits`` (:func:`_check_m_bits`), ``1 <= k_hashes
    <= 3``, and a bitmap of ``m_bits / 64`` words (the probe would index
    past a shorter one)."""
    n_words = _check_m_bits(m_bits)
    if not 1 <= k_hashes <= 3:
        raise ValueError(f"blocked bloom bit slices support 1 <= k_hashes <= 3, got {k_hashes}")
    if len(bitmap_words) != n_words:
        raise ValueError(f"a {m_bits}-bit blocked bloom filter has {n_words} words, got {len(bitmap_words)}")
    import numpy as np

    # Everything the worker needs is a local: cloudpickle ships closure
    # cells by value, while module-level names pickle as references to a
    # package the worker may not be able to import.
    words = np.asarray(bitmap_words, dtype=np.int64).view(np.uint64)
    # bit slice i is hex chars 15+5i..19+5i of the digest, i.e. bits
    # 48-20i and up of its low 64 bits; mod 64 keeps the 6 lowest
    shifts = [np.uint64(48 - 20 * i) for i in range(k_hashes)]

    def probe(digests):
        import numpy as np

        dg = np.frombuffer(b"".join(digests), dtype=">u8").astype(np.uint64).reshape(-1, 2)
        word = words[(dg[:, 0] >> np.uint64(4)) % np.uint64(n_words)]
        hit = np.ones(len(dg), dtype=bool)
        for s in shifts:
            hit &= ((word >> ((dg[:, 1] >> s) & np.uint64(63))) & np.uint64(1)).astype(bool)
        return hit

    return probe


def _arrow_pass(docs: DataFrame, schema: StructType, per_batch) -> DataFrame:
    """``docs.mapInArrow`` of ``per_batch``, a function from one Arrow
    record batch to the output batch, or to None when it has no row."""

    def run(batches):
        import sys
        import zipimport

        # The pyspark worker calls importlib.invalidate_caches() before
        # every task, and on Python 3.11 that makes every cached
        # zipimporter re-read its archive's whole directory: pyspark.zip,
        # once per package imported from it (16 times in a warm st14
        # task, about 0.18 s of CPU under cProfile). Dropping them
        # from the cache spares the worker's next task that; an import
        # re-creates one from zipimport's own directory cache.
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]
        for batch in batches:
            out = per_batch(batch)
            if out is not None:
                yield out

    return docs.mapInArrow(run, schema)


def _doc_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(doc_id, text)``: the input of the Arrow passes, text as a string."""
    return df.selectExpr(f"{_ident(id_col)} AS doc_id", f"CAST({_ident(text_col)} AS STRING) AS text")


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
    Bloom bitmap: a PURE per-row map — no join, no shuffle, no state — so
    the identical plan is legal on a batch frame AND a readStream frame
    (st14's streaming decontamination). Returns ``(doc_id, hit_grams)``
    for flagged docs; ``doc_id`` keeps the id column's type.

    Kernel shape: ONE ``mapInArrow`` pass over ``(doc_id, text)``. Per
    document, one Python loop splits the text on single spaces (empty
    tokens dropped, as :func:`kernels.word_tokens`), builds the distinct
    word ``n``-grams and md5s each once; the batch's digests then go
    through the numpy probe together (:func:`_bloom_probe`), and a
    ``bincount`` per document gives ``hit_grams``. The bitmap ships once,
    as an int64 array in the function's closure.

    Cost: the batch function takes about 1.8 µs of CPU per distinct
    4-gram (sf0.1 documents: 5,000 docs, 255,695 distinct grams, 0.44 s
    on one core of a 4-core x86 host); a warm d14 request at sf0.1 costs
    about 1.5 CPU s of the whole process tree on that host."""
    probe = _bloom_probe(bitmap_words, m_bits, k_hashes)
    docs = _doc_frame(corpus, id_col, text_col)
    schema = StructType(
        [StructField("doc_id", docs.schema["doc_id"].dataType), StructField("hit_grams", LongType())]
    )

    def flag(batch):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        counts, digests = [], []
        for text in batch.column(1).to_pylist():
            toks = [t for t in text.split(" ") if t] if text else []
            grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            counts.append(len(grams))
            digests.extend(md5(g.encode()).digest() for g in grams)
        doc = np.repeat(np.arange(len(counts)), counts)
        hits = np.bincount(doc[probe(digests)], minlength=len(counts))
        keep = np.flatnonzero(hits)
        if len(keep):
            return pa.RecordBatch.from_arrays(
                [batch.column(0).take(keep), pa.array(hits[keep], pa.int64())],
                names=["doc_id", "hit_grams"],
            )
        return None

    return _arrow_pass(docs, schema, flag)


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
    cross = _persist.size_guarded_persist(df, cross)
    if m_bits is None:
        m_bits = bloom_auto_m_bits(cross.count(), k_hashes)
    return bloom_build_bits(cross, "gram", m_bits, k_hashes), m_bits


def _span_hits(probe, k: int):
    """The gram test of the span pass, as a function from a list of texts
    to two int arrays ``(doc, pos)``: the index of the text and the
    1-based char position of every ``k``-char substring that ``probe``
    (:func:`_bloom_probe`) accepts, in ascending order. Each gram is
    md5'd once, and the whole batch is probed in one call; a null text or
    one shorter than ``k`` has no grams."""

    def hits(texts):
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        counts, digests = [], []
        for t in texts:
            n_grams = max(len(t) - k + 1, 0) if t else 0
            counts.append(n_grams)
            digests.extend(md5(t[i : i + k].encode()).digest() for i in range(n_grams))
        counts = np.asarray(counts, dtype=np.int64)
        first_gram = np.cumsum(counts) - counts
        idx = np.flatnonzero(probe(digests))
        doc = np.repeat(np.arange(len(counts)), counts)[idx]
        return doc, idx - first_gram[doc] + 1

    return hits


def _span_pass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bitmap_words: list[int],
    m_bits: int,
    k: int,
    k_hashes: int,
    rewrite: bool,
) -> DataFrame:
    """The one Arrow pass of :func:`bloom_span_flag` (``rewrite`` false)
    and :func:`bloom_span_remove` (``rewrite`` true). Hits come from
    :func:`_span_hits`; a hit opens a new span when it starts a document
    or lies more than ``k`` chars after the previous hit (d11's merge
    recurrence), and a span ends ``k - 1`` chars after its last hit."""
    hits_of = _span_hits(_bloom_probe(bitmap_words, m_bits, k_hashes), k)
    docs = _doc_frame(df, id_col, text_col)
    if rewrite:
        fields = [("clean_text", StringType()), ("removed_chars", LongType())]
    else:
        fields = [("n_spans", LongType()), ("dup_chars", LongType()), ("spans", StringType())]
    schema = StructType(
        [StructField("doc_id", docs.schema["doc_id"].dataType)]
        + [StructField(name, dtype) for name, dtype in fields]
    )
    names = schema.names

    def spans(batch):
        import numpy as np
        import pyarrow as pa

        texts = batch.column(1).to_pylist()
        doc, pos = hits_of(texts)
        brk = (np.diff(doc) != 0) | (np.diff(pos) > k)
        any_hit = len(pos) > 0
        first = np.flatnonzero(np.r_[any_hit, brk])
        last = np.flatnonzero(np.r_[brk, any_hit])
        per_doc = [[] for _ in texts]
        for d, s, e in zip(doc[first].tolist(), pos[first].tolist(), (pos[last] + k - 1).tolist()):
            per_doc[d].append((s, e))
        if rewrite:
            clean, removed = [], []
            for t, sp in zip(texts, per_doc):
                if t is None:
                    clean.append(None)
                    removed.append(None)
                    continue
                kept, at = [], 0
                for s, e in sp:
                    kept.append(t[at : s - 1])
                    at = e
                kept.append(t[at:])
                clean.append("".join(kept))
                removed.append(len(t) - len(clean[-1]))
            cols = [batch.column(0), pa.array(clean, pa.string()), pa.array(removed, pa.int64())]
            return pa.RecordBatch.from_arrays(cols, names=names)
        keep = [j for j, sp in enumerate(per_doc) if sp]
        if not keep:
            return None
        flagged = [per_doc[j] for j in keep]
        cols = [
            batch.column(0).take(keep),
            pa.array([len(sp) for sp in flagged], pa.int64()),
            pa.array([sum(e - s + 1 for s, e in sp) for sp in flagged], pa.int64()),
            pa.array([";".join(f"{s}-{e}" for s, e in sp) for sp in flagged], pa.string()),
        ]
        return pa.RecordBatch.from_arrays(cols, names=names)

    return _arrow_pass(docs, schema, spans)


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
    ``k_gram``-substring hits the filter is an anchor, and anchors at
    most ``k_gram`` chars apart merge into maximal spans, all inside one
    ``mapInArrow`` pass (:func:`_span_pass`) — no window, no join, no
    shuffle, NO STREAMING STATE — so the identical plan runs on a batch
    frame and a readStream frame. Output matches d11's ``(doc_id,
    n_spans, dup_chars, spans)`` for contaminated docs (``doc_id`` keeps
    the id column's type), up to the filter's deterministic
    false-positive tail (no false negatives — every true d11 span is
    contained in a flagged span)."""
    return _span_pass(df, id_col, text_col, bitmap_words, m_bits, k_gram, k_hashes, rewrite=False)


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
    bitmap: :func:`bloom_span_flag`'s spans, excised from each document
    and the remaining text reassembled in the same ``mapInArrow`` pass
    (:func:`_span_pass`) — no join, no window, no shuffle, NO STREAMING
    STATE. This is the ingest-time cleaner of the Lee et al. 2021
    pipeline: st16 flags, this rewrites.

    Output matches d18's ``(doc_id, clean_text, removed_chars)`` for
    EVERY input row (clean docs pass through verbatim with
    ``removed_chars = 0``; a null text gives nulls), up to the filter's
    deterministic false-positive tail — no false negatives: every
    d18-removed char is removed here too (every true duplicate span is
    contained in a flagged span; unit-tested)."""
    return _span_pass(df, id_col, text_col, bitmap_words, m_bits, k_gram, k_hashes, rewrite=True)


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
    anchors = _persist.size_guarded_persist(df, anchors)
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
        cross = _persist.persist_tracked(cross)
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
    blocks = _persist.size_guarded_persist(df, blocks)
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
