"""SQL-text expression kernels shared by the LLM-pipeline operators.

Each kernel returns a ``Column`` (or the SQL text of one) built as ONE
``F.expr`` string: exact-decimal and double dot / squared-L2 distances,
the unrolled popcount folds, word tokens and n-grams, the in-row
nearest-centroid argmin, the SQ8 codec and its integer distance, the JL
projection and the SRP sign signature. String arguments are SQL
fragments; plain identifiers are backtick-quoted by
:func:`~medvedi_spark.functions.hashing._ident`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medvedi_spark.functions.hashing import _ident
from medvedi_spark.queries._det import DEC


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
# quoting rule cannot drift between the hashing kernels and these.


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
    a, b = _ident(a), _ident(b)
    return F.expr(
        f"cast(cast(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(cast(x as double) * cast(y as double) as {DEC})), "
        f"cast(0 as {DEC}), (acc, x) -> cast((acc + x) as {DEC})) as string) as double)"
    )


def dot_double(a: str, b: str) -> Column:
    """Plain double dot product — fast pre-filter only (order-dependent
    last bits, so never emitted in results). Args are SQL fragments, as
    for :func:`dot_dec`."""
    a, b = _ident(a), _ident(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(x as double) * cast(y as double)), 0.0D, (acc, x) -> acc + x)"
    )


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


def word_tokens(text_col: str) -> str:
    """SQL text of the whitespace-split token array of ``text_col``, empty
    tokens dropped. Materialize it in a select() BEFORE using it inside
    any transform/filter lambda: Spark does not common-subexpression-
    eliminate outer expressions captured inside a lambda (see
    :func:`word_ngrams_of`). Catalyst's CollapseProject can still
    re-inline it through an alias, so per-element work should use
    capture-free builders (``text_ops._bigrams_of``)."""
    return f"filter(split({_ident(text_col)}, ' '), t -> t != '')"


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
    toks = _ident(toks)
    # sequence(1, k) DESCENDS when k < 1 — guard short docs explicitly.
    return (
        f"CASE WHEN size({toks}) >= {n} "
        f"THEN transform(sequence(1, size({toks}) - {n - 1}), i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )


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
    return F.expr(_sqdist_dec_sql(_ident(a), _ident(b)))


def sqdist_double(a: str, b: str) -> Column:
    """Plain double squared-L2 — fast pre-filter only (order-dependent
    last bits, so never emitted in results; pairs with _refine_topk).
    Args are SQL fragments, as for :func:`sqdist_dec`."""
    a, b = _ident(a), _ident(b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), "
        f"0.0D, (acc, x) -> acc + x)"
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
    v = _ident(vec_col)
    structs = ", ".join(
        f"struct({_sqdist_dec_sql(v, _sql_double_array(r['c_emb']))} as d2, "
        f"cast({int(r['cent_id'])} as bigint) as cell)"
        for r in cents
    )
    return F.expr(f"array_min(array({structs})).cell")


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
    v = _ident(vec)
    mn, mx = _sql_double_array(vmin), _sql_double_array(vmax)
    return F.expr(
        f"transform({v}, (x, i) -> "
        f"case when element_at({mx}, i + 1) > element_at({mn}, i + 1) "
        f"then cast(round((cast(x as double) - element_at({mn}, i + 1)) * 255.0D "
        f"/ (element_at({mx}, i + 1) - element_at({mn}, i + 1))) as int) "
        f"else 0 end)"
    )


def _sq8_d2() -> Column:
    """Integer squared-L2 over SQ8 code arrays ``codes``/``qcodes`` —
    every term ≤ 255², the sum far inside int64, bit-exact anywhere.
    One ``F.expr`` string (see the kernel note above dot_dec)."""
    return F.expr(
        "aggregate(zip_with(codes, qcodes, (a, b) -> cast((a - b) * (a - b) as long)), "
        "cast(0 as long), (acc, x) -> acc + x)"
    )


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
