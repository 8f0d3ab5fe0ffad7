"""Cross-engine deterministic hashing for dedup/similarity operators.

Spark's builtin ``hash()`` is murmur3 and DuckDB's ``hash()`` is its own —
they can never agree. Everything here derives from ``md5`` (identical in
both engines): the first 15 hex chars parse into a 60-bit non-negative
int, reduced mod a 31-bit prime so the (a*h + b) % P universal-hash family
stays inside int64 in both engines.

The same constants generate the Spark Column expressions and the oracle
SQL, so the two sides are the same function by construction.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime). a*h + b <= 2^31 * 2^31 < 2^63 — no overflow.
MINHASH_PRIME = 2_147_483_647

# Fixed universal-hash parameters (k=16), generated once from seed 42:
# [(a_i, b_i)] with 1 <= a < P, 0 <= b < P.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1083116687, 906378984), (277691716, 11814260), (663920010, 488240551),
    (1767612842, 265308615), (1121143854, 70759107), (1146561109, 1522665269),
    (1671573737, 1804750926), (604645167, 129730950), (699148992, 1320412537),
    (1927927229, 1052486461), (1988192828, 1986119057), (1545949896, 530925211),
    (861973162, 370983704), (174916747, 525484404), (174403173, 286741785),
    (1362309592, 1074030877),
]

SIMHASH_BITS = 32

# Each Spark column below parses as ONE ``F.expr`` SQL string, i.e. one
# py4j round-trip. Composed through the functions API, the same trees
# cost ~1 100 (minhash_agg_cols) and ~3 900 (simhash_col) round-trips
# per call — 0.5-1.5 s of pure driver chatter (CONSTR_PROFILE_r11.json),
# paid by every d3/d4/d17/st10/st17 plan build at any scale.
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _ident(s: str) -> str:
    """Backtick plain identifiers; anything else is a deliberate SQL fragment."""
    return f"`{s}`" if _IDENT.match(s) else s


def token_hash(col: Column) -> Column:
    """60-bit md5-derived hash reduced mod P. Matches ``sql_token_hash``."""
    return (F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint") % MINHASH_PRIME)


def sql_token_hash(expr: str) -> str:
    return f"(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % {MINHASH_PRIME})"


def minhash_agg_cols(hash_col: str = "h") -> list[Column]:
    """16 MIN aggregate columns m0..m15 over the token-hash column."""
    h = _ident(hash_col)
    return [
        F.expr(f"min(({a} * {h} + {b}) % {MINHASH_PRIME})").alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def sql_minhash_aggs(hash_expr: str = "h") -> str:
    return ",\n       ".join(
        f"MIN(({a} * {hash_expr} + {b}) % {MINHASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )


def simhash_col(hash_col: str = "h") -> Column:
    """Assemble a 32-bit simhash from per-bit sign sums (aggregate expr).

    For each bit j: s_j = sum over tokens of (+1 if bit set else -1);
    simhash bit j = 1 iff s_j > 0. One pass, 32 conditional sums, all
    JVM-side codegen — no UDF, no explode.
    """
    h = _ident(hash_col)
    parts = [
        f"case when sum(case when (shiftright({h}, {j}) & 1) = 1 then 1 else -1 end) > 0 "
        f"then {1 << j} else 0 end"
        for j in range(SIMHASH_BITS)
    ]
    return F.expr("cast(0 as bigint) + " + " + ".join(parts))


def sql_simhash(hash_expr: str = "h") -> str:
    parts = [
        f"CASE WHEN SUM(CASE WHEN (({hash_expr} >> {j}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    ]
    return "(" + " + ".join(parts) + ")"
