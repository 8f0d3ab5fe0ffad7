"""Driver-gated coverage for the MDF compat surface.

Most MDF operators (arrow round-trip, iloc, sort_index, Index.diff,
duplicated masks, monotonic checks) were proven only by unit tests in
round 1 — the driver's oracle gate never exercised them. These queries
drive each one end-to-end under whatever SparkSession the driver
provides and express the expected answer in ANSI SQL, so the rows flip
from "unit-test green" to "driver-verified".

Positions: MDF row order is the parquet file order (row ids ascend with
(partition, offset)); the oracles reconstruct the same positions with
``row_number() OVER () - 1``, which DuckDB evaluates in insertion order
over a parquet scan.

Reference parity targets: S2/S3 (`medvedi/dataframe.py:1059-1080`),
P6 iloc (`dataframe.py:264-287`), O2 sort_index, J2 Index.diff
(`dataframe.py:169-186`), G7/G10 duplicated, O4 monotonic accessors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medvedi_spark.frame import MDF, ROW_ID
from medvedi_spark.queries.registry import register


def _tbl(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# --------------------------------------------------------------------------
# c1 — arrow round-trip (S2 to_arrow + S3 from_arrow) on a real table.
# --------------------------------------------------------------------------


@register(
    "c1_arrow_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("compat", "arrow"),
)
def c1_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    mdf = MDF.read_parquet(_tbl(sf_dir, "nation"), spark=spark)
    back = MDF.from_arrow(mdf.to_arrow(), spark=spark)
    return back.df.select("n_nationkey", "n_name", "n_regionkey")


# --------------------------------------------------------------------------
# c2 — iloc slice after a stable sort (P5 take + P6 iloc).
# --------------------------------------------------------------------------


@register(
    "c2_iloc_slice",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_custkey LIMIT 50 OFFSET 100
    """,
    tags=("compat", "iloc"),
)
def c2_iloc_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    mdf = MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark)
    sliced = mdf.sort_values("c_custkey").iloc[100:150]
    return sliced.df.select("c_custkey", "c_name", "c_acctbal")


# --------------------------------------------------------------------------
# c3 — sort_index emits the sorted rank through the renumbered row ids
# (O2 + X1 set_index + X2 reset_index). The pos column pins the ORDER,
# not just the row set.
# --------------------------------------------------------------------------


@register(
    "c3_sort_index_rank",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n_name) - 1 AS BIGINT) AS pos,
           n_name, n_nationkey
    FROM nation
    """,
    tags=("compat", "sort"),
)
def c3_sort_index_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    mdf = MDF.read_parquet(_tbl(sf_dir, "nation"), spark=spark).set_index("n_name")
    out = mdf.sort_index().reset_index()
    return out.df.select(F.col(ROW_ID).alias("pos"), "n_name", "n_nationkey")


# --------------------------------------------------------------------------
# c4 — Index.diff anti-join positions (J2): nations with no supplier.
# --------------------------------------------------------------------------


@register(
    "c4_index_diff",
    oracle="""
    SELECT pos FROM (
      SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS pos, c_custkey
      FROM customer
    )
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    tags=("compat", "index", "antijoin"),
)
def c4_index_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark).set_index("c_custkey")
    orders = MDF._from_spark(
        MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark).df.filter(F.col("o_orderstatus") == "F"),
        index=("o_custkey",),
    )
    pos = cust.index.diff(orders.index)
    return spark.createDataFrame([(int(p),) for p in pos], "pos bigint")


# --------------------------------------------------------------------------
# c5 — duplicated mask in row order (G7; Index.duplicated G10 delegates
# to the same kernel). keep='first' ⇒ first occurrence in file order is
# False, later ones True.
# --------------------------------------------------------------------------


@register(
    "c5_duplicated_mask",
    oracle="""
    SELECT pos, row_number() OVER (PARTITION BY o_custkey ORDER BY pos) > 1 AS dup
    FROM (
      SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS pos, o_custkey
      FROM orders
    )
    """,
    tags=("compat", "dedup"),
)
def c5_duplicated_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    mdf = MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)
    mask = mdf.duplicated(subset=["o_custkey"], keep="first")
    # Arrow-batched transfer back (the mask itself is driver-side numpy,
    # which is the compat contract for G7)
    pdf = pd.DataFrame({"pos": np.arange(len(mask), dtype=np.int64), "dup": mask.astype(bool)})
    return spark.createDataFrame(pdf)


# --------------------------------------------------------------------------
# c6 — index accessors: is_unique (G9) + monotonic checks (O4), computed
# on the engine side and recomputed from scratch by the oracle.
# --------------------------------------------------------------------------


@register(
    "c6_index_accessors",
    oracle="""
    WITH p AS (
      SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS pos, n_name
      FROM nation
    ),
    file_order AS (
      SELECT bool_and(inc_ok) AS inc_mono, bool_and(dec_ok) AS dec_mono FROM (
        SELECT lag(n_name) OVER w IS NULL OR n_name >= lag(n_name) OVER w AS inc_ok,
               lag(n_name) OVER w IS NULL OR n_name <= lag(n_name) OVER w AS dec_ok
        FROM p WINDOW w AS (ORDER BY pos)
      )
    )
    SELECT (COUNT(DISTINCT n_name) = COUNT(*)) AS is_unique,
           (SELECT inc_mono FROM file_order) AS inc_monotonic,
           (SELECT dec_mono FROM file_order) AS dec_monotonic
    FROM nation
    """,
    tags=("compat", "index"),
)
def c6_index_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = MDF.read_parquet(_tbl(sf_dir, "nation"), spark=spark).set_index("n_name")
    return spark.createDataFrame(
        [
            (
                bool(nat.index.is_unique),
                bool(nat.index.is_monotonic_increasing),
                bool(nat.index.is_monotonic_decreasing),
            )
        ],
        "is_unique boolean, inc_monotonic boolean, dec_monotonic boolean",
    )


# --------------------------------------------------------------------------
# c7 — grouped-map (G4): `MDF.groupby(...).apply(pandas_fn, schema)` lowered
# to `applyInPandas` (one Arrow batch per group, state sharded by key —
# the distributed form of the reference's Grouper iteration,
# `medvedi/dataframe.py:236-261`). The pandas body uses only exact
# reductions (count/min/max/nunique) so the result is bitwise-stable
# regardless of partitioning, making it hash-checkable against SQL.
# --------------------------------------------------------------------------


@register(
    "c7_grouped_map",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("compat", "groupby", "grouped-map", "pandas-udf"),
)
def c7_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    mdf = MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderstatus": [pdf["o_orderstatus"].iloc[0]],
                "n": [len(pdf)],
                "min_price": [pdf["o_totalprice"].min()],
                "max_price": [pdf["o_totalprice"].max()],
                "n_cust": [pdf["o_custkey"].nunique()],
            }
        )

    out = mdf.groupby("o_orderstatus").apply(
        per_group,
        schema="o_orderstatus string, n long, min_price double, max_price double, n_cust long",
    )
    return out.df.drop(ROW_ID)


# --------------------------------------------------------------------------
# c8 — reference JOIN FILL semantics (SURVEY §1.3 δ-1 + §2.3 J1) through
# the oracle: medvedi joins never produce NULLs for unmatched rows —
# they materialize TYPE DEFAULTS (0 for ints, '' for strings, NaN for
# floats). The right side is restricted to a third of the customers so
# two thirds of the orders rows exercise the fill path; the SQL replays
# the same semantics with explicit COALESCEs. Positional index matching
# (o_custkey vs c_custkey — different NAMES, same key position) is part
# of what's proven.
# --------------------------------------------------------------------------


@register(
    "c8_join_fill_defaults",
    oracle="""
    SELECT o.o_custkey AS k,
           o.o_totalprice AS price,
           COALESCE(c.c_acctbal, CAST('nan' AS DOUBLE)) AS acctbal,
           COALESCE(c.c_mktsegment, '') AS segment,
           COALESCE(c.c_nationkey, 0) AS nat
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
      ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey < 2000
    """,
    tags=("compat", "join", "fills"),
    doc="Gate duplicate: J1 join kernel driver-gated via q2/q3 joins and "
        "unit-proven by the reference's 13-case join spec; c8 proves the "
        "fill-defaults delta through the oracle harness locally.",
)
def c8_join_fill_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = MDF.from_spark(
        MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)
        .df.filter(F.col("o_orderkey") < 2000)
        .select("o_custkey", "o_totalprice", ROW_ID),
        index=("o_custkey",),
    )
    right = MDF.from_spark(
        MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark)
        .df.filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_acctbal", "c_mktsegment", "c_nationkey", ROW_ID),
        index=("c_custkey",),
    )
    out = left.join(right)
    return out.df.drop(ROW_ID).select(
        F.col("o_custkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nat"),
    )


# --------------------------------------------------------------------------
# c9 — reference LAST-WINS column collision (SURVEY §1.3 δ-4): when
# joined frames share a non-key column name and no suffixes are given,
# the LAST frame's values overwrite at matched positions; unmatched rows
# keep the earlier frame's values (the reference's scatter loop,
# `/root/reference/medvedi/dataframe.py:1259-1275`). Spark itself raises
# on the ambiguity — the compat layer implements the rule, and the
# oracle replays it as a match-conditional CASE.
# --------------------------------------------------------------------------


@register(
    "c9_join_last_wins",
    oracle="""
    SELECT o.o_custkey AS k,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.tag ELSE o.tag END AS tag
    FROM (SELECT o_custkey, o_orderkey, o_orderpriority AS tag FROM orders WHERE o_orderkey < 2000) o
    LEFT JOIN (SELECT c_custkey, c_mktsegment AS tag FROM customer WHERE c_custkey % 3 = 0) c
      ON c.c_custkey = o.o_custkey
    """,
    tags=("compat", "join", "last-wins"),
    doc="Gate duplicate: J1 join kernel driver-gated via q2/q3; c9 proves "
        "the last-wins collision delta through the oracle harness locally.",
)
def c9_join_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = MDF.from_spark(
        MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)
        .df.filter(F.col("o_orderkey") < 2000)
        .select("o_custkey", F.col("o_orderpriority").alias("tag"), ROW_ID),
        index=("o_custkey",),
    )
    right = MDF.from_spark(
        MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark)
        .df.filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", F.col("c_mktsegment").alias("tag"), ROW_ID),
        index=("c_custkey",),
    )
    out = left.join(right)
    return out.df.drop(ROW_ID).select(F.col("o_custkey").alias("k"), "tag")


# --------------------------------------------------------------------------
# c10 — reference NON-STRICT CONCAT fills (SURVEY §2.6 U1) through the
# oracle: `concat(strict=False)` unions by name and materializes TYPE
# DEFAULTS for absent cells — 0 for ints, '' for strings, NaN for
# doubles (`/root/reference/medvedi/dataframe.py:1096-1120`). q9 proves
# the union kernel via plain Spark; this gate drives the actual
# MDF.concat compat path with three dtype fills at once.
# --------------------------------------------------------------------------


@register(
    "c10_concat_fill_defaults",
    oracle="""
    SELECT * FROM (
      SELECT p_partkey AS k, p_size AS sz, p_name AS name,
             CAST('nan' AS DOUBLE) AS price
      FROM part WHERE p_size < 10
      UNION ALL
      SELECT p_partkey AS k, 0 AS sz, '' AS name, p_retailprice AS price
      FROM part WHERE p_size > 40
    )
    """,
    tags=("compat", "concat", "fills"),
    doc="Gate duplicate: U1 concat kernel driver-gated via q9; c10 proves "
        "the non-strict fill-defaults delta through the MDF.concat path by "
        "the same oracle harness locally.",
)
def c10_concat_fill_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.frame import concat

    part = MDF.read_parquet(_tbl(sf_dir, "part"), spark=spark)
    a = MDF.from_spark(
        part.df.filter(F.col("p_size") < 10).select(
            F.col("p_partkey").alias("k"), F.col("p_size").alias("sz"),
            F.col("p_name").alias("name"), ROW_ID,
        )
    )
    b = MDF.from_spark(
        part.df.filter(F.col("p_size") > 40).select(
            F.col("p_partkey").alias("k"), F.col("p_retailprice").alias("price"), ROW_ID,
        )
    )
    out = concat(a, b, strict=False, ignore_index=True)
    return out.df.drop(ROW_ID).select("k", "sz", "name", "price")


# --------------------------------------------------------------------------
# c11 — MDF row-order pipeline through the oracle: boolean-mask `take` →
# `sort_values` → `drop_duplicates(keep='last')`. keep='last' is defined
# by ROW ORDER (P5/G6), so after sorting by o_orderkey the survivor per
# customer is the max-orderkey row — which is exactly what the oracle's
# arg_max states declaratively. Proves the __row_id__ discipline the
# whole compat layer rides on (mask take preserves order, sort renumbers,
# dedup keeps by the new order).
# --------------------------------------------------------------------------


@register(
    "c11_mdf_dedup_pipeline",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_orderkey) AS last_orderkey,
           arg_max(o_totalprice, o_orderkey) AS last_price
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_custkey
    """,
    tags=("compat", "take", "sort", "dedup"),
    doc="Gate duplicate: P5/O1/G6 kernels driver-gated via c2/c3/q6; c11 "
        "proves their composition on the MDF row-order discipline through "
        "the oracle harness locally.",
)
def c11_mdf_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    mdf = MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)
    mask = mdf["o_totalprice"] > 100000  # driver-side boolean mask, reference protocol
    picked = mdf.take(mask)
    picked.sort_values("o_orderkey", inplace=True)
    deduped = picked.drop_duplicates("o_custkey", keep="last")
    return deduped.df.drop(ROW_ID).select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_price"),
    )


# --------------------------------------------------------------------------
# c12 — MDF.explode (U3) through the oracle: sibling-column replication
# plus the post-explode row renumbering. q10 proves the explode KERNEL on
# plain Spark; this gate drives the MDF path (array column in a compat
# frame, __row_id__ reassignment by (source row, position)).
# --------------------------------------------------------------------------


@register(
    "c12_mdf_explode",
    oracle="""
    SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    )
    GROUP BY token
    """,
    tags=("compat", "explode"),
    doc="Gate duplicate: U3 explode kernel driver-gated via q10; c12 proves "
        "the MDF.explode path (sibling replication + renumber) through the "
        "oracle harness locally.",
)
def c12_mdf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = MDF.read_parquet(_tbl(sf_dir, "documents"), spark=spark)
    toks = MDF.from_spark(
        docs.df.select(
            "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("token"), ROW_ID
        )
    )
    exploded = toks.explode("token")
    return (
        exploded.df.drop(ROW_ID)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# c13 — MDF.fillna (P12, per-column mapping form) + MDF.astype (P10) on
# a frame with real NULLs, through the oracle. q4/q11 prove the kernels
# on plain Spark; this drives the compat methods (type-checked fill
# values, cast-to-string without float formatting hazards — the int
# column casts, the double column fills).
# --------------------------------------------------------------------------


@register(
    "c13_mdf_fillna_astype",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS k,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal,
           COALESCE(CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_mktsegment END, 'none') AS seg
    FROM customer
    """,
    tags=("compat", "fillna", "astype"),
    doc="Gate duplicate: P10/P12 kernels driver-gated via q4/q11; c13 "
        "proves the MDF method forms through the oracle harness locally.",
)
def c13_mdf_fillna_astype(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = MDF.from_spark(
        MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark).df.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
            F.when(F.col("c_nationkey") % 5 == 0, None).otherwise(F.col("c_mktsegment")).alias("seg"),
            ROW_ID,
        )
    )
    filled = base.fillna({"bal": 0.0, "seg": "none"})
    cast = filled.astype({"c_custkey": str})  # numpy dtype spec, reference form
    return cast.df.drop(ROW_ID).select(F.col("c_custkey").alias("k"), "bal", "seg")


# --------------------------------------------------------------------------
# c14/c15/c16 — source-format round trips (S7): the query WRITES the
# table through the format under test and reads it back; the oracle is
# the untouched parquet view, so any lossy serialization (float text
# formatting, date handling, column typing) breaks the hash. Each format
# uses an explicit read schema — production corpora never rely on
# sampling inference.
# --------------------------------------------------------------------------


def _fmt_tmp(sf_dir: str, tag: str) -> str:
    import tempfile

    # pid-scoped: two concurrent harness runs over the same table must
    # not race on the overwrite-then-read-back cycle (one run's delete
    # landing mid-read in the other produced spurious failures).
    return os.path.join(
        tempfile.gettempdir(),
        f"medvedi_spark_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )


@register(
    "c14_csv_roundtrip",
    oracle="SELECT c_custkey, c_mktsegment, c_acctbal FROM customer",
    tags=("compat", "sources", "csv"),
    doc="S7 csv read+write proven against the parquet oracle (double text "
        "round-trip included); parquet S4/S5 is driver-gated in-window by "
        "every q*. Proven by the same oracle harness locally.",
)
def c14_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.sources import readers

    mdf = MDF.read_parquet(_tbl(sf_dir, "customer"), spark=spark)
    sub = MDF.from_spark(mdf.df.select("c_custkey", "c_mktsegment", "c_acctbal", ROW_ID))
    path = _fmt_tmp(sf_dir, "c14csv")
    readers.write_csv(sub, path)
    back = readers.read_csv(
        path, spark=spark, header=True,
        schema="c_custkey bigint, c_mktsegment string, c_acctbal double",
    )
    return back.df.drop(ROW_ID)


@register(
    "c15_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier",
    tags=("compat", "sources", "json"),
    doc="S7 json-lines read+write proven against the parquet oracle. "
        "Proven by the same oracle harness locally.",
)
def c15_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.sources import readers

    mdf = MDF.read_parquet(_tbl(sf_dir, "supplier"), spark=spark)
    sub = MDF.from_spark(mdf.df.select("s_suppkey", "s_name", "s_acctbal", ROW_ID))
    path = _fmt_tmp(sf_dir, "c15json")
    readers.write_json(sub, path)
    back = readers.read_json(
        path, spark=spark, schema="s_suppkey bigint, s_name string, s_acctbal double"
    )
    return back.df.drop(ROW_ID)


@register(
    "c16_orc_roundtrip",
    oracle="SELECT o_orderkey, o_orderdate, o_totalprice FROM orders",
    tags=("compat", "sources", "orc"),
    doc="S7 ORC read+write (typed date + double columns) proven against "
        "the parquet oracle. Proven by the same oracle harness locally.",
)
def c16_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.sources import readers

    mdf = MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark)
    sub = MDF.from_spark(mdf.df.select("o_orderkey", "o_orderdate", "o_totalprice", ROW_ID))
    path = _fmt_tmp(sf_dir, "c16orc")
    readers.write_orc(sub, path)
    back = readers.read_orc(path, spark=spark)
    return back.df.drop(ROW_ID)


# --------------------------------------------------------------------------
# c17 — CDC upsert/merge: apply a deterministic change batch (updates,
# deletes, inserts derived from the table itself) to the orders snapshot
# via operators.relational.upsert — the MERGE INTO pattern a training-
# data pipeline uses for corpus snapshots. One key-shuffle anti join +
# a no-shuffle union.
# --------------------------------------------------------------------------


@register(
    "c17_upsert_merge",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
             '3-MEDIUM' AS o_orderpriority, 'U' AS op
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
    ),
    del AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    ins AS (
      SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey,
             CAST(1.0 AS DOUBLE) AS o_totalprice, '1-URGENT' AS o_orderpriority, 'I' AS op
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    changes AS (
      SELECT * FROM upd UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins
    )
    SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderpriority
    FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders) b
    WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM changes WHERE op <> 'D'
    """,
    tags=("compat", "merge", "cdc"),
    doc="CDC MERGE pattern (update/delete/insert batch onto a snapshot); "
        "anti-join + union kernels are driver-gated via q8/q9; proven by "
        "the same oracle harness locally.",
)
def c17_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.relational import upsert

    base = MDF.read_parquet(_tbl(sf_dir, "orders"), spark=spark).df.drop(ROW_ID).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    upd = base.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        F.lit("3-MEDIUM").alias("o_orderpriority"),
        F.lit("U").alias("op"),
    )
    dele = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority", F.lit("D").alias("op")
    )
    ins = base.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
        "o_custkey",
        F.lit(1.0).alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return upsert(base, changes, ["o_orderkey"], op_col="op")


# --------------------------------------------------------------------------
# c18 — bucketed co-located join: both sides are written bucketBy the
# join key (the pay-the-shuffle-ONCE-at-ingest pattern for a fact table
# joined repeatedly), then the join AND the groupBy on that key read
# co-located buckets and plan ZERO exchanges
# (tests/test_scale_fixes_r4.py pins the shape with broadcast disabled;
# at 100 TB this turns every downstream run's biggest shuffle into a
# local merge). Managed-table data lands under an explicit pid-scoped
# tmp path so the query is independent of the harness cwd and safe
# under concurrent runs.
# --------------------------------------------------------------------------


def _c18_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from medvedi_spark.sources import readers

    tag = f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}".replace(".", "_").replace("-", "_")
    tli, tod = f"c18_li_{tag}", f"c18_od_{tag}"
    li = MDF.read_parquet(os.path.join(sf_dir, "lineitem.parquet"), spark=spark)
    od = MDF.read_parquet(os.path.join(sf_dir, "orders.parquet"), spark=spark)
    li_sub = MDF.from_spark(li.df.select("l_orderkey", "l_quantity", ROW_ID))
    od_sub = MDF.from_spark(od.df.select("o_orderkey", "o_totalprice", ROW_ID))
    # the two bucketed ingests are independent write jobs — overlap them
    # from the shared driver thread pool (guide §2.6, the ann_index save
    # ruling): the orders write back-fills the lineitem write's task tail
    from medvedi_spark.operators.ann_index import _parallel_writes

    _parallel_writes(
        lambda: readers.write_bucketed(
            li_sub, tli, ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"],
            path=_fmt_tmp(sf_dir, "c18li"),
        ),
        lambda: readers.write_bucketed(
            od_sub, tod, ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"],
            path=_fmt_tmp(sf_dir, "c18od"),
        ),
    )
    return tli, tod


@register(
    "c18_bucketed_join",
    oracle="""
    SELECT o.o_orderkey, COUNT(*) AS n_items, MIN(o.o_totalprice) AS o_totalprice
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("compat", "sources", "bucketing", "join"),
    doc="Scale pattern: bucketed ingest makes the repeated fact-table "
        "join AND its groupBy exchange-free. Join/agg semantics are "
        "driver-gated via q3/q1; bucketing itself proven by the same "
        "oracle harness locally plus the zero-exchange plan test.",
)
def c18_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tli, tod = _c18_tables(spark, sf_dir)
    li, od = spark.table(tli), spark.table(tod)
    return (
        od.join(li, od["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"), F.min("o_totalprice").alias("o_totalprice"))
    )


# --------------------------------------------------------------------------
# c19 — partitioned-layout write + PARTITION-PRUNED scan: the storage-side
# twin of c18's bucketing. Documents are written partitioned by lang
# (`partitionBy` directories); the read-back filter on lang then never
# touches the other languages' files — at 100 TB this is the difference
# between scanning one partition and scanning the corpus. The pruning is
# pinned by a plan test (PartitionFilters on the scan, pruned file count);
# the oracle just filters the source table.
# --------------------------------------------------------------------------


def _c19_path(spark: SparkSession, sf_dir: str) -> str:
    path = _fmt_tmp(sf_dir, "c19part")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    (
        docs.select("doc_id", "text", "source", "n_chars", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    return path


@register(
    "c19_partition_pruned_scan",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE lang = 'en'
    """,
    tags=("compat", "sources", "partitioning", "pruning"),
    doc="Scale pattern: lang-partitioned layout + partition-pruned scan "
        "(the filter never opens other partitions' files). Filter/scan "
        "semantics are driver-gated across the q-suite; the pruned "
        "layout itself proven by the same oracle harness locally plus "
        "the PartitionFilters plan test.",
)
def c19_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _c19_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# c20 — SCHEMA EVOLUTION read: two parquet batches written at different
# pipeline generations (the second adds o_orderpriority) merge into one
# scan with `mergeSchema` — missing columns read as NULL. This is the
# production reality of any long-lived dataset: ingest code changes,
# history doesn't get rewritten. The oracle unions the two generations
# with an explicit NULL for the missing column.
# --------------------------------------------------------------------------


def _c20_path(spark: SparkSession, sf_dir: str) -> str:
    path = _fmt_tmp(sf_dir, "c20evo")
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    gen1 = od.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    gen2 = od.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))
    return path


@register(
    "c20_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("compat", "sources", "schema-evolution"),
    doc="Schema-evolution scan: mergeSchema unions two parquet "
        "generations, older rows NULL-filling the added column. Scan/"
        "union semantics driver-gated across the c/q suites; the merged "
        "read proven by the same oracle harness locally.",
)
def c20_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _c20_path(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
