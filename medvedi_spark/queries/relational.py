"""Relational query surface — SURVEY.md §2 operator inventory as queries.

Each query exercises one or more inventory rows (cited per query) and is
paired with a DuckDB oracle. Filters and projections are written so
Catalyst pushes them into the parquet scan; joins keep small dimensions
broadcast-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medvedi_spark.catalog import load
from medvedi_spark.queries._det import DEC, davg, dsum, sql_davg, sql_dsum
from medvedi_spark.queries.registry import register


def _dwin(col, window) -> F.Column:
    """Order-independent windowed SUM (same policy as dsum)."""
    return F.sum(col.cast(DEC)).over(window).cast("string").cast("double")

# --------------------------------------------------------------------------
# q1 — TPC-H Q1 shape: scan → filter → groupBy → 8 aggs → (sorted by keys)
# Covers: S1 scan, P5 take(mask), G1/G2 groupby+reduceat, O1 sort_values.
# Reference: medvedi/dataframe.py:866-899 (groupby), :201-216 (reduceat).
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum('l_quantity')} AS sum_qty,
      {sql_dsum('l_extendedprice')} AS sum_base_price,
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
      {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
      {sql_davg('l_quantity')} AS avg_qty,
      {sql_davg('l_extendedprice')} AS avg_price,
      {sql_davg('l_discount')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("groupby", "agg", "filter"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q2 — join + top-k: orders ⋈ customer, top 100 by totalprice.
# Covers: J1 (equi join), O5 (top-k → TakeOrderedAndProject), P2 projection.
# Unique tiebreak (o_orderkey) keeps the boundary deterministic.
# --------------------------------------------------------------------------


@register(
    "q2_top_orders",
    oracle="""
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "topk"),
    doc="Gate duplicate: O5 limit/top-k proven in-window by q12 (sort+limit); J1 joins by q3.",
)
def q2_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# q3 — n-ary join + agg: revenue by nation (TPC-H Q5 shape).
# Covers: J1 n-ary join (medvedi/dataframe.py:1126-1284 is a single n-ary
# join; here Catalyst folds pairwise joins and broadcasts the dims).
# --------------------------------------------------------------------------


@register(
    "q3_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("join", "groupby"),
)
def q3_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# --------------------------------------------------------------------------
# q4 — projection + filter pushdown + cast + rename.
# Covers: P1/P2 (__getitem__), P10 astype, P11 rename, P5 take(mask).
# Both filter and the 3-column ReadSchema reach the parquet scan.
# --------------------------------------------------------------------------


@register(
    "q4_project_cast_rename",
    oracle="""
    SELECT p_partkey AS part_id,
           p_brand AS brand,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_int
    FROM part
    WHERE p_size >= 30 AND p_type LIKE '%PROMO%'
    """,
    tags=("projection", "filter", "cast"),
)
def q4_project_cast_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return (
        part.filter((F.col("p_size") >= 30) & F.col("p_type").contains("PROMO"))
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_brand").alias("brand"),
            F.floor("p_retailprice").cast("bigint").alias("price_int"),
        )
    )


# --------------------------------------------------------------------------
# q5 — distinct: G5 unique() over a composite key.
# --------------------------------------------------------------------------


@register(
    "q5_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("distinct",),
)
def q5_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# --------------------------------------------------------------------------
# q6 — keep-first dedup: G6 drop_duplicates(keep='first').
# medvedi keeps the first row in frame order (dataframe.py:823-847); here
# "order" is made explicit: earliest order (date, then key) per customer.
# --------------------------------------------------------------------------


@register(
    "q6_dedup_keep_first",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    tags=("dedup", "window"),
)
def q6_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


# --------------------------------------------------------------------------
# q7 — duplicated() mask aggregated: G7/G10.
# Count of surplus rows per duplicate (l_partkey, l_suppkey) pair.
# --------------------------------------------------------------------------


@register(
    "q7_duplicated_pairs",
    oracle="""
    SELECT l_partkey, l_suppkey, COUNT(*) - 1 AS dup_count
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "groupby"),
    doc="Gate duplicate: G7/G10 duplicated-mask proven in-window by c5/c6.",
)
def q7_duplicated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg((F.count(F.lit(1)) - F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 0)
    )


# --------------------------------------------------------------------------
# q8 — semi/anti join membership: J2 Index.diff, J3 isin.
# Per market segment: customers total, with orders, without orders.
# --------------------------------------------------------------------------


@register(
    "q8_semi_anti_membership",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
           COUNT(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders
    FROM customer c
    GROUP BY c_mktsegment
    """,
    tags=("join", "semi", "anti"),
)
def q8_semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    buyers = orders.select("o_custkey").distinct()
    flagged = customer.join(
        buyers.withColumnRenamed("o_custkey", "c_custkey").withColumn("has_orders", F.lit(1)),
        on="c_custkey",
        how="left",
    )
    return flagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count("has_orders").alias("with_orders"),
        (F.count(F.lit(1)) - F.count("has_orders")).alias("without_orders"),
    )


# --------------------------------------------------------------------------
# q9 — concat: U1 strict (unionAll) and non-strict (unionByName + fill).
# medvedi fills absent cells with type defaults (dataframe.py:1096-1120);
# here the absent int column is filled with 0 to mirror that contract.
# --------------------------------------------------------------------------


@register(
    "q9_concat_union",
    oracle="""
    SELECT src, COUNT(*) AS n, CAST(SUM(sz) AS BIGINT) AS total_size
    FROM (
      SELECT 'small' AS src, p_partkey, p_size AS sz FROM part WHERE p_size < 10
      UNION ALL
      SELECT 'large' AS src, p_partkey, p_size AS sz FROM part WHERE p_size > 40
      UNION ALL
      SELECT 'nosize' AS src, p_partkey, 0 AS sz FROM part WHERE p_size BETWEEN 20 AND 22
    )
    GROUP BY src
    """,
    tags=("concat", "union"),
)
def q9_concat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") < 10).select(F.lit("small").alias("src"), "p_partkey", F.col("p_size").alias("sz"))
    large = part.filter(F.col("p_size") > 40).select(F.lit("large").alias("src"), "p_partkey", F.col("p_size").alias("sz"))
    # non-strict concat: this leg lacks `sz`; unionByName fills NULL, and the
    # medvedi type-default contract turns that into 0 for ints.
    nosize = part.filter(F.col("p_size").between(20, 22)).select(F.lit("nosize").alias("src"), "p_partkey")
    unioned = small.unionAll(large).unionByName(nosize, allowMissingColumns=True).fillna({"sz": 0})
    return unioned.groupBy("src").agg(F.count(F.lit(1)).alias("n"), F.sum("sz").alias("total_size"))


# --------------------------------------------------------------------------
# q10 — explode: U3 over tokenized documents, top 50 tokens.
# medvedi explode replicates sibling columns via np.repeat
# (dataframe.py:581-606); Spark's generator does the same distributed.
# --------------------------------------------------------------------------


@register(
    "q10_explode_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 50
    """,
    tags=("explode", "groupby", "topk"),
)
def q10_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# q11 — fillna/isnull + JSON extraction: P12/P13, F5/ODT_JSON payloads.
# Derives a nullable column, then null-handles it both ways.
# --------------------------------------------------------------------------


@register(
    "q11_fillna_isnull_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE big_value IS NULL) AS n_null,
           CAST(SUM(COALESCE(big_value, 0)) AS BIGINT) AS filled_sum,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM (
      SELECT event_type, props,
             CASE WHEN value > 50 THEN CAST(FLOOR(value) AS BIGINT) ELSE NULL END AS big_value
      FROM events
    )
    GROUP BY event_type
    """,
    tags=("fillna", "isnull", "json"),
)
def q11_fillna_isnull_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    with_null = events.withColumn(
        # floor before the int cast: Spark's double->bigint cast truncates
        # while DuckDB's rounds; floor() agrees everywhere.
        "big_value", F.when(F.col("value") > 50, F.floor(F.col("value")).cast("bigint")).otherwise(F.lit(None))
    )
    return with_null.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("big_value").isNull(), 1)).alias("n_null"),
        F.sum(F.coalesce(F.col("big_value"), F.lit(0))).alias("filled_sum"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
    )


# --------------------------------------------------------------------------
# q12 — multi-column sort with null placement + limit: O1 sort_values
# (na_position), O5 top-k. NULLs first on a nullable derived column.
# --------------------------------------------------------------------------


@register(
    "q12_sort_nulls_topk",
    oracle="""
    SELECT event_id, user_id, small_value
    FROM (
      SELECT event_id, user_id,
             CASE WHEN value < 10 THEN value ELSE NULL END AS small_value
      FROM events
    )
    ORDER BY small_value ASC NULLS FIRST, user_id DESC, event_id
    LIMIT 200
    """,
    tags=("sort", "topk"),
)
def q12_sort_nulls_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.withColumn("small_value", F.when(F.col("value") < 10, F.col("value")).otherwise(F.lit(None)))
        .select("event_id", "user_id", "small_value")
        .orderBy(F.asc_nulls_first("small_value"), F.desc("user_id"), F.asc("event_id"))
        .limit(200)
    )


# --------------------------------------------------------------------------
# q13 — window functions (SURVEY §2.9): row_number, rank, lag, running sum.
# Unique ordering (o_orderdate, o_orderkey) keeps every window column
# deterministic; the running sum uses the exact-decimal policy.
# --------------------------------------------------------------------------


@register(
    "q13_window_funcs",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS order_seq,
           RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
           o_totalprice - LAG(o_totalprice, 1, 0.0) OVER w AS price_delta,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) OVER w AS VARCHAR) AS DOUBLE) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def q13_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.rank().over(w_price).alias("price_rank"),
        (F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w)).alias("price_delta"),
        _dwin(F.col("o_totalprice"), w).alias("running_spend"),
    )


# --------------------------------------------------------------------------
# q14 — rollup with grouping id (beyond-reference: SURVEY §2.4 "not
# implemented" row — grouping sets / rollup / cube).
# --------------------------------------------------------------------------


@register(
    "q14_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("rollup", "groupby"),
    doc="Gate duplicate: rollup kernel proven in-window by q31_grouping_multi.",
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


# --------------------------------------------------------------------------
# q15 — cube over two dims with count + exact distinct count.
# --------------------------------------------------------------------------


@register(
    "q15_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("cube", "groupby", "distinct"),
    doc="Gate duplicate: cube kernel proven in-window by q31_grouping_multi.",
)
def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "n_customers")
    )


# --------------------------------------------------------------------------
# q16 — set operations: U2 intersect / except (beyond-reference).
# Nations that have customers but no suppliers, and both.
# --------------------------------------------------------------------------


@register(
    "q16_setops",
    oracle="""
    SELECT 'both' AS which, * FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS which, * FROM (
      SELECT c_nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
    )
    """,
    tags=("setops",),
)
def q16_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_nations = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp_nations = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = cust_nations.intersect(supp_nations).select(F.lit("both").alias("which"), "nationkey")
    # subtract == EXCEPT (set semantics); exceptAll would keep surplus dups.
    only = cust_nations.subtract(supp_nations).select(F.lit("customer_only").alias("which"), "nationkey")
    return both.unionAll(only)


# --------------------------------------------------------------------------
# q17 — as-of join (beyond-reference: SURVEY §2.3 "not implemented" row).
# For each (day checkpoint, user): the latest event value at-or-before the
# checkpoint. Spark lacks ASOF JOIN; expressed as the merge-asof plan
# (operators/relational.asof_join): probe grid = users × checkpoints
# (checkpoints are ~#days, broadcastable at any scale), unioned with the
# events stream and resolved by ONE window pass per user partition — each
# event row participates once, vs the range-join formulation that
# multiplies every event by all later checkpoints before collapsing.
# --------------------------------------------------------------------------


@register(
    "q17_asof_join",
    oracle="""
    WITH checkpoints AS (
      SELECT DISTINCT date_trunc('day', ts) + INTERVAL 1 DAY AS cp FROM events
    )
    SELECT c.cp, e.user_id,
           arg_max(e.value, e.ts) AS last_value,
           max(e.ts) AS last_ts
    FROM events e JOIN checkpoints c ON e.ts <= c.cp
    WHERE e.user_id < 50
    GROUP BY c.cp, e.user_id
    """,
    tags=("asof", "rangejoin"),
)
def q17_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.relational import asof_join

    events = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    checkpoints = (
        load(spark, sf_dir, "events")
        .select((F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias("cp"))
        .distinct()
    )
    grid = events.select("user_id").distinct().crossJoin(F.broadcast(checkpoints))
    matched = asof_join(
        grid, events.select("user_id", "ts", "value"), "cp", "ts", by=["user_id"], value_cols=["value"]
    )
    return (
        matched.filter(F.col("asof_ts").isNotNull())
        .select("cp", "user_id", F.col("value").alias("last_value"), F.col("asof_ts").alias("last_ts"))
    )


# --------------------------------------------------------------------------
# q18 — pivot (beyond-reference): event counts per user by type.
# Fixed pivot values keep the schema static (required at scale anyway —
# dynamic pivot needs a driver-side distinct pass).
# --------------------------------------------------------------------------


@register(
    "q18_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    GROUP BY user_id
    """,
    tags=("pivot",),
)
def q18_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combos; the count contract says 0.
    return pivoted.fillna(0, subset=["click", "view", "purchase", "signup", "error"])


# --------------------------------------------------------------------------
# q19 — sessionization via window lag + gap cumsum (SURVEY §2.9; the
# streaming variant uses session_window in stream_ops).
# --------------------------------------------------------------------------


@register(
    "q19_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
    tags=("session", "window"),
)
def q19_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.relational import sessionize

    events = load(spark, sf_dir, "events")
    sessions = sessionize(events, "ts", 1800, ["user_id"], order_tiebreak=["event_id"])
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# q20 — null-skipping min/max: G8 nonemin/nonemax (dataframe.py:980-1004).
# min/max skip NULLs in both engines; all-null groups yield NULL ("None").
# --------------------------------------------------------------------------


@register(
    "q20_nonemin_nonemax",
    oracle="""
    SELECT event_type,
           MIN(CASE WHEN value >= 99.0 THEN value END) AS none_min,
           MAX(CASE WHEN value >= 99.0 THEN value END) AS none_max,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "nulls"),
)
def q20_nonemin_nonemax(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    guarded = F.when(F.col("value") >= 99.0, F.col("value"))
    return events.groupBy("event_type").agg(
        F.min(guarded).alias("none_min"),
        F.max(guarded).alias("none_max"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# --------------------------------------------------------------------------
# q21 — range (interval) join against a small banding dimension
# (beyond-reference: SURVEY §2.3 "theta/range joins" row). The band dim is
# broadcast, so the non-equi condition executes as a broadcast nested-loop
# join — the only strategy that scales for inequality predicates; the fact
# side streams through without a shuffle.
# --------------------------------------------------------------------------

_Q21_BANDS = [
    ("low", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 300_000.0),
    ("vip", 300_000.0, 1.0e9),
]


@register(
    "q21_range_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _Q21_BANDS)}
    )
    SELECT b.band,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_price
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    tags=("rangejoin", "join"),
)
def q21_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_Q21_BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


# --------------------------------------------------------------------------
# q22 — EXISTS subquery (TPC-H Q4 shape): orders with at least one line
# shipped after the order date. Lowered to LEFT SEMI join — the semi join
# short-circuits per key, no row multiplication, shuffle keyed on orderkey.
# --------------------------------------------------------------------------


@register(
    "q22_exists_semijoin",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    tags=("semijoin", "exists", "subquery"),
    doc="Gate duplicate: semi/anti join proven in-window by q8 (isin membership).",
)
def q22_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# q23 — outer-join distribution (TPC-H Q13 shape): how many customers have
# how many orders, zeros included. Two aggregations bracket one LEFT OUTER
# join; the second groupBy runs on the already-tiny per-customer counts.
# --------------------------------------------------------------------------


@register(
    "q23_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("outerjoin", "groupby"),
    doc="Gate duplicate: outer-join + two-level groupBy are in-window via q3/q31; "
    "budget freed for st1/st3 (round-2 gate failures that must be driver-proven).",
)
def q23_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# q24 — GROUPING SETS (beyond-reference: SURVEY §2.4; completes the
# rollup/cube family from q14/q15 with an explicit set list).
# --------------------------------------------------------------------------


@register(
    "q24_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("groupingsets", "groupby"),
    doc="Gate duplicate: rollup+cube+grouping-sets share the Expand kernel, proven in-window by the merged q31_grouping_multi.",
)
def q24_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_price")
    )


# --------------------------------------------------------------------------
# q31 — the merged grouping-family gate: rollup + cube + grouping sets over
# the same dims in ONE hash-checked result (src column disambiguates).
# All three lower to the same Expand physical operator, so one driver gate
# verifies the whole family while q14/q15/q24 stay as per-API extras.
# --------------------------------------------------------------------------


@register(
    "q31_grouping_multi",
    oracle=f"""
    SELECT 'rollup' AS src, l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS src, l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'sets' AS src, l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("rollup", "cube", "groupingsets", "groupby"),
)
def q31_grouping_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def agg(grouped, src: str) -> DataFrame:
        return (
            grouped.agg(
                F.grouping_id().alias("gid"),
                F.count(F.lit(1)).alias("n"),
                dsum("l_quantity").alias("sum_qty"),
            )
            .select(
                F.lit(src).alias("src"), "l_returnflag", "l_linestatus", "gid", "n", "sum_qty"
            )
        )

    dims = ("l_returnflag", "l_linestatus")
    rollup = agg(li.rollup(*dims), "rollup")
    cube = agg(li.cube(*dims), "cube")
    sets = agg(li.groupingSets([["l_returnflag"], ["l_linestatus"], []], *dims), "sets")
    return rollup.unionAll(cube).unionAll(sets)


# --------------------------------------------------------------------------
# q25 — part sizing above brand average (TPC-H Q17 shape: correlated
# scalar aggregate). The per-brand average is a tiny aggregate joined
# back broadcast — no window over the fact table, no second shuffle of
# the big side.
# --------------------------------------------------------------------------


@register(
    "q25_above_brand_avg",
    oracle=f"""
    WITH brand_avg AS (
      SELECT p_brand, {sql_davg('p_retailprice')} AS avg_price
      FROM part GROUP BY p_brand
    )
    SELECT p.p_brand,
           COUNT(*) AS n_above,
           {sql_dsum('p.p_retailprice')} AS sum_above
    FROM part p
    JOIN brand_avg b ON p.p_brand = b.p_brand
    WHERE p.p_retailprice > 1.02 * b.avg_price
    GROUP BY p.p_brand
    """,
    tags=("subquery", "agg", "join"),
    doc="Gate duplicate: broadcast-dim join + decimal agg are in-window via q3/q1; "
    "budget freed for st1/st3 (round-2 gate failures that must be driver-proven).",
)
def q25_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    brand_avg = part.groupBy("p_brand").agg(davg("p_retailprice").alias("avg_price"))
    return (
        part.join(F.broadcast(brand_avg), "p_brand")
        .filter(F.col("p_retailprice") > F.lit(1.02) * F.col("avg_price"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_above"), dsum("p_retailprice").alias("sum_above"))
    )


# --------------------------------------------------------------------------
# q26 — sketch aggregates: approx_count_distinct (HyperLogLog++) and
# percentile_approx (KLL-style). Raw estimates are engine-specific, so a
# value oracle is impossible — instead the engine ALSO computes the exact
# answers and emits per-group error-bound verdicts, which ARE
# deterministic and hash-checkable (the oracle asserts every verdict is
# TRUE). A sketch outside its published bound now fails the gate instead
# of passing a rows-only check. At 100 TB the sketches are the only
# viable plan: fixed-size state, one pass, mergeable across partitions —
# the exact counterparts here exist solely to validate them.
# --------------------------------------------------------------------------


@register(
    "q26_approx_sketches",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           TRUE AS orders_ok, TRUE AS median_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("approx", "sketch", "agg"),
)
def q26_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sketched = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx_median_price"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median_price"),
        F.count(F.lit(1)).alias("n"),
    )
    # HLL++ rsd=0.02 → 0.1 is a 5-sigma bound; percentile_approx at
    # accuracy=10k has ~1e-4 rank error → 1% value tolerance is generous.
    return sketched.select(
        "l_returnflag",
        "n",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.1 * F.col("exact_orders")
        ).alias("orders_ok"),
        (
            F.abs(F.col("approx_median_price") - F.col("exact_median_price"))
            <= 0.01 * F.col("exact_median_price")
        ).alias("median_ok"),
    )


# --------------------------------------------------------------------------
# q27 — the SQL API surface (TPC-H Q3 shape). The reference has no SQL
# layer at all (SURVEY §3: "no parser/analyzer/optimizer"); here the
# engine exposes full ANSI SQL via registered views — same Catalyst plan
# as the DataFrame API, so pushdown/broadcast behavior is identical.
# --------------------------------------------------------------------------


@register(
    "q27_sql_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
    tags=("sql", "join", "topk"),
)
def q27_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT l.l_orderkey,
               CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))) AS STRING) AS DOUBLE) AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 20
    """)


# --------------------------------------------------------------------------
# q28 — TPC-H Q5 shape: revenue by nation through a 5-table star join.
# Every dimension (region→nation→customer/supplier) broadcasts; only
# lineitem⋈orders shuffles, keyed on orderkey.
# --------------------------------------------------------------------------


@register(
    "q28_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("join", "star", "groupby"),
    doc="Gate duplicate: multi-join star agg proven in-window by q3/q27.",
)
def q28_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    nat = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    cust = customer.join(F.broadcast(nat), customer.c_nationkey == nat.n_nationkey).select(
        "c_custkey", "n_nationkey", "n_name"
    )
    ord_cust = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "n_nationkey", "n_name"
    )
    li_s = li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey"
    )
    joined = li_s.join(
        ord_cust,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("s_nationkey") == F.col("n_nationkey")),
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return joined.groupBy("n_name").agg(dsum(rev).alias("revenue"))


# --------------------------------------------------------------------------
# q29 — TPC-H Q10 shape: top returned-item customers. Fact filtered first,
# dims broadcast, top-k via TakeOrderedAndProject.
# --------------------------------------------------------------------------


@register(
    "q29_returned_items",
    oracle=f"""
    SELECT c.c_custkey, n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "topk", "groupby"),
    doc="Gate duplicate: join+agg+topk proven in-window by q3/q12.",
)
def q29_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        joined.groupBy("c_custkey", "n_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q30 — TPC-H Q12 shape: order-priority split by late shipments, computed
# as conditional aggregates in ONE pass over the join (no second scan).
# --------------------------------------------------------------------------


@register(
    "q30_shipmode_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    tags=("join", "conditional-agg"),
    doc="Gate duplicate: join + conditional agg proven in-window by q1/q3.",
)
def q30_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# q32 — nested array surface: collect_list → sort_array → slice →
# posexplode round trip (the array half of U3's explode, plus positional
# generation). One shuffle (the groupBy); the generator runs inside the
# same stage.
# --------------------------------------------------------------------------


@register(
    "q32_array_roundtrip",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             list_slice(list_sort(list(l_partkey)), 1, 3) AS top_parts
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey, t.s.pos AS pos, t.s.partkey AS partkey,
           len(top_parts) AS n_parts
    FROM per_order,
    UNNEST(list_transform(generate_series(1, len(top_parts)),
                          i -> {'pos': i - 1, 'partkey': top_parts[i]})) t(s)
    """,
    tags=("arrays", "nested", "explode"),
    doc="Gate duplicate: array/generator kernels proven in-window by q10 "
        "(explode) and q31 (grouping family); q32 adds the positional "
        "collect/sort/slice/posexplode surface, oracle-checked locally.",
)
def q32_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.slice(F.sort_array(F.collect_list("l_partkey")), 1, 3).alias("top_parts")
    )
    return per.select(
        "l_orderkey", F.size("top_parts").alias("n_parts"), "top_parts"
    ).selectExpr("l_orderkey", "n_parts", "posexplode(top_parts) as (pos, partkey)")


# --------------------------------------------------------------------------
# q33 — datetime function surface: truncation, field extraction, date
# arithmetic, epoch round trip. All scan-stage expressions (no shuffle
# except the final aggregate); engine-portable fields only (no locale-
# dependent week rules beyond ISO).
# --------------------------------------------------------------------------


@register(
    "q33_datetime_surface",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_ts,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
    tags=("datetime", "scalar-functions"),
    doc="Gate duplicate: timestamp kernels proven in-window by q17/q19/st*; "
        "q33 adds the truncation/extraction/arithmetic surface, "
        "oracle-checked locally.",
)
def q33_datetime_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        orders.select(
            F.date_trunc("month", d).alias("month_start"),
            F.year(d).alias("yr"),
            F.quarter(d).alias("qtr"),
            F.dayofmonth(d).alias("dom"),
            # Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0.
            F.dayofweek(d).alias("dow"),
            (d + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
            F.unix_timestamp(d).alias("epoch_s"),
        )
        .groupBy("month_start", "yr", "qtr", "dom", "dow", "due_ts", "epoch_s")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# q34 — string function surface: case/trim/pad/replace/position/regex
# extraction (regex kept to class+quantifier syntax that Java and RE2
# interpret identically). Scan-stage expressions, one aggregate shuffle.
# --------------------------------------------------------------------------


@register(
    "q34_string_surface",
    oracle="""
    SELECT upper(p_brand) AS brand_u,
           CAST(length(p_name) AS INT) AS name_len,
           replace(p_type, ' ', '_') AS type_key,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           CAST(strpos(p_type, 'BRUSHED') AS INT) AS brushed_at,
           regexp_extract(p_brand, '[0-9]+') AS brand_num,
           split_part(p_name, ' ', 1) AS first_word,
           COUNT(*) AS n
    FROM part
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
    tags=("strings", "scalar-functions"),
    doc="Gate duplicate: string kernels appear throughout the gated t*/d* "
        "queries; q34 adds the case/pad/replace/position/regex surface, "
        "oracle-checked locally.",
)
def q34_string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return (
        part.select(
            F.upper("p_brand").alias("brand_u"),
            F.length("p_name").alias("name_len"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_key"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
            F.instr(F.col("p_type"), "BRUSHED").alias("brushed_at"),
            F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        )
        .groupBy(
            "brand_u", "name_len", "type_key", "size_pad", "brushed_at", "brand_num", "first_word"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# q36 — unpivot/melt: wide metric columns → long (key, metric, value)
# rows, the inverse of q18's pivot and a reshape the reference cannot
# express at all (its frames are strictly columnar-wide). Spark 4's
# native `unpivot` lowers to a generate/expand node — map-side only,
# zero shuffle, linear in rows×metrics; the oracle states the same
# reshape as a portable UNION ALL.
# --------------------------------------------------------------------------


@register(
    "q36_unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', CAST(l_extendedprice AS DOUBLE)
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', CAST(l_discount AS DOUBLE)
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', CAST(l_tax AS DOUBLE)
      FROM lineitem WHERE l_orderkey < 1000
    )
    """,
    tags=("relational", "reshape"),
    doc="Gate duplicate: reshape family driver-gated by q18 (pivot); q36 adds "
        "the inverse melt/unpivot, proven by the same oracle harness locally.",
)
def q36_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    metrics = {
        "quantity": "l_quantity",
        "extendedprice": "l_extendedprice",
        "discount": "l_discount",
        "tax": "l_tax",
    }
    return li.select(
        "l_orderkey",
        "l_linenumber",
        *[F.col(c).cast("double").alias(m) for m, c in metrics.items()],
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        list(metrics),
        "metric",
        "value",
    )


# --------------------------------------------------------------------------
# q37 — ranking-window surface beyond q13: ntile bucketing,
# percent_rank, cume_dist. All three are rational functions of (rank, n)
# — no transcendentals — and the window's ORDER BY carries a unique
# tiebreak (o_orderkey), so both engines compute identical bits. One
# exchange on the partition key; ranking evaluates inside the sort, no
# extra pass.
# --------------------------------------------------------------------------


@register(
    "q37_ranking_windows",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           ROW_NUMBER() OVER w AS rn
    FROM orders
    WHERE o_orderkey < 5000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("relational", "window"),
    doc="Gate duplicate: window family driver-gated by q13; q37 adds the "
        "ntile/percent_rank/cume_dist ranking surface, proven by the same "
        "oracle harness locally.",
)
def q37_ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.row_number().over(w).alias("rn"),
    )


# --------------------------------------------------------------------------
# q38 — hypertable-style multi-resolution rollup: continuous-aggregate
# engines (TimescaleDB caggs, Druid rollup) maintain the same measure at
# several time granularities. Declaratively that is ONE scan + ONE
# grouping-sets expand + ONE shuffle over (resolution, bucket) — not
# three passes over a 100 TB events table; Catalyst's Expand operator
# triples rows map-side where the data already is, and partial
# aggregation collapses them before the exchange.
# --------------------------------------------------------------------------


@register(
    "q38_multires_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(h1) = 0 THEN '1h'
                WHEN GROUPING(h6) = 0 THEN '6h'
                ELSE '1d' END AS resolution,
           COALESCE(h1, h6, d1) AS bucket_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h1,
             time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS h6,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d1,
             event_type, value
      FROM events
    )
    GROUP BY GROUPING SETS ((h1, event_type), (h6, event_type), (d1, event_type))
    """,
    tags=("events", "rollup", "window", "hypertable"),
    doc="Gate duplicate: grouping-sets expand driver-gated via q31, the "
        "6h time bucket via st1; q38 composes them into the hypertable "
        "continuous-aggregate shape, proven by the same oracle harness "
        "locally.",
)
def q38_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    buckets = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h1"),
        F.window("ts", "6 hours")["start"].alias("h6"),
        F.date_trunc("day", F.col("ts")).alias("d1"),
        "event_type",
        "value",
    )
    g = buckets.groupingSets(
        [["h1", "event_type"], ["h6", "event_type"], ["d1", "event_type"]],
        "h1", "h6", "d1", "event_type",
    ).agg(
        F.grouping("h1").alias("g1"),
        F.grouping("h6").alias("g6"),
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("value_sum"),
    )
    resolution = (
        F.when(F.col("g1") == 0, F.lit("1h")).when(F.col("g6") == 0, F.lit("6h")).otherwise(F.lit("1d"))
    )
    return g.select(
        resolution.alias("resolution"),
        F.coalesce("h1", "h6", "d1").alias("bucket_start"),
        "event_type",
        "n",
        "value_sum",
    )


# --------------------------------------------------------------------------
# q39 — EXACT order-statistic percentiles (PERCENTILE_DISC WITHIN GROUP):
# the analytic companion to q26's approximate sketches. percentile_disc
# returns an actual data element (the smallest value whose cumulative
# distribution reaches the fraction), so results hash-match bit-for-bit
# across engines with no interpolation arithmetic. The oracle replays
# the SQL-standard definition via CUME_DIST explicitly (DuckDB's
# quantile_disc uses floor-index interpolation, which DIFFERS from the
# standard at e.g. n=7, q=0.9 — replaying cume_dist sidesteps that).
# Scale note: exact percentiles sort within the aggregate; at 100 TB use
# q26's approx_percentile sketches unless exactness is contractual.
# --------------------------------------------------------------------------


@register(
    "q39_percentile_disc",
    oracle="""
    WITH cd AS (
      SELECT l_returnflag, l_linestatus, l_extendedprice,
             CUME_DIST() OVER (PARTITION BY l_returnflag, l_linestatus
                               ORDER BY l_extendedprice) AS c
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag, l_linestatus,
           MIN(CASE WHEN c >= 0.5 THEN l_extendedprice END) AS p50_price,
           MIN(CASE WHEN c >= 0.9 THEN l_extendedprice END) AS p90_price,
           MIN(CASE WHEN c >= 0.99 THEN l_extendedprice END) AS p99_price,
           COUNT(*) AS n
    FROM cd
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "percentile", "order-statistic"),
)
def q39_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # NULL contract (round-5 code-review catch): percentile_disc IGNORES
    # null measures, but a naive CUME_DIST replay counts them in the
    # denominator — both sides therefore drop null measures up front
    # (groups whose every price is null are not reported), and ``n`` is
    # the non-null count, so the query stays oracle-aligned on nullable
    # measures, not just on TPC-H's non-null prices.
    li = li.filter(F.col("l_extendedprice").isNotNull())
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p50_price"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p90_price"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p99_price"),
        F.count("l_extendedprice").alias("n"),
    )


# --------------------------------------------------------------------------
# q40 — SALTED skew join: the pathological-skew escape hatch. AQE's
# skew-join splitting handles moderate skew; a single key holding a huge
# share of the rows (one viral document, one null-bucket user) cannot be
# split mid-partition, so `operators.relational.salted_join` spreads the
# big side across num_salts sub-keys and replicates the small side. The
# oracle is the plain join — salting must be semantically invisible.
# --------------------------------------------------------------------------


@register(
    "q40_salted_skew_join",
    oracle=f"""
    SELECT p.p_brand AS brand, COUNT(*) AS n,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
    tags=("join", "skew", "salting"),
    doc="Salted skew join: semantics identical to the plain join "
        "(driver-gated via q3's join family); the salting transform "
        "itself proven by the same oracle harness locally plus the "
        "replication unit tests in test_scale_utils.py.",
)
def q40_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.operators.relational import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, ["p_partkey"], "inner", num_salts=8)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("revenue"),
    )


# --------------------------------------------------------------------------
# q41 — RANGE-frame window aggregates: a true time-based sliding frame
# (all events within the preceding hour, however many rows that is) —
# the frame type q13/q37's ROWS-frame and rank-function coverage does
# not touch. Frames are anchored on microsecond epoch longs on BOTH
# engines (Spark truncates CAST(ts AS LONG) to seconds while DuckDB's
# epoch() keeps fractional seconds — unix_micros/epoch_us sidestep that
# dialect trap); sums are exact-decimal so frame order can't matter.
# --------------------------------------------------------------------------


@register(
    "q41_range_frame_window",
    oracle="""
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           COUNT(*) OVER w AS n_1h,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("events", "window", "range-frame"),
)
def q41_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("string").cast("double").alias("sum_1h"),
    )


# --------------------------------------------------------------------------
# q42 — explicit GROUPING SETS with ASYMMETRIC sets: (flag, status),
# (shipmode), and the grand total in ONE pass — the grouping-analytics
# variant q14's ROLLUP and q15's CUBE (both hierarchical/exhaustive
# lattices) cannot express. One scan expands to the three sets inside a
# single Expand + hash aggregate — no self-union of three separate
# aggregations, so the fact table is read once at 100 TB.
# --------------------------------------------------------------------------


@register(
    "q42_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, l_linenumber,
           GROUPING(l_returnflag, l_linestatus, l_linenumber) AS gid,
           COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linenumber), ())
    """,
    tags=("groupby", "grouping-sets", "sql"),
)
def q42_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medvedi_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, l_linenumber,
               grouping_id(l_returnflag, l_linestatus, l_linenumber) AS gid,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS STRING) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linenumber), ())
    """)
