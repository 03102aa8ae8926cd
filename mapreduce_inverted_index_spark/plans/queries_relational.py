"""Relational operator catalog over the star schema — the full SQL
surface the reference lacks (SURVEY.md §2.9), provided Spark-natively
with DuckDB oracle twins.

Coverage: filter+projection pushdown; hash/broadcast/left/semi/anti/
multiway joins; grouped aggregation with rollup/cube/grouping sets;
ranking, frame, and lag/lead windows; global and per-group top-k; set
operations; string/date/math/JSON scalar functions; conditional
pivot; scalar-subquery filters; approx distinct.

All money aggregates go through ``oracle_compat`` (exact decimal) so
Spark and DuckDB produce bit-identical doubles — see that module's
docstring. Plan-shape notes sit on each query.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators import relational as R
from mapreduce_inverted_index_spark.plans.oracle_compat import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dsum,
)
from mapreduce_inverted_index_spark.plans.registry import register, work_root
from mapreduce_inverted_index_spark.sources.tables import load_table

# Exact-decimal product expressions shared by several queries
# (TPC-H Q1's disc_price/charge shapes). Built lazily — Column
# construction needs an active SparkContext.

def _one():
    return F.lit(1).cast("decimal(3,2)")


def _disc_price():
    return dec("l_extendedprice") * (_one() - F.col("l_discount").cast("decimal(3,2)"))


def _charge():
    return _disc_price() * (_one() + F.col("l_tax").cast("decimal(3,2)"))

_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)
_SQL_CHARGE = f"({_SQL_DISC_PRICE}) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- scans

@register(
    "filter_pushdown_scan",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_quantity > 30
    """,
    doc="Predicate + projection pushdown: both reach the parquet scan "
        "(PushedFilters / 4-column ReadSchema in explain).",
)
def q_filter_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 30)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


# ----------------------------------------------------------- aggregation

@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           CAST(ROUND(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM({_SQL_CHARGE}), 2) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: hash agg with map-side "
        "partials; decimal arithmetic for engine-stable doubles.",
)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.round(F.sum(_disc_price()), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(_charge()), 2).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "rollup_order_stats",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_total')}
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals (status -> priority -> grand total).",
)
def q_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "sum_total"))
    )


@register(
    "cube_lineitem_stats",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_items
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two low-cardinality dims (all 2^2 grouping combos).",
)
def q_cube_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"))
    )


@register(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (each dim alone + grand total).",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [[F.col("l_returnflag")], [F.col("l_linestatus")], []],
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    ).agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))


@register(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="COUNT DISTINCT per group (expand+two-phase agg in Spark).",
)
def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "approx_distinct_users",
    # HLL sketch values are engine-specific, so the checkable surface
    # is a TOLERANCE contract: emit the exact count (hash-comparable)
    # plus a within-3-rsd boolean the oracle asserts as TRUE. If the
    # sketch ever drifts outside the band, within_tol flips false and
    # the row goes red — a real check, not a rows-only count.
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HLL++): the 100 TB substitute for "
        "exact COUNT DISTINCT — no expand, one pass, mergeable "
        "sketch. Checked against the exact count with a 3*rsd "
        "relative-error band.",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    rsd = 0.02
    agg = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    err = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    )
    return agg.select(
        "event_type", "exact_users", (err <= 3 * rsd).alias("within_tol")
    )


# ------------------------------------------------------------------ joins

@register(
    "join_customer_orders",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'segment_revenue')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Fact-fact shuffle hash join on custkey; AQE may switch to "
        "broadcast at small SF — both scale-correct.",
)
def q_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "segment_revenue"))
    )


@register(
    "broadcast_join_part_revenue",
    oracle=f"""
    SELECT p_brand,
           CAST(ROUND(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    doc="Explicit broadcast of the part dim: fact side never shuffles "
        "for the join (only for the tiny p_brand agg).",
)
def q_broadcast_join_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        R.join_dim(li, p, on=[li["l_partkey"] == p["p_partkey"]])
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "left_join_order_counts",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join preserving order-less customers (count=0).",
)
def q_left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "semi_join_open_order_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    doc="Left-semi join (EXISTS): no row multiplication, build side "
        "is the filtered orders keys.",
)
def q_semi_join_open_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_orderless_customers",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS): customers with zero orders.",
)
def q_anti_join_orderless_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_acctbal"
    )


@register(
    "multiway_join_region_revenue",
    oracle=f"""
    SELECT n_name,
           CAST(ROUND(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shaped 5-way join: tiny dims (nation/region) "
        "broadcast, fact joins shuffle on their keys, filters pushed "
        "below every join.",
)
def q_multiway_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------- windows

@register(
    "window_topn_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
    doc="Top-3 per group via ranking window; unique tiebreak "
        "(orderkey) keeps it deterministic under retries.",
)
def q_window_topn_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return R.top_k_per_group(
        joined,
        group_by=["c_mktsegment"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))


@register(
    "window_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS DOUBLE) AS run_spend
    FROM orders
    """,
    doc="Cumulative frame window (running total per customer), "
        "decimal-exact so the running values are order-stable.",
)
def q_window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("run_spend"),
    )


@register(
    "window_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderdate) OVER w AS prev_orderdate,
           CAST(coalesce(datediff('day', LAG(o_orderdate) OVER w, o_orderdate), -1)
                AS INTEGER) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag() + datediff: days between consecutive orders per "
        "customer (-1 for the first order).",
)
def q_window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        prev.alias("prev_orderdate"),
        F.coalesce(F.datediff(F.col("o_orderdate"), prev), F.lit(-1))
        .cast("int")
        .alias("gap_days"),
    )


@register(
    "global_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    doc="Global top-k: TakeOrderedAndProject (per-partition heaps + "
        "driver merge), never a full sort at scale.",
)
def q_global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.global_top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=10,
    )


# ----------------------------------------------------------------- set ops

@register(
    "set_union_active_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    """,
    doc="UNION (distinct) of two key sets.",
)
def q_set_union_active_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    b = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return a.union(b).distinct()


@register(
    "set_intersect_status_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT: customers holding both finished and open orders.",
)
def q_set_intersect_status_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "set_except_inactive_keys",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
    doc="EXCEPT: the anti-join expressed as a set difference.",
)
def q_set_except_inactive_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


# ------------------------------------------------------- scalar functions

@register(
    "string_funcs_parts",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_type, 1, 5) AS type_prefix,
           concat(p_brand, '/', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake
    FROM part WHERE p_name LIKE '%a%'
    """,
    doc="String scalar functions + LIKE filter (all codegen'd).",
)
def q_string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.where(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "date_funcs_orders",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           date_trunc('month', o_orderdate) AS month_start,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'month_revenue')}
    FROM orders GROUP BY 1, 2, 3
    """,
    doc="Date extraction + truncation + monthly aggregate.",
)
def q_date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "month_revenue"))
    )


@register(
    "math_funcs_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(abs(l_quantity) AS DOUBLE) AS abs_qty,
           CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_bucket,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           l_orderkey % 7 AS key_mod
    FROM lineitem WHERE l_linenumber <= 2
    """,
    doc="Math scalars; sqrt is IEEE-correctly-rounded so it is "
        "engine-stable without tricks.",
)
def q_math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.abs("l_quantity").cast("double").alias("abs_qty"),
        F.ceil(F.col("l_quantity") / 7.0).cast("bigint").alias("qty_bucket"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("bigint").alias("price_k"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@register(
    "json_events_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="JSON-string column extraction (get_json_object) + aggregate "
        "— the reference's P7 defensive-parse, schematized.",
)
def q_json_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "conditional_pivot_monthly",
    oracle="""
    SELECT date_trunc('month', ts) AS month_start,
           CAST(ROUND(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS click_value,
           CAST(ROUND(SUM(CASE WHEN event_type = 'view'
                 THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS view_value,
           CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS purchase_value
    FROM events GROUP BY 1
    """,
    doc="Conditional aggregation (manual pivot): one pass, no joins.",
)
def q_conditional_pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")

    def bucket(t: str, alias: str):
        return (
            F.round(F.sum(F.when(F.col("event_type") == t, dec("value"))), 2)
            .cast("double")
            .alias(alias)
        )

    return e.groupBy(F.date_trunc("month", F.col("ts")).alias("month_start")).agg(
        bucket("click", "click_value"),
        bucket("view", "view_value"),
        bucket("purchase", "purchase_value"),
    )


@register(
    "above_avg_acctbal_customers",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (
      SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             / COUNT(c_acctbal)
      FROM customer)
    """,
    doc="Scalar-subquery filter (threshold broadcast to every task); "
        "decimal-exact mean so the cut is engine-stable.",
)
def q_above_avg_acctbal_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_df = c.agg(davg("c_acctbal", "avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_df))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )


# ------------------------------------------------- time-series joins / skew

@register(
    "asof_join_event_order",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           o.o_orderdate AS asof_o_orderdate
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    doc="As-of join: each event matched to the user's most recent "
        "order at-or-before it — union + per-key window carry-forward "
        "(one shuffle, no range explosion); oracle = native ASOF JOIN.",
)
def q_asof_join_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey"), F.col("o_orderdate")
    )
    out = asof_join(
        e, o, key="user_id", left_ts="ts", right_ts="o_orderdate",
        right_vals=["o_orderdate"], right_key="o_custkey",
    )
    return out.where(F.col("asof_o_orderdate").isNotNull()).select(
        "event_id", "user_id", "asof_o_orderdate"
    )


@register(
    "range_join_close_events",
    oracle="""
    SELECT a.event_id AS event_a, b.event_id AS event_b,
           abs(CAST(floor(epoch(b.ts)) AS BIGINT)
               - CAST(floor(epoch(a.ts)) AS BIGINT)) AS gap_seconds
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
    WHERE abs(CAST(floor(epoch(b.ts)) AS BIGINT)
              - CAST(floor(epoch(a.ts)) AS BIGINT)) <= 600
    """,
    doc="Range join: same-user event pairs within 10 minutes "
        "(equi-join on user + band filter).",
)
def q_range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    a = e.select(
        F.col("user_id").alias("ua"), F.col("event_id").alias("event_a"),
        F.col("ts").alias("ts_a"),
    )
    b = e.select(
        F.col("user_id").alias("ub"), F.col("event_id").alias("event_b"),
        F.col("ts").alias("ts_b"),
    )
    gap = F.abs(F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a"))
    return (
        a.join(b, (F.col("ua") == F.col("ub")) & (F.col("event_a") < F.col("event_b")))
        .where(gap <= 600)
        .select("event_a", "event_b", gap.cast("bigint").alias("gap_seconds"))
    )


@register(
    "keyless_band_pairs_events",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           abs(CAST(floor(epoch(b.ts)) AS BIGINT)
               - CAST(floor(epoch(a.ts)) AS BIGINT)) AS gap_seconds
    FROM events a JOIN events b ON a.event_id < b.event_id
    WHERE abs(CAST(floor(epoch(b.ts)) AS BIGINT)
              - CAST(floor(epoch(a.ts)) AS BIGINT)) <= 10
    """,
    doc="KEYLESS band self-join (event pairs within 10 s across ALL "
        "users): time-grid bucketing — bin rows at band width, "
        "explode one side to bins {b-1,b,b+1}, equi-join on bin, "
        "re-check the exact band — turning the O(n^2) "
        "BroadcastNestedLoopJoin that a bare inequality predicate "
        "plans as into a hash join whose shuffle key is the time "
        "bin. Oracle "
        "is the naive inequality join. "
        "Operator: asof.keyless_band_self_join.",
    # Scaled twin = the ENGINE's time-grid banding in SQL: bin at the
    # band width, explode one side to {bin-1, bin, bin+1}, equi-join
    # on bin (a 10s gap can never span two bin boundaries), re-check
    # the exact band. Each qualifying pair matches on exactly one of
    # the probe's three bins, so no dedup pass is needed.
    oracle_scaled="""
    WITH e AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(floor(floor(epoch(ts)) / 10) AS BIGINT) AS bin
      FROM events
    ),
    probe AS (
      SELECT event_id, sec, unnest([bin - 1, bin, bin + 1]) AS bin FROM e
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           abs(b.sec - a.sec) AS gap_seconds
    FROM e a JOIN probe b ON a.bin = b.bin AND a.event_id < b.event_id
    WHERE abs(b.sec - a.sec) <= 10
    """,
)
def q_keyless_band_pairs_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.asof import (
        keyless_band_self_join,
    )

    e = _t(spark, sf_dir, "events")
    return keyless_band_self_join(
        e, id_col="event_id", ts="ts", max_gap_seconds=10
    )


@register(
    "salted_agg_event_values",
    oracle="""
    SELECT event_type,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
           count(*) AS n_rows
    FROM events GROUP BY event_type
    """,
    doc="Salted two-phase aggregation (skew pattern): scatter hot "
        "keys over 8 sub-keys, partial agg, merge — oracle proves "
        "equivalence to the plain groupBy.",
)
def q_salted_agg_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.skew import salted_sum_count

    e = _t(spark, sf_dir, "events")
    return salted_sum_count(
        e, keys=["event_type"], value=F.col("value"), n_salts=8,
        salt_source="event_id",
    )


@register(
    "bloom_prefilter_join_revenue",
    oracle=f"""
    SELECT c.c_custkey, count(*) AS n_orders,
           {sql_dsum('o.o_totalprice', 'total_spend')}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY c.c_custkey
    """,
    doc="Inner join behind a manual Bloom runtime filter (the "
        "InjectRuntimeFilter pattern, built by hand so the mechanism "
        "is engine-owned): the selective customer side's keys set "
        "k=3 bits each in a 64Ki-bit bitmap (distributive per-word "
        "bit_or build, map-side combined, collected as planning "
        "metadata like a probe-cell list), and the fact side drops "
        "non-members in its SCAN stage via an unrolled codegen'd "
        "bit-test conjunction — shuffle volume tracks the match set "
        "(~1/5 of orders here), not the fact table. False positives "
        "only leak rows INTO the real join, which discards them, so "
        "the result — and the oracle — is exactly the plain join at "
        "any hash luck (measured fpp ~0.2%). "
        "Operator: skew.bloom_prefiltered_join.",
)
def q_bloom_prefilter_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    return (
        bloom_prefiltered_join(orders, cust, "o_custkey", "c_custkey")
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
    )


@register(
    "salted_skew_join_events",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="Salted skew JOIN (both sides shuffle-sized): exact hot-key "
        "census -> broadcast-split both sides -> cold keys join "
        "plainly, hot-key left rows salted over 8 sub-keys with the "
        "right side replicated 8x on those keys only -> union. "
        "Oracle proves equivalence to the plain inner join; the "
        "(n_salts, hot_threshold) knobs tune routing, never results. "
        "Operator: skew.salted_skew_join.",
)
def q_salted_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.skew import salted_skew_join

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    joined = salted_skew_join(
        e, c, "user_id", "c_custkey",
        n_salts=8, hot_threshold=60, salt_source="event_id",
    )
    return joined.select(
        "event_id", "user_id", "event_type", "value",
        "c_mktsegment", "c_nationkey",
    )


# Routing thresholds shared by the Spark query and its oracle: the
# oracle recomputes the ROUTE from the same census signals in SQL, so
# the driver verifies the decision as well as the join result.
_ARJ_BCAST_MAX = 1000
_ARJ_HOT = 60


@register(
    "auto_routed_join_events",
    oracle=f"""
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment, c.c_nationkey,
           (CASE
              WHEN (SELECT count(*) FROM customer) <= {_ARJ_BCAST_MAX}
                THEN 'broadcast'
              WHEN (SELECT max(cnt) FROM (
                      SELECT count(*) AS cnt FROM events GROUP BY user_id))
                   >= {_ARJ_HOT}
                THEN 'salted'
              ELSE 'plain'
            END) AS route
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="Histogram-ROUTED join: the skew scout (join_skew_profile's "
        "census signals) now picks the strategy — broadcast if the "
        "right side is bounded-probe small, salted if any left key "
        "reaches the hot threshold, plain shuffle otherwise — and the "
        "oracle recomputes BOTH the join and the routing decision "
        "from the same signals, so a mis-route fails the driver "
        "check. All three routes are result-identical by "
        "construction (the routing-independence property tests pin "
        "each path). At the driver's sf0.01 this takes the salted "
        "path (customer 1500 > 1000, max per-user count 86 >= 60). "
        "Operator: skew.auto_routed_join / skew.choose_join_route.",
)
def q_auto_routed_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.skew import auto_routed_join

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    joined, route = auto_routed_join(
        e, c, "user_id", "c_custkey",
        n_salts=8, hot_threshold=_ARJ_HOT,
        broadcast_max_rows=_ARJ_BCAST_MAX, salt_source="event_id",
    )
    return joined.select(
        "event_id", "user_id", "event_type", "value",
        "c_mktsegment", "c_nationkey",
    ).withColumn("route", F.lit(route))


# ------------------------------------------------ SQL surface & scalars

# One SQL text, two engines: the engine's spark.sql() surface over
# registered views, oracle'd by running the IDENTICAL string in
# DuckDB (the analog of the reference exposing one registry of named
# entry points, master/src/map_functions.py:2-9).
_PORTABLE_SQL = """
    SELECT event_type,
           count(*) AS n,
           min(value) AS min_v,
           max(value) AS max_v
    FROM events WHERE value > 100 GROUP BY event_type
"""


@register(
    "sql_passthrough",
    oracle=_PORTABLE_SQL,
    doc="spark.sql() over registered temp views with an ANSI-portable "
        "SQL text — the engine's SQL-string API; oracle runs the "
        "identical string.",
)
def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_PORTABLE_SQL)


@register(
    "map_funcs_events",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           CAST(CAST(props ->> '$.k' AS BIGINT) % 10 AS BIGINT) AS k_mod
    FROM events
    """,
    doc="MAP column surface: props parsed as MAP<STRING,BIGINT> via "
        "from_json; map_keys/size/element access (P7 + map types).",
)
def q_map_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        (m.getItem("k") % 10).alias("k_mod"),
    )


@register(
    "null_handling_funcs",
    oracle="""
    SELECT c_custkey,
           coalesce(o_orderkey, -1) AS order_or_default,
           (o_orderkey IS NULL) AS is_orderless,
           nullif(c_mktsegment, 'BUILDING') AS segment_or_null,
           CASE WHEN o_totalprice IS NULL THEN 0.0
                ELSE o_totalprice END AS price_or_zero,
           greatest(coalesce(o_totalprice, 0.0), c_acctbal) AS best_figure
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    doc="NULL semantics through an outer join: coalesce / nullif / "
        "IS NULL / CASE / greatest.",
)
def q_null_handling_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "left")
    return j.select(
        "c_custkey",
        F.coalesce("o_orderkey", F.lit(-1)).alias("order_or_default"),
        F.col("o_orderkey").isNull().alias("is_orderless"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment_or_null"),
        F.when(F.col("o_totalprice").isNull(), F.lit(0.0))
        .otherwise(F.col("o_totalprice"))
        .alias("price_or_zero"),
        F.greatest(F.coalesce("o_totalprice", F.lit(0.0)), F.col("c_acctbal"))
        .alias("best_figure"),
    )


@register(
    "array_hof_funcs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> length(t) > 5)) AS INTEGER) AS n_long,
           list_aggregate(list_transform(toks, t -> length(t)), 'max') AS max_len,
           (len(list_filter(toks, t -> t = 'spark')) > 0) AS has_spark,
           (len(list_filter(toks, t -> length(t) >= 1)) = len(toks)) AS all_nonempty
    FROM t
    """.replace("{toks}", __import__("mapreduce_inverted_index_spark.functions.text", fromlist=["sql_tokens"]).sql_tokens("text")),
    doc="Array higher-order functions: filter / transform+max / "
        "exists / forall over token arrays.",
)
def q_array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.functions.text import tokenize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("toks")
    )
    return d.select(
        "doc_id",
        F.size(F.filter("toks", lambda t: F.length(t) > 5)).cast("int").alias("n_long"),
        F.array_max(F.transform("toks", F.length)).alias("max_len"),
        F.exists("toks", lambda t: t == "spark").alias("has_spark"),
        F.forall("toks", lambda t: F.length(t) >= 1).alias("all_nonempty"),
    )


# ------------------------------------------- statistical agg & multisets

@register(
    "median_stats_lineitem",
    oracle="""
    SELECT l_returnflag,
           median(l_quantity) AS median_qty,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Statistical aggregates: exact median (interpolated), sample "
        "stddev and correlation (rounded - Welford accumulation "
        "differs in last ulps across engines).",
)
def q_median_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
    )


@register(
    "multiset_ops_orderkeys",
    oracle="""
    SELECT custkey, count(*) AS n FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    ) GROUP BY custkey
    """,
    doc="Multiset INTERSECT ALL (duplicate-preserving set op) + "
        "multiplicity counts.",
)
def q_multiset_ops_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.where(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b).groupBy("custkey").agg(F.count("*").alias("n"))


@register(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l_orderkey,
           CAST(ROUND(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-06-30'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: selective dim filter -> "
        "two fact joins -> agg -> global top-10 "
        "(TakeOrderedAndProject).",
)
def q_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "forecast_revenue_filter_agg",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(3,2))), 2) AS DOUBLE)
             AS promo_revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped forecast revenue: pure filter+agg, every "
        "predicate pushed to the parquet scan, no shuffle beyond the "
        "single global aggregate.",
)
def q_forecast_revenue_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * F.col("l_discount").cast("decimal(3,2)")),
                2,
            )
            .cast("double")
            .alias("promo_revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "calendar_axis_order_counts",
    oracle="""
    WITH months AS (
      SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                    TIMESTAMP '2001-08-01',
                                    INTERVAL 1 MONTH)) AS month_start
    )
    SELECT m.month_start, count(o_orderkey) AS n_orders
    FROM months m LEFT JOIN orders o
      ON date_trunc('month', o.o_orderdate) = m.month_start
    GROUP BY m.month_start
    """,
    doc="Generated calendar axis (sequence + explode) left-joined to "
        "facts so empty months appear with zero counts — the dense "
        "time-axis pattern reports need.",
)
def q_calendar_axis_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("month", F.col("o_orderdate")).alias("m")
    )
    return (
        months.join(o, months["month_start"] == o["m"], "left")
        .groupBy("month_start")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "window_rank_family",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(rank()       OVER w AS INTEGER) AS bal_rank,
           CAST(dense_rank() OVER w AS INTEGER) AS bal_dense_rank,
           CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey ASC)
                AS INTEGER) AS bal_quartile,
           round(percent_rank() OVER w, 6) AS bal_pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    """,
    doc="Ranking window family: rank / dense_rank / ntile(4) / "
        "percent_rank per market segment. Scale note: 5 segments = 5 "
        "window partitions, a deliberate low-cardinality-key demo; at "
        "100 TB rank within (segment, nation) or pre-bucket by "
        "acctbal range so no single task sorts 1/5 of the table.",
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    wt = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("int").alias("bal_rank"),
        F.dense_rank().over(w).cast("int").alias("bal_dense_rank"),
        F.ntile(4).over(wt).cast("int").alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
    )


@register(
    "bool_agg_flags",
    oracle="""
    SELECT o_orderpriority,
           bool_or(o_orderstatus = 'F')  AS any_finished,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
             AS n_open
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Boolean aggregates: bool_or / bool_and / count_if per group.",
)
def q_bool_agg_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@register(
    "date_arithmetic_orders",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 3 MONTH AS due_date,
           CAST(year(age(TIMESTAMP '2002-01-01', o_orderdate)) * 12
                + month(age(TIMESTAMP '2002-01-01', o_orderdate))
                AS INTEGER) AS full_months_to_ref,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS order_dow,
           last_day(o_orderdate) AS month_end
    FROM orders WHERE o_orderkey % 7 = 0
    """,
    doc="Date arithmetic: interval add, whole-month difference, "
        "day-of-week, last_day.",
)
def q_date_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("due_date"),
        F.floor(
            F.months_between(
                F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate")
            )
        ).cast("int").alias("full_months_to_ref"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("order_dow"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
    )

# ------------------------------------------- TPC-H-shaped decision support

@register(
    "full_outer_nation_footprint",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           CAST(COALESCE(c.n_rich_customers, 0) AS BIGINT)
             AS n_rich_customers,
           CAST(COALESCE(s.n_rich_suppliers, 0) AS BIGINT)
             AS n_rich_suppliers
    FROM (SELECT c_nationkey AS nk, count(*) AS n_rich_customers
          FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, count(*) AS n_rich_suppliers
          FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
      ON c.nk = s.nk
    """,
    doc="Full outer join of two pre-aggregated sides with COALESCE key "
        "recovery — aggregate-before-join keeps the shuffle at "
        "O(nations), not O(rows), at any scale.",
)
def q_full_outer_nation_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_rich_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_rich_suppliers"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
        F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: histogram of customers by non-urgent order "
        "count; left join with a join-side residual predicate, then a "
        "double aggregation (wide on c_custkey, tiny on n_orders).",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "large_volume_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    GROUP BY c_name, o_orderkey, o_orderdate
    """,
    doc="TPC-H Q18 shape: large-volume orders via IN over a "
        "grouped-HAVING subquery — expressed as an agg-then-semi-join "
        "so the big lineitem table is aggregated once, and only "
        "qualifying orderkeys (rare) flow into the 3-way join; "
        "decimal-exact qty so the >250 cut is engine-stable.",
)
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_sum"))
        .where(F.col("qty_sum") > 250)
        .select("l_orderkey", F.round("qty_sum", 2).cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


@register(
    "quiet_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_bal
    FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no "
        "recent urgent order — scalar subquery (broadcast threshold) + "
        "correlated NOT EXISTS (left anti join on a pre-filtered, "
        "pre-deduplicated orders side).",
)
def q_quiet_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_df = c.where(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal", "avg_bal"))
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_df))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust"), dsum("c_acctbal", "total_bal"))
    )


@register(
    "percentile_quantity_by_flag",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS p50,
           round(quantile_cont(l_quantity, 0.9), 6)  AS p90,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact continuous percentiles (p50/p90/p99) per return flag — "
        "Spark `percentile` (exact, sort-based within group) vs DuckDB "
        "quantile_cont; at 100 TB swap in approx_percentile, which is "
        "sketch-mergeable and needs no per-group sort.",
)
def q_percentile_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return li.groupBy("l_returnflag").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber = 1
    """,
    doc="Unpivot (wide→long): three measure columns melted to "
        "(measure, value) rows — Spark's native `unpivot` is a "
        "narrow transformation (no shuffle, no row multiplication "
        "beyond the 3x melt); oracle = UNION ALL of projections.",
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") % 10 == 0) & (F.col("l_linenumber") == 1)
    )
    return li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@register(
    "time_range_window_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(count(*) OVER w AS BIGINT) AS n_trailing_90d,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2)
                AS DOUBLE) AS spend_trailing_90d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
    """,
    doc="Time-RANGE window frame: trailing-90-day order count and "
        "spend per customer — Spark rangeBetween over epoch seconds "
        "(UTC session, so 90 days == 7 776 000 s exactly); one shuffle "
        "on o_custkey, sort within partition, no self-join range "
        "explosion.",
)
def q_time_range_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).alias("n_trailing_90d"),
        F.round(F.sum(dec("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("spend_trailing_90d"),
    )


@register(
    "value_window_family",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           first_value(c_name) OVER wf AS top_name,
           last_value(c_name)  OVER wf AS bottom_name,
           nth_value(c_name, 3) OVER wf AS third_name,
           lag(c_acctbal) OVER wo AS prev_bal
    FROM customer
    WINDOW wo AS (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey ASC),
           wf AS (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
    """,
    doc="Value window family: first/last/nth_value over the full "
        "partition frame + lag over the ordered frame; tie-broken by "
        "c_custkey so the total order (and thus every value) is "
        "deterministic across engines. Same low-cardinality-partition "
        "scale caveat as window_rank_family: per-extremum values at "
        "100 TB come cheaper from a min/max agg + broadcast join back "
        "than from a 5-partition window sort.",
)
def q_value_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    order = [F.desc("c_acctbal"), F.asc("c_custkey")]
    wo = Window.partitionBy("c_mktsegment").orderBy(*order)
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.first("c_name").over(wf).alias("top_name"),
        F.last("c_name").over(wf).alias("bottom_name"),
        F.nth_value("c_name", 3).over(wf).alias("third_name"),
        F.lag("c_acctbal").over(wo).alias("prev_bal"),
    )


@register(
    "width_bucket_price_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                     WHEN o_totalprice >= 500000.0 THEN 21
                     ELSE CAST(floor(o_totalprice / 25000.0) AS INTEGER) + 1
                END AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY bucket
    """,
    doc="Equi-width histogram via width_bucket (20 buckets over "
        "[0, 500k)) — a single map-side bucketing expression + tiny "
        "hash agg; the scalable alternative to sort-based quantile "
        "binning. Oracle spells out the bucket arithmetic (this "
        "DuckDB build lacks width_bucket).",
)
def q_width_bucket_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(500000.0), F.lit(20))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "string_agg_rich_names",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer WHERE c_acctbal > 9950 GROUP BY c_nationkey
    """,
    doc="Ordered string aggregation: Spark collect_list is "
        "order-nondeterministic after a shuffle, so sort the array "
        "before joining — array_join(array_sort(collect_list)) is the "
        "engine-stable equivalent of string_agg(... ORDER BY).",
)
def q_string_agg_rich_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9950)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names")
    )


@register(
    "grouping_id_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP with grouping_id(): distinguishes subtotal levels "
        "(0=detail, 1=per-flag subtotal, 3=grand total) so consumers "
        "can filter aggregation depth without NULL-ambiguity.",
)
def q_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n_items"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM x
    )
    SELECT user_id,
           CAST(sess_no AS INTEGER) AS sess_no,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess_no
    """,
    doc="Batch sessionization (30-min inactivity gap): lag to flag "
        "session starts, running sum to number sessions, then a "
        "grouped rollup — the standard gaps-and-islands plan. One "
        "shuffle on user_id serves both windows AND the final "
        "aggregation (same key, Catalyst reuses the exchange); "
        "second-floor epoch diffs keep the gap test engine-stable. "
        "Batch twin of stream_session_windows.",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    numbered = R.sessionize(
        e, "user_id", "ts", gap_s=1800, tiebreak_col="event_id"
    )
    return numbered.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@register(
    "dq_profile_lineitem",
    oracle="""
    SELECT 'l_orderkey' AS column, count(*) AS n_rows,
           count(*) - count(l_orderkey) AS n_null,
           count(DISTINCT l_orderkey) AS n_distinct,
           CAST(min(l_orderkey) AS VARCHAR) AS min_value,
           CAST(max(l_orderkey) AS VARCHAR) AS max_value
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag),
           CAST(min(l_returnflag) AS VARCHAR),
           CAST(max(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           count(DISTINCT l_shipdate),
           CAST(min(l_shipdate) AS VARCHAR),
           CAST(max(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
    doc="Data-quality column profile (completeness, cardinality, "
        "range) in ONE aggregate pass + unpivot — the ingestion "
        "health gate; scan prunes to exactly the profiled columns.",
)
def q_dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.quality import column_profile

    li = load_table(spark, sf_dir, "lineitem")
    return column_profile(li, ["l_orderkey", "l_returnflag", "l_shipdate"])


@register(
    "join_skew_profile_events",
    oracle="""
    WITH h AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
         fan AS (SELECT l.key, l.n AS n_left, r.n AS n_right,
                        CAST(l.n * r.n AS BIGINT) AS est_out_rows
                 FROM h l JOIN h r ON l.key = r.key)
    SELECT key, n_left, n_right, est_out_rows,
           round(CAST(est_out_rows AS DOUBLE)
                 / (SELECT sum(est_out_rows) FROM fan), 6) AS est_out_share
    FROM fan
    ORDER BY est_out_rows DESC, key
    LIMIT 10
    """,
    doc="Pre-join skew diagnosis for the events self-join: per-key "
        "counts on both sides, per-key output fan-out (n_l * n_r) and "
        "its share of total estimated output, worst 10 keys. Runs on "
        "key HISTOGRAMS (shuffle rows are (key, count), cost "
        "O(distinct keys)) — the cheap scout query that chooses "
        "between plain shuffle, AQE skew-split, salting, or "
        "bounded_block_join before the expensive join runs. "
        "Operator: skew.join_skew_profile.",
)
def q_join_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.skew import join_skew_profile

    ev = _t(spark, sf_dir, "events")
    return join_skew_profile(ev, ev, "user_id", "user_id", top_n=10)


@register(
    "ewma_user_values",
    oracle="""
    SELECT event_id, user_id, ts,
           -- floor(x*1e6 + 0.5)/1e6, NOT round(): the alpha=0.5 fold
           -- lands on exact ...5 decimal ties where Spark rounds the
           -- binary expansion and DuckDB the decimal rendering; this
           -- form is IEEE-deterministic in both (see relational.ewma)
           floor(list_reduce(l, (acc, x) -> CAST(0.5 AS DOUBLE) * x
                                            + CAST(0.5 AS DOUBLE) * acc)
                 * 1000000.0 + 0.5) / 1000000.0 AS ewma_value
    FROM (SELECT event_id, user_id, ts,
                 list(CAST(value AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
          FROM events)
    """,
    doc="Recency-weighted activity feature: per-user EWMA "
        "(alpha=0.5, 8-event lookback) over the event stream — the "
        "sequential-recursion feature computed as a bounded "
        "collect_list + HOF fold (identical float-op order in both "
        "engines; alpha=0.5 keeps every step exactly representable). "
        "One shuffle on user_id. Operator: relational.ewma.",
)
def q_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return R.ewma(
        ev, "user_id", "ts", "value", alpha=0.5, lookback=8,
        tiebreak_col="event_id",
    ).select("event_id", "user_id", "ts", "ewma_value")


# ----------------------------------------- correlated-subquery family
# TPC-H Q4/Q15/Q17/Q21 shapes, written as their decorrelated plans:
# Catalyst rewrites correlated EXISTS / scalar subqueries into the
# semi/anti/aggregate-join forms below, so we declare those forms
# directly — one shuffle per correlation key, no per-row re-execution
# (the 100 TB requirement; a nested-loop subquery is O(rows x rows)).
# The reference engine has no subquery surface at all (SURVEY §2.9).


@register(
    "late_order_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: orders with at least one line shipped >60 "
        "days after order date, counted per priority. The correlated "
        "EXISTS decorrelates to a LEFT SEMI join on l_orderkey with "
        "the lateness predicate as a join residual — one shuffle, no "
        "per-order subquery re-execution. Date-range filter is pushed "
        "to the orders scan.",
)
def q_late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "small_qty_part_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#23'
      AND CAST(l_quantity AS BIGINT) * 5
          * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem l3
             WHERE l3.l_partkey = l1.l_partkey)
    """,
    doc="TPC-H Q17 shape: revenue from small-quantity lines (below "
        "20% of the part's average quantity). The correlated AVG "
        "subquery decorrelates to a per-partkey aggregate joined "
        "back on l_partkey; the brand dim filter semi-joins the "
        "aggregate's input FIRST (broadcast) so per-part stats are "
        "only computed for surviving parts — the magic-set rewrite, "
        "by hand. qty < 0.2*avg is algebraized to qty*5*cnt < sum "
        "(exact bigint, no float threshold flicker at the boundary).",
)
def q_small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    brand_keys = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li_b = li.join(F.broadcast(brand_keys), "l_partkey", "left_semi")
    per_part = li_b.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("_sum_qty"),
        F.count("*").alias("_cnt"),
    )
    small = li_b.join(per_part, "l_partkey").where(
        F.col("l_quantity").cast("bigint") * 5 * F.col("_cnt") < F.col("_sum_qty")
    )
    return small.agg(
        (F.round(F.sum(dec("l_extendedprice")), 2).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        )
    )


@register(
    "waiting_orders_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: suppliers who were the SOLE late supplier "
        "on a multi-supplier finished order. Both correlated "
        "subqueries (EXISTS other-supplier, NOT EXISTS other-late-"
        "supplier) decorrelate into ONE per-order aggregate "
        "(countDistinct suppliers / late suppliers) joined back on "
        "l_orderkey — two correlations, one shuffle, versus the "
        "naive plan's two extra lineitem self-joins. Supplier dim is "
        "broadcast; top-20 via TakeOrderedAndProject (no global "
        "sort). Deterministic: (numwait DESC, s_name) is a total "
        "order.",
)
def q_waiting_orders_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_f = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    # lo feeds two branches (per-order agg + the qualifying-line
    # filter); unpersisted, the lineitem-orders join runs twice (the
    # bm25_topk lesson — see term_queries.bm25_rank's persist note).
    lo = (
        li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        )
        .persist()
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supp"
        ),
    )
    qual = (
        lo.where(F.col("_late"))
        .join(per_order, "l_orderkey")
        .where((F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(3,2)))), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: the top supplier(s) by quarterly revenue. "
        "The scalar MAX subquery over the revenue CTE becomes an "
        "agg + broadcast + equality filter (ties all survive, as in "
        "the spec); revenue is computed ONCE and persisted across "
        "its two uses (CTE reuse — Spark would otherwise inline and "
        "recompute it). Exact-decimal revenue so the MAX equality "
        "cannot flicker between engines.",
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_disc_price()), 2).alias("total_revenue"))
        .persist()
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias(
                "total_revenue"
            )
        )
    )
    return out


@register(
    "gap_fill_daily_user_values",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS day_value
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY user_id),
    spine AS (SELECT user_id,
                     CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS day
              FROM bounds)
    SELECT s.user_id, CAST(s.day AS VARCHAR) AS day, d.day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           d.day_value IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    doc="Time-series densify + forward-fill: each user's daily value "
        "sums on a complete calendar spine (sequence+explode, clipped "
        "to the user's own active range), gaps carried forward with "
        "last(ignorenulls). The regularization step before any "
        "rolling-feature computation. All three wide ops hash on "
        "user_id. Operator: relational.gap_fill_daily.",
)
def q_gap_fill_daily_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return R.gap_fill_daily(
        ev, "user_id", "ts", F.round(F.sum(dec("value")), 2).cast("double")
    ).select(
        "user_id", F.col("day").cast("string").alias("day"),
        "day_value", "filled_value", "is_gap",
    )


@register(
    "grouped_agg_pandas_wavg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / (100.0 * SUM(CAST(l_quantity AS BIGINT))) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Grouped-AGG Pandas UDF (the UDAF API surface, completing "
        "UDF/UDAF/UDTF next to doc_terms_udtf_api and the grouped-map "
        "zscore demo): quantity-weighted mean price per return flag, "
        "Arrow-batched per group. Engine-stable by integer math: "
        "prices to exact cents, bigint dot product, ONE double "
        "division at the end (no float-sum order dependence). Scale "
        "caveat on the API itself: grouped-agg Pandas UDFs get no "
        "map-side partial aggregation (every row shuffles) and need "
        "the whole group in one Arrow batch — the builtin "
        "sum(price*qty)/sum(qty) twin the oracle uses is the "
        "production path (agg_pricing_summary is the builtin-form "
        "catalog twin); use this shape only when the per-group "
        "reduction genuinely isn't expressible with builtins.",
    scale_class="demo",
)
def q_grouped_agg_pandas_wavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pandas is imported at module level: PEP-563 string annotations
    # on the UDF resolve against function globals, so `pd` must be
    # visible there for Spark's signature inference.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _wavg(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        # exact bigint dot product; the single division is the only
        # float op (both factors < 2^53, so it is correctly rounded
        # and bit-identical to the oracle's)
        return float((cents * q).sum()) / (100.0 * float(q.sum()))

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_returnflag").agg(
        _wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


# ------------------------------------------- behavioral analytics

@register(
    "event_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
    doc="Three-step conversion funnel (view -> click -> purchase, "
        "each step within 24h of the previous, greedy-earliest "
        "semantics): the canonical product-analytics query. Each "
        "stage is a filtered aggregate joined to the previous "
        "stage's per-user min-time — stage k's input shrinks to "
        "stage k-1's survivors, so the plan narrows as the funnel "
        "does (and each join key is user_id: with the events table "
        "bucketed by user_id at scale, all three stages co-locate "
        "shuffle-free).",
)
def q_event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    day = F.expr("INTERVAL 24 HOURS")

    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df, stage, step):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(stage).alias("stage"), F.lit(step).alias("step"), "n_users"
        )

    return (
        _count(s1, 1, "view")
        .unionByName(_count(s2, 2, "click"))
        .unionByName(_count(s3, 3, "purchase"))
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    actives AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events)
    SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) / 7 AS INT)
             AS week_offset,
           count(*) AS n_users
    FROM firsts f JOIN actives a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-activity "
        "week, counted in each subsequent active week — the standard "
        "growth-analytics triangle. Two user-keyed aggregates plus "
        "one user-keyed join: a single shuffle partitioning serves "
        "all three wide ops (co-located under user_id bucketing at "
        "scale); the output is O(weeks^2) rows regardless of N.",
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    actives = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(actives, "user_id")
        .groupBy(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ------------------------------------------ Spark 4 SQL surfaces

@register(
    "variant_events_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured ingestion through the VARIANT type (Spark "
        "4): props parses ONCE into the binary variant encoding, "
        "then typed paths extract with variant_get — at scale this "
        "is the schema-flexible ingest path (store variant, extract "
        "lazily, no schema migration when producers add fields), "
        "with shredded parquet storage as the forward path. Same "
        "answer as the per-path get_json_object twin "
        "(json_events_agg), which re-parses the string per "
        "extraction — the plan difference that matters when one "
        "row's JSON feeds many extractions.",
)
def q_variant_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    )
    return (
        v.select("event_type", F.variant_get("v", "$.k", "bigint").alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    doc="SQL pipe syntax (Spark 4's |> operator chaining — the "
        "linear query form): FROM ... |> WHERE ... |> AGGREGATE. "
        "Parses to the identical logical plan as the classic form "
        "(same oracle), demonstrating the engine speaks the full "
        "Spark 4 SQL surface, not just the DataFrame API.",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                          AS DOUBLE) AS total_value
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, total_value
        """
    )


@register(
    "recursive_monthly_cumsum",
    oracle="""
    WITH RECURSIVE monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(20,2)) AS revenue
      FROM orders GROUP BY 1),
    walk(month, revenue, cum_revenue) AS (
      SELECT month, revenue, revenue FROM monthly
      WHERE month = (SELECT min(month) FROM monthly)
      UNION ALL
      SELECT m.month, m.revenue,
             CAST(w.cum_revenue + m.revenue AS DECIMAL(20,2))
      FROM walk w JOIN monthly m ON m.month = w.month + INTERVAL 1 MONTH)
    SELECT CAST(month AS VARCHAR) AS month,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(cum_revenue AS DOUBLE) AS cum_revenue
    FROM walk
    """,
    doc="Recursive CTE (Spark 4's WITH RECURSIVE): a linear walk "
        "over the monthly revenue chain carrying an exact-decimal "
        "running total — each iteration is one Catalyst-planned "
        "join, the recursion is acyclic by construction (month -> "
        "next month), and the DuckDB oracle runs the IDENTICAL "
        "recursive SQL, proving both engines' recursive evaluation "
        "agree. The window-function twin (sum OVER (ORDER BY "
        "month)) is the production form at scale; the recursion "
        "demonstrates the SQL:2016 surface for genuinely iterative "
        "chains (org hierarchies, BOM walks) that windows can't "
        "express.",
)
def q_recursive_monthly_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_rcte_v")
    return spark.sql(
        """
        WITH RECURSIVE monthly AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                      AS DECIMAL(20,2)) AS revenue
          FROM orders_rcte_v GROUP BY 1),
        walk(month, revenue, cum_revenue) AS (
          SELECT month, revenue, revenue FROM monthly
          WHERE month = (SELECT min(month) FROM monthly)
          UNION ALL
          SELECT m.month, m.revenue,
                 CAST(w.cum_revenue + m.revenue AS DECIMAL(20,2))
          FROM walk w JOIN monthly m ON m.month = w.month + INTERVAL 1 MONTH)
        SELECT CAST(month AS STRING) AS month,
               CAST(revenue AS DOUBLE) AS revenue,
               CAST(cum_revenue AS DOUBLE) AS cum_revenue
        FROM walk
        """
    )


@register(
    "ansi_safe_math_lineitem",
    oracle="""
    SELECT l_returnflag,
           count(CASE WHEN l_quantity <> 1
                      THEN 1.0 / (l_quantity - 1) END) AS n_divisible,
           CAST(SUM(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_div_by_zero,
           count(TRY_CAST(l_returnflag AS INTEGER)) AS n_numeric_flags
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="ANSI-safe arithmetic surface (Spark 4 runs ANSI mode ON by "
        "default, where 1/0 and bad casts are runtime ERRORS that "
        "kill the job): try_divide / try_cast convert the poison "
        "rows to NULLs so one malformed record can't fail a 100 TB "
        "aggregation — counted per flag against a CASE-guarded "
        "oracle. Counts only (no float sums), so the comparison is "
        "exact.",
)
def q_ansi_safe_math_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    safe_div = F.try_divide(F.lit(1.0), F.col("l_quantity") - F.lit(1))
    return li.groupBy("l_returnflag").agg(
        F.count(safe_div).alias("n_divisible"),
        F.sum(safe_div.isNull().cast("int")).cast("bigint").alias("n_div_by_zero"),
        F.count(F.try_to_number("l_returnflag", F.lit("999"))).alias(
            "n_numeric_flags"
        ),
    )


@register(
    "attribution_lag_quantiles",
    oracle="""
    WITH lags AS (
      SELECT c.user_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE c.event_type = 'click' AND p.event_type = 'purchase')
    SELECT count(*) AS n_conversions,
           CAST(quantile_disc(lag_us, 0.5) AS BIGINT) AS p50_lag_us,
           CAST(quantile_disc(lag_us, 0.9) AS BIGINT) AS p90_lag_us,
           CAST(min(lag_us) AS BIGINT) AS min_lag_us,
           CAST(max(lag_us) AS BIGINT) AS max_lag_us
    FROM lags
    """,
    doc="Time-to-convert distribution over the click->purchase "
        "attribution pairs: exact DISCRETE percentiles (an actual "
        "observed lag, as bigint microseconds — no interpolation, so "
        "the comparison is integer-exact; continuous percentiles "
        "would interpolate in floats). The interval join reuses the "
        "attribution shape; the quantile is one sort-based aggregate "
        "over the (small) conversions table — at 100 TB swap in "
        "approx_percentile on the same column.",
)
def q_attribution_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
    )
    lags = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("lag_us")
    )
    return lags.agg(
        F.count("*").alias("n_conversions"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p90_lag_us"),
        F.min("lag_us").alias("min_lag_us"),
        F.max("lag_us").alias("max_lag_us"),
    )


@register(
    "range_partition_boundaries",
    oracle="""
    WITH qs AS (
      SELECT quantile_disc(o_totalprice,
                           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
               AS cuts
      FROM orders)
    SELECT CAST(u.i AS BIGINT) AS bucket,
           CAST(cuts[u.i] AS DOUBLE) AS upper_bound
    FROM qs, unnest(range(1, 8)) AS u(i)
    """,
    doc="Exact equi-depth range-partition boundaries: the 7 cut "
        "points that split orders into 8 equal-count ranges by "
        "total price — the planning computation behind "
        "repartitionByRange/sorted writes (Spark's range partitioner "
        "estimates these by reservoir sampling; this is the exact "
        "answer a layout job computes once and reuses). DISCRETE "
        "percentiles (observed values, no interpolation) keep the "
        "cross-engine comparison float-exact; one sort-based "
        "aggregate, no join, no shuffle of fact rows beyond it.",
)
def q_range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cuts = [
        F.expr(
            f"percentile_disc({b}/8.0) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias(f"_q{b}")
        for b in range(1, 8)
    ]
    wide = o.agg(*cuts)
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("bigint").alias("bucket"),
                        F.col(f"_q{b}").cast("double").alias("upper_bound"),
                    )
                    for b in range(1, 8)
                ]
            )
        ).alias("s")
    ).select("s.bucket", "s.upper_bound")


@register(
    "skyline_orders",
    oracle="""
    WITH gx AS (SELECT o_orderdate AS x, max(o_totalprice) AS my
                FROM orders GROUP BY 1),
         axis AS (SELECT x, my,
                         max(my) OVER (ORDER BY x DESC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS pmax
                  FROM gx)
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS order_date,
           CAST(o.o_totalprice AS DOUBLE) AS total_price
    FROM orders o JOIN axis ON axis.x = o.o_orderdate
    WHERE o.o_totalprice = axis.my
      AND (axis.pmax IS NULL OR o.o_totalprice > axis.pmax)
    """,
    doc="2-D Pareto skyline of orders maximizing (recency, price): "
        "orders no other order beats on both axes. Sort-based, not "
        "the O(n^2) dominance self-join: one partial-agg groupBy on "
        "the date axis, a running-max window over the DISTINCT-date "
        "axis only (thousands of rows at any scale), and a broadcast "
        "map-back — the fact table is scanned once and never "
        "window-sorted. Exact decimal/date comparisons; operator: "
        "relational.pareto_frontier_2d.",
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return R.pareto_frontier_2d(
        o.select("o_orderkey", "o_orderdate", "o_totalprice"),
        "o_orderdate",
        "o_totalprice",
    ).select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("order_date"),
        F.col("o_totalprice").cast("double").alias("total_price"),
    )


@register(
    "nation_revenue_trend",
    oracle="""
    WITH pts AS (SELECT n_name,
                        (year(o_orderdate) - 1992) * 12
                          + month(o_orderdate) - 1 AS x,
                        o_totalprice AS y
                 FROM orders
                 JOIN customer ON c_custkey = o_custkey
                 JOIN nation ON n_nationkey = c_nationkey),
         s AS (SELECT n_name, count(*) AS n,
                      sum(CAST(x AS DECIMAL(10,0))) AS sx,
                      sum(CAST(y AS DECIMAL(18,2))) AS sy,
                      sum(CAST(x AS DECIMAL(10,0))
                          * CAST(y AS DECIMAL(18,2))) AS sxy,
                      sum(CAST(x AS DECIMAL(10,0))
                          * CAST(x AS DECIMAL(10,0))) AS sxx
               FROM pts GROUP BY 1),
         d AS (SELECT n_name, n, CAST(n AS DOUBLE) AS nd,
                      CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                      CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd
               FROM s),
         sl AS (SELECT n_name, n, nd, sxd, syd,
                       (nd * sxyd - sxd * syd)
                         / (nd * sxxd - sxd * sxd) AS slope_raw
                FROM d)
    SELECT n_name, CAST(n AS BIGINT) AS n_points,
           ROUND(slope_raw, 6) AS slope,
           ROUND((syd - slope_raw * sxd) / nd, 6) AS intercept
    FROM sl
    """,
    doc="Per-nation monthly revenue trend: closed-form least-squares "
        "slope/intercept from five EXACT decimal sufficient "
        "statistics (n, Sx, Sy, Sxy, Sxx) — order- and partitioning-"
        "independent where a float covariance is neither — combined "
        "in a fixed double expression order so DuckDB reproduces the "
        "doubles bit-for-bit. One partial-agg groupBy after two "
        "broadcast dim joins; map-side combine reduces each "
        "partition to 5 numbers per nation before the shuffle. "
        "Operator: relational.group_trend_slope.",
)
def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # customer is fact-sized (it scales with SF) — shuffle join it;
    # only the 25-row nation dim broadcasts.
    pts = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .select(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1992)) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    return R.group_trend_slope(
        pts, ["n_name"], "x", "y"
    ).select("n_name", "n_points", "slope", "intercept")


@register(
    "peak_concurrent_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM x
    ),
    sess AS (SELECT user_id, sess_no, min(ts) AS s_ts, max(ts) AS e_ts
             FROM s GROUP BY user_id, sess_no),
    d AS (SELECT s_ts AS ts, 1 AS delta FROM sess
          UNION ALL SELECT e_ts, -1 FROM sess),
    c AS (SELECT ts, delta,
                 sum(delta) OVER (ORDER BY ts, delta DESC
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM d),
    p AS (SELECT max(cum) AS pk FROM c)
    SELECT CAST(max(c.cum) AS BIGINT) AS peak_concurrency,
           min(c.ts) AS peak_ts
    FROM c, p WHERE c.cum = p.pk
    """,
    doc="Peak concurrent user sessions (30-min-gap sessionization, "
        "inclusive interval ends) and the earliest instant it "
        "occurs: the sweep-line capacity classic, run as a "
        "DISTRIBUTED prefix sum — equi-depth buckets from one "
        "mergeable percentile_approx sketch (cut placement affects "
        "balance only, never the result), per-bucket cumsum windows "
        "in parallel, a <= "
        "32-row bucket-total ledger turned into exclusive offsets, "
        "broadcast back — where the naive plan is one global "
        "single-partition window over every +-1 event. The oracle "
        "IS that naive global window (DuckDB runs it fine at "
        "sf0.01); all integer math. Operator: "
        "relational.peak_concurrency.",
)
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = (
        R.sessionize(e, "user_id", "ts", gap_s=1800, tiebreak_col="event_id")
        .groupBy("user_id", "sess_no")
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
    )
    return R.peak_concurrency(sess, "s_ts", "e_ts", buckets=32)


@register(
    "event_type_hour_chi2",
    oracle="""
    WITH src AS (SELECT event_type, ts FROM events
                 WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         obs AS (SELECT event_type AS a, hour(ts) AS b,
                        CAST(count(*) AS BIGINT) AS obs
                 FROM src GROUP BY 1, 2),
         grid AS (SELECT da.a, db.b
                  FROM (SELECT DISTINCT event_type AS a FROM src) da,
                       (SELECT DISTINCT hour(ts) AS b FROM src) db),
         cells AS (SELECT grid.a, grid.b,
                          CAST(coalesce(obs.obs, 0) AS BIGINT) AS o
                   FROM grid LEFT JOIN obs
                     ON obs.a = grid.a AND obs.b = grid.b),
         marg AS (SELECT o,
                         sum(o) OVER (PARTITION BY a) AS ra,
                         sum(o) OVER (PARTITION BY b) AS cb,
                         sum(o) OVER () AS n
                  FROM cells),
         q AS (SELECT n,
                      CAST(floor(
                        (CAST(o AS DOUBLE)
                         - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        * (CAST(o AS DOUBLE)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                             / CAST(n AS DOUBLE))
                        / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        * 1e9 + 0.5) AS BIGINT) AS qv
               FROM marg),
         d AS (SELECT (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
                      count(*) AS cells
               FROM cells)
    SELECT CAST(max(q.n) AS BIGINT) AS n_rows,
           CAST(max(d.cells) AS BIGINT) AS n_cells,
           CAST(max(d.dof) AS BIGINT) AS dof,
           CAST(sum(q.qv) AS DOUBLE) / 1e9 AS chi2
    FROM q, d
    """,
    doc="Pearson chi-square independence test (event_type x "
        "hour-of-day): the feature-association screen before "
        "trusting a stratified split. One partial-agg groupBy builds "
        "the contingency table, densified to the full category grid "
        "(zero cells carry expected mass); margins come from window "
        "sums over the tiny cell table (no second scan); per-cell "
        "(o-e)^2/e quantized to the 1e-9 grid and summed as exact "
        "BIGINT — order-independent, bit-identical across engines. "
        "Operator: quality.chi_square_independence.",
)
def q_event_type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.quality import (
        chi_square_independence,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour")
    )
    return chi_square_independence(e, "event_type", "hour")


@register(
    "bootstrap_ci_price",
    oracle="""
    WITH base AS (SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS q,
                         CAST(concat('0x',
                              substring(md5(concat_ws(':', l_orderkey,
                                                      l_linenumber)), 1, 15))
                              AS BIGINT) AS h
                  FROM lineitem),
         kept AS (SELECT r.r, q
                  FROM base CROSS JOIN (SELECT unnest(range(32)) AS r) r
                  WHERE (h >> r.r) & 1 = 0),
         per AS (SELECT r, CAST(count(*) AS BIGINT) AS n,
                        sum(CAST(q AS DECIMAL(18,0))) AS s
                 FROM kept GROUP BY r HAVING count(*) > 0),
         m AS (SELECT CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                 / 100 * 1e6 + 0.5) AS BIGINT) AS mq
               FROM per),
         rs AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
                       sum(CAST(mq AS DECIMAL(19,0))) AS sm,
                       sum(CAST(mq AS DECIMAL(19,0))
                           * CAST(mq AS DECIMAL(19,0))) AS smm
                FROM m),
         f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                      sum(CAST(q AS DECIMAL(18,0))) AS sf
               FROM base)
    SELECT n_rows, n_reps,
           round(CAST(sf AS DOUBLE) / n_rows / 100, 6) AS full_mean,
           round(sqrt((CAST(smm AS DOUBLE)
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n_reps)
                      / (n_reps - 1.0) / 1e12), 6) AS sd_reps,
           round(CAST(sf AS DOUBLE) / n_rows / 100
                 - 1.96 * sqrt((CAST(smm AS DOUBLE)
                                - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                                  / n_reps)
                               / (n_reps - 1.0) / 1e12) / sqrt(2.0), 6)
               AS ci_lo,
           round(CAST(sf AS DOUBLE) / n_rows / 100
                 + 1.96 * sqrt((CAST(smm AS DOUBLE)
                                - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                                  / n_reps)
                               / (n_reps - 1.0) / 1e12) / sqrt(2.0), 6)
               AS ci_hi
    FROM f CROSS JOIN rs
    """,
    doc="Deterministic half-sample bootstrap CI for the mean "
        "extended price — resampling-based uncertainty (is a "
        "snapshot-over-snapshot drift noise?) with NO RNG state: "
        "each row is md5-hashed ONCE and replicate r's coin flip is "
        "bit r of that hash ((h>>r)&1 — hashing per (row,replicate) "
        "measured 32x the scan cost), so the draw replays exactly "
        "in any engine. One scan; the 32-way replicate explode "
        "collapses map-side to 32 partials per partition; replicate "
        "means quantize to the 1e-6 grid so the cross-replicate "
        "variance is exact integer math. CI deflates the "
        "half-sample spread by sqrt(2) (delete-half family). "
        "Operator: quality.bootstrap_ci.",
)
def q_bootstrap_ci_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.quality import bootstrap_ci

    li = load_table(spark, sf_dir, "lineitem")
    return bootstrap_ci(
        li,
        F.col("l_extendedprice"),
        ["l_orderkey", "l_linenumber"],
        n_reps=32,
        quant=100,
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev
                 FROM events),
         pairs AS (SELECT prev AS from_state, event_type AS to_state,
                          CAST(count(*) AS BIGINT) AS n_trans
                   FROM seq WHERE prev IS NOT NULL
                   GROUP BY 1, 2)
    SELECT from_state, to_state, n_trans,
           ROUND(CAST(n_trans AS DOUBLE)
                 / CAST(sum(n_trans) OVER (PARTITION BY from_state)
                        AS DOUBLE), 6) AS p
    FROM pairs
    """,
    doc="First-order Markov transition matrix of per-user event "
        "sequences (what follows what): one lag window + one "
        "partial-agg groupBy; row-stochastic normalization from a "
        "window over the |states|^2 transition table (tiny), never "
        "a second scan. Counts exact; p is one double division. "
        "Operator: relational.transition_matrix.",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return R.transition_matrix(
        e, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


@register(
    "customer_revenue_gini",
    oracle="""
    WITH spend AS (SELECT o_custkey,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               * 100 AS BIGINT) AS v
                   FROM orders GROUP BY o_custkey),
         g AS (SELECT v AS _v, CAST(count(*) AS BIGINT) AS _c
               FROM spend GROUP BY v),
         c AS (SELECT _v, _c,
                      coalesce(sum(_c) OVER (ORDER BY _v
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) AS _below
               FROM g),
         s AS (SELECT CAST(sum(_c) AS BIGINT) AS n_items,
                      sum(CAST(_v AS DECIMAL(18,0))
                          * CAST(_c AS DECIMAL(18,0))) AS _s,
                      sum(CAST(_v AS DECIMAL(18,0))
                          * CAST(_c * _below
                                 + (_c * (_c + 1)) // 2
                                 AS DECIMAL(18,0))) AS _s1
               FROM c)
    SELECT n_items,
           CAST(_s AS DOUBLE) AS total_value,
           ROUND(2.0 * CAST(_s1 AS DOUBLE)
                 / (CAST(n_items AS DOUBLE) * CAST(_s AS DOUBLE))
                 - (CAST(n_items AS DOUBLE) + 1.0)
                   / CAST(n_items AS DOUBLE), 6) AS gini
    FROM s
    """,
    doc="Exact Gini coefficient of per-customer revenue (cents, "
        "exact decimal sums): the concentration profile that flags "
        "a corpus/revenue base collapsing onto few heavy "
        "contributors. Tie-safe rank-block formulation; "
        "strictly-below counts from the shared bucketed_prefix_sum "
        "primitive (fourth consumer); DECIMAL(37,0)-exact "
        "rank-weighted sums, one final double expression. Operator: "
        "quality.gini_coefficient.",
)
def q_customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.quality import (
        gini_coefficient,
    )

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    return gini_coefficient(spend, F.col("cents"))


@register(
    "event_funnel_colocated",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
    doc="The funnel over a user-bucketed events table — the promise "
        "event_funnel_conversion's docstring makes, demonstrated: "
        "events written bucketBy(16, user_id)/sortBy(user_id) once "
        "per process, then ALL of the funnel's user-keyed work — "
        "three per-user min aggregates AND the two stage joins — "
        "runs on the bucket distribution with ZERO user_id exchange "
        "in the plan (pytest-audited; merge hints pin the join shape "
        "the way the other co-located tiers do). Same oracle and "
        "same 3-row answer as the plain form; at 100 TB the events "
        "fact pays its user_id shuffle once at write and every "
        "funnel/retention/attribution run after that is "
        "shuffle-free on the user axis.",
)
def q_event_funnel_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}_{os.getpid()}"
    name = f"mii_{tag}_evu_b16"
    if not spark.catalog.tableExists(name):
        (
            load_table(spark, sf_dir, "events")
            .select("user_id", "event_type", "ts")
            .write.mode("overwrite")
            .bucketBy(16, "user_id")
            .sortBy("user_id")
            .option("path", f"{work_root()}/mii_evu_{tag}")
            .saveAsTable(name)
        )
    ev = spark.table(name)
    day = F.expr("INTERVAL 24 HOURS")

    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1.hint("merge"), "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2.hint("merge"), "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df, stage, step):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(stage).alias("stage"), F.lit(step).alias("step"), "n_users"
        )

    return (
        _count(s1, 1, "view")
        .unionByName(_count(s2, 2, "click"))
        .unionByName(_count(s3, 3, "purchase"))
    )
