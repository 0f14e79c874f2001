"""Relational operator inventory (SURVEY.md §2.2 — everything the reference
lacks), each entry a DataFrame plan plus its DuckDB oracle.

Plans are written for the physical strategy that survives 100 TB:
dimension joins broadcast (region/nation/customer/supplier/part are small
relative to the fact tables at any SF); fact-side filters sit directly on
the scan so parquet pushdown prunes row groups; aggregates run
partial-then-final on the shuffle keys; top-k is TakeOrdered, never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.operators.relational import top_k, top_k_per_group
from sdc_mapreduce_spark.queries.base import (
    QuerySpec,
    davg,
    dsum,
    region_nations,
    sql_davg,
    sql_dsum,
)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate over the fact table — the
    engine's flagship grouped aggregation (the typed upgrade of the
    reference's word-count reduce, reference src/app/reducer.py:17-27)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price", scale=4),
            dsum(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
                "sum_charge",
                scale=6,
            ),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", scale=4),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price', 4)},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 6)},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc', 4)},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two fact joins → grouped
    revenue → top-10. customer is broadcast against orders; the
    orders⋈lineitem join shuffles on the join key only after both sides are
    filtered (Catalyst pushes the date predicates into the scans)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp_ntz")
    )
    joined = (
        li.join(
            orders.join(
                cust.select("c_custkey"),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    revenue = joined.groupBy("o_orderkey", "o_orderdate").agg(
        dsum("l_extendedprice * (1 - l_discount)", "revenue", scale=4)
    )
    return top_k(
        revenue, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", "o_orderdate", "revenue")


Q3_SQL = f"""
SELECT o_orderkey, o_orderdate,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)}
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate  > TIMESTAMP '1998-06-30'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way star join, all dimensions broadcast, one
    fact shuffle for the final aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    dims = (
        cust.join(
            F.broadcast(region_nations(spark, sf_dir, "ASIA")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
    )
    joined = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp.select("s_suppkey", "s_nationkey"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "revenue", scale=4))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q5_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)}
FROM customer
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain inner equi-join, customer side broadcast."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "c_name", "o_totalprice")


JOIN_INNER_SQL = """
SELECT o_orderkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
"""


def join_left_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with ≥1 urgent open order (EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    )
    return cust.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_acctbal")


JOIN_ANTI_SQL = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim broadcast join: revenue by part brand. At 100 TB the part
    dim is still MBs — broadcasting it removes the fact-table shuffle
    entirely; only the group-by shuffles (25 brands)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)", "brand_revenue", scale=4),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("brand_revenue").desc(), F.col("p_brand").asc())
    )


JOIN_BROADCAST_SQL = f"""
SELECT p_brand,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'brand_revenue', 4)},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY brand_revenue DESC, p_brand ASC
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + plain count + exact average per group."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            davg("c_acctbal", "avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


AGG_DISTINCT_SQL = f"""
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_customers,
       {sql_davg('c_acctbal', 'avg_acctbal')}
FROM customer GROUP BY c_mktsegment
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals + grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty")
    )


AGG_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows, {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (mktsegment, nationkey): all grouping combinations."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.cube("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


AGG_CUBE_SQL = """
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_customers
FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value — row_number window, one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
        rank_col="rn",
    )


WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) t
WHERE rn <= 3
"""


def window_rank_topn_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant twin of window_rank_topn
    (operators.relational.top_k_per_group_salted): local top-3 within
    (customer, content-salt), then global top-3 per customer over the ≤
    n_salts*k survivors — a hot customer's rows spread across salts instead
    of one reducer. Result-identical, so it shares window_rank_topn's
    oracle; equivalence on a pathologically hot key is asserted in
    tests/test_skew.py."""
    orders = load_table(spark, sf_dir, "orders")
    from sdc_mapreduce_spark.operators.relational import top_k_per_group_salted

    # the unique o_orderkey tie-break supplies an arithmetic salt — same
    # uniformity as hashing, ~1/3 the window cost (see operator docstring)
    return top_k_per_group_salted(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
        rank_col="rn",
        salt_expr=F.col("o_orderkey"),
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend in order-date order. The running sum
    accumulates in exact decimal so the result is order-of-evaluation-proof,
    then lands as double."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.expr("cast(o_totalprice as decimal(28,2))").alias("__d"),
    ).select(
        "o_custkey",
        "o_orderkey",
        F.sum("__d").over(w).cast("double").alias("running_spend"),
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value range, not row count): each order's
    trailing-30-day spend for its customer. The frame is keyed on an
    epoch-day integer so the same RANGE semantics run on both engines;
    orders on the same day all see the full day's total regardless of row
    order — which is what makes range frames deterministic where row frames
    on ties are not."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("__day"))
        .rangeBetween(-30, 0)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            day.alias("__day"),
            F.expr("cast(o_totalprice as decimal(28,2))").alias("__p"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum("__p").over(w).cast("double").alias("trailing_30d_spend"),
        )
    )


WINDOW_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
         PARTITION BY o_custkey
         ORDER BY DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_30d_spend
FROM orders
"""


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG: change in order value vs the customer's previous order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice") - prev).alias("delta_vs_prev"),
    )


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS delta_vs_prev
FROM orders
"""


def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 line items by price — TakeOrdered, no full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        [
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        20,
    )


SORT_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 20
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: building-segment customers who have urgent orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(urgent)


SET_INTERSECT_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: machinery-segment customers minus those with open orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return machinery.exceptAll(open_orders).distinct()


SET_EXCEPT_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): customers that are high-balance or urgent-order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return rich.union(urgent).distinct()


SET_UNION_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: upper/substr/length/concat/replace/lpad."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("name_devoweled"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
    )


SCALAR_STRING_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       SUBSTRING(p_name, 1, 5) AS name_prefix,
       LENGTH(p_name) AS name_len,
       CONCAT_WS('/', p_brand, p_type) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
       LPAD(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded
FROM part
"""


def scalar_datetime_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface over order dates."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.expr("datediff(cast(o_orderdate as date), date'1995-01-01')").alias(
            "days_since_epoch_start"
        ),
    )


SCALAR_DATETIME_SQL = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(MONTH(o_orderdate) AS INT) AS order_month,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
       CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
         AS days_since_epoch_start
FROM orders
"""


def scalar_math_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + CASE surface. Only IEEE-exact functions (abs/round/floor/ceil/
    sqrt) appear so results hash identically across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.col("l_extendedprice"), 0).alias("price_rounded"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_decile"),
        F.ceil(F.col("l_tax") * 100).cast("long").alias("tax_pct_ceil"),
        F.sqrt(F.col("l_extendedprice")).alias("price_sqrt"),
        F.when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_linestatus") == "O", "open")
        .otherwise("closed")
        .alias("status_label"),
    )


SCALAR_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS disc_dev,
       ROUND(l_extendedprice, 0) AS price_rounded,
       CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
       CAST(CEIL(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
       SQRT(l_extendedprice) AS price_sqrt,
       CASE WHEN l_returnflag = 'R' THEN 'returned'
            WHEN l_linestatus = 'O' THEN 'open'
            ELSE 'closed' END AS status_label
FROM lineitem
"""


def scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embedding column: size, indexing,
    slice-fold, min/max — all higher-order/collection built-ins, no Python.
    Both engines left-fold the slice sum over identical doubles, so the
    values hash-match without decimal tricks (8 elements, one order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head_sum"),
        F.round(F.array_max(v), 6).alias("max_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
    )


SCALAR_ARRAY_SQL = """
WITH u AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS INT) AS dim,
       ROUND(v[1], 6) AS first_val,
       ROUND(list_aggregate(v[1:8], 'sum'), 6) AS head_sum,
       ROUND(list_max(v), 6) AS max_val,
       ROUND(list_min(v), 6) AS min_val
FROM u
"""


def scalar_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics surface: NULLIF / COALESCE / null-safe equality.
    NULLs are synthesized with NULLIF (the fixtures are dense), then
    handled — the skeleton of every dirty-data normalization."""
    cust = load_table(spark, sf_dir, "customer")
    nullable_seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return cust.select(
        "c_custkey",
        nullable_seg.alias("seg_or_null"),
        F.coalesce(nullable_seg, F.lit("(redacted)")).alias("seg_filled"),
        nullable_seg.eqNullSafe(F.lit(None).cast("string")).cast("int").alias(
            "is_building"
        ),
        F.isnull(nullable_seg).cast("int").alias("is_null_flag"),
    )


SCALAR_NULL_SQL = """
SELECT c_custkey,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_filled,
       CAST(NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS INT)
         AS is_building,
       CAST(NULLIF(c_mktsegment, 'BUILDING') IS NULL AS INT) AS is_null_flag
FROM customer
"""


def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow scan: filter + 2-column projection, both pushed to parquet
    (.explain shows PushedFilters + pruned ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_quantity")


FILTER_PROJECT_SQL = """
SELECT l_orderkey, l_quantity FROM lineitem
WHERE l_quantity >= 45 AND l_returnflag = 'R'
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (left-semi against the fact table) feeding a
    grouped count. The semi join shuffles both sides on orderkey; at scale
    AQE converts it to a broadcast if the filtered lineitem side collapses."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    # The synthetic lineitem has no commit/receipt dates; "late" is
    # re-expressed as returned items (same EXISTS shape).
    late = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the
    pushdown showcase (all three predicates reach the parquet row-group
    filter; ReadSchema is 4 columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum("l_extendedprice * l_discount", "revenue", scale=4))
    )


Q6_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue', 4)}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregation, then joined back to
    orders+customer. The heavy groupBy(orderkey) happens FIRST so the join
    input is already reduced to the qualifying keys (tiny → broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "sum_qty")
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, sum_qty
FROM orders
JOIN (SELECT l_orderkey, {sql_dsum('l_quantity', 'sum_qty')}
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between customer-nation and
    supplier-nation pairs. The two nation lookups broadcast independently
    onto the two sides of the fact join; only the 25x25 group-by shuffles."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust_n = cust.join(
        F.broadcast(nation.select(F.col("n_nationkey"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    supp_n = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    joined = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        joined.groupBy("cust_nation", "supp_nation")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "volume", scale=4))
        .orderBy("cust_nation", "supp_nation")
    )


Q7_SQL = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'volume', 4)}
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cust_nation, supp_nation
ORDER BY cust_nation, supp_nation
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.
    Fact-side filter first, customer broadcast, aggregation on the customer
    grain, TakeOrdered for the top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    joined = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    revenue = joined.groupBy("c_custkey", "c_name", "c_mktsegment").agg(
        dsum("l_extendedprice * (1 - l_discount)", "lost_revenue", scale=4)
    )
    return top_k(
        revenue, [F.col("lost_revenue").desc(), F.col("c_custkey").asc()], 20
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'lost_revenue', 4)}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio in ONE pass — promo
    revenue share of one ship-month. The CASE rides inside the decimal sum,
    so there is a single scan, a single shuffle, and two aggregates."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    promo = dsum(
        "case when p_type = 'ECONOMY' then l_extendedprice * (1 - l_discount) "
        "else 0.0 end",
        "promo_revenue",
        scale=4,
    )
    total = dsum("l_extendedprice * (1 - l_discount)", "total_revenue", scale=4)
    return joined.agg(promo, total).select(
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_share_pct"),
    )


Q14_SQL = f"""
SELECT promo_revenue, total_revenue,
       ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_share_pct
FROM (
  SELECT
    {sql_dsum("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'promo_revenue', 4)},
    {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue', 4)}
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
) t
"""


def q19_disjunctive_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a join whose residual predicate is a disjunction of
    conjunctions (brand/size/quantity combos). Catalyst extracts the common
    join key as the hash condition and keeps the OR-of-ANDs as a residual
    filter; the shared `l_quantity <= 30` bound is pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 15))
    ) | (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 30))
        & (F.col("l_quantity").between(10, 30))
    )
    return joined.filter(cond).agg(
        dsum("l_extendedprice * (1 - l_discount)", "revenue", scale=4),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 10 AND 30)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: line counts per returnflag, one column per linestatus — the
    wide-format reshape. Spark's pivot plans as a single aggregation with
    conditional aggregates (no extra shuffle vs the long form), which is
    exactly how the oracle expresses it."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "cnt_f", "O": "cnt_o"})
        .na.fill(0, ["cnt_f", "cnt_o"])
        .orderBy("l_returnflag")
    )


AGG_PIVOT_SQL = """
SELECT l_returnflag,
       COALESCE(COUNT(*) FILTER (l_linestatus = 'F'), 0) AS cnt_f,
       COALESCE(COUNT(*) FILTER (l_linestatus = 'O'), 0) AS cnt_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers per nation — a global
    scalar aggregate (average positive balance, broadcast as a one-row
    frame) combined with an anti join against orders. Two fact passes, one
    25-row group-by."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal", "avg_bal")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    # "inactive" = no urgent order (the fixture's dense orders table gives
    # every customer SOME order, so plain no-orders would be empty)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    inactive = rich.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal', 'total_balance')}
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def sql_surface_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface itself: a correlated EXISTS plus a correlated
    scalar subquery written as raw SQL against registered views — Catalyst
    performs the decorrelation (RewriteCorrelatedScalarSubquery) that the
    DataFrame twins in this module spell out by hand."""
    for name in ("customer", "orders"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_sql")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer_sql c
        WHERE EXISTS (SELECT 1 FROM orders_sql o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer_sql c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


SQL_SURFACE_CORRELATED_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) of order value per
    status — the sort-based exact form; at 100 TB swap to
    ``approx_percentile`` (t-digest sketch, no global sort) and drop the
    oracle to rows-only."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("round(percentile(o_totalprice, 0.25), 4)").alias("p25"),
            F.expr("round(percentile(o_totalprice, 0.50), 4)").alias("p50"),
            F.expr("round(percentile(o_totalprice, 0.75), 4)").alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


AGG_PERCENTILES_SQL = """
SELECT o_orderstatus,
       ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS p25,
       ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS p50,
       ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the one-pass, bounded-memory forms for 100 TB:
    HLL++ ``approx_count_distinct`` (no exact-distinct shuffle expansion)
    and ``approx_percentile`` (mergeable digest, no global sort). These are
    what agg_distinct/agg_percentiles degrade to at scale.

    Oracle strategy (bounds-check): the estimates themselves are
    engine-specific, so the REGISTERED columns are the exact aggregates
    plus booleans asserting each sketch is within its published error —
    HLL++ within 5×rsd (rsd=0.02 ⇒ ±10%) of the exact distinct count
    (rsd is a STANDARD DEVIATION, not a hard bound: 3σ would flag ~0.3% of
    perfectly healthy datasets; 5σ keeps the check meaningful — a wiring
    bug is off by far more — while making a false red on a regenerated
    fixture essentially impossible), and the digest median at a rank
    between 45% and 55% of the group (rank error ≤ 1/accuracy ≪ 0.05). The DuckDB twin emits the same exacts with
    literal TRUEs, so an out-of-bounds sketch hash-mismatches and turns the
    driver row red. Raw estimate values are exercised in
    tests/test_operators.py.

    The median check is RANK-based (count of values strictly below / at or
    below the estimate, second pass with the tiny sketch table broadcast
    back) rather than comparing against exact percentiles: exact
    ``percentile()`` materializes every group's values in sort state — a
    memory cliff at 100 TB — while conditional counts are map-side
    combinable and bounded."""
    orders = load_table(spark, sf_dir, "orders")
    # exact COUNT(DISTINCT) runs as its OWN aggregation: mixing it into the
    # sketch agg makes Catalyst plan the whole thing through the Expand
    # distinct rewrite, re-evaluating the percentile digest over expanded
    # rows (measured 6 s vs 0.9 s split at sf0.01); the two 3-row results
    # join for free
    sk = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias(
            "approx_median_price"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    exact_d = orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    sk = sk.join(exact_d, "o_orderstatus")
    med = F.col("approx_median_price")
    ranks = (
        orders.join(
            F.broadcast(sk.select("o_orderstatus", "approx_median_price")),
            "o_orderstatus",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.when(F.col("o_totalprice") < med, 1)).alias("__below"),
            F.count(F.when(F.col("o_totalprice") <= med, 1)).alias("__at_or_below"),
        )
    )
    exact = F.col("exact_customers").cast("double")
    n = F.col("n").cast("double")
    return (
        sk.join(ranks, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n",
            "exact_customers",
            (
                F.abs(F.col("approx_customers").cast("double") - exact) / exact
                <= F.lit(0.10)
            ).alias("acd_within_bounds"),
            (
                (F.col("__below") <= n * 0.55)
                & (F.col("__at_or_below") >= n * 0.45)
            ).alias("median_within_bounds"),
        )
        .orderBy("o_orderstatus")
    )


AGG_APPROX_SKETCHES_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS acd_within_bounds,
       TRUE AS median_within_bounds
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def udaf_geomean_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface via a GROUPED_AGG pandas UDF: geometric mean of
    order value per priority. Arrow ships each group's column once; the
    kernel is vectorized numpy. (The reference's only aggregation contract
    is the reducer subprocess, SURVEY.md O13 — this is its typed, vectorized
    descendant.) Computed as exp(mean(log x)) — also expressible in ANSI
    SQL, which supplies the oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    # Real (non-string) annotations mark this as a GROUPED_AGG pandas UDF —
    # this module's `from __future__ import annotations` would stringify
    # inline hints, which pandas_udf cannot interpret.
    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")

    orders = load_table(spark, sf_dir, "orders")
    # NOTE: a GROUPED_AGG pandas UDF cannot share one agg() with JVM
    # aggregate functions (INVALID_PANDAS_UDF_PLACEMENT) — the aggregation
    # is the UDF alone.
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(geomean("o_totalprice"), 4).alias("geomean_price"))
        .orderBy("o_orderpriority")
    )


UDAF_GEOMEAN_SQL = """
SELECT o_orderpriority,
       ROUND(EXP(AVG(LN(o_totalprice))), 4) AS geomean_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map transformation via ``applyInPandas``: z-score each
    order's value within its priority group. The whole group arrives as one
    Arrow-backed pandas frame; the kernel is vectorized numpy. This is the
    per-group escape hatch when built-in window aggregates can't express
    the transformation (model scoring, per-group fits); here the semantics
    ARE window-expressible, which is what supplies the SQL oracle. Outputs
    round to 4 decimals so float64 accumulation-order differences between
    engines vanish."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["o_totalprice"]
        std = v.std(ddof=1)
        z = (v - v.mean()) / std if std > 0 else v * 0.0
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "zscore": z.round(4),
            }
        )

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .groupBy("o_orderpriority")
        .applyInPandas(
            kernel, schema="o_orderkey long, o_orderpriority string, zscore double"
        )
    )


GROUPED_ZSCORE_SQL = """
SELECT o_orderkey, o_orderpriority,
       ROUND((o_totalprice - AVG(o_totalprice) OVER w)
             / STDDEV_SAMP(o_totalprice) OVER w, 4) AS zscore
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority)
"""


def subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers above their nation's average
    balance), decorrelated into a per-nation aggregate + broadcast join —
    the plan Catalyst's RewriteCorrelatedScalarSubquery produces, written
    explicitly so the 25-row aggregate side is guaranteed broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        davg("c_acctbal", "nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), F.col("c_nationkey") == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


SUBQUERY_NATION_AVG_SQL = f"""
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
JOIN (SELECT c_nationkey AS nk, {sql_davg('c_acctbal', 'nation_avg')}
      FROM customer GROUP BY c_nationkey) na
  ON c.c_nationkey = na.nk
WHERE c_acctbal > nation_avg
"""


def join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (functions.dedup.fuzzy_name_pairs):
    near-duplicate part names within Levenshtein distance 4, blocked on the
    first name token. The distinct-names-first + blocking + length-bound +
    levenshtein-verify chain is the record-linkage plan that survives a
    100 TB fact table: all quadratic work runs on the (tiny) distinct-name
    set, and the verify is a codegen'd JVM built-in."""
    from sdc_mapreduce_spark.functions.dedup import fuzzy_name_pairs

    part = load_table(spark, sf_dir, "part")
    return fuzzy_name_pairs(part, "p_name", max_dist=4).orderBy("name_a", "name_b")


JOIN_FUZZY_NAMES_SQL = """
WITH n AS (
  SELECT p_name AS nm, COUNT(*) AS n_rows,
         split_part(lower(p_name), ' ', 1) AS blk
  FROM part GROUP BY p_name
)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist,
       a.n_rows AS rows_a, b.n_rows AS rows_b
FROM n a JOIN n b
  ON a.blk = b.blk AND a.nm < b.nm
 AND abs(length(a.nm) - length(b.nm)) <= 4
WHERE levenshtein(a.nm, b.nm) <= 4
ORDER BY name_a, name_b
"""


QUERIES: dict[str, QuerySpec] = {
    "join_fuzzy_names": QuerySpec(join_fuzzy_names, JOIN_FUZZY_NAMES_SQL),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL, bench=True),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL, bench=True),
    "q5_local_supplier": QuerySpec(q5_local_supplier, Q5_SQL, bench=True),
    "q4_order_priority": QuerySpec(q4_order_priority, Q4_SQL),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL, bench=True),
    "q18_large_volume": QuerySpec(q18_large_volume, Q18_SQL, bench=True),
    "q7_nation_volume": QuerySpec(q7_nation_volume, Q7_SQL),
    "q10_returned_items": QuerySpec(q10_returned_items, Q10_SQL),
    "q14_promo_share": QuerySpec(q14_promo_share, Q14_SQL),
    "q19_disjunctive_filters": QuerySpec(q19_disjunctive_filters, Q19_SQL),
    "agg_pivot": QuerySpec(agg_pivot, AGG_PIVOT_SQL),
    "agg_percentiles": QuerySpec(agg_percentiles, AGG_PERCENTILES_SQL),
    "agg_approx_sketches": QuerySpec(agg_approx_sketches, AGG_APPROX_SKETCHES_SQL),
    "udaf_geomean_pandas": QuerySpec(udaf_geomean_pandas, UDAF_GEOMEAN_SQL),
    "grouped_zscore_pandas": QuerySpec(grouped_zscore_pandas, GROUPED_ZSCORE_SQL),
    "subquery_above_nation_avg": QuerySpec(
        subquery_above_nation_avg, SUBQUERY_NATION_AVG_SQL
    ),
    "q22_global_sales_opportunity": QuerySpec(q22_global_sales_opportunity, Q22_SQL),
    "sql_surface_correlated": QuerySpec(
        sql_surface_correlated, SQL_SURFACE_CORRELATED_SQL
    ),
    "join_inner": QuerySpec(join_inner, JOIN_INNER_SQL),
    "join_left_agg": QuerySpec(join_left_agg, JOIN_LEFT_SQL),
    "join_semi": QuerySpec(join_semi, JOIN_SEMI_SQL),
    "join_anti": QuerySpec(join_anti, JOIN_ANTI_SQL),
    "join_broadcast_dim": QuerySpec(join_broadcast_dim, JOIN_BROADCAST_SQL, bench=True),
    "agg_distinct": QuerySpec(agg_distinct, AGG_DISTINCT_SQL),
    "agg_rollup": QuerySpec(agg_rollup, AGG_ROLLUP_SQL),
    "agg_cube": QuerySpec(agg_cube, AGG_CUBE_SQL),
    "agg_grouping_sets": QuerySpec(agg_grouping_sets, AGG_GROUPING_SETS_SQL),
    "window_rank_topn": QuerySpec(window_rank_topn, WINDOW_RANK_SQL, bench=True),
    "window_rank_topn_salted": QuerySpec(window_rank_topn_salted, WINDOW_RANK_SQL),
    "window_running_sum": QuerySpec(window_running_sum, WINDOW_RUNNING_SQL),
    "window_lag_delta": QuerySpec(window_lag_delta, WINDOW_LAG_SQL),
    "window_range_frame": QuerySpec(window_range_frame, WINDOW_RANGE_FRAME_SQL),
    "sort_limit_topk": QuerySpec(sort_limit_topk, SORT_LIMIT_SQL),
    "set_intersect": QuerySpec(set_intersect, SET_INTERSECT_SQL),
    "set_except": QuerySpec(set_except, SET_EXCEPT_SQL),
    "set_union": QuerySpec(set_union, SET_UNION_SQL),
    "scalar_string_fns": QuerySpec(scalar_string_fns, SCALAR_STRING_SQL),
    "scalar_datetime_fns": QuerySpec(scalar_datetime_fns, SCALAR_DATETIME_SQL),
    "scalar_math_case": QuerySpec(scalar_math_case, SCALAR_MATH_SQL),
    "scalar_array_fns": QuerySpec(scalar_array_fns, SCALAR_ARRAY_SQL),
    "scalar_null_fns": QuerySpec(scalar_null_fns, SCALAR_NULL_SQL),
    "filter_project_pushdown": QuerySpec(filter_project_pushdown, FILTER_PROJECT_SQL),
}
