"""Remaining TPC-H query shapes (Q2, Q8, Q9, Q11, Q13, Q15, Q16, Q17, Q20,
Q21), adapted to the driver's star schema (FIXTURES.md Group B) — with
relational_queries.py's Q1/Q3/Q4/Q5/Q6/Q7/Q10/Q12/Q14/Q18/Q19/Q22 this
completes all 22 TPC-H shapes.

The fixture set has no ``partsupp`` table, so the part↔supplier supply
relation is reconstructed as ``SELECT DISTINCT l_partkey, l_suppkey FROM
lineitem`` — at scale the distinct shuffle carries two longs per row, and
every downstream join is against broadcastable dimensions. Where official
TPC-H predicates reference absent columns (p_container, l_commitdate,
ps_supplycost, comment fields), the shape-defining structure is preserved —
correlated min/avg subqueries, multi-EXISTS, two-level aggregation, scalar
max-of-aggregate — with predicates re-targeted at existing columns. The
reference framework itself has none of these operators (SURVEY.md §2.2:
joins, subqueries, windows are all absent); each docstring notes the scale
strategy the plan is written for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.operators.relational import top_k
from sdc_mapreduce_spark.queries.base import QuerySpec, dsum, region_nations, sql_dsum


def _supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partsupp reconstruction: distinct (part, supplier) pairs observed
    in the fact table. One shuffle over two long columns; map-side partial
    distinct keeps the exchange small."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_partkey", "l_suppkey").distinct()


def _nation_suppliers(spark: SparkSession, sf_dir: str, n_name: str) -> DataFrame:
    """supplier ⋈ broadcast(nation ``n_name``): the suppliers of one
    nation."""
    return load_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").filter(F.col("n_name") == n_name)
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )


def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each LARGE part, the
    European supplier(s) with the minimum account balance among its
    suppliers. Decorrelated as a window MIN over the supply relation after
    both dimension joins are broadcast (part and supplier⋈nation⋈region are
    dimensions at any SF). Tie-safe total order before the top-100 limit."""
    supply = _supply(spark, sf_dir)
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey", "p_name")
    )
    eur = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(region_nations(spark, sf_dir, "EUROPE")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    joined = supply.join(
        part_f, F.col("l_partkey") == F.col("p_partkey")
    ).join(eur, F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("p_partkey")
    best = joined.withColumn("min_bal", F.min("s_acctbal").over(w)).filter(
        F.col("s_acctbal") == F.col("min_bal")
    )
    return top_k(
        best,
        [
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        ],
        100,
    ).select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")


Q2_SQL = """
WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
     eur AS (SELECT s_suppkey, s_acctbal, s_name, n_name
             FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM supply
JOIN eur  ON l_suppkey = s_suppkey
JOIN part ON p_partkey = l_partkey
WHERE p_type = 'LARGE'
  AND s_acctbal = (SELECT MIN(e2.s_acctbal)
                   FROM supply s2 JOIN eur e2 ON s2.l_suppkey = e2.s_suppkey
                   WHERE s2.l_partkey = p_partkey)
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of PROMO-part revenue sold
    to AMERICA customers, per order year — a conditional-aggregate ratio
    over a five-dimension star join. Every dimension side is broadcast; the
    single fact shuffle is the orders⋈lineitem equi-join; the final group-by
    has one row per year. The ratio divides two decimal-accumulated sums
    (order-independent, cross-engine deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    cust_am = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                region_nations(spark, sf_dir, "AMERICA").select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    )
    joined = (
        li.join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_am, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            dsum(
                "CASE WHEN n_name = 'NATION_7' THEN"
                " l_extendedprice * (1 - l_discount) ELSE 0 END",
                "nation_vol",
                scale=4,
            ),
            dsum("l_extendedprice * (1 - l_discount)", "total_vol", scale=4),
        )
        .select(
            "o_year", (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT YEAR(o_orderdate) AS o_year,
       CAST(SUM(CAST((CASE WHEN n2.n_name = 'NATION_7'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0 END) AS DECIMAL(28,4))) AS DOUBLE)
       / CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(28,4))) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA'
  AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit per supplier nation per year.
    The fixture has no ps_supplycost, so cost is proxied as
    ``p_retailprice * l_quantity * 0.05`` (documented adaptation; the shape
    — LIKE-filtered part dimension, 4-way join, two-key group-by — is what
    matters). Per-row double arithmetic is IEEE-deterministic; the sum
    accumulates in decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    joined = (
        li.join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("n_name", "o_year")
        .agg(
            dsum(
                "l_extendedprice * (1 - l_discount)"
                " - p_retailprice * l_quantity * 0.05",
                "sum_profit",
                scale=4,
            )
        )
        .orderBy(F.col("n_name").asc(), F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT n_name, YEAR(o_orderdate) AS o_year,
       {sql_dsum('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.05', 'sum_profit', 4)}
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name ASC, o_year DESC
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (LEFT JOIN so zero-order customers survive, with the filter inside the
    join), then the histogram of those counts. First shuffle on c_custkey,
    second on the tiny count domain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue per supplier over one quarter, then the
    supplier(s) whose revenue equals the maximum — a scalar
    max-of-aggregate subquery. The max is an aggregate of the already-small
    per-supplier relation, broadcast back as a one-row join (no second fact
    pass, no single-partition window). Revenue equality is exact because
    both sides are the same decimal-accumulated value."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        dsum("l_extendedprice * (1 - l_discount)", "total_revenue", scale=4)
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue', 4)}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) for a
    filtered part set, excluding a supplier blacklist (NOT IN → anti join;
    s_suppkey is non-null so the semantics coincide). The supply relation is
    the distinct fact projection; part is broadcast; the blacklist is a tiny
    anti-join side."""
    supply = _supply(spark, sf_dir)
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        supply.join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            blacklist,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue from small-quantity orders —
    a correlated AVG subquery (l_quantity < 0.2 × the part's mean quantity),
    decorrelated as a per-part aggregate joined back. The part filter is
    broadcast into the fact scan first, so the per-part averages are
    computed only over the ~|filtered parts| × fanout rows, not the whole
    fact table."""
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#5") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    relevant = li.join(
        part_f, F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = relevant.groupBy("l_partkey").agg(
        F.expr(
            "0.2 * (cast(sum(cast(l_quantity as decimal(28,2))) as double)"
            " / count(*))"
        ).alias("qty_threshold")
    )
    small = relevant.join(
        thresholds.withColumnRenamed("l_partkey", "t_partkey"),
        F.col("l_partkey") == F.col("t_partkey"),
    ).filter(F.col("l_quantity") < F.col("qty_threshold"))
    return small.agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(28,2))) as double) / 7.0"
        ).alias("avg_yearly")
    )


Q17_SQL = """
SELECT CAST(SUM(CAST((l_extendedprice) AS DECIMAL(28,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND p_type = 'SMALL'
  AND l_quantity < (SELECT 0.2 * (CAST(SUM(CAST((l2.l_quantity) AS DECIMAL(28,2))) AS DOUBLE)
                                  / COUNT(*))
                    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins on the fact table —
    suppliers in one nation who are the *sole* returner ('R') on
    multi-supplier finalized orders. Decorrelated as one per-order
    aggregation (distinct suppliers, distinct returning suppliers): the
    order qualifies iff n_supp > 1 and n_supp_returned = 1, replacing both
    correlated EXISTS probes with a single shuffle keyed like the main join
    (AQE aligns the two l_orderkey exchanges)."""
    li = load_table(spark, sf_dir, "lineitem")
    ord_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    supp_nation = _nation_suppliers(spark, sf_dir, "NATION_3").select(
        "s_suppkey", "s_name"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(ord_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            stats.withColumnRenamed("l_orderkey", "st_orderkey"),
            F.col("l_orderkey") == F.col("st_orderkey"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return top_k(
        l1.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait")),
        [F.col("numwait").desc(), F.col("s_name").asc()],
        100,
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders      ON o_orderkey = l1.l_orderkey
JOIN nation      ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority counts) adapted: the fixture
    lacks l_shipmode/l_commitdate/l_receiptdate, so the mode becomes
    l_returnflag and "late" becomes shipped > 60 days after the order date
    — preserving the defining structure: fact join + date-lag predicate +
    per-group CASE-split conditional counts. One fact shuffle to the
    two-column group-by; orders projects to (key, date, priority) before
    the join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    joined = li.select("l_orderkey", "l_returnflag", "l_shipdate").join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    late = joined.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL '60' DAY")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS TIMESTAMP) >
      CAST(o_orderdate AS TIMESTAMP) + INTERVAL '60 days'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp in the fixtures — supply value
    is the lineitem revenue attributable to a nation's suppliers): per-part
    value from NATION_7's suppliers, keeping parts whose value exceeds
    TWICE the mean per-part value — the global-aggregate-as-scalar-filter
    shape (HAVING > SUM(...)/COUNT(...) * k). The official Q11 divides its
    fraction by SF for exactly this reason; the mean-relative form is
    self-scaling at any SF. The supplier⋈nation side is broadcast; the
    scalar total is a one-row cross join; sums are exact decimal and the
    threshold is one division + one multiply in fixed order, so the >
    comparison is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    nat_supp = _nation_suppliers(spark, sf_dir, "NATION_7").select("s_suppkey")
    joined = li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    vals = joined.groupBy("l_partkey").agg(dsum("l_extendedprice", "value", 2))
    total = joined.agg(
        dsum("l_extendedprice", "total_value", 2),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("total_value") / F.col("n_parts") * 2.0)
        .select(F.col("l_partkey").alias("ps_partkey"), "value")
        .orderBy(F.col("value").desc(), F.col("ps_partkey").asc())
    )


Q11_SQL = f"""
WITH joined AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
), vals AS (
  SELECT l_partkey, {sql_dsum('l_extendedprice', 'value', 2)}
  FROM joined GROUP BY l_partkey
), total AS (
  SELECT {sql_dsum('l_extendedprice', 'total_value', 2)},
         COUNT(DISTINCT l_partkey) AS n_parts
  FROM joined
)
SELECT l_partkey AS ps_partkey, value
FROM vals, total
WHERE value > total_value / n_parts * 2.0
ORDER BY value DESC, ps_partkey ASC
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: availqty has no fixture source — the
    correlated threshold becomes shipment share): suppliers in NATION_3 who
    shipped MORE THAN 20% of some 'small%' part's total 1995-1997 quantity —
    the nested structure survives intact: filtered part list (broadcast),
    date-ranged fact slice, per-part correlated threshold (group total
    joined back), semi-join up to the supplier dimension, name-ordered.
    Quantity sums are exact decimals, so the share comparison is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    sliced = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_supp = sliced.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity", "supp_qty", 2)
    )
    per_part = sliced.groupBy("l_partkey").agg(dsum("l_quantity", "part_qty", 2))
    qualified = (
        per_supp.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") > F.col("part_qty") * 0.2)
        .select("l_suppkey")
        .distinct()
    )
    return (
        _nation_suppliers(spark, sf_dir, "NATION_3")
        .select("s_suppkey", "s_name")
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


Q20_SQL = f"""
WITH sliced AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
), per_supp AS (
  SELECT l_partkey, l_suppkey, {sql_dsum('l_quantity', 'supp_qty', 2)}
  FROM sliced GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, {sql_dsum('l_quantity', 'part_qty', 2)}
  FROM sliced GROUP BY l_partkey
), qualified AS (
  SELECT DISTINCT s.l_suppkey
  FROM per_supp s JOIN per_part p ON s.l_partkey = p.l_partkey
  WHERE s.supp_qty > p.part_qty * 0.2
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (SELECT l_suppkey FROM qualified)
ORDER BY s_name
"""


QUERIES: dict[str, QuerySpec] = {
    "q2_min_balance_supplier": QuerySpec(q2_min_balance_supplier, Q2_SQL),
    "q8_market_share": QuerySpec(q8_market_share, Q8_SQL),
    "q9_profit_by_nation_year": QuerySpec(q9_profit_by_nation_year, Q9_SQL),
    "q13_customer_distribution": QuerySpec(q13_customer_distribution, Q13_SQL),
    "q15_top_supplier": QuerySpec(q15_top_supplier, Q15_SQL),
    "q16_supplier_count": QuerySpec(q16_supplier_count, Q16_SQL),
    "q17_small_quantity_revenue": QuerySpec(q17_small_quantity_revenue, Q17_SQL),
    "q21_waiting_suppliers": QuerySpec(q21_waiting_suppliers, Q21_SQL),
    "q12_late_shipments": QuerySpec(q12_late_shipments, Q12_SQL),
    "q11_important_stock": QuerySpec(q11_important_stock, Q11_SQL),
    "q20_potential_promotion": QuerySpec(q20_potential_promotion, Q20_SQL),
}
