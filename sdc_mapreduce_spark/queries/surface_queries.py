"""Additional function-surface queries: window distribution functions,
unpivot/melt, regex functions, and deterministic hash sampling.

The reference exposes none of these (its only scalar surface is an
``isalnum`` filter and whitespace split, reference src/app/mapper.py:6,16;
SURVEY.md §2.2); these queries declare the engine's wider surface with
DuckDB oracles. Cross-engine hazards each query works around are noted in
its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.queries.base import QuerySpec, dsum, sql_dsum
from sdc_mapreduce_spark.operators.relational import gini_concentration, ks_two_sample


def window_distribution_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution surface: ntile / percent_rank / cume_dist /
    first_value per order-status partition. The window orders by
    (o_totalprice, o_orderkey) — the key tiebreak makes ntile's row
    assignment deterministic across engines (ties in o_totalprice would
    otherwise make quartile membership engine-dependent). percent_rank and
    cume_dist are exact integer ratios, so the doubles hash identically."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(F.col("o_orderkey")).over(w).alias("cheapest_key"),
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT o_orderkey, o_orderstatus,
       NTILE(4)       OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume,
       FIRST_VALUE(o_orderkey) OVER w AS cheapest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) surface: wide part attributes to long (metric, value)
    rows, then an aggregate per metric. Unpivot is a zero-shuffle local
    expansion (each row emits k rows in place); only the final tiny
    aggregation shuffles. Oracle is the portable UNION ALL form."""
    part = load_table(spark, sf_dir, "part")
    long = part.select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "metric", "value")
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "total"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("metric")
    )


AGG_UNPIVOT_SQL = f"""
WITH long AS (
  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
  UNION ALL
  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
)
SELECT metric, COUNT(*) AS n,
       {sql_dsum('value', 'total')},
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM long
GROUP BY metric
ORDER BY metric
"""


def scalar_regex_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface over documents: extract-all word counting, boolean
    match, first-number extraction, edit distance. ``try_cast`` absorbs the
    engines' differing no-match returns (Spark '' vs NULL — both cast to
    NULL)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "n_alpha_words"
        ),
        F.col("text").rlike("[0-9]").alias("has_digit"),
        F.expr(
            "try_cast(regexp_extract(text, '([0-9]+)', 1) as bigint)"
        ).alias("first_number"),
        F.levenshtein(F.substring("text", 1, 10), F.lit("the quick")).alias(
            "lev_to_probe"
        ),
    )


SCALAR_REGEX_SQL = """
SELECT doc_id,
       CAST(LEN(regexp_extract_all(LOWER(text), '[a-z]+')) AS INT)
         AS n_alpha_words,
       regexp_matches(text, '[0-9]') AS has_digit,
       TRY_CAST(regexp_extract(text, '([0-9]+)', 1) AS BIGINT) AS first_number,
       CAST(levenshtein(SUBSTRING(text, 1, 10), 'the quick') AS INT)
         AS lev_to_probe
FROM documents
"""


def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via an md5 bucket on the row key, then
    per-flag estimates. This is the reproducible-sampling primitive a
    100 TB pipeline needs for debugging and quality estimation: unlike
    ``df.sample`` (seeded per-partition, changes with the split layout) the
    predicate depends only on row content, so the same rows are sampled on
    any cluster shape and in any engine — which is also what makes it
    oracle-checkable. The filter is a scan-local predicate: no shuffle, no
    extra pass."""
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.withColumn(
        "bucket",
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            31,
            2,
        ),
    )
    return (
        keyed.filter(F.col("bucket") < "1a")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("l_returnflag")
    )


SAMPLE_HASH_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_sampled,
       {sql_dsum('l_extendedprice', 'sum_price')}
FROM (
  SELECT *,
         SUBSTRING(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
                       CAST(l_linenumber AS VARCHAR)), 31, 2) AS bucket
  FROM lineitem
)
WHERE bucket < '1a'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_STRAT_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1, "zh": 0.05}


def sample_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder quota sampling (functions.splits.quota_sample):
    exactly 500 documents allocated across languages proportionally to
    their counts — floor quotas plus leftover seats by largest remainder
    — each stratum filled in content-hash order. The one sampler whose
    realized total is EXACT (hash-fraction mixes hit budgets only in
    expectation); all allocation arithmetic is integer floor/mod, so the
    selected set replays bitwise in the oracle."""
    from sdc_mapreduce_spark.functions.splits import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    return quota_sample(docs, "lang", budget=500).orderBy("lang", "pick_rank")


SAMPLE_QUOTA_SQL = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT SUM(n_docs) AS N FROM c
), alloc AS (
  SELECT lang, n_docs,
         (500 * n_docs) // t.N AS base,
         (500 * n_docs) % t.N AS rem
  FROM c, tot t
), lo AS (
  SELECT 500 - SUM(base) AS leftover FROM alloc
), ranked AS (
  SELECT lang, n_docs, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk
  FROM alloc
), quota AS (
  SELECT lang, n_docs,
         CAST(base + CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
           AS quota
  FROM ranked, lo
), picked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('quota-v1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS pick_rank
  FROM documents
)
SELECT p.doc_id, p.lang, CAST(p.pick_rank AS INT) AS pick_rank, q.quota
FROM picked p JOIN quota q USING (lang)
WHERE p.pick_rank <= q.quota
ORDER BY lang, pick_rank
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (downsample the dominant
    language, keep all of a rare one) — ``sampleBy`` semantics with a
    content-hash predicate instead of per-partition RNG, so the kept set is
    reproducible on any cluster shape and auditable in any engine. Returns
    per-language kept counts."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions.splits import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", _STRAT_FRACTIONS)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


def _strat_sql() -> str:
    from sdc_mapreduce_spark.functions.splits import stratified_sample_sql_predicate

    return stratified_sample_sql_predicate("doc_id", "lang", _STRAT_FRACTIONS)


SAMPLE_STRATIFIED_SQL = f"""
SELECT lang, COUNT(*) AS n_kept,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM documents
WHERE {_strat_sql()}
GROUP BY lang
ORDER BY lang
"""


_MIX_DOMAINS = {  # source -> domain grouping for the mixing plan
    "web": tuple(f"src{i}" for i in range(0, 5)),
    "books": tuple(f"src{i}" for i in range(5, 10)),
    "code": tuple(f"src{i}" for i in range(10, 15)),
    "forums": tuple(f"src{i}" for i in range(15, 20)),
}
_MIX_TARGETS = {"web": 0.6, "books": 0.2, "code": 0.15, "forums": 0.05}


def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing plan: per-domain keep fractions that reshape the corpus
    to a target mix (60/20/15/5 over web/books/code/forums source groups) by
    pure downsampling, keeping the largest corpus satisfying the mix —
    static DoReMi-style reweighting. Exact arithmetic end to end; apply the
    plan with splits.stratified_sample."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions.splits import mix_rebalance_plan

    docs = load_table(spark, sf_dir, "documents")
    domain = None
    for g, sources in sorted(_MIX_DOMAINS.items()):
        cond = F.col("source").isin(*sources)
        domain = F.when(cond, g) if domain is None else domain.when(cond, g)
    return mix_rebalance_plan(
        docs.withColumn("domain", domain), "domain", _MIX_TARGETS
    )


def _mix_domain_case() -> str:
    whens = " ".join(
        "WHEN source IN ({}) THEN '{}'".format(
            ", ".join(f"'{s}'" for s in sources), g
        )
        for g, sources in sorted(_MIX_DOMAINS.items())
    )
    return f"CASE {whens} END"


def _mix_target_case() -> str:
    whens = " ".join(
        f"WHEN domain = '{g}' THEN {w}" for g, w in sorted(_MIX_TARGETS.items())
    )
    return f"CASE {whens} END"


CORPUS_MIX_REBALANCE_SQL = f"""
WITH counts AS (
  SELECT {_mix_domain_case()} AS domain, COUNT(*) AS n_docs
  FROM documents GROUP BY 1
), shared AS (
  SELECT domain, n_docs,
         n_docs / (SELECT SUM(n_docs) FROM counts) AS current_share,
         CAST({_mix_target_case()} AS DOUBLE) AS target_share,
         (SELECT CAST(SUM(n_docs) AS BIGINT) FROM counts) AS total
  FROM counts
), scaled AS (
  SELECT *, (SELECT MIN(current_share / target_share) FROM shared) AS scale
  FROM shared
)
SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, current_share, target_share,
       LEAST(1.0, target_share * scale * total / n_docs) AS keep_fraction,
       CAST(FLOOR(target_share * scale * total) AS BIGINT) AS n_kept
FROM scaled
ORDER BY domain
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (duplicate-preserving difference) — the bag
    semantics ``set_except`` deliberately collapses. Catalyst plans this as
    one hash aggregation of per-side multiplicities, not a join."""
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    p_cust = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return f_cust.exceptAll(p_cust)


SET_EXCEPT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
"""


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL: each custkey kept min(multiplicity-left,
    multiplicity-right) times."""
    orders = load_table(spark, sf_dir, "orders")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return o_cust.intersectAll(f_cust)


SET_INTERSECT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): region key 0 is
    mapped to NULL on both sides, and the null-safe comparison still joins
    those rows — a plain equi-join would silently drop them. Dimension-sized
    inputs; the join key quirk, not volume, is the point."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.when(F.col("n_regionkey") != 0, F.col("n_regionkey")).alias("rk"),
    )
    region = load_table(spark, sf_dir, "region").select(
        F.when(F.col("r_regionkey") != 0, F.col("r_regionkey")).alias("rrk"),
        "r_name",
    )
    return (
        nation.join(F.broadcast(region), F.col("rk").eqNullSafe(F.col("rrk")))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


JOIN_NULL_SAFE_SQL = """
SELECT n_nationkey, n_name, r_name
FROM (SELECT n_nationkey, n_name,
             CASE WHEN n_regionkey <> 0 THEN n_regionkey END AS rk
      FROM nation) n
JOIN (SELECT CASE WHEN r_regionkey <> 0 THEN r_regionkey END AS rrk, r_name
      FROM region) r
  ON n.rk IS NOT DISTINCT FROM r.rrk
ORDER BY n_nationkey
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two dimensions (region × nation) — the
    one join shape that is only ever safe on broadcastable inputs; Catalyst
    plans it as a broadcast nested-loop."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(F.broadcast(nation)).orderBy("r_name", "n_name")


JOIN_CROSS_SQL = """
SELECT r_name, n_name
FROM region CROSS JOIN nation
ORDER BY r_name, n_name
"""


def events_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing (``from_json`` to a typed struct) — the
    planned-schema counterpart of events_json_extract's per-path
    ``get_json_object``: one parse per row, all fields typed, prunable."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k long").alias("p")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct(F.col("p.k")).alias("distinct_k"),
            F.min(F.col("p.k")).alias("min_k"),
            F.max(F.col("p.k")).alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_FROM_JSON_SQL = """
SELECT event_type, COUNT(*) AS cnt,
       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS distinct_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def join_full_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join + coalesce — the merge/upsert shape: per-customer
    totals of open vs finalized orders combined so customers present on
    either side survive with zero-filled gaps. One shuffle per side on the
    same key; AQE aligns the exchanges."""
    orders = load_table(spark, sf_dir, "orders")
    open_t = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("custkey_o"))
        .agg(dsum("o_totalprice", "open_total"))
    )
    final_t = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("custkey_f"))
        .agg(dsum("o_totalprice", "final_total"))
    )
    return (
        open_t.join(
            final_t, F.col("custkey_o") == F.col("custkey_f"), "full_outer"
        )
        .select(
            F.coalesce("custkey_o", "custkey_f").alias("custkey"),
            F.coalesce("open_total", F.lit(0.0)).alias("open_total"),
            F.coalesce("final_total", F.lit(0.0)).alias("final_total"),
        )
        .orderBy("custkey")
    )


JOIN_FULL_OUTER_SQL = f"""
WITH open_t AS (
  SELECT o_custkey AS custkey_o, {sql_dsum('o_totalprice', 'open_total')}
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
),
final_t AS (
  SELECT o_custkey AS custkey_f, {sql_dsum('o_totalprice', 'final_total')}
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT COALESCE(custkey_o, custkey_f) AS custkey,
       COALESCE(open_total, 0.0) AS open_total,
       COALESCE(final_total, 0.0) AS final_total
FROM open_t FULL OUTER JOIN final_t ON custkey_o = custkey_f
ORDER BY custkey
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (the data-quality primitive every
    ingestion pipeline runs first): row count, null count, exact distinct,
    min/max for each profiled numeric column, computed in ONE aggregate over
    one scan and stacked to long form. Multiple exact distincts expand rows
    k-fold pre-shuffle (Catalyst Expand); at 100 TB swap to
    approx_count_distinct and the expansion disappears."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, min_{c}, max_{c}" for c in cols
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args})"
            " as (col_name, n_non_null, n_distinct, min_value, max_value)"
        ),
    ).select("col_name", "n_rows", "n_non_null", "n_distinct", "min_value", "max_value")


TABLE_PROFILE_SQL = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_non_null,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS DOUBLE) AS min_value,
       CAST(MAX(o_orderkey) AS DOUBLE) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
       CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
FROM orders
"""


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salted join (operators.skew.salted_join): the fact side
    gets a uniform 16-way salt, the supplier dim is replicated per salt, and
    the join key becomes (key, salt) — spreading any hot supplier across 16
    reduce partitions. The oracle is the PLAIN join: salting must be
    result-invariant, which is exactly what this entry proves."""
    from sdc_mapreduce_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, on="l_suppkey", n_salts=16)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice * (1 - l_discount)", "revenue", scale=4),
        )
        .orderBy("s_nationkey")
    )


JOIN_SKEW_SALTED_SQL = f"""
SELECT s_nationkey, COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)}
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-split COUNT(DISTINCT): per-salt partial distinct then summed
    (operators.skew.salted_distinct_count) — the form that spreads one hot
    group over 16 reducers. The oracle is the plain COUNT(DISTINCT), which
    the salting must reproduce exactly (distinct sets partition cleanly by
    salt because the salt is a function of the distinct value)."""
    from sdc_mapreduce_spark.operators.skew import salted_distinct_count

    li = load_table(spark, sf_dir, "lineitem")
    return salted_distinct_count(
        li, group_col="l_returnflag", distinct_col="l_partkey", n_salts=16
    ).orderBy("l_returnflag")


AGG_SALTED_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_collect_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates: the distinct market segments per nation,
    built with collect_set (unordered — array_sort makes the value
    deterministic) but REGISTERED as scalar columns only: the sorted-set
    cardinality and its '|'-joined string form (listagg equivalent). The
    string carries the full set content, so correctness coverage is
    identical to emitting the array, while the output stays sortable by the
    driver's pandas canonicalizer (array-typed top-level columns are
    unhashable there; the array form is exercised in
    tests/test_operators.py)."""
    cust = load_table(spark, sf_dir, "customer")
    segs = F.array_sort(F.collect_set("c_mktsegment"))
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.size(segs).alias("n_segments"),
            F.array_join(segs, "|").alias("segments_joined"),
        )
        .orderBy("c_nationkey")
    )


AGG_COLLECT_SETS_SQL = """
SELECT c_nationkey,
       CAST(LEN(list(DISTINCT c_mktsegment)) AS INT) AS n_segments,
       list_aggregate(list_sort(list(DISTINCT c_mktsegment)), 'string_agg', '|')
         AS segments_joined
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: the customer holding the extreme account
    balance per nation (max_by/min_by — one pass, no self-join, no window).
    Balances are continuous doubles, so the extremes are unique in the
    fixture and the picked keys deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.expr("max_by(c_custkey, c_acctbal)").alias("richest_custkey"),
            F.max("c_acctbal").alias("max_bal"),
            F.expr("min_by(c_custkey, c_acctbal)").alias("poorest_custkey"),
            F.min("c_acctbal").alias("min_bal"),
        )
        .orderBy("c_nationkey")
    )


AGG_MINMAX_BY_SQL = """
SELECT c_nationkey,
       arg_max(c_custkey, c_acctbal) AS richest_custkey,
       MAX(c_acctbal) AS max_bal,
       arg_min(c_custkey, c_acctbal) AS poorest_custkey,
       MIN(c_acctbal) AS min_bal
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates with CONTROLLED numerics: mean, sample
    stddev, and Pearson correlation per return flag, computed from exact
    decimal moment sums (Σx, Σx², Σxy are order-independent decimals; the
    closed-form combination happens once in doubles). Spark's native
    stddev/corr merge partial states in partition order — run-to-run
    nondeterministic in the last bits — so the moment-sum form is what an
    oracle-checked (or replayable) pipeline should use. sqrt is
    IEEE-exact-rounded, so identical inputs give identical doubles in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", "sq", scale=2),
        dsum("l_quantity * l_quantity", "sqq", scale=4),
        dsum("l_extendedprice", "sp", scale=2),
        dsum("l_extendedprice * l_extendedprice", "spp", scale=4),
        dsum("l_quantity * l_extendedprice", "sqp", scale=4),
    )
    n = F.col("n").cast("double")
    var_q = (F.col("sqq") - F.col("sq") * F.col("sq") / n) / (n - 1)
    var_p = (F.col("spp") - F.col("sp") * F.col("sp") / n) / (n - 1)
    cov_qp = (F.col("sqp") - F.col("sq") * F.col("sp") / n) / (n - 1)
    return m.select(
        "l_returnflag",
        "n",
        (F.col("sq") / n).alias("mean_qty"),
        F.sqrt(var_q).alias("std_qty"),
        # corr is the deepest float expression here (5 exact sums combined
        # through 9 double ops); engines can differ in the last 1-2 ULPs at
        # some scales even with identical formulas, so both sides round to
        # 12 decimals — far beyond statistical meaning, inside hash safety
        F.round(cov_qp / F.sqrt(var_q * var_p), 12).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


AGG_STATS_MOMENTS_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST((l_quantity) AS DECIMAL(28,2))) AS DOUBLE) AS sq,
         CAST(SUM(CAST((l_quantity * l_quantity) AS DECIMAL(28,4))) AS DOUBLE) AS sqq,
         CAST(SUM(CAST((l_extendedprice) AS DECIMAL(28,2))) AS DOUBLE) AS sp,
         CAST(SUM(CAST((l_extendedprice * l_extendedprice) AS DECIMAL(28,4))) AS DOUBLE) AS spp,
         CAST(SUM(CAST((l_quantity * l_extendedprice) AS DECIMAL(28,4))) AS DOUBLE) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       sq / CAST(n AS DOUBLE) AS mean_qty,
       sqrt((sqq - sq * sq / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS std_qty,
       ROUND(((sqp - sq * sp / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
       / sqrt(((sqq - sq * sq / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
              * ((spp - sp * sp / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))), 12)
         AS corr_qty_price
FROM m
ORDER BY l_returnflag
"""


def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test routing (functions.splits.hash_split):
    content-hash assignment that survives re-partitioning and re-runs, with
    the identical CASE expression runnable in any SQL engine for audit —
    which is exactly how the oracle checks it. Scan-local; zero shuffle
    before the tiny per-(split, lang) count."""
    from sdc_mapreduce_spark.functions.splits import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, key="doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


def _split_assignment_sql() -> str:
    from sdc_mapreduce_spark.functions.splits import SPLIT_FRACTIONS, split_sql_case

    case = split_sql_case("doc_id", SPLIT_FRACTIONS)
    return f"""
SELECT {case} AS split, lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY split, lang
"""


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards
    (functions.splits.corpus_shuffle): content-hash shard + within-shard
    hash-rank position — the reproducible, layout-independent replacement
    for orderBy(rand()) when laying down shuffled training files. Fully
    replayed in the oracle (md5 + strpos hex arithmetic), so the exact
    permutation is driver-certified."""
    from sdc_mapreduce_spark.functions.splits import corpus_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return corpus_shuffle(docs, key="doc_id", n_shards=8).orderBy("shard", "pos")


def _corpus_shuffle_sql() -> str:
    from sdc_mapreduce_spark.functions.splits import corpus_shuffle_sql

    return corpus_shuffle_sql("doc_id", "documents", n_shards=8)


def corpus_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign documents to output shards of
    ~equal text budget via a running total over a stable global order
    (shard = floor(chars_before_me / budget)) — how a curated corpus is cut
    into training files of bounded size. The running sum is the two-phase
    distributed form (operators.relational.global_running_sum): per-range-
    partition cumsum + broadcast prefix offsets, never the single-partition
    global window. Returns per-shard stats."""
    from sdc_mapreduce_spark.operators.relational import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    budget = 15_000  # chars per shard (~10 shards at sf0.01)
    assigned = global_running_sum(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", out_col="cum"
    ).withColumn(
        "shard", F.floor((F.col("cum") - F.col("n_chars")) / F.lit(budget))
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


CORPUS_SHARD_PACKING_SQL = """
WITH assigned AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR((SUM(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_chars) / 15000) AS BIGINT) AS shard
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM assigned
GROUP BY shard
ORDER BY shard
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked AFTER the
    signup, then purchased AFTER that click — each stage's timestamp must
    follow the previous stage's first occurrence (not mere co-occurrence).
    Three aggregations all keyed on user_id, so the exchanges align; the
    stage frames shrink monotonically."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_signup"))
    )
    click = (
        ev.filter(F.col("event_type") == "click")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("ts_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_click"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .filter(F.col("ts") >= F.col("ts_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_purchase"))
    )
    return signup.agg(
        F.count(F.lit(1)).alias("n_signup"),
    ).crossJoin(
        click.agg(F.count(F.lit(1)).alias("n_signup_then_click"))
    ).crossJoin(
        purchase.agg(F.count(F.lit(1)).alias("n_full_funnel"))
    )


EVENTS_FUNNEL_SQL = """
WITH signup AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS ts_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
click AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts_click
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s.ts_signup
  GROUP BY e.user_id
),
purchase AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts_purchase
  FROM events e JOIN click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.ts_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM signup) AS n_signup,
       (SELECT COUNT(*) FROM click) AS n_signup_then_click,
       (SELECT COUNT(*) FROM purchase) AS n_full_funnel
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style fixed-context sequence packing (functions.splits.
    pack_sequences, seq_len=128): the exact (doc, sequence, offset, span)
    placement map with boundary-crossing splits, built on the two-phase
    distributed running sum. Pure integer arithmetic — hash-exact."""
    from sdc_mapreduce_spark.functions.splits import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=128
    ).orderBy("doc_id", "seq_id")


CORPUS_PACK_SEQUENCES_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents
), r AS (
  SELECT doc_id, n,
         SUM(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
), e AS (
  SELECT doc_id, n, cum, cum - n AS strt,
         unnest(generate_series(CAST((cum - n) // 128 AS BIGINT),
                                CAST((cum - 1) // 128 AS BIGINT))) AS seq_id
  FROM r
)
SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(0, strt - seq_id * 128) AS BIGINT) AS start_in_seq,
       CAST(LEAST(128, cum - seq_id * 128)
            - GREATEST(0, strt - seq_id * 128) AS BIGINT) AS n_tokens_in_seq
FROM e
ORDER BY doc_id, seq_id
"""


def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (operators.layout.with_zvalue) over orders:
    8-bit rank buckets of (o_custkey, o_totalprice) and their Morton
    interleave — the sort key a `OPTIMIZE ZORDER BY` write clusters files
    on. Pure integer/IEEE-fixed arithmetic, so every z-value hash-matches
    cross-engine; the file pruning of a write clustered on z is covered
    in tests/test_layout.py."""
    from sdc_mapreduce_spark.operators.layout import with_zvalue

    orders = load_table(spark, sf_dir, "orders")
    return (
        with_zvalue(orders, "o_custkey", "o_totalprice", bits=8)
        .select("o_orderkey", "zx", "zy", "z")
        .orderBy("o_orderkey")
    )


LAYOUT_ZORDER_SQL = """
WITH b AS (
  SELECT MIN(o_custkey) AS minx, MAX(o_custkey) AS maxx,
         MIN(o_totalprice) AS miny, MAX(o_totalprice) AS maxy
  FROM orders
), z AS (
  SELECT o_orderkey,
         CASE WHEN b.maxx > b.minx THEN LEAST(255, CAST(floor(
           (CAST(o_custkey AS DOUBLE) - CAST(b.minx AS DOUBLE))
           / (CAST(b.maxx AS DOUBLE) - CAST(b.minx AS DOUBLE)) * 255.0
         ) AS BIGINT)) ELSE 0 END AS zx,
         CASE WHEN b.maxy > b.miny THEN LEAST(255, CAST(floor(
           (o_totalprice - b.miny) / (b.maxy - b.miny) * 255.0
         ) AS BIGINT)) ELSE 0 END AS zy
  FROM orders, b
)
SELECT o_orderkey, zx, zy,
       CAST(list_sum([((zx >> b) & 1) * (1::BIGINT << (2*b))
                      + ((zy >> b) & 1) * (1::BIGINT << (2*b+1))
                      FOR b IN range(0, 8)]) AS BIGINT) AS z
FROM z
ORDER BY o_orderkey
"""


def table_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram of lineitem.l_extendedprice in 8 buckets
    (operators.relational.equidepth_histogram): the CBO-statistics /
    profiling primitive, ranked by the two-phase distributed running count
    — no single-partition window. lo/hi are exact input doubles."""
    from sdc_mapreduce_spark.operators.relational import equidepth_histogram

    li = load_table(spark, sf_dir, "lineitem")
    return equidepth_histogram(
        li, "l_extendedprice", "l_orderkey", n_buckets=8
    ).orderBy("bucket")


TABLE_HISTOGRAM_SQL = """
WITH r AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
)
SELECT CAST(FLOOR((rn - 1) * 8.0 / n) AS INT) AS bucket,
       COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
FROM r GROUP BY 1 ORDER BY bucket
"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag
    (operators.relational.weighted_median): the smallest price whose
    cumulative quantity reaches half the flag's total — selection
    semantics on an integer-quantized weight (centi-units), so the
    halfway test is 2·cum >= W in pure integer arithmetic and the median
    itself is an input double. The plain median treats a 1-unit and a
    50-unit line equally; volume-weighted statistics are what pricing /
    mixture audits actually need."""
    from sdc_mapreduce_spark.operators.relational import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    wq = F.expr("cast(round(l_quantity * 100) as bigint)")
    return weighted_median(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        wq,
        ["l_orderkey", "l_linenumber"],
    ).orderBy("l_returnflag")


AGG_WEIGHTED_MEDIAN_SQL = """
WITH b AS (
  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
         CAST(round(l_quantity * 100) AS BIGINT) AS wq
  FROM lineitem
), c AS (
  SELECT l_returnflag, l_extendedprice,
         SUM(wq) OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(wq) OVER (PARTITION BY l_returnflag) AS W,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey,
                                     l_linenumber) AS rn0
  FROM b
), hit AS (
  SELECT l_returnflag, l_extendedprice, W,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY rn0) AS rn
  FROM c WHERE 2 * cw >= W
)
SELECT l_returnflag, CAST(W AS BIGINT) AS total_weight,
       l_extendedprice AS wmedian
FROM hit WHERE rn = 1
ORDER BY l_returnflag
"""


def table_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators.relational.
    k_anonymity_audit) over customer quasi-identifiers (nation, market
    segment) with account balance bucketed to exact thousand-units as the
    sensitive attribute: which QI cells are re-identifiable (< 10 members)
    or sensitive-homogeneous (< 3 distinct buckets) — the privacy gate
    before any user-keyed table ships to training. One QI-keyed
    aggregation; output is QI-combination-sized."""
    from sdc_mapreduce_spark.operators.relational import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", k=10, l=3
    ).orderBy("c_nationkey", "c_mktsegment")


TABLE_K_ANONYMITY_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
            AS BIGINT) AS n_sensitive,
       COUNT(*) >= 10 AS is_k_anonymous,
       COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) >= 3
         AS is_l_diverse
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


def table_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ/dbt-test shape a
    production pipeline gates loads on): primary-key uniqueness,
    referential integrity across the star schema, domain-range and
    not-null checks — one row per constraint with checked/violation counts.
    Each check is an independent scan-aggregate or join-aggregate; the
    union of 1-row results costs nothing. Dimension-side FK probes
    broadcast; the lineitem->orders probe is the one genuine shuffle join
    and exactly the plan you'd run at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def _check(name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.lit(name).alias("constraint"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias("n_violations"),
        )

    pk = orders.agg(
        F.lit("orders_pk_unique").alias("constraint"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_violations"),
    )
    fk_li = _check(
        "lineitem_fk_orders",
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("__ok")),
            lineitem["l_orderkey"] == F.col("__ok"),
            "left",
        ),
        F.col("__ok").isNull(),
    )
    fk_cust = _check(
        "customer_fk_nation",
        customer.join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("__nk"))),
            customer["c_nationkey"] == F.col("__nk"),
            "left",
        ),
        F.col("__nk").isNull(),
    )
    fk_ord = _check(
        "orders_fk_customer",
        orders.join(
            customer.select(F.col("c_custkey").alias("__ck")),
            orders["o_custkey"] == F.col("__ck"),
            "left",
        ),
        F.col("__ck").isNull(),
    )
    rng = _check(
        "lineitem_qty_range_1_50",
        lineitem,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    nn = _check("customer_name_not_null", customer, F.col("c_name").isNull())
    out = pk.unionByName(fk_li).unionByName(fk_cust).unionByName(fk_ord)
    out = out.unionByName(rng).unionByName(nn)
    return out.withColumn("passed", F.col("n_violations") == 0).orderBy(
        "constraint"
    )


TABLE_INTEGRITY_SQL = """
WITH checks AS (
  SELECT 'orders_pk_unique' AS constraint, COUNT(*) AS n_checked,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'lineitem_fk_orders', COUNT(*),
         SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'customer_fk_nation', COUNT(*),
         SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'orders_fk_customer', COUNT(*),
         SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem_qty_range_1_50', COUNT(*),
         SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'customer_name_not_null', COUNT(*),
         SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
  FROM customer
)
SELECT "constraint", n_checked, CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM checks ORDER BY "constraint"
"""


def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing (functions.splits.temperature_mix,
    alpha=0.3, budget=N/2): the mT5 sampling rule with its realized
    per-language kept counts under the deterministic content-hash
    predicate. The per-group (n/N)^alpha is micro-quantized once, so plan
    and outcome replay exactly cross-engine."""
    from sdc_mapreduce_spark.functions.splits import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(
        docs, group_col="lang", alpha=0.3, budget_frac=0.5
    ).orderBy("lang")


CORPUS_MIX_TEMPERATURE_SQL = """
WITH c AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), t AS (
  SELECT SUM(n_docs) AS N FROM c
), w AS (
  SELECT lang, n_docs,
         CAST(ROUND(1e6 * POW(CAST(n_docs AS DOUBLE) / (SELECT N FROM t), 0.3))
              AS BIGINT) AS weight_micro
  FROM c
), sw AS (
  SELECT SUM(weight_micro) AS SW FROM w
), plan AS (
  SELECT lang, n_docs, weight_micro,
         LEAST(1.0, ((0.5 * (SELECT N FROM t)) * weight_micro)
                      / ((SELECT SW FROM sw) * n_docs)) AS keep_frac
  FROM w
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN plan p USING (lang)
  WHERE p.keep_frac >= 1.0
     OR CAST(('0x' || SUBSTRING(md5('tmix-v1' || CAST(d.doc_id AS VARCHAR)),
                                1, 4)) AS BIGINT)
        < CAST(FLOOR(p.keep_frac * 65536.0) AS BIGINT)
  GROUP BY d.lang
)
SELECT p.lang, p.n_docs, p.weight_micro, p.keep_frac,
       COALESCE(k.n_kept, 0) AS n_kept
FROM plan p LEFT JOIN kept k USING (lang)
ORDER BY p.lang
"""


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (functions.splits.
    weighted_sample): 25 documents drawn with probability ∝ n_chars via the
    Efraimidis–Spirakis exponential sort over content-hash uniforms —
    deterministic, engine-replayable, planned as TakeOrdered."""
    from sdc_mapreduce_spark.functions.splits import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, k=25, weight_col="n_chars").orderBy(
        F.col("priority_nano").desc(), F.col("doc_id").asc()
    )


SAMPLE_WEIGHTED_SQL = """
WITH pri AS (
  SELECT doc_id, n_chars AS weight,
         CASE WHEN n_chars > 0 THEN
           CAST(FLOOR(POW(
             (CAST(('0x' || SUBSTRING(md5('wsample-v1' || CAST(doc_id AS VARCHAR)),
                                      1, 15)) AS BIGINT) + 0.5)
               / 1152921504606846976.0,
             1.0 / n_chars) * 1e9) AS BIGINT)
         ELSE 0 END AS priority_nano
  FROM documents
)
SELECT doc_id, weight, priority_nano
FROM pri
ORDER BY priority_nano DESC, doc_id ASC
LIMIT 25
"""


def agg_bitwise_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate + scalar surface: per-returnflag BIT_AND/BIT_OR/
    BIT_XOR over line numbers plus a shifted-mask scalar — the
    bitmap-building primitives (feature flags, bitset semijoins)."""
    li = load_table(spark, sf_dir, "lineitem")
    masked = li.select(
        "l_returnflag",
        F.col("l_linenumber").cast("long").alias("ln"),
        F.expr("CAST(shiftleft(1L, CAST(l_linenumber AS INT)) AS LONG)").alias(
            "mask"
        ),
    )
    return (
        masked.groupBy("l_returnflag")
        .agg(
            F.bit_and("ln").alias("and_ln"),
            F.bit_or("ln").alias("or_ln"),
            F.bit_xor("ln").alias("xor_ln"),
            F.bit_or("mask").alias("linenumber_bitmap"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


AGG_BITWISE_SQL = """
SELECT l_returnflag,
       CAST(BIT_AND(l_linenumber) AS BIGINT) AS and_ln,
       CAST(BIT_OR(l_linenumber) AS BIGINT) AS or_ln,
       CAST(BIT_XOR(l_linenumber) AS BIGINT) AS xor_ln,
       CAST(BIT_OR(1::BIGINT << l_linenumber) AS BIGINT) AS linenumber_bitmap,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join (the SQL-surface form of per-key
    top-k): for every nation, its two highest-balance customers via a
    LATERAL dependent subquery — Catalyst decorrelates this into the same
    ranked-window shape as the DataFrame form, so the SQL surface costs
    nothing extra at scale."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lv")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_lv n,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer_lv c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )


JOIN_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


def scalar_url_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-parsing scalar surface (``parse_url``): deterministic URLs
    synthesized from document metadata, decomposed into protocol / host /
    path / one query parameter — the log-processing extraction family. The
    oracle replicates with anchored regexes (DuckDB has no parse_url), so
    the decomposition semantics themselves are pinned."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/corpus/item-"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&page="),
        (F.col("doc_id") % 10).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("q_page"),
    ).orderBy("doc_id")


SCALAR_URL_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.org/corpus/item-'
           || CAST(doc_id AS VARCHAR) || '?lang=' || lang
           || '&page=' || CAST(doc_id % 10 AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
       regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS q_lang,
       regexp_extract(url, '[?&]page=([^&#]*)', 1) AS q_page
FROM u
ORDER BY doc_id
"""


def agg_sketch_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes approximate aggregates
    viable at 100 TB: per-nation HLL sketches of the customer population
    (``hll_sketch_agg``) are re-aggregated to regions with
    ``hll_union_agg`` and estimated — computing the fine grain once and
    rolling it up WITHOUT revisiting rows, the datasketches pattern behind
    every OLAP cube of distincts. Registered columns are the exact distinct
    (decimal-free integers) plus a boolean asserting the merged estimate is
    within HLL's published error (±5% at default lgK) — an out-of-bounds
    union turns the row red; the oracle emits literal TRUEs."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.countDistinct("c_custkey").alias("exact_n"),
    )
    merged = (
        per_nation.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            per_nation["c_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations_merged"),
            F.sum("exact_n").cast("long").alias("exact_distinct"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
        )
    )
    ok = (
        F.abs(F.col("__est") - F.col("exact_distinct"))
        <= F.lit(0.05) * F.col("exact_distinct")
    )
    return (
        merged.select(
            "n_regionkey",
            "n_nations_merged",
            "exact_distinct",
            ok.alias("est_within_bounds"),
        )
        .orderBy("n_regionkey")
    )


AGG_SKETCH_REAGG_SQL = """
SELECT n.n_regionkey,
       COUNT(DISTINCT n.n_nationkey) AS n_nations_merged,
       COUNT(DISTINCT c.c_custkey) AS exact_distinct,
       TRUE AS est_within_bounds
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_regionkey
ORDER BY n.n_regionkey
"""


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: the most frequent order priority per market
    segment, as count-then-argmax with an explicit tie-break (max count,
    then priority ascending) — the native ``mode()`` aggregate documents
    arbitrary tie choice, which an oracle-hashed surface cannot tolerate.
    Two stacked aggregations sharing one exchange family; group cardinality
    bounds everything after the first partial-agg shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    counts = (
        orders.join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # argmax with ascending string tie-break can't ride a single max(struct)
    # (that would need a descending surrogate for the string); the portable
    # form is max-count then min-priority-at-max — a second tiny aggregate.
    max_n = counts.groupBy("c_mktsegment").agg(F.max("n").alias("__mx"))
    return (
        counts.join(F.broadcast(max_n), "c_mktsegment")
        .filter(F.col("n") == F.col("__mx"))
        .groupBy("c_mktsegment")
        .agg(
            F.min("o_orderpriority").alias("mode_priority"),
            F.max("n").alias("mode_count"),
        )
        .orderBy("c_mktsegment")
    )


AGG_MODE_SQL = """
WITH counts AS (
  SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), mx AS (
  SELECT c_mktsegment, MAX(n) AS mxn FROM counts GROUP BY 1
)
SELECT counts.c_mktsegment,
       MIN(o_orderpriority) AS mode_priority,
       MAX(n) AS mode_count
FROM counts JOIN mx ON counts.c_mktsegment = mx.c_mktsegment
WHERE n = mxn
GROUP BY counts.c_mktsegment
ORDER BY counts.c_mktsegment
"""


def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard per-group share cap (functions.splits.source_cap_mix over lang,
    cap=30%): the C4/Gopher mega-domain truncation rule — the dominant
    group (en, ~44% of the fixture corpus) is down-sampled to exactly the
    cap via the deterministic content-hash predicate while every group
    under the cap passes whole. The TRUNCATING complement of
    corpus_mix_temperature's power-law REWEIGHTING."""
    from sdc_mapreduce_spark.functions.splits import source_cap_mix

    docs = load_table(spark, sf_dir, "documents")
    return source_cap_mix(docs, group_col="lang", cap_frac=0.3).orderBy("lang")


CORPUS_SOURCE_CAP_SQL = """
WITH c AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), t AS (
  SELECT SUM(n_docs) AS N FROM c
), plan AS (
  SELECT lang, n_docs,
         LEAST(1.0, (0.3 * (SELECT N FROM t)) / n_docs) AS keep_frac
  FROM c
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN plan p USING (lang)
  WHERE p.keep_frac >= 1.0
     OR CAST(('0x' || SUBSTRING(md5('scap-v1' || CAST(d.doc_id AS VARCHAR)),
                                1, 4)) AS BIGINT)
        < CAST(FLOOR(p.keep_frac * 65536.0) AS BIGINT)
  GROUP BY d.lang
)
SELECT p.lang, p.n_docs, p.keep_frac, COALESCE(k.n_kept, 0) AS n_kept
FROM plan p LEFT JOIN kept k USING (lang)
ORDER BY p.lang
"""




def table_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (event_type x user cohort) — the feature-selection / drift-audit
    primitive. Plan that survives 100 TB: ONE contingency groupBy over the
    fact table (map-side combinable), then marginals and expected counts
    derived from the O(cells) contingency table itself — broadcast joins
    of cell-count aggregates, never a second fact scan. All counts are
    exact longs; expected and the per-cell chi-square contribution are the
    IDENTICAL IEEE double expression in both engines (no logs, no libm
    variance), so the statistic hash-matches exactly."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", (F.col("user_id") % 5).alias("cohort"))
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_m = cells.groupBy("event_type").agg(F.sum("observed").alias("row_n"))
    col_m = cells.groupBy("cohort").agg(F.sum("observed").alias("col_n"))
    total = cells.agg(F.sum("observed").alias("grand_n"))
    expected = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("grand_n").cast("double")
    )
    contrib = (
        (F.col("observed").cast("double") - F.col("expected"))
        * (F.col("observed").cast("double") - F.col("expected"))
        / F.col("expected")
    )
    return (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "cohort")
        .crossJoin(F.broadcast(total))
        .withColumn("expected", expected)
        .select(
            "event_type",
            "cohort",
            "observed",
            "expected",
            contrib.alias("chisq_contrib"),
        )
        .orderBy("event_type", "cohort")
    )


TABLE_CHISQ_SQL = """
WITH cells AS (
  SELECT event_type, user_id % 5 AS cohort, COUNT(*) AS observed
  FROM events GROUP BY event_type, user_id % 5
), row_m AS (
  SELECT event_type, SUM(observed) AS row_n FROM cells GROUP BY event_type
), col_m AS (
  SELECT cohort, SUM(observed) AS col_n FROM cells GROUP BY cohort
), total AS (
  SELECT SUM(observed) AS grand_n FROM cells
), e AS (
  SELECT c.event_type, c.cohort, c.observed,
         CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
           / CAST(grand_n AS DOUBLE) AS expected
  FROM cells c
  JOIN row_m USING (event_type)
  JOIN col_m USING (cohort)
  CROSS JOIN total
)
SELECT event_type, cohort, observed, expected,
       (CAST(observed AS DOUBLE) - expected)
         * (CAST(observed AS DOUBLE) - expected) / expected AS chisq_contrib
FROM e ORDER BY event_type, cohort
"""



def table_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit (operators.relational.ks_two_sample): the
    two-sample KS statistic between purchase and click value
    distributions — max |CDF gap| with its argmax value and both sample
    sizes. Never a single-partition window: the pooled value axis runs
    through the two-phase global cumsum."""
    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(ev, "value", "event_type", "purchase", "click")


TABLE_KS_DRIFT_SQL = """
WITH pts AS (
  SELECT value AS v,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY value
), c AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v) AS cum_a,
         SUM(cb) OVER (ORDER BY v) AS cum_b,
         (SELECT SUM(ca) FROM pts) AS na,
         (SELECT SUM(cb) FROM pts) AS nb
  FROM pts
)
SELECT v AS at_value, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE) AS cdf_a,
       CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE) AS cdf_b,
       abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE)) AS ks_stat
FROM c ORDER BY ks_stat DESC, at_value ASC LIMIT 1
"""



def table_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index audit — the standard production-ML
    drift monitor (Siddiqi, "Credit Risk Scorecards", 2006): compare the
    event_type mix before vs after a mid-window cutoff; PSI term per
    category = (share_cur - share_ref) * ln(share_cur / share_ref), total
    PSI = sum of terms (rule of thumb: > 0.1 investigate, > 0.25 act).

    Scale design: one map-side-combinable groupBy over the fact table (the
    period tag is a pure column expression, partition-prunable on a
    date-partitioned layout); everything after the first aggregation is
    O(categories) rows. Determinism follows the repo's milli-nat
    discipline: shares are exact bigint/bigint double divisions —
    IEEE-identical cross-engine — and the single transcendental ln term is
    quantized to integer micro-units in both engines.

    Zero-share guard (ADVICE r11): a category present in only one period
    would make ln(share_cur/share_ref) hit ln(0) or a 0-divisor — the
    canonical PSI failure mode (a brand-new category IS maximal drift, yet
    the naive formula NULLs its term and understates it). Standard fix:
    Laplace +1 smoothing per (category, period) count. Smoothed share =
    (n + 1) / (t + C) where C = category count — still an exact
    bigint/bigint double division, so the cross-engine hash discipline is
    preserved while every term stays finite. Raw n_ref/n_cur are emitted
    unsmoothed; only the shares (and thus the terms) are smoothed.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    counts = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("n_cur"),
    )
    totals = counts.agg(
        (F.sum("n_ref") + F.count(F.lit(1))).alias("__t_ref"),
        (F.sum("n_cur") + F.count(F.lit(1))).alias("__t_cur"),
    )
    shared = counts.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n_ref",
        "n_cur",
        ((F.col("n_ref") + F.lit(1)) / F.col("__t_ref")).alias("share_ref"),
        ((F.col("n_cur") + F.lit(1)) / F.col("__t_cur")).alias("share_cur"),
    )
    term = (F.col("share_cur") - F.col("share_ref")) * F.log(
        F.col("share_cur") / F.col("share_ref")
    )
    terms = shared.withColumn(
        "psi_term_micro", F.round(term * 1e6).cast("bigint")
    )
    total = terms.agg(F.sum("psi_term_micro").alias("psi_micro_total"))
    return terms.crossJoin(F.broadcast(total))


TABLE_PSI_DRIFT_SQL = """
WITH counts AS (
  SELECT event_type,
         SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_cur
  FROM events GROUP BY 1
), tot AS (
  -- Laplace +1 smoothing: totals gain one pseudo-count per category so
  -- one-sided categories keep finite PSI terms (mirrors the Spark path).
  SELECT SUM(n_ref) + COUNT(*) AS t_ref, SUM(n_cur) + COUNT(*) AS t_cur
  FROM counts
), shared AS (
  SELECT event_type,
         CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
         CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref AS DOUBLE) AS share_ref,
         CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur AS DOUBLE) AS share_cur
  FROM counts, tot
), terms AS (
  SELECT event_type, n_ref, n_cur, share_ref, share_cur,
         CAST(ROUND(1000000.0 * ((share_cur - share_ref)
               * ln(share_cur / share_ref))) AS BIGINT) AS psi_term_micro
  FROM shared
)
SELECT event_type, n_ref, n_cur, share_ref, share_cur, psi_term_micro,
       (SELECT CAST(SUM(psi_term_micro) AS BIGINT) FROM terms) AS psi_micro_total
FROM terms
"""


def table_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the same categorical pair as the
    chi-square audit (event_type x user cohort) — the information-theoretic
    feature-selection score. Same O(cells) plan: one contingency groupBy,
    marginals from the contingency table. Determinism follows the repo's
    milli-nat discipline (see text_bigram_lm_score): each cell's pointwise
    MI ln-term is computed once on exact-count doubles and quantized to
    integer micro-nats, contributions accumulate as exact longs, and the
    final nats value is one identical double division — so a genuine
    transcendental statistic hash-matches cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", (F.col("user_id") % 5).alias("cohort"))
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    row_m = cells.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    col_m = cells.groupBy("cohort").agg(F.sum("n_xy").alias("n_y"))
    total = cells.agg(F.sum("n_xy").alias("n"))
    joined = (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "cohort")
        .crossJoin(F.broadcast(total))
    )
    pmi_micro = F.expr(
        "cast(round(ln(cast(n_xy as double) * cast(n as double)"
        " / (cast(n_x as double) * cast(n_y as double))) * 1000000) as bigint)"
    )
    # factor-wise decimal cast before the multiply: n_xy * pmi_micro in
    # int64 can wrap at crawl scale (n_xy ~1e11+ x pmi ~1e7 micro-nats);
    # decimal(19,0) x decimal(19,0) is exact for any long pair. The summed
    # total is cast back to bigint for a stable output schema (bounded by
    # n * ln(cardinality) * 1e6, far under 2^63 even at 100 TB).
    contrib = joined.select(
        (
            F.col("n_xy").cast("decimal(19,0)")
            * pmi_micro.cast("decimal(19,0)")
        ).alias("__c"),
        F.col("n"),
    )
    return contrib.groupBy("n").agg(
        F.sum("__c").cast("bigint").alias("mi_micro"),
    ).select(
        F.col("n"),
        "mi_micro",
        (
            F.col("mi_micro").cast("double")
            / F.col("n").cast("double")
            / F.lit(1000000.0)
        ).alias("mi_nats"),
    )


TABLE_MI_SQL = """
WITH cells AS (
  SELECT event_type, user_id % 5 AS cohort, COUNT(*) AS n_xy
  FROM events GROUP BY event_type, user_id % 5
), row_m AS (
  SELECT event_type, SUM(n_xy) AS n_x FROM cells GROUP BY event_type
), col_m AS (
  SELECT cohort, SUM(n_xy) AS n_y FROM cells GROUP BY cohort
), total AS (
  SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells
), j AS (
  SELECT c.n_xy, n_x, n_y, n,
         CAST(round(ln(CAST(c.n_xy AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1000000)
           AS BIGINT) AS pmi_micro
  FROM cells c
  JOIN row_m USING (event_type)
  JOIN col_m USING (cohort)
  CROSS JOIN total
)
SELECT n,
       CAST(SUM(CAST(n_xy AS DECIMAL(19,0)) * CAST(pmi_micro AS DECIMAL(19,0)))
         AS BIGINT) AS mi_micro,
       CAST(CAST(SUM(CAST(n_xy AS DECIMAL(19,0))
                     * CAST(pmi_micro AS DECIMAL(19,0))) AS BIGINT) AS DOUBLE)
         / CAST(n AS DOUBLE) / 1000000.0 AS mi_nats
FROM j GROUP BY n
"""



_BENFORD = {
    1: 0.3010299957, 2: 0.1760912591, 3: 0.1249387366, 4: 0.0969100130,
    5: 0.0791812460, 6: 0.0669467896, 7: 0.0579919470, 8: 0.0511525224,
    9: 0.0457574906,
}


def table_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit — the classic fabricated-data
    / corrupted-feed detector: the observed first-digit distribution of
    l_extendedprice against Benford's law, per digit. Determinism
    discipline: the first digit is taken from the STRING form of the exact
    centi-unit integer (never log10 — a transcendental at digit boundaries
    would be engine-dependent), the expected frequencies are 10-decimal
    LITERALS baked identically into both engines (log10(1+1/d) is
    precomputed, not evaluated), and frac/excess are single identical
    double divisions. One combinable 9-group aggregate over the scan —
    O(rows) map work, O(9) reduce — the shape that is free at 100 TB.

    Domain: Benford's law is defined over POSITIVE magnitudes. Values that
    round to 0 centi-units yield digit 0 and negatives yield '-'; both are
    excluded BEFORE the total so the emitted fracs always sum to 1 over
    digits 1-9 on arbitrary inputs (TPC-H l_extendedprice is strictly
    positive, so there the filter is a no-op)."""
    li = load_table(spark, sf_dir, "lineitem")
    # try_cast: on negative inputs the first character is '-', which an
    # ANSI cast would throw on; try_cast -> NULL -> dropped by the filter.
    digit = F.expr(
        "try_cast(substring(cast(cast(round(l_extendedprice * 100) as bigint)"
        " as string), 1, 1) as int)"
    )
    counts = (
        li.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    expected = spark.createDataFrame(
        sorted(_BENFORD.items()), "digit int, expected double"
    )
    frac = F.col("n").cast("double") / F.col("__total").cast("double")
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(expected), "digit")
        .select(
            "digit",
            "n",
            frac.alias("frac"),
            "expected",
            (frac - F.col("expected")).alias("excess"),
        )
        .orderBy("digit")
    )


def _benford_values_sql() -> str:
    return ", ".join(f"({d}, {p!r})" for d, p in sorted(_BENFORD.items()))


TABLE_BENFORD_SQL = f"""
WITH d AS (
  SELECT TRY_CAST(SUBSTR(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
), c AS (
  SELECT digit, COUNT(*) AS n FROM d
  WHERE digit BETWEEN 1 AND 9
  GROUP BY digit
), t AS (
  SELECT SUM(n) AS total FROM c
), e(digit, expected) AS (
  VALUES {_benford_values_sql()}
)
SELECT c.digit, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS frac,
       CAST(e.expected AS DOUBLE) AS expected,
       CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)
         - CAST(e.expected AS DOUBLE) AS excess
FROM c CROSS JOIN t JOIN e USING (digit)
ORDER BY digit
"""


def table_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration audit (operators.relational.gini_concentration): the
    Gini coefficient of event value across users — how much of the measure
    the hottest keys hold. Per-key totals are exact centi-unit longs, the
    global rank is the two-phase cumsum, and the closed-form G is one
    identical double expression cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    return gini_concentration(ev, "value", "user_id")


TABLE_GINI_SQL = """
WITH totals AS (
  SELECT user_id AS k,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
  FROM events GROUP BY user_id
), ranked AS (
  SELECT vc, row_number() OVER (ORDER BY vc, k) AS r FROM totals
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS BIGINT) AS total_centi,
       (2.0 * CAST(SUM(CAST(r AS DECIMAL(19,0)) * CAST(vc AS DECIMAL(19,0)))
                 AS DOUBLE)
          - (CAST(COUNT(*) AS DOUBLE) + 1.0)
            * CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE))
         / nullif(CAST(COUNT(*) AS DOUBLE)
            * CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE), 0.0) AS gini
FROM ranked
"""

QUERIES: dict[str, QuerySpec] = {
    "table_gini_concentration": QuerySpec(
        table_gini_concentration, TABLE_GINI_SQL
    ),
    "table_ks_drift": QuerySpec(table_ks_drift, TABLE_KS_DRIFT_SQL),
    "table_psi_drift": QuerySpec(table_psi_drift, TABLE_PSI_DRIFT_SQL),
    "table_benford_audit": QuerySpec(table_benford_audit, TABLE_BENFORD_SQL),
    "table_mutual_information": QuerySpec(
        table_mutual_information, TABLE_MI_SQL
    ),
    "table_chisq_independence": QuerySpec(
        table_chisq_independence, TABLE_CHISQ_SQL
    ),
    "table_histogram_equidepth": QuerySpec(
        table_histogram_equidepth, TABLE_HISTOGRAM_SQL
    ),
    "corpus_source_cap": QuerySpec(corpus_source_cap, CORPUS_SOURCE_CAP_SQL),
    "sample_weighted_topk": QuerySpec(sample_weighted_topk, SAMPLE_WEIGHTED_SQL),
    "scalar_url_fns": QuerySpec(scalar_url_fns, SCALAR_URL_SQL),
    "agg_sketch_reaggregate": QuerySpec(
        agg_sketch_reaggregate, AGG_SKETCH_REAGG_SQL
    ),
    "agg_bitwise_fns": QuerySpec(agg_bitwise_fns, AGG_BITWISE_SQL),
    "agg_mode_deterministic": QuerySpec(agg_mode_deterministic, AGG_MODE_SQL),
    "join_lateral_topk": QuerySpec(join_lateral_topk, JOIN_LATERAL_SQL),
    "corpus_mix_temperature": QuerySpec(
        corpus_mix_temperature, CORPUS_MIX_TEMPERATURE_SQL
    ),
    "table_integrity_audit": QuerySpec(table_integrity_audit, TABLE_INTEGRITY_SQL),
    "table_k_anonymity": QuerySpec(table_k_anonymity, TABLE_K_ANONYMITY_SQL),
    "agg_weighted_median": QuerySpec(
        agg_weighted_median, AGG_WEIGHTED_MEDIAN_SQL
    ),
    "window_distribution_fns": QuerySpec(
        window_distribution_fns, WINDOW_DISTRIBUTION_SQL
    ),
    "set_except_all": QuerySpec(set_except_all, SET_EXCEPT_ALL_SQL),
    "set_intersect_all": QuerySpec(set_intersect_all, SET_INTERSECT_ALL_SQL),
    "join_null_safe": QuerySpec(join_null_safe, JOIN_NULL_SAFE_SQL),
    "join_cross": QuerySpec(join_cross, JOIN_CROSS_SQL),
    "events_from_json_struct": QuerySpec(
        events_from_json_struct, EVENTS_FROM_JSON_SQL
    ),
    "join_full_outer_coalesce": QuerySpec(
        join_full_outer_coalesce, JOIN_FULL_OUTER_SQL
    ),
    "table_profile": QuerySpec(table_profile, TABLE_PROFILE_SQL),
    "layout_zorder_keys": QuerySpec(layout_zorder_keys, LAYOUT_ZORDER_SQL),
    "corpus_pack_sequences": QuerySpec(
        corpus_pack_sequences, CORPUS_PACK_SEQUENCES_SQL
    ),
    "join_skew_salted": QuerySpec(join_skew_salted, JOIN_SKEW_SALTED_SQL),
    "agg_salted_distinct": QuerySpec(agg_salted_distinct, AGG_SALTED_DISTINCT_SQL),
    "agg_collect_sets": QuerySpec(agg_collect_sets, AGG_COLLECT_SETS_SQL),
    "agg_minmax_by": QuerySpec(agg_minmax_by, AGG_MINMAX_BY_SQL),
    "agg_stats_moments": QuerySpec(agg_stats_moments, AGG_STATS_MOMENTS_SQL),
    "split_assignment": QuerySpec(split_assignment, _split_assignment_sql()),
    "corpus_shuffle_shards": QuerySpec(corpus_shuffle_shards, _corpus_shuffle_sql()),
    "corpus_shard_packing": QuerySpec(
        corpus_shard_packing, CORPUS_SHARD_PACKING_SQL
    ),
    "events_funnel": QuerySpec(events_funnel, EVENTS_FUNNEL_SQL),
    "agg_unpivot": QuerySpec(agg_unpivot, AGG_UNPIVOT_SQL),
    "scalar_regex_fns": QuerySpec(scalar_regex_fns, SCALAR_REGEX_SQL),
    "sample_hash_bucket": QuerySpec(sample_hash_bucket, SAMPLE_HASH_SQL),
    "sample_stratified": QuerySpec(sample_stratified, SAMPLE_STRATIFIED_SQL),
    "sample_quota_allocation": QuerySpec(
        sample_quota_allocation, SAMPLE_QUOTA_SQL
    ),
    "corpus_mix_rebalance": QuerySpec(corpus_mix_rebalance, CORPUS_MIX_REBALANCE_SQL),
}
