"""Shared helpers for the query registry.

Cross-engine float determinism: double sums depend on accumulation order,
which Spark does not fix across partitions. Every money/measure aggregate
therefore goes through an exact decimal sum (order-independent) and is cast
back to double for a stable, engine-agnostic value:

    spark:  cast(sum(cast(x as decimal(28,S))) as double)
    duckdb: CAST(SUM(CAST(x AS DECIMAL(28,S))) AS DOUBLE)

Averages are decimal-sum / count (one double division by an exact integer —
bitwise deterministic). Per-row double arithmetic (products, differences)
is IEEE-deterministic and safe as-is.

CAVEAT (learned the hard way in round 5): the decimal-cast trick is only
cross-engine-exact when the doubles are exactly representable at the target
scale (money at scale 2, counts, ratios of ints). For ARBITRARY doubles the
two engines can round the cast differently — Spark casts via the shortest
decimal repr (BigDecimal.valueOf(double)), DuckDB rounds the exact binary
value — and the results diverge at the last decimal place when digits
beyond the scale straddle a half boundary. For such inputs accumulate
explicit integer quantizations instead: sum(cast(floor(x * 1e9) as long))
is order-free, exact, and boundary-free on both engines (floor of an exact
binary product never consults a rounding mode). See
functions.simsearch.label_centroid_rank for the pattern.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False
    description: str = ""


def dsum(expr: str, alias: str, scale: int = 2) -> Column:
    """Order-independent double sum via exact decimal accumulation."""
    return F.expr(
        f"cast(sum(cast(({expr}) as decimal(28,{scale}))) as double)"
    ).alias(alias)


def davg(expr: str, alias: str, scale: int = 2) -> Column:
    """Order-independent average: exact decimal sum / count."""
    return F.expr(
        f"cast(sum(cast(({expr}) as decimal(28,{scale}))) as double) / count(*)"
    ).alias(alias)


def sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    # The VARCHAR hop matters: DuckDB's DECIMAL->DOUBLE converts the
    # hugeint unscaled value to double and THEN divides by 10^scale — two
    # roundings, off by one ulp from the correctly-rounded result once the
    # unscaled value exceeds 2^53 (first seen on the 10x corpus: q1
    # sum_charge 27864155010.941590 -> ...941593 instead of ...94159).
    # DECIMAL->VARCHAR is exact and VARCHAR->DOUBLE is correctly rounded,
    # which is also what Spark's Decimal.toDouble produces — so both
    # engines agree at any magnitude.
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS VARCHAR)"
        f" AS DOUBLE) AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = 2) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS VARCHAR)"
        f" AS DOUBLE) / COUNT(*) AS {alias}"
    )


# --- DuckDB oracle fragments shared by more than one query module --------


def region_nations(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """nation ⋈ broadcast(region ``r_name``): the nations of one region, a
    dimension small enough to broadcast at any SF."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == r_name)
    return load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )


def unit_vectors_sql(materialized: bool = False) -> str:
    """CTE ``u(vec_id, unit)``: every embedding scaled to unit L2 norm.
    MATERIALIZED where later CTEs read ``u`` many times: DuckDB otherwise
    re-evaluates the normalization lambda per reference."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""u AS{mat} (
  SELECT vec_id,
         list_transform(
           embedding::DOUBLE[],
           x -> x / sqrt(list_aggregate(
                  list_transform(embedding::DOUBLE[], y -> y * y), 'sum'))
         ) AS unit
  FROM embeddings
)"""


def srp_buckets_sql(n_planes: int, materialized: bool = False) -> str:
    """CTEs ``planes(pid, h)``, ``u(vec_id, unit)`` and ``b(vec_id,
    bucket)``: the seeded SRP hyperplanes as the exact doubles Spark bakes
    into its plan (repr round-trips float64), and each unit vector's
    sign-bit bucket id."""
    from sdc_mapreduce_spark.functions.simsearch import _hyperplanes

    values = ",\n       ".join(
        f"({pid}, [{', '.join(repr(float(x)) for x in h)}]::DOUBLE[])"
        for pid, h in enumerate(_hyperplanes(64, n_planes))
    )
    return f"""planes(pid, h) AS (
  VALUES {values}
), {unit_vectors_sql(materialized)}, b AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_inner_product(u.unit, planes.h) >= 0
                       THEN 1 << pid ELSE 0 END) AS BIGINT) AS bucket
  FROM u CROSS JOIN planes
  GROUP BY vec_id
)"""


def stop_list_sql() -> str:
    """functions.text.STOPWORDS as a DuckDB IN-list."""
    from sdc_mapreduce_spark.functions.text import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS)


# Columns added to t(doc_id, toks) for the quality features.
QUALITY_CHARS_SQL = """,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars"""


def quality_features_sql() -> str:
    """The stopword_ratio, alpha_ratio and mean_token_len columns of
    functions.text.quality_features, over t(toks, n_chars, alpha_chars)."""
    return f"""len(list_filter(toks, x -> x IN ({stop_list_sql()}))) / len(toks)
           AS stopword_ratio,
         alpha_chars / n_chars AS alpha_ratio,
         (n_chars - (len(toks) - 1)) / len(toks) AS mean_token_len"""


# The quality composite over the quality_features_sql columns.
QUALITY_SCORE_SQL = """alpha_ratio * 0.5
         + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
         + LEAST(mean_token_len / 8.0, 1.0) * 0.2 AS quality_score"""
