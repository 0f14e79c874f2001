"""Physical-plan inspection utilities.

The engine has no custom Catalyst rules (SURVEY.md §4: the reference has no
optimizer at all, and Catalyst covers every rewrite reference parity needs),
so this package's job is *verification* of the plans Catalyst produces:
the pushdown/broadcast/partial-agg properties the engine promises at scale
are asserted in tests/test_plans.py through these helpers, and
``tools/dump_plans.py`` writes the formatted plan of registered queries
for review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The (possibly adaptive) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') output — numbered operators with details."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)
