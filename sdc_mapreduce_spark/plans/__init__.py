"""Physical-plan inspection utilities.

The engine has no custom Catalyst rules (SURVEY.md §4: the reference has no
optimizer at all, and Catalyst covers every rewrite reference parity needs),
so this package's job is *verification* of the plans Catalyst produces:
the pushdown/broadcast/partial-agg properties the engine promises at scale
are asserted in tests/test_plans.py through these helpers, and
``tools/dump_plans.py`` writes the formatted plan of registered queries,
normalized so two runs of the same code compare byte for byte.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Tokens of a formatted plan that differ between runs of the same code:
# expression ids and plan ids come from process-global counters, scratch
# directories get random names, and eager builds create a run-dependent
# number of RDDs before a checkpointed scan names its RDD.
_RUN_DEPENDENT = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"sdcms_\w+"), "sdcms_X"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


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


def normalized_plan(text: str) -> str:
    """``text`` with every run-dependent token replaced by a fixed one."""
    for pattern, replacement in _RUN_DEPENDENT:
        text = pattern.sub(replacement, text)
    return text
