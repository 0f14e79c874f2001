"""Query registry: every implemented operator exposed as a named
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a
DuckDB oracle string — the driver's correctness contract
(__spark_entry__.queries / oracle_sql).
"""

from __future__ import annotations

import importlib
import sys
import traceback

from sdc_mapreduce_spark.queries.base import QuerySpec

# Import quarantine (round-7 postmortem): a module-level error in ONE query
# module must degrade to losing THAT module's entries, not empty the whole
# registry — in r7 a single use-before-definition NameError zeroed all 208
# queries, the bench, and 37 tests. Failed modules land in IMPORT_QUARANTINE
# (module name -> traceback string); tests/test_registry.py asserts the list
# is empty so CI still fails loudly while the driver keeps its window.
IMPORT_QUARANTINE: dict[str, str] = {}

_MODULE_ORDER = (
    "mapreduce_queries",
    "relational_queries",
    "events_queries",
    "text_queries",
    "dedup_queries",
    "simsearch_queries",
    "tpch_queries",
    "surface_queries",
)

_ALL: dict[str, QuerySpec] = {}
for _name in _MODULE_ORDER:
    try:
        mod = importlib.import_module(f"sdc_mapreduce_spark.queries.{_name}")
    except Exception:
        IMPORT_QUARANTINE[_name] = traceback.format_exc()
        print(
            f"[sdc_mapreduce_spark.queries] QUARANTINED {_name}: import failed "
            "(its queries are skipped this session)",
            file=sys.stderr,
        )
        continue
    overlap = _ALL.keys() & mod.QUERIES.keys()
    if overlap:
        raise RuntimeError(f"duplicate query names: {overlap}")
    _ALL.update(mod.QUERIES)

# Registration order is the oracle check's order, and its certification
# window (tools/check_oracle.py --head 50) covers only the first 50
# entries. CERT_HEAD therefore leads the registry: it lists every query
# whose operator code changed since that query's last certification, so
# the certification window always covers changed code. The rest follows
# in _MODULE_ORDER / QUERIES order. When operator code changes, replace
# CERT_HEAD with the queries whose query functions reach it
# (tests/test_registry.py computes that set from the call graph).
CERT_HEAD: tuple[str, ...] = (
    # embedding_near_pairs_blocked
    "dedup_embedding_ann",
    "dedup_embedding_clusters",
    # minhash_lsh_pairs, directly or via near_dup_clusters / pipeline.curate
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_cluster_labels",
    "dedup_cluster_sizes",
    "dedup_cluster_safe_split",
    "dedup_keep_best",
    "dedup_source_leakage_matrix",
    "pipeline_curation",
    "pipeline_embedding_stats",
    # jaccard_prefix_pairs
    "dedup_jaccard_prefix",
    # sorted_neighborhood_pairs
    "dedup_sorted_neighborhood",
)
if not IMPORT_QUARANTINE:
    # Only enforce completeness on a healthy import — with a module
    # quarantined, its entries are expected to be missing and the
    # registry must still construct for the driver.
    assert set(CERT_HEAD) <= _ALL.keys(), set(CERT_HEAD) - _ALL.keys()

REGISTRY: dict[str, QuerySpec] = {
    name: _ALL[name] for name in CERT_HEAD if name in _ALL
}
REGISTRY.update({name: spec for name, spec in _ALL.items() if name not in REGISTRY})


def queries():
    # Each callable drains the PREVIOUS query's pin()'d persists before
    # building its own frame (queries/base.py, VERDICT r9 ask #5): the
    # driver's window and any long-lived sweep session stay flat on
    # executor storage instead of accumulating 200+ cached frames. Safe by
    # construction — the prior query was materialized before the harness
    # asked for the next one, and an early drain only costs recompute.
    import functools

    from sdc_mapreduce_spark.queries.base import drain_pins

    def _with_drain(fn):
        @functools.wraps(fn)
        def run(spark, sf_dir):
            drain_pins(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _with_drain(spec.fn) for name, spec in REGISTRY.items()}


def oracle_sql():
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


def bench_queries():
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.bench}
