"""Regenerate PLANS.md: formatted physical plans of the headline bench
queries plus the adapted TPC-H subquery shapes, at sf0.01.

Usage: python tools/gen_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark.plans import formatted_plan
from sdc_mapreduce_spark.queries import REGISTRY, bench_queries
from sdc_mapreduce_spark.session import get_spark

EXTRA_SHAPES = [
    "q2_min_balance_supplier",
    "q21_waiting_suppliers",
    "q8_market_share",
    "q11_important_stock",
    "q20_potential_promotion",
    "simsearch_ann_ivf_index_recall",
    "corpus_shuffle_shards",
    "simsearch_pq_codes",
    "simsearch_ann_ivfpq_recall",
    "layout_zorder_keys",
    "text_quality_classifier",
    "dedup_incremental_minhash",
    "embedding_label_centroids",
    "text_duplicate_spans",
    "text_countmin_freq",
    "corpus_pack_sequences",
    "events_change_intervals",
    "text_vocab_ids",
    # round-5 continuation additions
    "text_bigram_lm_score",
    "embedding_nearest_centroid",
    "events_anomaly_robust",
    "events_interval_overlap",
    "graph_pagerank_neardup",
    "table_histogram_equidepth",
    "corpus_mix_temperature",
    "sample_weighted_topk",
    "simsearch_range_search",
    "events_forward_fill",
    "pipeline_pretrain_mix",
    "embedding_kmeans_step",
    "text_tfidf_cosine_pairs",
    "events_rfm_features",
    "dedup_containment_pairs",
    # round-6 additions
    "bucketed_join_certified",
    "events_cdc_apply",
    "dedup_incremental_embedding",
    "dedup_embedding_clusters",
    "corpus_source_cap",
    "join_fuzzy_names",
    "events_scd2_history",
    "events_pit_enrichment",
    "events_winsorize_clip",
    "events_grouped_regression",
    "table_chisq_independence",
    "table_ks_drift",
    "table_mutual_information",
    "events_attribution_last_touch",
    "table_gini_concentration",
    "dedup_cluster_labels",
    # round-7 additions
    "dedup_incremental_embedding_index",
    "dedup_source_leakage_matrix",
    "table_benford_audit",
    "events_changepoint_cusum",
    # round-8 additions
    "embedding_label_silhouette",
    "text_bm25_topk",
    "graph_triangle_stats",
    "text_term_cooccurrence",
    "agg_weighted_median",
    "sample_quota_allocation",
    "table_k_anonymity",
    "text_zipf_audit",
    "events_attribution_time_decay",
    "multimodal_neardup_banded",
    "dedup_keep_best",
    "events_autocorrelation",
    "multimodal_neardup_recall",
    # round-10 additions
    "text_bpe_merges_batched",
    # round-11 additions (dedup_jaccard_prefix / text_heavy_hitters are in
    # the bench set and appear via bench_queries())
    "dedup_sorted_neighborhood",
    "simsearch_mmr",
    "table_psi_drift",
    # round-12 additions: indexed MMR pool, unigram-LM learner, and the
    # connected-components consumers (VERDICT r12 ask #6)
    "simsearch_mmr_indexed",
    "text_unigram_lm",
    "dedup_clusters",
]  # (multimodal_encoder_topk moved into the bench set in r9)

HEADER = """# PLANS — formatted physical plans of the headline bench queries plus the
# adapted TPC-H subquery shapes (sf0.01)

Regenerate: `python tools/gen_plans.py`;
plan properties are enforced in tests/test_plans.py.

## Notes

**minhash cap constant (r9, VERDICT r8 ask #5).** The r5→r8
`dedup_minhash_lsh` slowdown (0.656→1.112 s) was two parts session noise
(fixed by bench.py's per-query clearCache + adaptive repeats), one part
the hot-bucket cap's real constant. Interleaved A/B at sf0.1 with caches
cleared between runs: cap-on median 1.72 s vs cap-off 1.35 s — the cap
costs ~0.3 s of FIXED stage overhead (one bucket-count shuffle over the
band rows + one broadcast exchange for the anti-join), not proportional
work: the aggregation input is O(docs·bands) tiny rows and is
map-side-combined. That constant is the insurance premium against the
quadratic failure mode — one templated/boilerplate bucket of d docs yields
d² candidate pairs, which is the plan that dies at 100 TB — so the cap
stays on by default. r9 also replaced the r8 eager Σ C(n,2) bound collect
with a lazy anti-join + the bounded limit(N+1) verify probe: same
semantics, no eager job, no driver state, and the probe's computed
partitions land in the candidate persist the verify joins reuse.

**bench order is now pinned (r10, VERDICT r9 ask #2).** The r8→r9
"regression cluster" (q3 +35%, q5 +33%, q6 +24%, simsearch_topk_arrow
+18%, window_rank_topn +11%) is session-state noise, not a plan change —
two measured facts (CHECKS_r10/bench_order_ab*.txt):
(1) each of the five run ISOLATED in a fresh session is SLOWER than its
benched r9 number (q5 1.14 vs 0.89, q6 0.40 vs 0.23, window_rank_topn
0.71 vs 0.41) — the benched medians ride on what ran before them (warm
page cache, codegen, JIT), so plan regressions cannot be read off
order-shifted medians at these magnitudes; (2) three identical-code
full-bench sessions in r10 swung 17.4 / 18.7 / 23.8 s total with every
query moving together (host/page-cache state; the 23.8 s session started
with the OS cache dropped to 2 GB), bounding session noise at ±20-30% —
larger than every delta in the cluster. The one SYSTEMATIC component —
r9's registry rotation put the new 1.7 s multimodal_encoder_topk at slot
1 and moved q1 (whose lineitem scan warms q3/q5/q6's neighborhood) to
dead last — is now removed: bench.py pins `_BENCH_ORDER` to the r8
sequence (the longest comparable history) with later additions appended
at the END (enforced by tests/test_bench_contract.py), so rotation can
never shift the series again. A forced System.gc() between queries was
also measured to inflate every subsequent query ~20-30% (SoftReference
codegen/class caches cleared) and is therefore kept OUT of the bench
loop (queries/base.py::drain_pins gc_nudge flag).

**multimodal_encoder_topk feature persist (r10, VERDICT r9 ask #4).** The
query pins the bounded (media_id, vector, norm) frame: it feeds both the
query side and the corpus side of the theta-join, and without the persist
each side re-ran synthesize + the Arrow encode kernel end-to-end — the
encode is the query's entire cost. Median 1.70 s → ~0.6 s at sf0.1.
"""


def main() -> None:
    spark = get_spark("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    names = list(bench_queries()) + EXTRA_SHAPES
    sections = [HEADER]
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        sections.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.writelines(sections)
    print(f"wrote {out}: {len(names)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
