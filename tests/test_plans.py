"""Physical-plan assertions: the plans the engine promises at scale must
actually be the plans Catalyst produces — parquet pushdown + pruning,
broadcast joins on reduced sides, TakeOrdered top-k, shuffle-free map-side
signature computation. A regression here is a silent 100 TB performance bug
even when results stay correct."""

from __future__ import annotations

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.plans import executed_plan as _plan


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    from sdc_mapreduce_spark.queries.relational_queries import (
        filter_project_pushdown,
    )

    df = filter_project_pushdown(spark, sf_dir)
    plan = _plan(df)
    # (the plan string truncates the PushedFilters list, so assert on the
    # first pushed predicate plus the exact pruned ReadSchema)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string>"
        in plan
    )


def test_q3_uses_broadcast_joins_not_sort_merge(spark, sf_dir):
    from sdc_mapreduce_spark.queries.relational_queries import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-10 is never a global sort


def test_global_topk_is_take_ordered(spark, sf_dir):
    from sdc_mapreduce_spark.queries.relational_queries import sort_limit_topk

    plan = _plan(sort_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # the global-sort shape


def test_minhash_band_rows_are_shuffle_free(spark, sf_dir):
    from sdc_mapreduce_spark.functions.dedup import _band_rows_arrow, shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(_band_rows_arrow(shingle_sets(docs), num_hashes=16, bands=4))
    assert "Exchange" not in plan, f"signature stage shuffles:\n{plan}"


def test_simhash_signatures_are_shuffle_free(spark, sf_dir):
    from sdc_mapreduce_spark.functions.dedup import simhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(simhash_signatures(docs))
    assert "Exchange" not in plan, f"signature stage shuffles:\n{plan}"


def test_q1_aggregates_partial_then_final(spark, sf_dir):
    from sdc_mapreduce_spark.queries.relational_queries import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1  # one agg shuffle


def test_q2_dimension_joins_broadcast(spark, sf_dir):
    # the supply distinct is the only fact shuffle; part and the
    # supplier⋈nation⋈region dimension chain must broadcast
    from sdc_mapreduce_spark.queries.tpch_queries import q2_min_balance_supplier

    plan = _plan(q2_min_balance_supplier(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q15_max_is_broadcast_scalar_not_window(spark, sf_dir):
    # the max-of-aggregate must be a one-row broadcast join, never a
    # single-partition window over all suppliers
    from sdc_mapreduce_spark.queries.tpch_queries import q15_top_supplier

    plan = _plan(q15_top_supplier(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_repetition_and_pii_are_shuffle_free(spark, sf_dir):
    """Per-doc curation features must stay pure map stages — a shuffle here
    would move corpus bytes at 100 TB for no reason."""
    from sdc_mapreduce_spark.functions.text import (
        pii_redact,
        repetition_features,
        synthesize_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    for df in (repetition_features(docs), pii_redact(synthesize_pii(docs))):
        plan = _plan(df)
        assert "Exchange" not in plan, f"narrow feature stage shuffles:\n{plan}"


def test_contamination_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark n-gram inventory must ride a broadcast — shuffling the
    corpus against a tiny eval suite is the wrong plan at any scale."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions.text import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(contamination_check(docs, bench, n=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wordcount_single_shuffle_with_partial_agg(spark):
    from sdc_mapreduce_spark import mapreduce as mr

    df = spark.createDataFrame([("a b a",)], ["value"])
    plan = _plan(mr.word_count(df))
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_chunked_exchanges_and_pruning(spark, sf_dir):
    """The skew-resistant sessionize must keep its designed shape: first
    exchange keyed by (user, chunk) — the hot-key split — then exactly one
    more exchange keyed by bare user over the COLLAPSED span rows, with the
    scan pruned to the three needed columns."""
    from sdc_mapreduce_spark.operators.skew import sessionize_chunked

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(sessionize_chunked(ev))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    first, second = [
        seg for seg in plan.splitlines() if "Exchange hashpartitioning" in seg
    ]
    # plan prints bottom-up segments in order of appearance (top = last
    # stage): the bare-user exchange is printed first, the (user, chunk)
    # exchange second
    assert "__chunk" in second and "user_id" in second, plan
    assert "__chunk" not in first and "user_id" in first, plan
    assert (
        "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint>" in plan
    ), plan


def test_multimodal_embed_search_broadcasts_queries(spark, sf_dir):
    """The 5-query side must broadcast against the streamed corpus — a
    SortMergeJoin here would shuffle every feature vector for 5 rows."""
    from sdc_mapreduce_spark.queries.text_queries import multimodal_embed_search

    plan = _plan(multimodal_embed_search(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivf_index_probe_prunes_partitions_and_matches_memory(spark, sf_dir, tmp_path):
    """The persisted IVF index must (a) serve results identical to the
    in-memory IVF path with the same seeded centroids and (b) plan the
    candidate scan with a static __cell partition filter — i.e. a probe
    reads only the probed cell directories, the property that makes the
    layout 100 TB-serviceable."""
    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.functions import simsearch as S

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=8)
    assigned = S.assign_cells(emb, cents)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(assigned, cents, path)

    qids = list(range(10))
    from_index = S.cosine_topk_ivf_from_index(spark, path, qids, k=5, n_probe=4)
    in_memory = S.cosine_topk_ivf(emb, qids, k=5, n_probe=4, centroids=cents)
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, in_memory.collect())
    )

    # the probed-cell IN-filter must appear in a PartitionFilters clause
    plan = _plan(from_index)
    assert "PartitionFilters" in plan
    clauses = plan.split("PartitionFilters")[1:]
    assert any("__cell" in c[:300] for c in clauses)


def test_boilerplate_strip_uses_broadcast_marker_join(spark, sf_dir):
    from sdc_mapreduce_spark.queries.text_queries import text_boilerplate_strip

    plan = _plan(text_boilerplate_strip(spark, sf_dir))
    # r13 fused shape: the hot-segment removal is a broadcast LEFT OUTER
    # marker join feeding ONE per-doc aggregation (totals/kept/fp fused),
    # never a shuffled join of the full segment table against the hot set
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan
    # the fusion removed the totals-vs-cleaned second aggregation walk:
    # exactly one row-weight exchange partitioned by doc_id
    assert plan.count("hashpartitioning(doc_id") == 1
    # the inner-Generate pushed filter (which re-evaluated the segment
    # transform twice per row) must not come back
    assert "posexplode_outer" in plan or "Generate" in plan
    assert "Condition : ((size(transform(" not in plan


def test_bloom_prefilter_broadcasts_bitmap_and_index(spark, sf_dir):
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_bloom_prefilter

    plan = _plan(dedup_bloom_prefilter(spark, sf_dir))
    # bitmap probe, verdict attach, and exact-membership join are all
    # broadcast — the batch never shuffles
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_pq_encode_is_shuffle_free(spark, sf_dir):
    from sdc_mapreduce_spark.functions.simsearch import pq_codebooks, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(emb, m_sub=4, n_codes=8)
    plan = _plan(pq_encode(emb, cbs, m_sub=4).select("vec_id", "__codes"))
    # encoding = scan + broadcast of the one-row nested codebook; the only
    # exchanges allowed belong to building that single aggregated row
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    # SinglePartition builds the one-row codebook; IdentityBroadcastMode is
    # its broadcast. No hash/range exchange of the corpus is allowed.
    assert all(
        e in ("SinglePartition", "IdentityBroadcastMode") for e in exchanges
    ), exchanges


def test_label_centroids_broadcast_back_onto_corpus(spark, sf_dir):
    from sdc_mapreduce_spark.queries.simsearch_queries import (
        embedding_label_centroids,
    )

    plan = _plan(embedding_label_centroids(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_ranking_never_uses_single_partition_window(spark, sf_dir):
    from sdc_mapreduce_spark.queries.text_queries import text_vocab_ids

    plan = _plan(text_vocab_ids(spark, sf_dir))
    assert "Window" in plan  # the two-phase running count is window-based
    # ...but ONLY partitioned windows: a global ORDER BY window would shove
    # the whole vocabulary through one partition
    assert "Exchange SinglePartition" not in plan


def test_bigram_lm_joins_are_broadcast(spark, sf_dir):
    """The LM tables (unigram, pruned bigram, vocab scalar) broadcast onto
    the corpus bigram stream — document text never enters a shuffle join."""
    from sdc_mapreduce_spark.functions.text import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(bigram_lm_scores(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nearest_centroid_broadcasts_centroids(spark, sf_dir):
    """Scoring is a map-side nested loop over the broadcast centroid table;
    the corpus side never shuffles for the argmax."""
    from sdc_mapreduce_spark.functions.simsearch import nearest_centroid_classify

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(nearest_centroid_classify(emb))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_substring_rebuild_broadcasts_drop_list(spark, sf_dir):
    """The per-doc drop list (the duplicated sliver) broadcasts back onto
    the scan; the corpus text side of the rebuild join never shuffles."""
    from sdc_mapreduce_spark.functions.dedup import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(exact_substring_dedup(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_robust_anomalies_broadcasts_group_stats(spark, sf_dir):
    """The (median, MAD) per-group tables broadcast back onto the events
    scan — no sort-merge join of the fact table against itself."""
    from sdc_mapreduce_spark.operators.relational import robust_anomalies

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    plan = _plan(robust_anomalies(ev, ["event_type"], "value", "event_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_overlap_never_nested_loop(spark, sf_dir):
    """The interval×interval join plans as a hash join on (key, bucket) —
    never BroadcastNestedLoopJoin/CartesianProduct (what a raw non-equi
    overlap condition degenerates to)."""
    from sdc_mapreduce_spark.operators.relational import interval_overlap_join
    from sdc_mapreduce_spark.operators.skew import sessionize_plain

    ev = load_table(spark, sf_dir, "events")
    s = sessionize_plain(ev).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    plan = _plan(
        interval_overlap_join(
            s,
            s.select(
                "user_id",
                s["session_id"].alias("sid2"),
                s["session_start"].alias("s2"),
                s["session_end"].alias("e2"),
            ),
            on="user_id",
            left_start="session_start",
            left_end="session_end",
            right_start="s2",
            right_end="e2",
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_pairs_bucket_join_is_narrow(spark, sf_dir):
    """The SRP verify runs inside each (bucket, salt) group, so the plan's
    ONLY shuffle is the group-by on (__g, __salt), and the rows it moves
    carry the raw float32 embedding — never a float64 vector (__v) or a
    unit vector (__unit): float64 rows would double the shuffle bytes, and
    unit vectors are built inside the kernel."""
    import re

    from sdc_mapreduce_spark.functions.simsearch import embedding_near_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    lines = _plan(embedding_near_pairs_blocked(emb, n_planes=6)).splitlines()
    exchanges = [i for i, line in enumerate(lines) if "Exchange" in line]
    assert len(exchanges) == 1, "\n".join(lines)
    (i,) = exchanges
    group_key = r"Exchange hashpartitioning\(__g#\d+L, __salt#\d+,"
    assert re.search(group_key, lines[i]), lines[i]
    shuffled = lines[i + 1]  # the projection feeding the exchange
    assert "__e#" in shuffled, shuffled
    assert "__v#" not in shuffled and "__unit" not in shuffled, shuffled


def test_incremental_embedding_batch_side_broadcast(spark, sf_dir):
    """The batch probes must broadcast into the corpus bucket join — the
    corpus never shuffles for incremental screening."""
    import pyspark.sql.functions as F2

    from sdc_mapreduce_spark.functions.simsearch import incremental_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = incremental_embedding_dedup(
        emb.filter(F2.col("vec_id") % 5 == 0),
        emb.filter(F2.col("vec_id") % 5 != 0),
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan


def test_cdc_apply_single_partial_agg_shuffle(spark, sf_dir):
    """CDC apply must compile to ONE partial→final aggregation shuffle (the
    max-struct form), never a per-key row_number window whose hot keys
    serialize."""
    from sdc_mapreduce_spark.queries.events_queries import events_cdc_apply

    plan = _plan(events_cdc_apply(spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan or "partial_count" in plan


def test_scd2_history_single_shuffle(spark, sf_dir):
    """Run-collapse and interval stitching are two window passes over the
    SAME (key, time, tiebreak) ordering — the plan must contain exactly one
    hash-partitioned exchange (on the entity key), proving Catalyst reuses
    the shuffle across both windows."""
    from sdc_mapreduce_spark.operators.relational import scd2_history

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(scd2_history(ev, "user_id", "event_type", "ts", "event_id"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_fuzzy_name_pairs_reuses_distinct_names(spark, sf_dir):
    """The distinct-name aggregate (the heaviest stage at scale) must be
    persisted and reused by the hot-block count and both self-join sides —
    the plan reads the cache, never re-aggregating the row-level table."""
    from sdc_mapreduce_spark.functions.dedup import fuzzy_name_pairs

    part = load_table(spark, sf_dir, "part")
    plan = _plan(fuzzy_name_pairs(part, "p_name"))
    assert "InMemoryTableScan" in plan, plan


def test_winsorize_fact_side_never_shuffles(spark, sf_dir):
    """Only the O(groups) percentile aggregate hash-shuffles; the fact scan
    receives the clip bounds through a broadcast join, so the enrichment
    adds ZERO fact-side shuffle."""
    from sdc_mapreduce_spark.queries.events_queries import events_winsorize_clip

    plan = _plan(events_winsorize_clip(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_attribution_single_window_shuffle(spark, sf_dir):
    """Last-touch attribution is one (user, time) window: exactly one hash
    exchange (the window key), no self-join."""
    from sdc_mapreduce_spark.queries.events_queries import (
        events_attribution_last_touch,
    )

    plan = _plan(events_attribution_last_touch(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_srp_index_probe_prunes_partitions_and_matches_memory(
    spark, sf_dir, tmp_path
):
    """The persisted SRP bucket index (round-7, VERDICT r6 ask #8) must
    (a) screen identically to the in-memory incremental_embedding_dedup on
    the same batch/corpus split and (b) plan the candidate scan with a
    static __bucket partition filter, so an ingestion batch reads only its
    probed bucket directories — the IVF-index property, for dedup."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions import simsearch as S

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    path = str(tmp_path / "srp")
    S.write_srp_index(existing, path)

    from_index = S.incremental_embedding_dedup_from_index(
        spark, path, batch, threshold=0.4
    )
    in_memory = S.incremental_embedding_dedup(batch, existing, threshold=0.4)
    got = sorted(map(tuple, from_index.collect()))
    assert got == sorted(map(tuple, in_memory.collect())) and got

    plan = _plan(from_index)
    assert "PartitionFilters" in plan
    clauses = plan.split("PartitionFilters")[1:]
    assert any("__bucket" in c[:300] for c in clauses)


def test_jaccard_prefix_windows_are_per_doc_and_no_cartesian(spark, sf_dir):
    """The prefix build ranks shingles WITHIN each doc (window partitioned
    by doc id — bounded by doc length, never a global sort) and the
    candidate generation is an equi-join on the shingle hash — a
    CartesianProduct anywhere means the filter degenerated to all-pairs."""
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_jaccard_prefix

    plan = _plan(dedup_jaccard_prefix(spark, sf_dir))
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_never_single_partition(spark, sf_dir):
    """SNM's defining scale hazard is the global rank collapsing to a
    one-partition ORDER BY window; the two-phase running sum must keep
    every exchange partitioned (range or hash), and neighbor pairing must
    be an equi-join, not a cross join."""
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_sorted_neighborhood

    plan = _plan(dedup_sorted_neighborhood(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_pool_scoring_broadcasts_queries(spark, sf_dir):
    """MMR's corpus-scoring stage must be the broadcast nested-loop plan of
    the brute-force path (tiny query side broadcast, corpus streams) —
    a shuffle-both-sides pair generation would be the 100 TB bug."""
    from sdc_mapreduce_spark.queries.simsearch_queries import simsearch_mmr

    plan = _plan(simsearch_mmr(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange SinglePartition" not in plan
