"""Deduplication queries over documents/embeddings (functions.dedup,
functions.simsearch).

Oracle notes: exact/normalized/Jaccard dedup have direct SQL twins. The
MinHash-LSH query shares the *exact* Jaccard oracle — with K=128 hashes in
32 bands of 4, the probability of missing a true pair at the 0.8 threshold
is (1-0.8^4)^32 ≈ 5e-8, so LSH-candidates + exact verification equals the
exhaustive answer on any realistic dataset (verified empirically at sf0.01
and sf0.1). SimHash has no SQL twin (xxhash64) — unit-tested instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_mapreduce_spark.cache import pin
from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.functions import dedup as D
from sdc_mapreduce_spark.queries.base import (
    QUALITY_CHARS_SQL,
    QUALITY_SCORE_SQL,
    QuerySpec,
    quality_features_sql,
    srp_buckets_sql,
)
from sdc_mapreduce_spark.queries.scratch import scratch


# --- DuckDB oracle fragments ---------------------------------------------
# The token-dedup twins replay functions.dedup.shingle_sets as STRING word
# 3-shingles and the exact Jaccard over an inverted index, so the oracle
# itself is O(co-occurring pairs), not O(n^2).


def _shingles_sql(cols: str = "", t_extra: str = "") -> str:
    """CTEs ``t(doc_id, toks)`` and ``sh(doc_id, shingles)``: each
    document's distinct word 3-shingles (one whole-text shingle below 3
    tokens; none for null text). ``cols`` ("source, ") carries document
    columns through both CTEs, ``t_extra`` (", expr AS name") adds
    columns to ``t`` only."""
    return f"""t AS (
  SELECT doc_id, {cols}string_split_regex(trim(text), '\\s+') AS toks{t_extra}
  FROM documents
), sh AS (
  SELECT doc_id, {cols}
         list_distinct(CASE WHEN len(toks) >= 3
           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                 FOR i IN range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM t
)"""


# sz(doc_id, sz): shingle-set sizes; inv(doc_id, s): the inverted index.
_SHINGLE_INDEX = """, sz AS (
  SELECT doc_id, len(shingles) AS sz FROM sh
), inv AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh
)"""

# common(id_a, id_b, c): shared-shingle count of every co-occurring pair.
_COMMON = """, common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

# The pairs of common at exact Jaccard >= 0.8.
_JACCARD_08 = """FROM common
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE c / (za.sz + zb.sz - c) >= 0.8"""


def _near_dup_pairs_sql(
    name: str = "pairs", cols: str = "", t_extra: str = ""
) -> str:
    """The shingle CTEs through ``common``, then ``{name}(id_a, id_b)``:
    every pair at exact Jaccard >= 0.8."""
    return f"""{_shingles_sql(cols, t_extra)}{_SHINGLE_INDEX}{_COMMON}, {name} AS (
  SELECT id_a, id_b {_JACCARD_08}
)"""


def _reach_sql(pairs: str) -> str:
    """CTEs ``edges(s, t)``, both directions of ``{pairs}``, and
    ``reach(s, t)``, every document's recursive closure (the query must
    open WITH RECURSIVE); ``_REP`` reduces it to (doc_id, rep_id)."""
    return f""", edges AS (
  SELECT id_a AS s, id_b AS t FROM {pairs}
  UNION ALL
  SELECT id_b, id_a FROM {pairs}
), reach AS (
  SELECT doc_id AS s, doc_id AS t FROM documents
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
)"""


# Each document's component representative: the least id it reaches.
_REP = "SELECT s AS doc_id, MIN(t) AS rep_id FROM reach GROUP BY s"

# Near-dup components: reach over the Jaccard >= 0.8 pairs, and
# comp(doc_id, rep_id) on top of it.
_NEAR_DUP_REACH = f"WITH RECURSIVE {_near_dup_pairs_sql()}{_reach_sql('pairs')}"
_NEAR_DUP_COMP = f"""{_NEAR_DUP_REACH}, comp AS (
  {_REP}
)"""


def _srp_probes_sql(where: str = "") -> str:
    """CTE ``probes(vec_id, probe)``: each vector's home bucket and its
    1-bit-adjacent buckets (needs srp_buckets_sql in scope)."""
    return f""", probes AS (
  SELECT vec_id, bucket AS probe FROM b{where}
  UNION ALL
  SELECT vec_id, xor(bucket, CAST(1 << pid AS BIGINT)) AS probe
  FROM b CROSS JOIN planes{where}
)"""


# cands(id_a, id_b): distinct id_a < id_b pairs sharing a probed bucket.
_SRP_PAIR_CANDS = f"""{_srp_probes_sql()}, cands AS (
  SELECT DISTINCT p.vec_id AS id_a, b2.vec_id AS id_b
  FROM probes p JOIN b b2 ON b2.bucket = p.probe
  WHERE p.vec_id < b2.vec_id
)"""

# The candidates at cosine >= 0.4 (unit vectors: the inner product).
_SRP_VERIFY = """SELECT c.id_a, c.id_b
FROM cands c
JOIN u ua ON ua.vec_id = c.id_a
JOIN u ub ON ub.vec_id = c.id_b
WHERE list_inner_product(ua.unit, ub.unit) >= 0.4"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY doc_id
"""


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.normalized_dedup(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


DEDUP_NORMALIZED_SQL = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
ORDER BY doc_id
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-shape dedup (functions.dedup.incremental_dedup): treat 20%
    of the corpus (doc_id % 5 == 0) as the incoming batch and the other 80%
    as the already-ingested corpus; keep batch docs whose content is new,
    deduped within the batch. The corpus side participates only as a
    distinct fingerprint set — the plan a continuously-ingesting 100 TB
    pipeline runs on every delivery."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_dedup(batch, existing).orderBy("doc_id")


DEDUP_INCREMENTAL_SQL = """
WITH ex AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
), nb AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies_in_batch
FROM nb
WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = nb.fp)
GROUP BY fp
ORDER BY doc_id
"""


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered ingestion dedup (functions.dedup.bloom_prefilter_
    dedup): same 20/80 batch/corpus split as dedup_incremental, but the
    corpus fingerprint index is first compacted into a broadcastable
    Bloom bitmap; each batch doc carries the filter's verdict next to exact
    membership. m_bits=2048 is deliberately undersized for the fixture so
    the false-positive path is exercised and hash-verified (the corpus has
    no exact dups, so a right-sized filter would emit all-false rows);
    production sizing is ~10 bits/key, at which the bitmap for a
    billions-doc index is still only GBs → broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return D.bloom_prefilter_dedup(batch, existing, m_bits=2048, k=5).orderBy(
        "doc_id"
    )


DEDUP_BLOOM_SQL = """
WITH ex AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
), nb AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
), expos AS (
  SELECT (h1 + r.i * h2) % 2048 AS pos FROM (
    SELECT CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT) AS h1,
           CAST(('0x' || substr(md5(fp || '#bloom'), 1, 15)) AS BIGINT) | 1 AS h2
    FROM ex) h, range(5) r(i)
), words AS (
  SELECT CAST(pos // 32 AS INT) AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM expos GROUP BY 1
), nbpos AS (
  SELECT fp, (h1 + r.i * h2) % 2048 AS pos FROM (
    SELECT DISTINCT fp,
           CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT) AS h1,
           CAST(('0x' || substr(md5(fp || '#bloom'), 1, 15)) AS BIGINT) | 1 AS h2
    FROM nb) h, range(5) r(i)
), verdict AS (
  SELECT fp,
         MIN(COALESCE((w.bits >> CAST(pos % 32 AS INT)) & 1, 0)) = 1 AS bloom_maybe
  FROM nbpos LEFT JOIN words w ON w.word = CAST(pos // 32 AS INT)
  GROUP BY fp
)
SELECT nb.doc_id, v.bloom_maybe,
       (nb.fp IN (SELECT fp FROM ex)) AS is_dup
FROM nb JOIN verdict v USING (fp)
ORDER BY doc_id
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-shape NEAR-dup screening (functions.dedup.
    incremental_minhash_dedup): same 20/80 batch/corpus split as
    dedup_incremental, the corpus's LSH band rows as the bucket index, the
    batch probing it, exact Jaccard verifying collisions. Emits the reject
    list: batch docs with a corpus near-dup at >= 0.8, with the best match.
    The oracle is the exact batch-vs-corpus Jaccard replay (inverted
    index), so a banding recall miss would hash-mismatch."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_minhash_dedup(batch, existing, threshold=0.8).orderBy(
        "doc_id"
    )


DEDUP_INCR_MINHASH_SQL = f"""
WITH {_shingles_sql()}{_SHINGLE_INDEX}, common AS (
  SELECT a.doc_id AS new_id, b.doc_id AS ex_id, COUNT(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
  GROUP BY 1, 2
), jac AS (
  SELECT new_id, ex_id, c / (za.sz + zb.sz - c) AS jaccard
  FROM common
  JOIN sz za ON za.doc_id = new_id
  JOIN sz zb ON zb.doc_id = ex_id
  WHERE c / (za.sz + zb.sz - c) >= 0.8
)
SELECT doc_id, n_corpus_matches, best_match_id, best_jaccard FROM (
  SELECT new_id AS doc_id, ex_id AS best_match_id, jaccard AS best_jaccard,
         COUNT(*) OVER (PARTITION BY new_id) AS n_corpus_matches,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, ex_id ASC) AS r
  FROM jac
) WHERE r = 1
ORDER BY doc_id
"""


# Shared exact-Jaccard oracle.
_JACCARD_SQL = f"""
WITH {_shingles_sql()}{_SHINGLE_INDEX}{_COMMON}
SELECT id_a, id_b, c / (za.sz + zb.sz - c) AS jaccard
{_JACCARD_08}
"""


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard pairs ≥ 0.8 (inverted-index self-join)."""
    return D.jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, threshold=0.8)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.8 via AllPairs/PPJoin prefix
    filtering — lossless (same exhaustive oracle as dedup_jaccard_pairs):
    only each doc's (1-t)-fraction rare-first prefix is indexed, so the
    candidate self-join never sees hot boilerplate shingles."""
    return D.jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


_SNM_SQL = """
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(text), '\\s+')) AS toks,
         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 24)
           || '#' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS k
  FROM documents
), r AS (
  SELECT doc_id, toks, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM t
), cand AS (
  SELECT a.doc_id AS id_x, b.doc_id AS id_y, a.toks AS ta, b.toks AS tb
  FROM r a JOIN r b ON b.rn > a.rn AND b.rn < a.rn + 10
), scored AS (
  SELECT LEAST(id_x, id_y) AS id_a, GREATEST(id_x, id_y) AS id_b,
         len(list_intersect(ta, tb))
           / (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jaccard
  FROM cand
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo merge/purge): rank
    by the 24-char normalized-text prefix, verify distinct-token Jaccard
    ≥ 0.5 within a 10-rank sliding window. The global rank is the
    two-phase distributed running sum — never a one-partition window —
    and the oracle replays the identical total order."""
    return D.sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"),
        window=10,
        threshold=0.5,
        key_chars=24,
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banded candidates + exact verification ≥ 0.8 — the
    100 TB near-dedup path; see module docstring for why the exhaustive
    Jaccard oracle applies."""
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=128,
        bands=32,
        n=3,
        threshold=0.8,
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH pairs → connected components → (doc, rep).
    The oracle computes the same components with a recursive CTE over the
    exact-Jaccard pair graph (valid for the same recall argument as the
    pairwise oracle)."""
    return D.near_dup_clusters(
        load_table(spark, sf_dir, "documents"),
        num_hashes=128,
        bands=32,
        n=3,
        threshold=0.8,
    ).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = f"""
{_NEAR_DUP_REACH}
{_REP} ORDER BY doc_id
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the duplication-rate report a
    curation run is judged by (what fraction of the corpus is singletons
    vs pairs vs mega-clusters; the dedup savings is Σ(size−1)·n_clusters):
    one row per distinct cluster size with (cluster_size, n_clusters,
    n_docs). Built on the same LSH→connected-components machinery as
    dedup_clusters; two O(clusters) aggregates on top — cost is the
    clustering, the report is free."""
    clusters = D.near_dup_clusters(
        load_table(spark, sf_dir, "documents"),
        num_hashes=128,
        bands=32,
        n=3,
        threshold=0.8,
    )
    sizes = clusters.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_SIZES_SQL = f"""
{_NEAR_DUP_REACH}
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM (
  SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM ({_REP})
  GROUP BY rep_id
)
GROUP BY cluster_size
ORDER BY cluster_size
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution — the curation decision the
    cluster labels exist FOR: within every near-dup cluster (LSH pairs →
    connected components, same machinery as dedup_clusters), keep the
    member with the highest heuristic quality score (ties broken by
    doc_id ascending) instead of the arbitrary min-id representative.
    Emits one row per document: (doc_id, rep_id, best_id, is_kept,
    quality_score) — the audit trail a pipeline needs to explain WHY a
    duplicate was dropped. The quality composite is the repo-standard
    exact-count arithmetic (functions.text.quality_features), so the
    argmax tie-break replays bitwise in the recursive-CTE oracle; the
    per-cluster argmax is one row_number window over the (tiny) cluster
    assignment joined to the (narrow) score table — no extra pass over
    corpus text."""
    from sdc_mapreduce_spark.functions.text import quality_features
    from sdc_mapreduce_spark.operators.relational import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    clusters = D.near_dup_clusters(
        docs, num_hashes=128, bands=32, n=3, threshold=0.8
    )
    qual = quality_features(docs).select("doc_id", "quality_score")
    joined = clusters.join(qual, "doc_id")
    best = top_k_per_group(
        joined,
        ["rep_id"],
        [F.col("quality_score").desc(), F.col("doc_id").asc()],
        1,
    ).select("rep_id", F.col("doc_id").alias("best_id"))
    return (
        joined.join(best, "rep_id")
        .select(
            "doc_id",
            "rep_id",
            "best_id",
            (F.col("doc_id") == F.col("best_id")).alias("is_kept"),
            # UNROUNDED: both engines build this double from exact counts
            # by the identical op sequence, so it hash-matches as-is —
            # round(x, 6) would reintroduce the half-boundary hazard the
            # 10x sweep caught (Spark HALF_UP vs DuckDB on an exact
            # ...5e-7 tie, doc 12788 of the replica corpus)
            F.col("quality_score"),
        )
        .orderBy("doc_id")
    )


def _dedup_keep_best_sql() -> str:
    pairs = _near_dup_pairs_sql("prs", t_extra=QUALITY_CHARS_SQL)
    return f"""
WITH RECURSIVE {pairs}{_reach_sql("prs")}, clusters AS (
  {_REP}
), feat AS (
  SELECT doc_id,
         {quality_features_sql()}
  FROM t
), qual AS (
  SELECT doc_id,
         {QUALITY_SCORE_SQL}
  FROM feat
), best AS (
  SELECT rep_id, doc_id AS best_id FROM (
    SELECT c.rep_id, c.doc_id,
           ROW_NUMBER() OVER (PARTITION BY c.rep_id
                              ORDER BY q.quality_score DESC, c.doc_id ASC)
             AS rk
    FROM clusters c JOIN qual q USING (doc_id)
  ) WHERE rk = 1
)
SELECT c.doc_id, c.rep_id, b.best_id, c.doc_id = b.best_id AS is_kept,
       q.quality_score
FROM clusters c
JOIN qual q USING (doc_id)
JOIN best b USING (rep_id)
ORDER BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 near-dup pairs, pigeonhole-blocked (never
    all-pairs in Spark). Pigeonhole blocking is EXACT within the distance
    bound, so the oracle recomputes the same md5-derived signatures and
    compares against a direct all-pairs Hamming join — feasible in DuckDB
    at oracle SF, and an independent check that blocking loses nothing."""
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    ).orderBy("id_a", "id_b")


DEDUP_SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
), bits AS (
  SELECT doc_id, gs.b,
         SUM(CASE WHEN (CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) >> gs.b) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) gs
  GROUP BY doc_id, gs.b
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUB-document dedup applied (functions.dedup.
    exact_substring_dedup): disjoint 16-token chunks, duplicated chunk
    contents stripped everywhere except their globally-first occurrence,
    documents rebuilt — the consumer of the text_duplicate_spans removal
    list (Lee et al. exact substring dedup). cleaned_fp pins the surviving
    text byte-for-byte cross-engine."""
    # persist before the output sort: the rebuild side (scan + per-chunk
    # md5 + broadcast drop-list join) has no shuffle barrier, so the
    # range-sort's sampling job would re-run it end to end (the
    # dedup_embedding_ann finding); the persisted frame is one summary
    # row per document.
    return pin(
        D.exact_substring_dedup(
            load_table(spark, sf_dir, "documents"), chunk_size=16
        )
    ).orderBy("doc_id")


DEDUP_EXACT_SUBSTRING_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         CAST(FLOOR((len(toks) + 15) / 16.0) AS INT) AS n_chunks
  FROM t
), ch AS (
  SELECT doc_id, n_chunks,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_id, toks
  FROM c
), fp AS (
  SELECT doc_id, chunk_id,
         md5(array_to_string(toks[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' '))
           AS chunk_fp
  FROM ch
), ranked AS (
  SELECT doc_id, chunk_id,
         ROW_NUMBER() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_id) AS rn,
         COUNT(*) OVER (PARTITION BY chunk_fp) AS cnt
  FROM fp
), dl AS (
  SELECT doc_id, list_sort(list(chunk_id)) AS drop_ids
  FROM ranked WHERE cnt >= 2 AND rn > 1
  GROUP BY doc_id
), rebuilt AS (
  SELECT c.doc_id, c.n_chunks,
         COALESCE(dl.drop_ids, []) AS drop_ids,
         COALESCE(flatten(list_transform(
           list_filter(generate_series(0, c.n_chunks - 1),
                       i -> NOT list_contains(COALESCE(dl.drop_ids, []), i)),
           i -> c.toks[i * 16 + 1 : i * 16 + 16])), []) AS kept
  FROM c LEFT JOIN dl USING (doc_id)
)
SELECT doc_id, n_chunks,
       CAST(len(drop_ids) AS INT) AS n_dropped,
       CAST(len(kept) AS INT) AS n_tokens_kept,
       md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_fp
FROM rebuilt
ORDER BY doc_id
"""


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset pairs (functions.dedup.containment_pairs): 3-gram
    containment ≥ 0.6 — the asymmetric screen that catches quotes/excerpts
    Jaccard misses (planted-subset behavior proven in tests/test_dedup.py;
    the fixture corpus itself contains no true subsets, so this surfaces
    the same near-dup family at a containment score)."""
    return D.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.6
    ).orderBy("id_a", "id_b")


DEDUP_CONTAINMENT_SQL = f"""
WITH {_shingles_sql()}, inv0 AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh
), keep AS (
  -- hot-shingle cap: mirror the Spark side's max_df={D.MAX_DF} (same pattern as
  -- TEXT_TFIDF_COSINE_SQL's HAVING df <= 1000); set sizes are derived from
  -- the CAPPED shingle set, matching containment_pairs exactly
  SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= {D.MAX_DF}
), inv AS (
  SELECT doc_id, s FROM inv0 JOIN keep USING (s)
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM inv GROUP BY doc_id
){_COMMON}
SELECT id_a, id_b, c / LEAST(za.sz, zb.sz) AS containment
FROM common
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE c / LEAST(za.sz, zb.sz) >= 0.6
ORDER BY id_a, id_b
"""


def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank (functions.graph.pagerank_integer)
    over the exact near-dup graph (3-gram Jaccard ≥ 0.8): centrality inside
    duplication neighborhoods — the "most-connected duplicate" signal a
    curation pass can rank representatives by. Three iterations, every rank
    an exact nano-unit long, so the whole fixed-point replays in the
    oracle's unrolled SQL."""
    from sdc_mapreduce_spark.functions.graph import pagerank_integer

    docs = load_table(spark, sf_dir, "documents")
    edges = D.jaccard_pairs(docs).select("id_a", "id_b")
    return pagerank_integer(edges, iterations=3).orderBy("node")


_PR_EDGES = f"""
WITH {_near_dup_pairs_sql("edges")}, und AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM edges
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY src
), n AS (
  SELECT COUNT(*) AS nn FROM deg
)"""

_PR_ITER = """, i{k} AS (
  SELECT u.dst AS src, SUM(r.rank_nano // d.degree) AS inn
  FROM und u JOIN deg d ON u.src = d.src JOIN r{p} r ON u.src = r.src
  GROUP BY u.dst
), r{k} AS (
  SELECT deg.src,
         CAST((15000000000 // (100 * (SELECT nn FROM n)))
              + (85 * COALESCE(i{k}.inn, 0)) // 100 AS BIGINT) AS rank_nano
  FROM deg LEFT JOIN i{k} ON deg.src = i{k}.src
)"""

GRAPH_PAGERANK_SQL = (
    _PR_EDGES
    + """, r0 AS (
  SELECT src, CAST(1000000000 // (SELECT nn FROM n) AS BIGINT) AS rank_nano
  FROM deg
)"""
    + "".join(_PR_ITER.format(k=k, p=k - 1) for k in (1, 2, 3))
    + """
SELECT deg.src AS node, deg.degree, r3.rank_nano
FROM deg JOIN r3 ON deg.src = r3.src
ORDER BY node
"""
)


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (functions.graph.triangle_stats) over the exact near-dup graph
    (3-gram Jaccard ≥ 0.8): the cluster-shape audit that separates
    clique-like duplication neighborhoods (every copy near every copy —
    high lcc) from hub-and-spoke template fan-outs (one seed, many
    variants — lcc ~0), which need different curation treatment. Counts
    use the degree-oriented wedge scheme, so each triangle is generated
    once and hub fan-out is bounded; the coefficient is an exact
    nano-unit integer division that replays bitwise in the oracle."""
    from sdc_mapreduce_spark.functions.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    edges = D.jaccard_pairs(docs).select("id_a", "id_b")
    return triangle_stats(edges).orderBy("node")


GRAPH_TRIANGLE_SQL = (
    _PR_EDGES
    + """, tri AS (
  SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
  FROM edges e1
  JOIN edges e2 ON e2.id_a = e1.id_b
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
), pn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM (SELECT UNNEST([x, y, z]) AS node FROM tri) GROUP BY node
)
SELECT deg.src AS node, deg.degree,
       CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN deg.degree >= 2
            THEN (2 * 1000000000 * COALESCE(pn.triangles, 0))
                 // (deg.degree * (deg.degree - 1))
            ELSE 0 END AS BIGINT) AS lcc_nano
FROM deg LEFT JOIN pn ON deg.src = pn.node
ORDER BY node
"""
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.4 (threshold chosen to be
    non-trivial on the fixture corpus, whose max off-diagonal cosine ≈ 0.5).
    Arrow/BLAS exact form (one GEMM per batch vs an interpreted fold per
    pair — 30x at sf0.1); the declarative self-join twin is equivalence-
    tested in tests/test_simsearch.py, and the SRP-blocked variant is the
    O(n²)-free scale path."""
    from sdc_mapreduce_spark.functions.simsearch import embedding_near_pairs_arrow

    return embedding_near_pairs_arrow(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    ).orderBy("id_a", "id_b")


DEDUP_EMBEDDING_SQL = """
WITH u AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
ORDER BY id_a, id_b
"""


def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs through SRP-LSH buckets
    (functions.simsearch.embedding_near_pairs_blocked, 6 seeded planes,
    1-bit multi-probe, cosine ≥ 0.4 verify) — the O(n²)-free scale path of
    dedup_embedding_cosine, and the embedding-space twin of
    dedup_minhash_lsh's banded token LSH: candidates come from an equi-join
    on the bucket id (vectors pair only within their own or a 1-bit-adjacent
    bucket), never an all-pairs join. Fully oracle-checked: the seeded
    hyperplanes are plan literals, so DuckDB replays bucketing, probing,
    candidate dedup, and the exact-cosine verify — the approximate result
    ITSELF hash-matches."""
    from sdc_mapreduce_spark.functions.simsearch import embedding_near_pairs_blocked

    pairs = embedding_near_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_planes=6,
    )
    # persist BEFORE the output sort: the verify stage has no shuffle
    # barrier, so the range-sort's boundary-sampling job would otherwise
    # re-run the whole candidate verify a second time (measured ~0.9 s of
    # the query's 2.3 s at sf0.1). The persisted set is the small verified
    # pair list, not the candidate volume.
    return pin(pairs).orderBy("id_a", "id_b")


def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-shape SEMANTIC near-dup screening
    (functions.simsearch.incremental_embedding_dedup): same 20/80
    batch/corpus split as dedup_incremental_minhash, the corpus's SRP
    buckets as the index, the batch probing home + 1-bit-adjacent buckets,
    exact cosine verifying collisions. Emits the reject list: batch vectors
    with a corpus near-dup at cosine ≥ 0.4, with the best match in integer
    nano-units. The oracle replays buckets, probes, verify, and tie-break
    from the plan-literal hyperplanes."""
    from sdc_mapreduce_spark.functions.simsearch import incremental_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    return incremental_embedding_dedup(batch, existing, threshold=0.4).orderBy(
        "vec_id"
    )


def dedup_incremental_embedding_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index twin of dedup_incremental_embedding
    (functions.simsearch.write_srp_index +
    incremental_embedding_dedup_from_index): the 80% corpus is written once
    as a bucket-partitioned SRP index, then the 20% batch probes it with a
    static partition filter — the candidate scan reads only the probed
    bucket directories (plan-asserted PartitionFilters). Same screening
    contract and the same oracle as the in-memory path; at 100 TB this is
    the layout that turns every ingestion delivery into a partial corpus
    read instead of a full one."""
    from sdc_mapreduce_spark.functions.simsearch import (
        incremental_embedding_dedup_from_index,
        write_srp_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    # a per-run index dir: a fixed shared path races concurrent runs at the
    # same SF (one deletes bucket dirs while the other reads them)
    with scratch(spark) as s:
        path = s.dir()
        write_srp_index(existing, path)
        result = incremental_embedding_dedup_from_index(
            spark, path, batch, threshold=0.4
        ).orderBy("vec_id")
        return s.local(result)


def dedup_streaming_embedding_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING ingestion screening against the persisted SRP index — the
    100 TB delivery loop run by the real micro-batch engine: the corpus is
    written ONCE as the bucket-partitioned index
    (functions.simsearch.write_srp_index), then the new-vector feed arrives
    as a file stream (maxFilesPerTrigger=1 forces multiple micro-batches)
    and ``foreachBatch`` probes the index per delivery
    (incremental_embedding_dedup_from_index — static ``__bucket IN``
    partition pruning, so each micro-batch reads only its probed bucket
    directories, never the corpus). Screening is stateless across
    micro-batches (the index is static and each vec_id arrives once), so
    the union of per-delivery reject lists must equal the one-shot batch
    screen — this query IS that certification: it shares
    ``dedup_incremental_embedding_index``'s oracle, and a lost, duplicated,
    or re-bucketed micro-batch turns the row red.

    Reference parity: the reference has no streaming at all (SURVEY.md
    §2.2) — its per-delivery loop is a fresh full job submission
    (reference clientsdk/submit_map_reduce.py:22-34) that re-reads the
    whole corpus; this is the indexed, incremental alternative."""
    from sdc_mapreduce_spark.functions.simsearch import (
        incremental_embedding_dedup_from_index,
        write_srp_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    with scratch(spark) as s:
        idx, src, out, ckpt = s.dir(), s.dir(), s.dir(), s.dir()
        write_srp_index(existing, idx)
        # double-cast BEFORE the json hop: float->double is exact, and
        # Jackson round-trips doubles losslessly, so the streamed vectors
        # are bitwise the parquet values the oracle reads
        batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).repartition(4).write.mode("overwrite").json(src)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .format("json")
            .load(src)
        )

        def screen(mb: DataFrame, _epoch: int) -> None:
            if mb.isEmpty():
                return
            incremental_embedding_dedup_from_index(
                mb.sparkSession, idx, mb, threshold=0.4
            ).write.mode("append").parquet(out)

        s.run(
            stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return s.local(spark.read.parquet(out).orderBy("vec_id"))


def _dedup_incremental_embedding_sql() -> str:
    return f"""
WITH {srp_buckets_sql(6)}{_srp_probes_sql(" WHERE vec_id % 5 = 0")}, cands AS (
  SELECT DISTINCT p.vec_id AS new_id, e.vec_id AS ex_id
  FROM probes p JOIN b e ON e.bucket = p.probe
  WHERE e.vec_id % 5 <> 0
), scored AS (
  SELECT c.new_id, c.ex_id, list_inner_product(un.unit, ue.unit) AS cos
  FROM cands c
  JOIN u un ON un.vec_id = c.new_id
  JOIN u ue ON ue.vec_id = c.ex_id
  WHERE list_inner_product(un.unit, ue.unit) >= 0.4
)
SELECT vec_id, n_corpus_matches, best_match_id, best_cosine_nano FROM (
  SELECT new_id AS vec_id, ex_id AS best_match_id,
         CAST(FLOOR(cos * 1e9 + 0.5) AS BIGINT) AS best_cosine_nano,
         COUNT(*) OVER (PARTITION BY new_id) AS n_corpus_matches,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY cos DESC, ex_id ASC) AS r
  FROM scored
) WHERE r = 1
ORDER BY vec_id
"""


def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup DECISION: SRP-blocked ANN pairs
    (cosine ≥ 0.4) → connected components (functions.dedup.
    min_label_propagation) → one representative (min vec_id) per cluster,
    every vector mapped (singletons to themselves). The embedding-space
    twin of dedup_clusters' token-LSH components; the keep-list a curation
    pass anti-joins against. Oracle: unrolled min-label rounds over the
    same plan-literal SRP pair graph."""
    from sdc_mapreduce_spark.functions.dedup import min_label_propagation
    from sdc_mapreduce_spark.functions.simsearch import embedding_near_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_pairs_blocked(emb, threshold=0.4, n_planes=6)
    return min_label_propagation(
        emb.select("vec_id"), pairs, id_col="vec_id"
    ).orderBy("vec_id")


def _min_label_rounds_sql(n_rounds: int, nodes: str, edges: str) -> str:
    """Connected components as UNROLLED min-label rounds with pointer
    jumping — replaces the old transitive-closure recursive CTE, which
    materialized O(component_size^2) rows (1,640 s and ~30 GB at the 10x
    corpus once the fixed embedding fixture made the 0.4-threshold pair
    graph one giant sparse random component; impossible at 100x).

    Round update: l'(v) = min(l(v), l(l(v)), min over in-neighbors' l) —
    neighbor propagation plus label-chain shortcutting, O(nodes + edges)
    rows per round, converging in O(log diameter) rounds when ids rise or
    fall along paths (a long shuffled-id chain needs far more; the Spark
    side uses large-star/small-star for that reason). Non-convergence
    is IMPOSSIBLE to pass silently: a poison row (-1, -1) is emitted if
    one more round would still change any label, which breaks the row
    count against the Spark side — raise ``n_rounds`` if that ever fires.
    Requires CTEs ``{nodes}(v)`` and ``{edges}(s, t)`` (directed both
    ways) in scope; defines ``labfin(v, l)``."""
    parts = [
        f""", lab0 AS MATERIALIZED (
  SELECT v, v AS l FROM {nodes}
)"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f""", lab{k} AS MATERIALIZED (
  SELECT v, MIN(l) AS l FROM (
    SELECT v, l FROM lab{k - 1}
    UNION ALL
    SELECT a.v, b.l FROM lab{k - 1} a JOIN lab{k - 1} b ON b.v = a.l
    UNION ALL
    SELECT e.t AS v, a.l FROM lab{k - 1} a JOIN {edges} e ON e.s = a.v
  ) GROUP BY v
)"""
        )
    last, prev = f"lab{n_rounds}", f"lab{n_rounds - 1}"
    parts.append(
        f""", labfin AS (
  SELECT v, l FROM {last}
  UNION ALL
  -- poison: fires only if round {n_rounds} still changed something,
  -- i.e. convergence is not proven; breaks row count loudly
  SELECT -1 AS v, -1 AS l
  WHERE EXISTS (
    SELECT 1 FROM {last} c JOIN {prev} p ON p.v = c.v AND p.l <> c.l
  )
)"""
    )
    return "".join(parts)


def _dedup_embedding_clusters_sql() -> str:
    # u/pairs MATERIALIZED: referenced from the label rounds below, DuckDB
    # 1.0 otherwise re-evaluates the unit-normalization lambda per
    # candidate inside the verify join (810 s / 30+ GB at the 10x corpus;
    # 38 s materialized). The old transitive-closure `reach` CTE is gone —
    # see _min_label_rounds_sql.
    return f"""
WITH RECURSIVE {srp_buckets_sql(6, materialized=True)}{_SRP_PAIR_CANDS}, pairs AS MATERIALIZED (
  {_SRP_VERIFY}
), edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), nodes AS (
  SELECT vec_id AS v FROM embeddings
){_min_label_rounds_sql(24, "nodes", "edges")}
SELECT v AS vec_id, l AS rep_id FROM labfin ORDER BY vec_id
"""


def _dedup_embedding_ann_sql() -> str:
    return f"""
WITH {srp_buckets_sql(6)}{_SRP_PAIR_CANDS}
{_SRP_VERIFY}
ORDER BY id_a, id_b
"""




def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the BERTopic/c-TF-IDF-style composition: name
    each multi-doc near-dup cluster by its top-3 characteristic terms.
    Composes near_dup_clusters (LSH pairs -> connected components) with a
    class-based TF-IDF: tf counts within the cluster, idf over the
    multi-doc cluster universe, the one ln quantized to integer milli-nats
    (the repo's transcendental discipline) so scores accumulate and rank as
    exact longs; ties break on the term. Singleton clusters are excluded —
    they are the corpus bulk and carry no labeling signal. All stages are
    combinable aggregates over O(cluster-terms) rows; the per-cluster
    ranking window touches only multi-doc clusters.

    Neither small-side join is hinted: ``sizes`` is cluster-count-scale
    and ``cdf`` is vocab-scale on a real corpus — the cardinality class
    text.py's max_vocab gate exists to bound — so the planner broadcasts
    each only under the session's byte threshold (AQE converting at
    runtime) and otherwise shuffle-joins with identical output (parity
    tested with broadcasts disabled)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    clusters = D.near_dup_clusters(
        docs, num_hashes=128, bands=32, n=3, threshold=0.8
    )
    # sizes and tf each feed two consumers (sizes: the member join and the
    # cluster count; tf: the cdf aggregate and the scoring join), so each
    # is persisted once instead of re-running the LSH/token-explode lineage
    sizes = pin(
        clusters.groupBy("rep_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2),
        StorageLevel.MEMORY_AND_DISK,
    )
    members = clusters.join(sizes, "rep_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), "\\s+")).alias("term"),
    )
    tf = pin(
        members.join(toks, "doc_id")
        .groupBy("rep_id", "n_docs", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        StorageLevel.MEMORY_AND_DISK,
    )
    cdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    ncl = sizes.agg(F.count(F.lit(1)).alias("n_clusters"))
    scored = (
        tf.join(cdf, "term")
        .crossJoin(F.broadcast(ncl))
        .withColumn(
            "score_milli",
            F.col("tf")
            * F.expr(
                "cast(round(ln(cast(n_clusters as double)"
                " / cast(cdf as double)) * 1000) as bigint)"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("rep_id").orderBy(
        F.col("score_milli").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("rep_id", "n_docs", "rank", "term", "tf", "score_milli")
        .orderBy("rep_id", "rank")
    )



def dedup_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage matrix — the curation diagnostic that tells you
    WHICH corpus sources duplicate each other (a crawl snapshot re-ingested
    under two names, a benchmark mirrored inside a crawl): near-dup pairs
    (MinHash-LSH + exact-Jaccard verify, the exhaustive-equivalent K=128 /
    32-band config) joined to each side's ``source`` and aggregated to an
    unordered (source_a <= source_b) pair-count matrix, diagonal included
    (within-source duplication). Scale shape: the pair set is the already
    hot-capped LSH output — corpus-scale work happens once in the LSH
    stage; the matrix aggregation is O(pairs) — the pair list meets the
    two doc→source attach joins unhinted, broadcast or shuffled as the
    planner and AQE decide from its byte size — and the output is
    O(sources²) rows. Building the frame starts no Spark job."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=128, bands=32, n=3, threshold=0.8
    ).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    attached = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
            ),
            "id_b",
        )
    )
    return (
        attached.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


DEDUP_SOURCE_LEAKAGE_SQL = f"""
WITH {_near_dup_pairs_sql(cols="source, ")}, srcd AS (
  SELECT doc_id, source FROM documents
)
SELECT LEAST(sa.source, sb.source) AS source_a,
       GREATEST(sa.source, sb.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN srcd sa ON sa.doc_id = p.id_a
JOIN srcd sb ON sb.doc_id = p.id_b
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


DEDUP_CLUSTER_LABELS_SQL = f"""
{_NEAR_DUP_COMP}, sizes AS (
  SELECT rep_id, COUNT(*) AS n_docs FROM comp GROUP BY rep_id
  HAVING COUNT(*) >= 2
), toksx AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT c.rep_id, s.n_docs, t.term, COUNT(*) AS tf
  FROM comp c JOIN sizes s USING (rep_id) JOIN toksx t USING (doc_id)
  GROUP BY 1, 2, 3
), cdf AS (
  SELECT term, COUNT(*) AS cdf FROM tf GROUP BY term
), ncl AS (
  SELECT COUNT(*) AS n_clusters FROM sizes
), scored AS (
  SELECT rep_id, n_docs, term, tf,
         tf * CAST(round(ln(CAST(n_clusters AS DOUBLE)
               / CAST(cdf AS DOUBLE)) * 1000) AS BIGINT) AS score_milli
  FROM tf JOIN cdf USING (term) CROSS JOIN ncl
)
SELECT rep_id, n_docs, CAST(rn AS INT) AS rank, term, tf, score_milli
FROM (SELECT *, row_number() OVER (PARTITION BY rep_id
        ORDER BY score_milli DESC, term ASC) AS rn FROM scored)
WHERE rn <= 3 ORDER BY rep_id, rank
"""



def dedup_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-SAFE train/test splitting — the composition that prevents
    the classic eval-contamination bug: hash-splitting documents
    independently lets near-duplicates straddle train and test (the model
    is then evaluated on paraphrases of its training data). Here the split
    key is the near-dup CLUSTER representative (near_dup_clusters: LSH
    pairs -> connected components), so every member of a cluster inherits
    one assignment and no verified near-dup pair can ever cross the
    boundary. The output PROVES it: per split (90/10 by rep_id content
    hash) — doc and cluster counts — plus two constant audit columns
    counting near-dup pairs whose endpoints landed in different splits
    under the safe assignment (structurally 0) and under the naive
    per-document hash with the same salt (>0 on any corpus with near-dups:
    the bug being prevented, quantified). Scale shape: clustering is the
    already hot-capped LSH + large-star/small-star components; the split tag
    and audits are O(docs) + O(pairs) joins, broadcast or shuffled as the
    planner and AQE decide from byte sizes."""
    from sdc_mapreduce_spark.functions.dedup import min_label_propagation
    from sdc_mapreduce_spark.functions.splits import split_column

    fractions = {"train": 0.9, "test": 0.1}
    salt = "cluster-split-v1"
    docs = load_table(spark, sf_dir, "documents")
    # ONE LSH pass (ADVICE r9: this query used to run the full MinHash
    # pipeline twice — once inside near_dup_clusters, again for the
    # straddle audit): compute the verified pair set once, pin it, feed it
    # to label propagation for the clustering AND reuse the same frame for
    # the straddle audit below.
    pairs = pin(
        D.minhash_lsh_pairs(
            docs, num_hashes=128, bands=32, n=3, threshold=0.8
        ).select("id_a", "id_b")
    )
    clusters = min_label_propagation(docs.select("doc_id"), pairs)
    tagged = pin(
        clusters.select(
            "doc_id",
            "rep_id",
            split_column("rep_id", fractions, salt).alias("split"),
            split_column("doc_id", fractions, salt).alias("naive_split"),
        )
    )
    sa = tagged.select(
        F.col("doc_id").alias("id_a"),
        F.col("split").alias("__spa"),
        F.col("naive_split").alias("__npa"),
    )
    sb = tagged.select(
        F.col("doc_id").alias("id_b"),
        F.col("split").alias("__spb"),
        F.col("naive_split").alias("__npb"),
    )
    straddle = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.sum((F.col("__spa") != F.col("__spb")).cast("long")).alias(
                "safe_straddle_pairs"
            ),
            F.sum((F.col("__npa") != F.col("__npb")).cast("long")).alias(
                "naive_straddle_pairs"
            ),
        )
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep_id").alias("n_clusters"),
    )
    return (
        per_split.crossJoin(F.broadcast(straddle))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("safe_straddle_pairs", F.lit(0)).alias(
                "safe_straddle_pairs"
            ),
            F.coalesce("naive_straddle_pairs", F.lit(0)).alias(
                "naive_straddle_pairs"
            ),
        )
        .orderBy("split")
    )


def _cluster_safe_split_sql() -> str:
    from sdc_mapreduce_spark.functions.splits import split_sql_case

    fractions = {"train": 0.9, "test": 0.1}
    case_rep = split_sql_case("rep_id", fractions, salt="cluster-split-v1")
    case_doc = split_sql_case("doc_id", fractions, salt="cluster-split-v1")
    return f"""
{_NEAR_DUP_COMP}, tagged AS (
  SELECT doc_id, rep_id,
         {case_rep} AS split,
         {case_doc} AS naive_split
  FROM comp
), straddle AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN ta.split <> tb.split THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS safe_straddle_pairs,
    CAST(COALESCE(SUM(CASE WHEN ta.naive_split <> tb.naive_split
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_straddle_pairs
  FROM pairs p
  JOIN tagged ta ON ta.doc_id = p.id_a
  JOIN tagged tb ON tb.doc_id = p.id_b
)
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT rep_id) AS n_clusters,
       ANY_VALUE(s.safe_straddle_pairs) AS safe_straddle_pairs,
       ANY_VALUE(s.naive_straddle_pairs) AS naive_straddle_pairs
FROM tagged CROSS JOIN straddle s
GROUP BY split
ORDER BY split
"""


DEDUP_CLUSTER_SAFE_SPLIT_SQL = _cluster_safe_split_sql()


QUERIES: dict[str, QuerySpec] = {
    "dedup_cluster_safe_split": QuerySpec(
        dedup_cluster_safe_split, DEDUP_CLUSTER_SAFE_SPLIT_SQL
    ),
    "dedup_cluster_labels": QuerySpec(
        dedup_cluster_labels, DEDUP_CLUSTER_LABELS_SQL
    ),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL),
    "dedup_normalized": QuerySpec(dedup_normalized, DEDUP_NORMALIZED_SQL),
    "dedup_incremental": QuerySpec(dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "dedup_bloom_prefilter": QuerySpec(
        dedup_bloom_prefilter, DEDUP_BLOOM_SQL, bench=True
    ),
    "dedup_incremental_minhash": QuerySpec(
        dedup_incremental_minhash, DEDUP_INCR_MINHASH_SQL
    ),
    "dedup_jaccard_pairs": QuerySpec(dedup_jaccard_pairs, _JACCARD_SQL),
    "dedup_jaccard_prefix": QuerySpec(dedup_jaccard_prefix, _JACCARD_SQL, bench=True),
    "dedup_sorted_neighborhood": QuerySpec(dedup_sorted_neighborhood, _SNM_SQL),
    "dedup_exact_substring": QuerySpec(
        dedup_exact_substring, DEDUP_EXACT_SUBSTRING_SQL, bench=True
    ),
    "graph_pagerank_neardup": QuerySpec(graph_pagerank_neardup, GRAPH_PAGERANK_SQL),
    "graph_triangle_stats": QuerySpec(graph_triangle_stats, GRAPH_TRIANGLE_SQL),
    "dedup_containment_pairs": QuerySpec(
        dedup_containment_pairs, DEDUP_CONTAINMENT_SQL
    ),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, _JACCARD_SQL, bench=True),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_clusters": QuerySpec(dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_keep_best": QuerySpec(dedup_keep_best, _dedup_keep_best_sql()),
    "dedup_cluster_sizes": QuerySpec(dedup_cluster_sizes, DEDUP_CLUSTER_SIZES_SQL),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, DEDUP_EMBEDDING_SQL),
    "dedup_embedding_ann": QuerySpec(
        dedup_embedding_ann, _dedup_embedding_ann_sql(), bench=True
    ),
    "dedup_incremental_embedding": QuerySpec(
        dedup_incremental_embedding, _dedup_incremental_embedding_sql()
    ),
    "dedup_streaming_embedding_certified": QuerySpec(
        dedup_streaming_embedding_certified, _dedup_incremental_embedding_sql()
    ),
    "dedup_incremental_embedding_index": QuerySpec(
        dedup_incremental_embedding_index, _dedup_incremental_embedding_sql()
    ),
    "dedup_source_leakage_matrix": QuerySpec(
        dedup_source_leakage_matrix, DEDUP_SOURCE_LEAKAGE_SQL
    ),
    "dedup_embedding_clusters": QuerySpec(
        dedup_embedding_clusters, _dedup_embedding_clusters_sql()
    ),
}
