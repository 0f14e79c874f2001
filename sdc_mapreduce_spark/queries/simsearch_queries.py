"""Similarity-search queries over the embeddings table
(functions.simsearch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.functions import simsearch as S
from sdc_mapreduce_spark.functions.simsearch import (
    _index_scored,
    _topk,
    quantization_audit,
)
from sdc_mapreduce_spark.queries.base import (
    QuerySpec,
    srp_buckets_sql,
    unit_vectors_sql,
)
from sdc_mapreduce_spark.queries.scratch import scratch

QUERY_IDS = list(range(10))
TOP_K = 5

# DuckDB dot-product fold used by several oracle twins below. Defined before
# any module-level f-string that interpolates it — f-strings evaluate at
# import time, so a use-before-definition is an ImportError for the whole
# package (round-7 postmortem).
_FOLD_DOT = """list_reduce(list_transform(range(1, len({a}) + 1),
                                    i -> {a}[i] * {b}[i]),
                     (x, y) -> x + y)"""


def simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors 0..9 (JVM path)."""
    return S.cosine_topk_bruteforce(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOP_K
    ).orderBy("query_id", "rank")


SIMSEARCH_TOPK_SQL = f"""
WITH u AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, u.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, u.v) AS cosine
  FROM q JOIN u ON u.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def simsearch_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (λ=0.7, pool=20) for query vectors 0..9 —
    greedy relevance-vs-redundancy reranking over a bounded candidate
    pool; pure integer arithmetic after micro-quantization, replayed by
    the oracle as k unrolled CTE steps."""
    return S.mmr_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        k=TOP_K,
        pool=20,
        lam_tenths=7,
    )


def _fold_unit_vectors_sql() -> str:
    """CTE ``u(vec_id, v)`` of the MMR oracles: unit vectors normalized by
    the left-to-right ``_FOLD_DOT`` norm (see _mmr_sql)."""
    unit_norm = _FOLD_DOT.format(
        a="(embedding::DOUBLE[])", b="(embedding::DOUBLE[])"
    )
    return f"""u AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> x / sqrt({unit_norm})) AS v
  FROM embeddings
)"""


def _mmr_pool_sql(pool: int) -> str:
    """CTEs ``pool(query_id, cand, rel)``, each query's top-``pool``
    candidates of ``sc(query_id, cand, cosine)`` with micro-quantized
    relevance, and ``psim(query_id, ca, cb, sim)``, their pairwise
    micro-quantized similarities."""
    return f""", pool AS MATERIALIZED (
  SELECT query_id, cand,
         CAST(ROUND(1000000.0 * cosine) AS BIGINT) AS rel
  FROM (
    SELECT query_id, cand, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand ASC) AS pr
    FROM sc) WHERE pr <= {pool}
), psim AS MATERIALIZED (
  SELECT p1.query_id, p1.cand AS ca, p2.cand AS cb,
         CAST(ROUND(1000000.0 * {_FOLD_DOT.format(a="v1.v", b="v2.v")})
              AS BIGINT) AS sim
  FROM pool p1
  JOIN pool p2 ON p2.query_id = p1.query_id AND p2.cand <> p1.cand
  JOIN u v1 ON v1.vec_id = p1.cand
  JOIN u v2 ON v2.vec_id = p2.cand
)"""


def _mmr_sql(k: int = TOP_K, pool: int = 20, lam: int = 7) -> str:
    """Unrolled greedy-MMR oracle: step i picks, per query, the candidate
    maximizing lam·rel − (10−lam)·max(sim to already-selected) over the
    micro-quantized cosines (ties to the smaller id). Plain CTEs — no
    recursion — because k is a compile-time literal of the query.

    Cosines follow the repo's oracle-twin convention (ADVICE r11):
    unit-normalize each vector, then the left-to-right ``_FOLD_DOT`` —
    the exact IEEE evaluation order of the Spark side's
    ``transform(v, x -> x / l2_norm)`` + left-fold ``dot`` — so both
    engines quantize identical doubles before the ×1e6 half-up rounding
    that feeds the integer greedy (no 1-ulp rank/pool-boundary flips)."""
    return f"""
WITH {_fold_unit_vectors_sql()}, q AS (
  SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 10
), sc AS (
  SELECT q.query_id, u.vec_id AS cand,
         {_FOLD_DOT.format(a="q.qv", b="u.v")} AS cosine
  FROM q JOIN u ON u.vec_id <> q.query_id
){_mmr_pool_sql(pool)}{_mmr_greedy_sql(k, lam)}
SELECT query_id, CAST(cand AS BIGINT) AS neighbor_id,
       CAST(mmr_rank AS INT) AS mmr_rank
FROM selall{k}"""


def _mmr_greedy_sql(k: int, lam: int) -> str:
    """The unrolled greedy-selection CTE chain shared by the brute-force
    and indexed MMR oracles: requires ``pool(query_id, cand, rel)`` and
    ``psim(query_id, ca, cb, sim)`` CTEs in scope; defines
    ``selall{k}(query_id, cand, mmr_rank)``."""
    parts = [
        """, sel1 AS (
  SELECT query_id, cand FROM (
    SELECT query_id, cand,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cand ASC) AS rn
    FROM pool) WHERE rn = 1
), selall1 AS (SELECT query_id, cand, 1 AS mmr_rank FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", step{i} AS (
  -- LEFT JOIN + COALESCE(maxsim, 0) mirrors the Spark greedy's
  -- max(..., default=0): a candidate with no recorded similarity to the
  -- selected set (degenerate single-candidate pool) scores with maxsim=0,
  -- so both engines emit min(k, pool) rows (ADVICE r11).
  SELECT p.query_id, p.cand,
         {lam} * p.rel - {10 - lam} * COALESCE(m.msim, 0) AS score
  FROM pool p
  LEFT JOIN (
    SELECT ps.query_id, ps.ca, MAX(ps.sim) AS msim
    FROM psim ps
    JOIN selall{i - 1} s ON s.query_id = ps.query_id AND s.cand = ps.cb
    GROUP BY ps.query_id, ps.ca
  ) m ON m.query_id = p.query_id AND m.ca = p.cand
  WHERE NOT EXISTS (SELECT 1 FROM selall{i - 1} x
                    WHERE x.query_id = p.query_id AND x.cand = p.cand)
), sel{i} AS (
  SELECT query_id, cand FROM (
    SELECT query_id, cand,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, cand ASC) AS rn
    FROM step{i}) WHERE rn = 1
), selall{i} AS (
  SELECT * FROM selall{i - 1}
  UNION ALL SELECT query_id, cand, {i} AS mmr_rank FROM sel{i}
)"""
        )
    return "".join(parts)


def simsearch_mmr_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-5 served FROM the persisted partition-pruned
    IVF index: build the seeded quantizer, write the index (corpus one
    directory per cell + centroids), probe it once and run
    ``mmr_topk(..., scored=...)`` on the probed candidates — the probe
    selects ``IVF_PROBE`` cells per query and scans only those directories
    (static ``__cell IN`` partition filter), so pool cost is
    |corpus|·n_probe/n_cells instead of |corpus|. The greedy rerank is
    unchanged (integer micro-unit arithmetic).

    The result carries a recall audit alongside the ranks:
    ``pool_hits20`` = how many of the indexed pool's 20 candidates appear
    in the exact brute-force pool, per query — so the quality of the
    approximate pool is itself oracle-verified, like
    simsearch_ann_ivf_index_recall. The DuckDB oracle replays the WHOLE
    pipeline from the corpus (seeded centroids → cell assignment → probe
    selection → in-cell pool → pairwise sims → unrolled greedy → brute
    pool overlap) on identical fold-dot doubles, so the approximate
    RESULT hash-matches, not just a recall floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=IVF_CELLS)
    assigned = S.assign_cells(emb, cents)
    with scratch(spark) as s:
        path = s.dir()
        S.write_ivf_index(assigned, cents, path)
        # one probe of the index feeds both the MMR pool and the audit pool
        scored = _index_scored(spark, path, QUERY_IDS, IVF_PROBE)
        mmr = S.mmr_topk(
            emb, QUERY_IDS, k=TOP_K, pool=20, lam_tenths=7, scored=scored
        )
        ivf_pool = _topk(scored.select("query_id", "neighbor_id", "cosine"), 20)
        brute_pool = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=20).select(
            "query_id", "neighbor_id"
        )
        hits = (
            ivf_pool.join(brute_pool, ["query_id", "neighbor_id"], "leftsemi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("int").alias("pool_hits20"))
        )
        result = (
            mmr.join(F.broadcast(hits), "query_id", "left")
            .select(
                "query_id",
                "neighbor_id",
                "mmr_rank",
                F.coalesce(F.col("pool_hits20"), F.lit(0))
                .cast("int")
                .alias("pool_hits20"),
            )
            .orderBy("query_id", "mmr_rank")
        )
        return s.local(result)


def _mmr_indexed_sql(k: int = TOP_K, pool: int = 20, lam: int = 7) -> str:
    """Oracle twin of simsearch_mmr_indexed: replays seeded centroids,
    argmax cell assignment (ties to the lower cell), per-query probe
    selection, the in-cell candidate pool, and the unrolled greedy — all
    on fold-dot unit-vector doubles — then the brute-pool overlap audit.
    Called at module bottom (after IVF_CELLS/IVF_PROBE are defined)."""
    prefix = f"""
WITH {_fold_unit_vectors_sql()}, cent AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM u WHERE vec_id < {IVF_CELLS}
), assigned AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT u.vec_id, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY u.vec_id
                              ORDER BY {_FOLD_DOT.format(a="u.v", b="cent.c")} DESC,
                                       cent.cell ASC) AS r
    FROM u CROSS JOIN cent) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 10
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_FOLD_DOT.format(a="q.qv", b="cent.c")} DESC,
                                       cent.cell ASC) AS r
    FROM q CROSS JOIN cent) WHERE r <= {IVF_PROBE}
), sc AS (
  SELECT q.query_id, u.vec_id AS cand,
         {_FOLD_DOT.format(a="q.qv", b="u.v")} AS cosine
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN assigned a ON a.cell = p.cell
  JOIN u ON u.vec_id = a.vec_id
  WHERE u.vec_id <> q.query_id
){_mmr_pool_sql(pool)}"""
    audit_final = f"""
, bsc AS (
  SELECT q.query_id, u.vec_id AS cand,
         {_FOLD_DOT.format(a="q.qv", b="u.v")} AS cosine
  FROM q JOIN u ON u.vec_id <> q.query_id
), bpool AS MATERIALIZED (
  SELECT query_id, cand FROM (
    SELECT query_id, cand,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand ASC) AS pr
    FROM bsc) WHERE pr <= {pool}
), hits AS (
  SELECT p.query_id, COUNT(*) AS n_hits
  FROM pool p JOIN bpool b ON b.query_id = p.query_id AND b.cand = p.cand
  GROUP BY p.query_id
)
SELECT s.query_id, CAST(s.cand AS BIGINT) AS neighbor_id,
       CAST(s.mmr_rank AS INT) AS mmr_rank,
       CAST(COALESCE(h.n_hits, 0) AS INT) AS pool_hits20
FROM selall{k} s LEFT JOIN hits h ON h.query_id = s.query_id
"""
    return prefix + _mmr_greedy_sql(k, lam) + audit_final


def simsearch_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/BLAS exact path (mapInPandas + broadcast query matrix +
    per-batch partial top-k) — must produce the same answer as the JVM
    brute-force path, so it shares that oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(emb.vec_id.isin(QUERY_IDS)).collect()
    ]
    return S.cosine_topk_pandas(emb, queries, k=TOP_K).orderBy("query_id", "rank")


def simsearch_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection buckets — candidates
    restricted to the query's bucket (+1-bit multi-probes). Fully
    oracle-checked since round 5: the seeded hyperplanes are plan
    literals, so DuckDB replays bucketing, probing, and the in-bucket
    ranking and the approximate RESULT ITSELF hash-matches (not just its
    recall twin)."""
    return S.cosine_topk_srp(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        k=TOP_K,
        n_planes=6,
    ).orderBy("query_id", "rank")


def simsearch_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index (coarse-quantizer cells +
    multi-cell probing) — the classic disk-oriented ANN layout: per-query
    work is |corpus| * n_probe / n_cells instead of |corpus|. Uses the
    deterministic ``seeded_centroids`` coarse quantizer so the full
    pipeline (cell assignment → probe selection → in-cell exact ranking)
    replays in the DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=IVF_CELLS)
    return S.cosine_topk_ivf(
        emb, QUERY_IDS, cents, k=TOP_K, n_probe=IVF_PROBE
    ).orderBy("query_id", "rank")


def _recall_vs_exact(ann: DataFrame, exact: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k; ``k``
    must match the k both inputs were built with (it is the denominator)."""
    from pyspark.sql import functions as F

    hits = (
        ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce(F.col("__n"), F.lit(0)) / F.lit(k)).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def simsearch_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SRP-LSH approximate search against the exact
    brute-force top-k, per query — the ANN quality metric as a first-class,
    oracle-checkable query (exact integer hit counts, deterministic seeded
    hyperplanes). The oracle replays the same bucketing in DuckDB from the
    same plane literals, so recall itself is verified cross-engine, not just
    asserted in unit tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.cosine_topk_srp(emb, QUERY_IDS, k=TOP_K, n_planes=ANN_PLANES)
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=TOP_K)
    return _recall_vs_exact(ann, exact)


IVF_CELLS = 8
IVF_PROBE = 4


def simsearch_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF search against the exact top-k, fully
    oracle-checked: the coarse quantizer is the deterministic
    ``seeded_centroids`` (unit vectors of the first n_cells corpus ids), so
    DuckDB replays the whole pipeline — cell assignment (argmax cosine,
    ties to lowest cell), probe selection (top n_probe cells per query),
    in-cell exact cosine ranking, and the recall arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=IVF_CELLS)
    ann = S.cosine_topk_ivf(emb, QUERY_IDS, cents, k=TOP_K, n_probe=IVF_PROBE)
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=TOP_K)
    return _recall_vs_exact(ann, exact)


# Oracle fragments of the approximate-search twins below. Each needs
# u(vec_id, unit) in scope.


def _ivf_cands_sql(cands: str) -> str:
    """IVF replay: ``cent(cell, c)``, the seeded centroids (unit vectors of
    the first IVF_CELLS ids); ``assigned(vec_id, cell)``, each vector's
    argmax cell (ties to the lower cell); ``probes(query_id, cell)``, each
    query's top IVF_PROBE cells; ``{cands}(query_id, neighbor_id)``, the
    members of the probed cells."""
    return f""", cent AS (
  SELECT CAST(vec_id AS INT) AS cell, unit AS c FROM u WHERE vec_id < {IVF_CELLS}
), assigned AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT u.vec_id, cent.cell,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id
             ORDER BY list_inner_product(u.unit, cent.c) DESC, cent.cell ASC
           ) AS r
    FROM u CROSS JOIN cent
  ) WHERE r = 1
), probes AS (
  SELECT query_id, cell FROM (
    SELECT u.vec_id AS query_id, cent.cell,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id
             ORDER BY list_inner_product(u.unit, cent.c) DESC, cent.cell ASC
           ) AS r
    FROM u CROSS JOIN cent WHERE u.vec_id < 10
  ) WHERE r <= {IVF_PROBE}
), {cands} AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)"""


# Exact-cosine rank of every cands(query_id, neighbor_id) row per query.
_RANKED_CANDS = """
    SELECT c.query_id, c.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY list_inner_product(qu.unit, nu.unit) DESC,
                      c.neighbor_id ASC) AS rank
    FROM cands c
    JOIN u qu ON qu.vec_id = c.query_id
    JOIN u nu ON nu.vec_id = c.neighbor_id"""

# ann(query_id, neighbor_id): the top TOP_K candidates per query.
_ANN_TOPK = f""", ann AS (
  SELECT query_id, neighbor_id FROM ({_RANKED_CANDS}
  ) WHERE rank <= {TOP_K}
)"""

# The same top-k as the query result.
_ANN_TOPK_RESULT = f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM ({_RANKED_CANDS}
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

# Per-query recall@k of ann(query_id, neighbor_id) against the exact
# top-k, as the query result (the twin of _recall_vs_exact).
_RECALL_AT_K = f""", exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.vec_id AS query_id, u2.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q2.vec_id
             ORDER BY list_inner_product(q2.unit, u2.unit) DESC,
                      u2.vec_id ASC) AS rank
    FROM u q2 JOIN u u2 ON u2.vec_id <> q2.vec_id
    WHERE q2.vec_id < 10
  ) WHERE rank <= {TOP_K}
), h AS (
  SELECT a.query_id, COUNT(*) AS n
  FROM ann a JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY a.query_id
)
SELECT eq.query_id,
       CAST(COALESCE(h.n, 0) AS INT) AS n_hits,
       COALESCE(h.n, 0) / {TOP_K}.0 AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) eq
LEFT JOIN h ON h.query_id = eq.query_id
ORDER BY eq.query_id
"""

SIMSEARCH_ANN_IVF_RECALL_SQL = f"""
WITH {unit_vectors_sql(materialized=True)}{_ivf_cands_sql("cands")}{_ANN_TOPK}{_RECALL_AT_K}"""

SIMSEARCH_ANN_IVF_SQL = f"""
WITH {unit_vectors_sql(materialized=True)}{_ivf_cands_sql("cands")}{_ANN_TOPK_RESULT}"""


PQ_SUB = 4
PQ_CODES = 8

# Shared CTE prefix: unit vectors, sampled codebooks (subvectors of the
# first PQ_CODES corpus unit vectors; dim is 64 at every fixture SF so each
# of the 4 subspaces spans 16 dims), and the PQ encoding (per-vector,
# per-subspace argmin of cc - 2*<x_s, cw>, ties to the lowest code id).
_PQ_CTES = f"""
WITH {unit_vectors_sql(materialized=True)}, cbn AS (
  SELECT s.i AS sub, CAST(vec_id AS INT) AS code,
         u.unit[(s.i*16+1):((s.i+1)*16)] AS cw,
         list_inner_product(u.unit[(s.i*16+1):((s.i+1)*16)],
                            u.unit[(s.i*16+1):((s.i+1)*16)]) AS cc
  FROM u, range({PQ_SUB}) s(i) WHERE vec_id < {PQ_CODES}
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT u.vec_id, c.sub, c.code,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id, c.sub
             ORDER BY c.cc - 2*list_inner_product(
                        u.unit[(c.sub*16+1):((c.sub+1)*16)], c.cw) ASC,
                      c.code ASC) AS r
    FROM u CROSS JOIN cbn c
  ) WHERE r = 1
)"""


def simsearch_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ encoder itself, oracle-certified on every vector: the
    deterministic sampled codebooks (functions.simsearch.pq_codebooks)
    make the per-subspace argmin replayable in DuckDB, so the full code
    table — the thing a 100 TB deployment persists at m_sub bytes/vector —
    hash-matches cross-engine as integers."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = S.pq_codebooks(emb, m_sub=PQ_SUB, n_codes=PQ_CODES)
    enc = S.pq_encode(emb, cbs, m_sub=PQ_SUB)
    from pyspark.sql import functions as F

    return enc.select(
        "vec_id",
        *[
            F.element_at("__codes", i + 1).alias(f"c{i}")
            for i in range(PQ_SUB)
        ],
    ).orderBy("vec_id")


SIMSEARCH_PQ_CODES_SQL = f"""{_PQ_CTES}
SELECT vec_id,
       MAX(CASE WHEN sub = 0 THEN code END) AS c0,
       MAX(CASE WHEN sub = 1 THEN code END) AS c1,
       MAX(CASE WHEN sub = 2 THEN code END) AS c2,
       MAX(CASE WHEN sub = 3 THEN code END) AS c3
FROM enc GROUP BY vec_id ORDER BY vec_id
"""


def simsearch_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC search (functions.simsearch.cosine_topk_pq)
    against exact brute force, fully oracle-checked: DuckDB replays
    codebook sampling, encoding, the fixed-order ADC sum (explicitly
    parenthesized to match Spark's left fold bitwise), ranking, and the
    recall arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.cosine_topk_pq(
        emb, QUERY_IDS, k=TOP_K, m_sub=PQ_SUB, n_codes=PQ_CODES
    )
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=TOP_K)
    return _recall_vs_exact(ann, exact)


# adc(query_id, neighbor_id, score): the fixed-order sum of the per-subspace
# ADC scores persub(query_id, neighbor_id, sub, s), explicitly parenthesized
# to match Spark's left fold bitwise; ann: the top TOP_K per query by score.
_ADC_ANN = f""", adc AS (
  SELECT query_id, neighbor_id,
         ((MAX(CASE WHEN sub = 0 THEN s END)
           + MAX(CASE WHEN sub = 1 THEN s END))
          + MAX(CASE WHEN sub = 2 THEN s END))
         + MAX(CASE WHEN sub = 3 THEN s END) AS score
  FROM persub GROUP BY 1, 2
), ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {TOP_K}
)"""

SIMSEARCH_ANN_PQ_RECALL_SQL = f"""{_PQ_CTES}
, persub AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.sub,
         list_inner_product(q.unit[(e.sub*16+1):((e.sub+1)*16)], c.cw) AS s
  FROM enc e
  JOIN cbn c ON c.sub = e.sub AND c.code = e.code
  CROSS JOIN u q
  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
){_ADC_ANN}{_RECALL_AT_K}"""


def simsearch_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVFPQ search (functions.simsearch.
    cosine_topk_ivfpq): IVF probing prunes candidates, PQ/ADC scores them
    from codes alone — the FAISS-style serving plan for billion-vector
    corpora. Both quantizers are the deterministic sampled ones, so DuckDB
    replays cell assignment, probe selection, encoding, ADC ranking and
    the recall arithmetic end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=IVF_CELLS)
    ann = S.cosine_topk_ivfpq(
        emb,
        QUERY_IDS,
        cents,
        k=TOP_K,
        n_probe=IVF_PROBE,
        m_sub=PQ_SUB,
        n_codes=PQ_CODES,
    )
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=TOP_K)
    return _recall_vs_exact(ann, exact)


SIMSEARCH_ANN_IVFPQ_RECALL_SQL = f"""{_PQ_CTES}
{_ivf_cands_sql("cand")}, persub AS (
  SELECT c.query_id, c.neighbor_id, e.sub,
         list_inner_product(qu.unit[(e.sub*16+1):((e.sub+1)*16)], cb2.cw) AS s
  FROM cand c
  JOIN enc e ON e.vec_id = c.neighbor_id
  JOIN cbn cb2 ON cb2.sub = e.sub AND cb2.code = e.code
  JOIN u qu ON qu.vec_id = c.query_id
){_ADC_ANN}{_RECALL_AT_K}"""


def simsearch_ann_ivf_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-IVF-index path, recall-checked end-to-end: build the
    seeded quantizer, write the index (corpus partitioned one directory per
    cell + centroids), then serve top-k FROM DISK with static partition
    pruning (cosine_topk_ivf_from_index) and score recall against exact
    brute force. Same centroids ⇒ same answer as the in-memory IVF path, so
    it shares SIMSEARCH_ANN_IVF_RECALL_SQL — the driver hash certifies that
    the round-trip through the pruned on-disk layout loses nothing."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=IVF_CELLS)
    assigned = S.assign_cells(emb, cents)
    # a fresh index dir per invocation: concurrent runs of this query (the
    # job server executes registered queries on worker threads) must never
    # overwrite each other's index mid-read
    with scratch(spark) as s:
        path = s.dir()
        S.write_ivf_index(assigned, cents, path)
        ann = S.cosine_topk_ivf_from_index(
            spark, path, QUERY_IDS, k=TOP_K, n_probe=IVF_PROBE
        )
        exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=TOP_K)
        return s.local(_recall_vs_exact(ann, exact))


ANN_PLANES = 6


# SRP probe replay: q(query_id, bucket) for the query vectors,
# qprobes(query_id, probe) their home and 1-bit-adjacent buckets, and
# cands(query_id, neighbor_id) the probed buckets' members.
_SRP_CANDS = """, q AS (
  SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < 10
), qprobes AS (
  SELECT query_id, bucket AS probe FROM q
  UNION ALL
  SELECT query_id, xor(bucket, CAST(1 << pid AS BIGINT)) AS probe
  FROM q CROSS JOIN planes
), cands AS (
  SELECT DISTINCT qp.query_id, b.vec_id AS neighbor_id
  FROM qprobes qp JOIN b ON b.bucket = qp.probe
  WHERE b.vec_id <> qp.query_id
)"""

SIMSEARCH_ANN_RECALL_SQL = f"""
WITH {srp_buckets_sql(ANN_PLANES)}{_SRP_CANDS}{_ANN_TOPK}{_RECALL_AT_K}"""

# Full oracle for simsearch_ann_srp itself (not just its recall): the same
# plane/bucket/probe/candidate replay as SIMSEARCH_ANN_RECALL_SQL, with the
# ANN ranking as the final output. n_planes/multi-probe match the
# registered query's parameters exactly.
SIMSEARCH_ANN_SRP_SQL = f"""
WITH {srp_buckets_sql(ANN_PLANES)}{_SRP_CANDS}{_ANN_TOPK_RESULT}"""


def embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embeddings table, audited with
    integer-exact per-vector moments (functions.simsearch.quantization_audit)
    — the 4x-compression storage/serving form. Every quantized element's
    arithmetic is pinned cross-engine through qsum/qnorm2; half-up rounding
    is explicit floor(x/scale + 0.5) in both engines. Zero-LENGTH vectors
    are dropped identically on both sides (a fold over an empty list is 0.0
    in Spark but NULL via DuckDB list_aggregate — filtering malformed
    empties is the cross-engine-stable treatment; zero-VALUED vectors of
    normal length still flow through the scale=0 guard)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    return quantization_audit(emb.filter(F.size("embedding") > 0)).orderBy("vec_id")


EMBEDDING_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
  WHERE len(embedding) > 0
), s AS (
  SELECT vec_id, x,
         list_aggregate(list_transform(x, e -> abs(e)), 'max') / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0
              THEN list_transform(x, e -> 0)
              ELSE list_transform(
                     x, e -> CAST(GREATEST(-127, LEAST(127,
                              FLOOR(e / scale + 0.5))) AS INT))
         END AS qv
  FROM s
)
SELECT vec_id, scale,
       list_aggregate(qv, 'min') AS qmin,
       list_aggregate(qv, 'max') AS qmax,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS qsum,
       CAST(list_aggregate(list_transform(qv, e -> e * e), 'sum') AS BIGINT)
         AS qnorm2
FROM q
ORDER BY vec_id
"""


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms aggregated per label: norm is an exact left-fold +
    IEEE sqrt; the group average goes through decimal accumulation."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.queries.base import davg

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(S.dot(v, v))
    return (
        emb.select("label", norm.alias("__norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            davg("__norm", "avg_norm", scale=8),
        )
        .orderBy("label")
    )


EMBEDDING_STATS_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))
           AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
       CAST(SUM(CAST(nrm AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS avg_norm
FROM n GROUP BY label ORDER BY label
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style per-cluster ranking (functions.simsearch.
    label_centroid_rank): decimal-exact centroids per label, every vector's
    cosine to its own centroid, rank within label. Both the doubles and
    the ranking hash-verify cross-engine."""
    return S.label_centroid_rank(load_table(spark, sf_dir, "embeddings")).orderBy(
        "vec_id"
    )


# e(vec_id, label, v) and comps(label, pos, val): every embedding
# coordinate, keyed by label, for the per-label centroid oracles.
_LABEL_COMPS = """e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), comps AS (
  SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS val FROM e
)"""

EMBEDDING_LABEL_CENTROIDS_SQL = f"""
WITH {_LABEL_COMPS}, cs AS (
  -- floor-quantized nano-unit accumulation: exact integers, no
  -- double->decimal cast (whose rounding is engine-dependent)
  SELECT label, pos,
         CAST(SUM(CAST(floor(val * 1e9) AS BIGINT)) AS DOUBLE)
           / (1e9 * COUNT(*)) AS c
  FROM comps GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY pos) AS cv FROM cs GROUP BY label
), scored AS (
  -- dot products as explicit left folds (list_reduce) so the accumulation
  -- order matches Spark's aggregate() bitwise; list_inner_product sums in
  -- a different order and drifts by ~1 ULP, which a full-precision hash
  -- of the double catches
  SELECT e.vec_id, e.label,
         list_reduce(list_transform(range(1, len(e.v) + 1),
                                    i -> e.v[i] * cent.cv[i]),
                     (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, len(e.v) + 1),
                                            i -> e.v[i] * e.v[i]),
                             (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, len(cent.cv) + 1),
                                              i -> cent.cv[i] * cent.cv[i]),
                               (x, y) -> x + y))) AS cos_to_centroid
  FROM e JOIN cent USING (label)
)
SELECT vec_id, label, cos_to_centroid,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cos_to_centroid DESC, vec_id ASC)
            AS INT) AS rank_in_label
FROM scored ORDER BY vec_id
"""


def embedding_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-style label-quality audit (functions.simsearch.
    label_silhouette_audit): per label, mean cosine to the own centroid vs
    the best foreign centroid and the separation gap — the go/no-go report
    on whether a labeling is geometrically coherent enough to use as topic
    buckets. Nano-quantized sums make all three doubles exact-integer
    divisions that replay in the oracle."""
    return S.label_silhouette_audit(load_table(spark, sf_dir, "embeddings"))


EMBEDDING_LABEL_SILHOUETTE_SQL = f"""
WITH {_LABEL_COMPS}, cs AS (
  SELECT label, pos,
         SUM(CAST(FLOOR(val * 1e9) AS BIGINT)) AS s, COUNT(*) AS n
  FROM comps GROUP BY 1, 2
), cent AS (
  SELECT label AS cand, list(CAST(s AS DOUBLE) / (1e9 * n) ORDER BY pos) AS cv
  FROM cs GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label, c.cand,
         {_FOLD_DOT.format(a="e.v", b="c.cv")}
         / (sqrt({_FOLD_DOT.format(a="e.v", b="e.v")})
            * sqrt({_FOLD_DOT.format(a="c.cv", b="c.cv")})) AS cos
  FROM e CROSS JOIN cent c
), per_vec AS (
  SELECT vec_id, label,
         MAX(CASE WHEN cand = label THEN cos END) AS own,
         MAX(CASE WHEN cand <> label THEN cos END) AS other
  FROM scored GROUP BY 1, 2
)
SELECT label, COUNT(*) AS n_vectors,
       CAST(SUM(CAST(FLOOR(own * 1e9) AS BIGINT)) AS DOUBLE)
         / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_own_cos,
       CAST(SUM(CAST(FLOOR(other * 1e9) AS BIGINT)) AS DOUBLE)
         / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_other_cos,
       CAST(SUM(CAST(FLOOR(own * 1e9) AS BIGINT)) AS DOUBLE)
         / (1e9 * CAST(COUNT(*) AS DOUBLE))
       - CAST(SUM(CAST(FLOOR(other * 1e9) AS BIGINT)) AS DOUBLE)
         / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS separation
FROM per_vec GROUP BY label ORDER BY label
"""


def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit (functions.simsearch.
    nearest_centroid_classify): every embedding assigned to its
    argmax-cosine label centroid, aggregated into the confusion matrix
    (label, pred_label, n_vectors, is_correct) — topic-routing inference
    plus its quality report in one pass. Centroid doubles are nano-unit
    integer sums, so the assignment replays exactly in the oracle."""
    from sdc_mapreduce_spark.functions.simsearch import nearest_centroid_classify

    assigned = nearest_centroid_classify(load_table(spark, sf_dir, "embeddings"))
    return (
        assigned.groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .withColumn("is_correct", F.col("label") == F.col("pred_label"))
        .orderBy("label", "pred_label")
    )


EMBEDDING_NEAREST_CENTROID_SQL = f"""
WITH {_LABEL_COMPS}, cs AS (
  SELECT label, pos,
         CAST(SUM(CAST(floor(val * 1e9) AS BIGINT)) AS DOUBLE)
           / (1e9 * COUNT(*)) AS c
  FROM comps GROUP BY 1, 2
), cent AS (
  SELECT label AS cand, list(c ORDER BY pos) AS cv FROM cs GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label, cent.cand,
         {_FOLD_DOT.format(a="e.v", b="cent.cv")}
         / (sqrt({_FOLD_DOT.format(a="e.v", b="e.v")})
            * sqrt({_FOLD_DOT.format(a="cent.cv", b="cent.cv")})) AS cos
  FROM e CROSS JOIN cent
), ranked AS (
  SELECT vec_id, label, cand,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cand ASC) AS rn
  FROM scored
)
SELECT label, CAST(cand AS INT) AS pred_label, COUNT(*) AS n_vectors,
       label = cand AS is_correct
FROM ranked WHERE rn = 1
GROUP BY label, cand
ORDER BY label, pred_label
"""


def simsearch_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search (functions.simsearch.cosine_range_search): every
    neighbor within cosine ≥ 0.25 of query vectors 0..9 — the data-
    dependent-result-size companion to top-k; no ranking window, membership
    is a scan-local predicate."""
    return S.cosine_range_search(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, threshold=0.25
    ).orderBy("query_id", "neighbor_id")


SIMSEARCH_RANGE_SQL = """
WITH u AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 10
)
SELECT q.query_id, u.vec_id AS neighbor_id
FROM q JOIN u ON u.vec_id <> q.query_id
WHERE list_cosine_similarity(q.qv, u.v) >= 0.25
ORDER BY query_id, neighbor_id
"""


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration (functions.simsearch.
    power_iteration_top_component): 3 iterations toward the dominant
    right-singular vector of the embedding matrix, every iteration's
    matrix-vector product an order-free micro-quantized aggregate — the
    whole fixed-point unrolls in the oracle's SQL, so distributed linear
    algebra itself is hash-verified."""
    from sdc_mapreduce_spark.functions.simsearch import (
        power_iteration_top_component,
    )

    return power_iteration_top_component(
        load_table(spark, sf_dir, "embeddings"), iterations=3
    ).orderBy("pos")


def _power_iteration_sql(dim: int = 64, iterations: int = 3) -> str:
    v0 = 10**9 // dim
    parts = [
        f"""
WITH e AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings
), vl0 AS (
  SELECT list_transform(range({dim}), j -> CAST({v0} AS DOUBLE) / 1e9) AS vl
)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(
            f""", s{k} AS (
  SELECT e.v,
         list_reduce(list_transform(range(1, {dim} + 1),
                                    j -> e.v[j] * vl{p}.vl[j]),
                     (a, b) -> a + b) AS s
  FROM e, vl{p}
), w{k} AS (
  SELECT u.j AS pos,
         SUM(CAST(FLOOR(s.s * s.v[u.j + 1] * 1e6) AS BIGINT)) AS w
  FROM s{k} s, range({dim}) u(j)
  GROUP BY u.j
), n{k} AS (
  SELECT SUM(w * w) AS n2 FROM w{k}
), v{k} AS (
  SELECT pos,
         CAST(FLOOR(CAST(w AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) * 1e9)
              AS BIGINT) AS vn
  FROM w{k}, n{k}
), vl{k} AS (
  SELECT list(CAST(vn AS DOUBLE) / 1e9 ORDER BY pos) AS vl FROM v{k}
)"""
        )
    parts.append(
        f"""
SELECT CAST(pos AS INT) AS pos, vn AS component_nano
FROM v{iterations}
ORDER BY pos
"""
    )
    return "".join(parts)


EMBEDDING_POWER_ITERATION_SQL = _power_iteration_sql()


def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd step of spherical k-means (functions.simsearch.
    kmeans_lloyd_step, 8 cells): argmax-cosine assignment + nano-quantized
    centroid update + per-cell shift metric — the EM-style clustering
    iteration, hash-verified end to end (assignment, update, and shift all
    replay in the oracle)."""
    from sdc_mapreduce_spark.functions.simsearch import kmeans_lloyd_step

    return kmeans_lloyd_step(
        load_table(spark, sf_dir, "embeddings"), n_cells=8
    ).orderBy("cell")


EMBEDDING_KMEANS_STEP_SQL = f"""
WITH {unit_vectors_sql(materialized=True)}, cents AS (
  SELECT CAST(vec_id AS INT) AS cell, unit AS centroid FROM u WHERE vec_id < 8
), scored AS (
  SELECT u.vec_id, c.cell,
         {_FOLD_DOT.format(a="u.unit", b="c.centroid")} AS sc
  FROM u CROSS JOIN cents c
), asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sc DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1
), comps AS (
  SELECT a.cell, p.j AS pos, u.unit[p.j + 1] AS val
  FROM asg a JOIN u USING (vec_id), range(64) p(j)
), cs AS (
  SELECT cell, pos,
         SUM(CAST(FLOOR(val * 1e9) AS BIGINT)) AS s, COUNT(*) AS n
  FROM comps GROUP BY 1, 2
), newc AS (
  SELECT cell, list(CAST(s AS DOUBLE) / (1e9 * n) ORDER BY pos) AS nc
  FROM cs GROUP BY cell
), cnt AS (
  SELECT cell, COUNT(*) AS n_members FROM asg GROUP BY cell
)
SELECT newc.cell, cnt.n_members,
       {_FOLD_DOT.format(a="newc.nc", b="cents.centroid")}
       / (sqrt({_FOLD_DOT.format(a="newc.nc", b="newc.nc")})
          * sqrt({_FOLD_DOT.format(a="cents.centroid", b="cents.centroid")}))
         AS cos_shift
FROM newc
JOIN cents ON newc.cell = cents.cell
JOIN cnt ON cnt.cell = newc.cell
ORDER BY newc.cell
"""


QUERIES: dict[str, QuerySpec] = {
    # the Arrow/BLAS path is the bench entry (~3x the JVM higher-order
    # -function form at bench SF, identical results/oracle)
    "simsearch_topk": QuerySpec(simsearch_topk, SIMSEARCH_TOPK_SQL),
    "simsearch_mmr": QuerySpec(simsearch_mmr, _mmr_sql()),
    "simsearch_mmr_indexed": QuerySpec(simsearch_mmr_indexed, _mmr_indexed_sql()),
    "embedding_nearest_centroid": QuerySpec(
        embedding_nearest_centroid, EMBEDDING_NEAREST_CENTROID_SQL
    ),
    "simsearch_range_search": QuerySpec(
        simsearch_range_search, SIMSEARCH_RANGE_SQL
    ),
    "embedding_power_iteration": QuerySpec(
        embedding_power_iteration, EMBEDDING_POWER_ITERATION_SQL
    ),
    "embedding_kmeans_step": QuerySpec(
        embedding_kmeans_step, EMBEDDING_KMEANS_STEP_SQL
    ),
    "simsearch_topk_arrow": QuerySpec(
        simsearch_topk_arrow, SIMSEARCH_TOPK_SQL, bench=True
    ),
    "simsearch_ann_srp": QuerySpec(simsearch_ann_srp, SIMSEARCH_ANN_SRP_SQL),
    "simsearch_ann_recall": QuerySpec(simsearch_ann_recall, SIMSEARCH_ANN_RECALL_SQL),
    "simsearch_ann_ivf": QuerySpec(simsearch_ann_ivf, SIMSEARCH_ANN_IVF_SQL),
    "simsearch_ann_ivf_recall": QuerySpec(
        simsearch_ann_ivf_recall, SIMSEARCH_ANN_IVF_RECALL_SQL
    ),
    "simsearch_ann_ivf_index_recall": QuerySpec(
        simsearch_ann_ivf_index_recall, SIMSEARCH_ANN_IVF_RECALL_SQL
    ),
    "simsearch_pq_codes": QuerySpec(simsearch_pq_codes, SIMSEARCH_PQ_CODES_SQL),
    "simsearch_ann_pq_recall": QuerySpec(
        simsearch_ann_pq_recall, SIMSEARCH_ANN_PQ_RECALL_SQL
    ),
    "simsearch_ann_ivfpq_recall": QuerySpec(
        simsearch_ann_ivfpq_recall, SIMSEARCH_ANN_IVFPQ_RECALL_SQL
    ),
    "embedding_stats": QuerySpec(embedding_stats, EMBEDDING_STATS_SQL),
    "embedding_quantize_audit": QuerySpec(
        embedding_quantize_audit, EMBEDDING_QUANTIZE_SQL
    ),
    "embedding_label_centroids": QuerySpec(
        embedding_label_centroids, EMBEDDING_LABEL_CENTROIDS_SQL
    ),
    "embedding_label_silhouette": QuerySpec(
        embedding_label_silhouette, EMBEDDING_LABEL_SILHOUETTE_SQL
    ),
}
