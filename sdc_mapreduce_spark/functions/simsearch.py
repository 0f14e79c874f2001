"""Similarity search over embedding columns (``array<float>``).

Three tiers, by scale:

- **brute-force top-k (JVM)**: broadcast the (small) query set against the
  corpus, cosine via ``zip_with``/``aggregate`` higher-order functions —
  zero Python, exact results; right whenever |queries| x |corpus| pairs fit
  a shuffle (the corpus is never collected).
- **brute-force top-k (Arrow/numpy)**: ``mapInPandas`` with a broadcast
  query matrix and a BLAS matmul per Arrow batch, emitting per-batch partial
  top-k then reducing — the high-throughput exact path for large corpora.
- **LSH/IVF bucketed ANN**: sign-random-projection bucket per vector
  (deterministic seeded hyperplanes), equi-join queries to bucket inmates,
  exact cosine within bucket — candidate count ≪ n, the 100 TB path.

Cosine math is done in float64 with a left-fold accumulation so results are
deterministic and reproducible across engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sdc_mapreduce_spark.cache import pin
from sdc_mapreduce_spark.operators.relational import top_k_per_group

RNG_SEED = 42


def _as_double(col) -> "F.Column":
    return col.cast("array<double>")


def dot(a, b) -> "F.Column":
    """Left-fold dot product, JVM-side: aggregate(zip_with(a, b, *), 0.0, +)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(col) -> "F.Column":
    return F.sqrt(dot(col, col))


def with_unit_vectors(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    v = _as_double(F.col(vec_col))
    n = l2_norm(v)
    return df.withColumn(out_col, F.transform(v, lambda x: x / n))


def _unit_frame(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __unit): the corpus projected to its unit vectors."""
    return with_unit_vectors(corpus, vec_col=vec_col, out_col="__unit").select(
        F.col(id_col), "__unit"
    )


def _query_slice(
    prepared: DataFrame, query_ids: list[int], id_col: str, *extra
) -> DataFrame:
    """The query rows of a unit frame as (query_id, __qunit, *extra)."""
    return prepared.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("__unit").alias("__qunit"), *extra
    )


def _cosine_scored(pairs: DataFrame, id_col: str, *keep) -> DataFrame:
    """(query_id, neighbor_id, cosine, *keep) from (query, candidate) rows
    carrying both unit vectors; the cosine is the fixed-order ``dot``."""
    return pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        dot(F.col("__qunit"), F.col("__unit")).alias("cosine"),
        *keep,
    )


def _exact_scored(
    prepared: DataFrame, query_ids: list[int], id_col: str, *keep
) -> DataFrame:
    """Every (query, corpus vector) pair scored exactly: the query slice is
    broadcast and the corpus streams through a nested-loop theta-join —
    the right physical plan when one side is a few rows."""
    queries = _query_slice(prepared, query_ids, id_col)
    pairs = prepared.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
    return _cosine_scored(pairs, id_col, *keep)


def _rank_neighbors(
    scored: DataFrame, k: int, score: str = "cosine", rank_col: str = "rank"
) -> DataFrame:
    """The k best rows per ``query_id``: ``score`` descending, ties broken
    by the lowest ``neighbor_id`` — the one tie rule every top-k operator
    here shares, so equal scores rank the same way on every path."""
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col(score).desc(), F.col("neighbor_id").asc()],
        k,
        rank_col=rank_col,
    )


def _topk(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """(query_id, neighbor_id, rank) of :func:`_rank_neighbors`."""
    return _rank_neighbors(scored, k, score).select("query_id", "neighbor_id", "rank")


def cosine_topk_bruteforce(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for a fixed query-id set, fully declarative.

    The query side is a broadcast-joined slice of the corpus (a few rows);
    the corpus side streams — the pair generation is a broadcast
    nested-loop join, which is the *correct* physical plan when one side is
    tiny. Ranked by cosine descending, ties to the lowest neighbor id.
    """
    scored = _exact_scored(_unit_frame(corpus, id_col, vec_col), query_ids, id_col)
    return _topk(scored, k)


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow batches + BLAS: the throughput path.

    The query matrix rides to executors as a broadcast variable; each
    ``mapInPandas`` batch emits its k+1 best rows per query under the final
    order — cosine descending, ties to the lowest neighbor id (one slot
    spare for the query itself) — so a tie wider than k keeps the same
    members the final window would pick. That is (k+1) * n_queries rows
    per batch, independent of batch size, and a final per-query top-k
    window reduces the partials with the same order. Shuffle volume is
    O(partitions * queries * k).
    """
    spark = corpus.sparkSession
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bqids, bqmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = bqmat @ mat.T  # (n_queries, batch)
            kk = min(k + 1, sims.shape[1])
            idx = np.stack([np.lexsort((ids, -row))[:kk] for row in sims])
            out = {
                "query_id": np.repeat(bqids, kk),
                "neighbor_id": ids[idx].ravel(),
                "cosine": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    partials = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, cosine double"
    )
    return _topk(partials.filter(F.col("neighbor_id") != F.col("query_id")), k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    rng = np.random.RandomState(RNG_SEED)
    return rng.standard_normal((n_planes, dim)).tolist()


# Fold-order-exact threshold decisions from a float32 BLAS prefilter.
#
# The verify kernels must decide cosine >= threshold with the SAME result
# as the JVM left-fold ``dot()`` and DuckDB's list_inner_product — the
# cross-engine hash contract. Reproducing the fold's IEEE add order for
# every pair (one ``acc += a[:, d] * b[:, d]`` pass per dimension) is
# memory-bandwidth-bound: dim full passes over the score matrix. Instead,
# embedding_near_pairs_blocked scores each block with one SGEMM over
# float32-cast unit vectors (any summation order) and recomputes the exact
# float64 fold order only for the pairs that could reach the threshold.
#
# Bound: the float32 conversion adds <= 2*2^-24 relative error per
# product and the f32 accumulation <= dim*2^-24 * sum|a_d*b_d|
# <= dim*2^-24 (Cauchy-Schwarz, unit vectors) — total
# ~(dim+2)*2^-24 ~= 3.9e-6 at dim=64. _F32_EPS = 1e-4 leaves 25x margin;
# every pair at or above threshold - _F32_EPS is re-decided by the exact
# float64 left fold, and every dropped pair is provably below threshold in
# ANY summation order.
_F32_EPS = 1e-4


def srp_bucket(vec_col, planes: list[list[float]]) -> "F.Column":
    """Sign-random-projection bucket id: one bit per hyperplane —
    sign(v . h_i) — packed into a long. Deterministic (seeded planes baked
    into the plan as literals)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(vec_col, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, i))
    return bucket


def cosine_topk_srp(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: restrict the search to the query's SRP bucket
    plus every bucket one bit flip away (near-boundary neighbors land one
    sign flip away), then exact cosine within the probed buckets.
    Candidates per query ≈ corpus * (1 + planes) / 2^planes — equi-joins
    on the bucket id, so the plan is shuffle-bounded, never all-pairs.
    Recall tunes via n_planes (fewer planes = bigger buckets). Candidates
    are ranked by exact cosine descending, ties to the lowest neighbor id."""
    prepared = _srp_prep(corpus, _hyperplanes(dim, n_planes), id_col, vec_col)
    queries = _query_slice(
        prepared,
        query_ids,
        id_col,
        F.explode(_probe_buckets(n_planes)).alias("__bucket"),
    )
    cands = (
        prepared.join(F.broadcast(queries), "__bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .dropDuplicates(["query_id", id_col])
    )
    return _topk(_cosine_scored(cands, id_col), k)


def seeded_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the unit vectors of the first
    ``n_cells`` corpus ids, cell id = vector id. A sampled quantizer is the
    standard alternative to a trained one (FAISS's IVF accepts any coarse
    quantizer); the payoff here is reproducibility — every engine can
    recompute the centroid set from the corpus itself, which is what lets
    the IVF recall metric be oracle-checked end-to-end."""
    prepared = with_unit_vectors(
        corpus.filter(F.col(id_col) < n_cells), vec_col=vec_col, out_col="__unit"
    )
    return prepared.select(
        F.col(id_col).cast("int").alias("__cell"),
        F.col("__unit").alias("__centroid"),
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment by cosine (argmax, ties to the
    lowest cell id): a broadcast nested-loop over the tiny centroid set +
    a per-id top-1 — the distributed IVF assign step; cost is
    |corpus| * n_cells with no shuffle of the corpus vectors."""
    prepared = _unit_frame(corpus, id_col, vec_col)
    scored = prepared.join(F.broadcast(centroids)).select(
        id_col,
        "__unit",
        "__cell",
        dot(F.col("__unit"), F.col("__centroid")).alias("__cscore"),
    )
    return top_k_per_group(
        scored,
        [id_col],
        [F.col("__cscore").desc(), F.col("__cell").asc()],
        1,
        rank_col="__arank",
    ).select(id_col, "__unit", "__cell")


def cosine_topk_ivf(
    corpus: DataFrame,
    query_ids: list[int],
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: each query searches only its ``n_probe``
    nearest cells. Probe selection is a (queries x n_cells) broadcast
    cross-score + per-query top-n_probe — all distributed; the candidate
    fetch is an equi-join on the cell id, so work scales with
    |corpus| * n_probe / n_cells per query instead of |corpus|.

    ``centroids`` is the coarse quantizer (``__cell``, ``__centroid`` unit
    vectors — ``seeded_centroids``). Candidates are ranked by exact cosine
    descending, ties to the lowest neighbor id."""
    assigned = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    queries = _query_slice(assigned, query_ids, id_col)
    probes = _probe_cells(queries, centroids, n_probe)
    cands = assigned.join(F.broadcast(probes), "__cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    return _topk(_cosine_scored(cands, id_col), k)


def _probe_cells(
    queries: DataFrame, centroids: DataFrame, n_probe: int
) -> DataFrame:
    """IVF probe selection: each query's ``n_probe`` nearest cells by cosine
    to the centroid (ties to the lowest cell id), as
    (query_id, __qunit, __cell) — a (queries x n_cells) broadcast
    cross-score and a per-query top-n_probe."""
    probe_scores = queries.join(F.broadcast(centroids)).select(
        "query_id",
        "__qunit",
        "__cell",
        dot(F.col("__qunit"), F.col("__centroid")).alias("__cscore"),
    )
    return top_k_per_group(
        probe_scores,
        ["query_id"],
        [F.col("__cscore").desc(), F.col("__cell").asc()],
        n_probe,
        rank_col="__prank",
    ).select("query_id", "__qunit", "__cell")


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sampled product-quantization codebooks: subspace s's
    codewords are the s-th subvectors of the first ``n_codes`` corpus unit
    vectors (code id = sample vector id). Like ``seeded_centroids``, a
    sampled codebook replaces a k-means-trained one so every engine can
    recompute it from the corpus — which is what lets the PQ encoder and
    its recall be oracle-checked end-to-end. Requires dim % m_sub == 0.

    Returns (sub, code, cw, cc): codeword unit-subvector plus its
    precomputed squared norm (distance ranking uses cc - 2·⟨x,cw⟩, the
    x-independent part of ‖x-cw‖², so ‖x‖² never needs computing)."""
    u = with_unit_vectors(
        corpus.filter(F.col(id_col) < n_codes), vec_col=vec_col, out_col="__unit"
    )
    d_sub = F.expr(f"size(__unit) div {m_sub}")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda s: F.slice(F.col("__unit"), s * d_sub + 1, d_sub),
    )
    long = u.select(
        F.col(id_col).cast("int").alias("code"), F.posexplode(subs).alias("sub", "cw")
    )
    return long.select(
        "sub", "code", "cw", dot(F.col("cw"), F.col("cw")).alias("cc")
    )


def _pq_nested(codebooks: DataFrame, m_sub: int) -> DataFrame:
    """Fold the long-form codebooks into ONE row holding
    array[sub][code] -> struct(cw, cc) — a constant-size (m_sub · n_codes
    codewords) literal that broadcast-crossJoins onto any side with no
    driver collect."""
    flat = codebooks.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("sub", "code", "cw", "cc"))).alias(
            "__all"
        )
    )
    return flat.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m_sub - 1)),
            lambda s: F.transform(
                F.filter(F.col("__all"), lambda e: e["sub"] == s),
                lambda e: F.struct(e["cw"].alias("cw"), e["cc"].alias("cc")),
            ),
        ).alias("__cb")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding as a narrow projection: per subspace, the code whose
    ranking key cc - 2·⟨x_s, cw⟩ is minimal (ties to the lowest code id,
    via array_position-of-min). The nested codebook row rides along via a
    broadcast cross join, so encoding the corpus is shuffle-free — it runs
    at scan speed and fuses into an embedding-table write, which is the
    whole point of PQ at 100 TB: the stored index is m_sub bytes per
    vector instead of 4·dim. Returns (id, __unit, __codes array<int>)."""
    enc = _unit_frame(corpus, id_col, vec_col).crossJoin(
        F.broadcast(_pq_nested(codebooks, m_sub))
    )
    d_sub = F.expr(f"size(__unit) div {m_sub}")

    def keys(s):
        x_s = F.slice(F.col("__unit"), s * d_sub + 1, d_sub)
        return F.transform(
            F.element_at(F.col("__cb"), s + 1),
            lambda e: e["cc"] - 2 * dot(x_s, e["cw"]),
        )

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda s: (F.array_position(keys(s), F.array_min(keys(s))) - 1).cast("int"),
    )
    return enc.select(F.col(id_col), "__unit", codes.alias("__codes"))


def cosine_topk_pq(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m_sub: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ codes:
    the query keeps its exact unit vector, every corpus vector is
    represented only by its m_sub codes, and the score is
    Σ_s ⟨q_s, cw[s][code_s]⟩ — the classic ADC scan (Jégou et al., PAMI
    2011). The fold accumulates subspace dots in fixed order so scores are
    bitwise reproducible. Scoring touches codes + a constant codebook, not
    vectors: at scale the scan reads m_sub bytes/vector (32x smaller than
    the float corpus at dim=64), and composes with IVF for candidate
    pruning exactly as IVFPQ does. Ranked by ADC score descending, ties to
    the lowest neighbor id."""
    cbs = pq_codebooks(
        corpus, m_sub=m_sub, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    encoded = pq_encode(corpus, cbs, m_sub=m_sub, id_col=id_col, vec_col=vec_col)
    queries = _query_slice(encoded, query_ids, id_col)
    pairs = encoded.select(F.col(id_col), "__codes").join(F.broadcast(queries))
    return _adc_topk(pairs, cbs, m_sub, k, id_col)


def _adc_score(m_sub: int) -> "F.Column":
    """ADC score Σ_s ⟨q_s, cw[s][code_s]⟩ over columns __qunit, __codes,
    __cb — a fixed-order left fold so the double is bitwise reproducible."""
    d_sub = F.expr(f"size(__qunit) div {m_sub}")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + dot(
            F.slice(F.col("__qunit"), s * d_sub + 1, d_sub),
            F.element_at(
                F.element_at(F.col("__cb"), s + 1),
                F.element_at(F.col("__codes"), s + 1) + 1,
            )["cw"],
        ),
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    query_ids: list[int],
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    m_sub: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ — the composition that serves billion-vector ANN in practice
    (FAISS IndexIVFPQ): the coarse quantizer prunes candidates to the
    query's n_probe cells, then PQ/ADC scores the survivors from their
    codes alone. Per query the work is |corpus|·n_probe/n_cells candidate
    rows of m_sub bytes each — both the row count AND the bytes per row
    shrink, which is what makes the scan viable at 100 TB. Both stages use
    the deterministic sampled quantizers (``seeded_centroids`` +
    ``pq_codebooks``), so the whole pipeline replays in an external
    engine. Ranked by ADC score descending, ties to the lowest neighbor
    id."""
    assigned = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    cbs = pq_codebooks(
        corpus, m_sub=m_sub, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    encoded = pq_encode(corpus, cbs, m_sub=m_sub, id_col=id_col, vec_col=vec_col)
    # the served index row: (id, cell, codes) — at scale this is written
    # once (partitioned by cell, codes instead of vectors) and every query
    # below reads only probed cells
    index = assigned.select(F.col(id_col), "__cell").join(
        encoded.select(F.col(id_col), "__codes"), id_col
    )
    queries = _query_slice(assigned, query_ids, id_col)
    probes = _probe_cells(queries, centroids, n_probe)
    pairs = index.join(F.broadcast(probes), "__cell")
    return _adc_topk(pairs, cbs, m_sub, k, id_col)


def _adc_topk(
    pairs: DataFrame, cbs: DataFrame, m_sub: int, k: int, id_col: str
) -> DataFrame:
    """ADC rerank of (query, coded candidate) rows: drop the query itself,
    attach the nested codebook, score with :func:`_adc_score` and keep the
    top k per query."""
    cands = (
        pairs.filter(F.col(id_col) != F.col("query_id"))
        .crossJoin(F.broadcast(_pq_nested(cbs, m_sub)))
    )
    scored = cands.select(
        "query_id", F.col(id_col).alias("neighbor_id"), _adc_score(m_sub).alias("adc")
    )
    return _topk(scored, k, "adc")


def label_centroid_rank(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster centroids + every vector's cosine to its own centroid +
    within-cluster rank — the working set of SemDeDup-style semantic
    pruning (vectors ranked by centroid affinity inside each cluster, ties
    to the lowest id; the curation decision drops from the top of each
    ranking). Returns
    (id, label, cos_to_centroid, rank_in_label).

    Determinism: centroid components accumulate floor-quantized nano-units
    (exact long integers — order-free, and boundary-free unlike a
    double→decimal cast, whose rounding differs between engines that go
    through the shortest string repr and engines that round the exact
    binary value), divided once by the exact scaled count; the cosine is a
    fixed-order fold. Every double replays bitwise in an external engine.
    Scale shape: the component aggregation shuffles (labels × dim) narrow
    rows with map-side partial sums; the centroid table is tiny →
    broadcast back onto the corpus; the final rank is one shuffle on the
    label key."""
    v = _as_double(F.col(vec_col))
    cent = _nano_centroids(df, label_col, v, label_col, "__cent")
    scored = df.select(F.col(id_col), F.col(label_col), v.alias("__v")).join(
        F.broadcast(cent), label_col
    )
    cos = _cosine(F.col("__v"), F.col("__cent"))
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(
        F.col("cos_to_centroid").desc(), F.col(id_col).asc()
    )
    return (
        scored.select(F.col(id_col), F.col(label_col), cos.alias("cos_to_centroid"))
        .withColumn("rank_in_label", F.row_number().over(w))
    )


def _nano_centroids(
    df: DataFrame, key: str, vec: "F.Column", out_key: str, out_col: str
) -> DataFrame:
    """One centroid per ``key`` value as (out_key, out_col array<double>):
    each component is the sum of floor-quantized nano-units (exact longs,
    order-free) divided once by the exact scaled member count, so every
    centroid double replays bitwise in an external engine. The component
    aggregation shuffles (keys × dim) narrow rows with map-side partial
    sums."""
    comps = df.select(F.col(key), F.posexplode(vec).alias("pos", "val"))
    cs = comps.groupBy(key, "pos").agg(
        F.sum(F.floor(F.col("val") * F.lit(1e9)).cast("long")).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        cs.select(
            F.col(key).alias(out_key),
            "pos",
            (F.col("__s").cast("double") / (F.lit(1e9) * F.col("__n"))).alias("c"),
        )
        .groupBy(out_key)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda e: e["c"]
            ).alias(out_col)
        )
    )


def _cosine(a: "F.Column", b: "F.Column") -> "F.Column":
    """Cosine of two unnormalized vectors: fixed-order folds throughout."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x compression
    for embedding storage/serving: ``scale = max|x| / 127``,
    ``q_i = clamp(floor(x_i/scale + 0.5), -127, 127)`` (explicit half-up
    rounding so any SQL engine replays the exact integers). Zero vectors
    quantize to zeros with scale 0. A narrow per-row projection — no
    shuffle, runs at scan speed, exactly what you'd fuse into an embedding
    write at 100 TB.

    Returns (id, scale, q) with ``q`` as array<int>; use
    ``quantization_audit`` for the scalar-only oracle-checkable summary."""
    v = _as_double(F.col(vec_col))
    scale = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))) / 127.0
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.floor(x / scale + F.lit(0.5)).cast("int")),
            ),
        )
    )
    return df.select(F.col(id_col), scale.alias("scale"), q.alias("q"))


def quantization_audit(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar audit of the int8 quantization, integer-exact and therefore
    oracle-hashable: per vector the scale plus q's min/max/sum/sum-of-
    squares. The integer moments pin every quantized value's arithmetic
    cross-engine (a single off-by-one in any element changes qsum/qnorm2)."""
    qd = quantize_int8(df, id_col=id_col, vec_col=vec_col)
    q = F.col("q")
    return qd.select(
        F.col(id_col),
        "scale",
        F.array_min(q).alias("qmin"),
        F.array_max(q).alias("qmax"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x).alias("qnorm2"),
    )


def write_ivf_index(assigned: DataFrame, centroids: DataFrame, path: str) -> None:
    """Persist an IVF index: the assigned corpus laid out one directory per
    cell (``partitionBy('__cell')`` — the on-disk analogue of FAISS's
    inverted lists) plus the centroid table. Probing then prunes at the
    DIRECTORY level: a ``__cell IN (probes)`` filter becomes a static
    ``PartitionFilters`` entry on the scan, so a probe reads
    ~n_probe/n_cells of the corpus bytes and never lists the rest.
    (Directory partitioning is chosen over ``bucketBy`` here: bucket
    pruning needs a metastore table and still lists every file; partition
    pruning is path-based and skips listing+IO both — the right trade for
    read-heavy ANN serving.)"""
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(f"{path}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def cosine_topk_ivf_from_index(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k served from a persisted index (``write_ivf_index``).

    Probe selection mirrors ``cosine_topk_ivf`` (broadcast centroid scoring
    + per-query top-n_probe); the probed cell set — at most
    ``len(query_ids) * n_probe`` ints — is then collected and applied as a
    STATIC ``__cell IN (...)`` partition filter, so the candidate scan
    prunes to the probed directories at planning time (no reliance on
    runtime DPP). Result-identical to the in-memory path given the same
    centroids, including its tie rule (cosine descending, ties to the
    lowest neighbor id); plan-asserted in tests/test_plans.py."""
    scored = _index_scored(spark, path, query_ids, n_probe, id_col)
    return _topk(scored.select("query_id", "neighbor_id", "cosine"), k)


def _index_scored(
    spark,
    path: str,
    query_ids: list[int],
    n_probe: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Shared probe-and-score stage over a persisted IVF index
    (``write_ivf_index``): select each query's ``n_probe`` nearest cells,
    prune the corpus scan to those directories with a STATIC ``__cell IN``
    partition filter, and emit every in-cell candidate scored —
    ``(query_id, neighbor_id, cosine, __unit)``, the candidate's unit
    vector kept for consumers that need pairwise math downstream (MMR).
    Used by :func:`cosine_topk_ivf_from_index` (top-k serving) and passed
    to :func:`mmr_topk` as ``scored`` (diversified serving)."""
    corpus = spark.read.parquet(f"{path}/corpus")
    centroids = spark.read.parquet(f"{path}/centroids")
    queries = _query_slice(corpus, query_ids, id_col)
    probes = _probe_cells(queries, centroids, n_probe)
    # Collect the probe table ONCE — O(queries * n_probe) rows, each a
    # query unit vector + cell id — and rebuild it as a local DataFrame:
    # this yields the static partition filter AND avoids re-executing the
    # centroid-scoring window a second time inside the broadcast join.
    probe_rows = probes.collect()
    cells = sorted({r["__cell"] for r in probe_rows})
    probes_local = spark.createDataFrame(
        [(r["query_id"], list(r["__qunit"]), r["__cell"]) for r in probe_rows],
        schema="query_id long, __qunit array<double>, __cell int",
    )
    cands = (
        corpus.filter(F.col("__cell").isin(cells))
        .join(F.broadcast(probes_local), "__cell")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    return _cosine_scored(cands, id_col, "__unit")


def embedding_near_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    chunk: int = 2048,
) -> DataFrame:
    """SRP-blocked approximate near-pair detection — the scale path that
    replaces the exact O(n²) self-join: vectors pair only within the same
    or a 1-bit-adjacent SRP bucket (multi-probe), then exact cosine filters
    the candidates. Expected candidate volume is
    n²·(collision probability) ≈ n²·(1 - θ/π)^planes — tune n_planes so
    per-bucket populations fit a shuffle partition. Approximate by nature
    (pairs crossing more than one sign flip are missed); the result is
    exactly the exhaustive operator's pairs restricted to that probe
    radius, asserted in unit tests.

    The exact-cosine verify runs INSIDE each SRP bucket group
    (applyInPandas) instead of materializing (id_a, id_b) candidate rows
    and joining the vectors back on. The only shuffle is the group-by over
    a handful of narrow rows per vector — LINEAR in the corpus — while the
    quadratic visitors x homes scoring happens as BLAS matmuls inside the
    kernel:

    - **Shuffle raw float32 rows**: group rows carry the source
      ``array<float>`` embedding (256 B at dim=64) rather than a float64
      unit vector (512 B); the kernel casts to float64 (exact) and
      unit-normalizes with the same IEEE ops as the JVM expression
      (left-fold sum of squares from 0.0, correctly-rounded sqrt,
      elementwise divide), so every downstream double is bit-identical.
    - **Up-probes only, triangle in-kernel**: a vector's shuffled rows are
      its home row plus one visitor row per flip ABOVE its bucket
      (``probe > bucket``; expected planes/2), so a cross-bucket pair is
      scored once (id order normalized after extraction), and same-bucket
      pairs come from the home block scored against itself with the
      ascending-id half kept.
    - **float32 prefilter, float64 left-fold decision**: each block is
      scored by one SGEMM; only pairs with ``S32 >= threshold - _F32_EPS``
      are extracted, and every extracted pair is re-scored with the exact
      IEEE left-fold add order of ``dot()`` / DuckDB list_inner_product —
      the fold IS the keep decision, so results are bitwise identical to
      the exhaustive operator and the oracle by construction. Soundness
      of the drop side: for unit vectors Cauchy-Schwarz bounds
      sum|a_d*b_d| by 1, so the f32 score differs from the exact dot by at
      most ~(dim+2)*2^-24 ~= 4e-6 at dim=64 — 25x inside the 1e-4 band.
    - **JVM prep, norm as a column** (the shingle_sets lesson, dedup.py):
      ``transform(v, x -> x / l2_norm(v))`` inlines the fold-norm per
      ELEMENT — 64 norms per row; materializing ``__n`` in its own
      projection first makes it once per row. The (id, raw, bucket) frame
      is pinned so the home and visitor branches share one build.
    - **Salted sub-groups only past 2^planes cores**: the salt count is
      ``max(1, cores // 2^planes)`` — visitors salt by
      ``xxhash64(id) % n_salts`` (deterministic), homes replicate per
      salt, and the same-bucket triangle runs in salt 0 only, so each pair
      still lives in exactly one (bucket, salt) group. Byte volume
      dominates balance (measured at the 100x corpus on 32 cores, two
      salts cost +50% over one), so salting stays OFF until the executor
      count exceeds the group count.

    Pair-meets-once argument: a same-bucket pair is scored once in its
    bucket's salt-0 triangle (ascending-id half); a cross-bucket pair
    (buckets x < y, differing in exactly one probed bit) is generated only
    by the x-side vector's up-probe into y's group. Per-group memory is
    bounded by ``chunk`` x |homes| floats (visitors are processed in
    blocks of ``chunk`` rows); hot buckets degrade to longer — not
    wider — loops."""
    from pyspark import StorageLevel

    cores = corpus.sparkSession.sparkContext.defaultParallelism
    n_salts = max(1, cores // (1 << n_planes))
    v = _as_double(F.col(vec_col))
    base = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__e"), v.alias("__v")
    ).withColumn("__n", l2_norm(F.col("__v")))
    prepared = pin(
        base.select(
            "__id",
            "__e",
            srp_bucket(
                F.transform(F.col("__v"), lambda x: x / F.col("__n")),
                _hyperplanes(dim, n_planes),
            ).alias("__bucket"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    if n_salts > 1:
        h_salt = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        v_salt = F.pmod(F.xxhash64(F.col("__id")), F.lit(n_salts)).cast("int")
    else:
        h_salt = F.lit(0)
        v_salt = F.lit(0)
    homes = prepared.select(
        "__id",
        "__e",
        F.col("__bucket").alias("__g"),
        h_salt.alias("__salt"),
        F.lit(True).alias("__home"),
    )
    flips = F.array(
        *[
            F.col("__bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(n_planes)
        ]
    )
    visitors = prepared.select(
        "__id",
        "__e",
        F.explode(F.filter(flips, lambda p: p > F.col("__bucket"))).alias("__g"),
        v_salt.alias("__salt"),
        F.lit(False).alias("__home"),
    )
    rows = homes.unionByName(visitors)
    f32_cut = np.float32(threshold - _F32_EPS)

    def _unitize(raw_objs) -> "np.ndarray":
        # float32 -> float64 cast is exact; the norm accumulates in the
        # exact left-fold order (ascending d from 0.0) and sqrt/divide are
        # single correctly-rounded IEEE ops — bitwise what the JVM
        # transform(v, x -> x / l2_norm(v)) produces.
        M = np.asarray(list(raw_objs), dtype=np.float64)
        acc = np.zeros(len(M), dtype=np.float64)
        for d in range(M.shape[1]):
            acc += M[:, d] * M[:, d]
        return M / np.sqrt(acc)[:, None]

    no_ids = np.empty(0, dtype=np.int64)

    def pairs(id_a: np.ndarray, id_b: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({"id_a": id_a, "id_b": id_b}, copy=False)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        home_mask = pdf["__home"].to_numpy()
        ids = pdf["__id"].to_numpy(np.int64)
        h_ids = ids[home_mask]
        if len(h_ids) == 0:
            return pairs(no_ids, no_ids)
        raw = pdf["__e"].to_numpy()
        H = _unitize(raw[home_mask])
        # Visitor block: cross-bucket up-probe rows, plus — in salt 0 —
        # the homes themselves for the same-bucket triangle.
        c_ids = ids[~home_mask]
        triangle = int(key[1]) == 0
        if len(c_ids):
            C = _unitize(raw[~home_mask])
            V = np.vstack([H, C]) if triangle else C
            v_ids = np.concatenate([h_ids, c_ids]) if triangle else c_ids
        elif triangle:
            V, v_ids = H, h_ids
        else:
            return pairs(no_ids, no_ids)
        n_tri = len(h_ids) if triangle else 0
        H32 = H.astype(np.float32)
        out_a, out_b = [], []
        for lo in range(0, len(v_ids), chunk):
            vb = V[lo : lo + chunk]
            vi, hi = np.nonzero(vb.astype(np.float32) @ H32.T >= f32_cut)
            if len(vi) == 0:
                continue
            ia = v_ids[lo : lo + chunk][vi]
            ib = h_ids[hi]
            # triangle rows meet every co-member in both orders (and
            # themselves) — keep the ascending one; cross rows occur once
            # in arbitrary id order — keep all, normalize order below.
            m = (vi + lo >= n_tri) | (ia < ib)
            if not m.all():
                vi, hi, ia, ib = vi[m], hi[m], ia[m], ib[m]
                if len(vi) == 0:
                    continue
            # THE keep decision: exact left-fold (ascending d, one add per
            # dim from acc=0.0) over the extracted survivors only — the
            # same IEEE add sequence as dot() / DuckDB list_inner_product.
            A = vb[vi]
            B = H[hi]
            acc = np.zeros(len(vi), dtype=np.float64)
            for d in range(A.shape[1]):
                acc += A[:, d] * B[:, d]
            ok = acc >= threshold
            if not ok.any():
                continue
            ia, ib = ia[ok], ib[ok]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
        if not out_a:
            return pairs(no_ids, no_ids)
        return pairs(np.concatenate(out_a), np.concatenate(out_b))

    return rows.groupBy("__g", "__salt").applyInPandas(
        kernel, schema="id_a long, id_b long"
    )




def incremental_embedding_dedup(
    new_batch: DataFrame,
    existing: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Ingestion-shape SEMANTIC near-dup screening — the embedding-space
    member of the incremental family (exact fingerprints:
    ``dedup.incremental_dedup``; token LSH: ``dedup.incremental_minhash_dedup``;
    this catches the paraphrased re-submission both of those miss). The
    corpus's SRP buckets act as the index (at 100 TB persisted once,
    bucketed/partitioned by bucket id, appended per delivery); the incoming
    batch computes its own buckets, probes its home bucket plus every
    1-bit-adjacent one, and exact cosine verifies only the collisions.

    Returns one row per batch vector with at least one corpus near-dup at
    ``threshold``: (id, n_corpus_matches, best_match_id, best_cosine_nano),
    best = highest cosine with ties to the lowest corpus id. The cosine is
    reported in half-up-rounded integer NANO-units (the repo's
    oracle-replay discipline for derived doubles crossing engine
    boundaries).

    Scale shape: batch ≪ corpus, so the exploded batch probes broadcast
    into the bucket equi-join — the corpus never shuffles and is touched
    only in its probed buckets (partition-pruned when the index is stored
    bucket-partitioned)."""
    planes = _hyperplanes(dim, n_planes)
    newp = _srp_prep(new_batch, planes, id_col, vec_col)
    exp = _srp_prep(existing, planes, id_col, vec_col)
    newe = _srp_probe_rows(newp, n_planes, id_col)
    # No (new, existing) dedup needed: a batch vector's probe buckets are
    # all distinct values, so a corpus row (one fixed bucket) matches at
    # most one probe row per batch vector. Skipping the dropDuplicates
    # keeps the pipeline shuffle-FREE until the final groupBy — at 100 TB
    # the corpus-side join output never re-shuffles for a no-op dedup.
    cand = exp.join(F.broadcast(newe), "__bucket")
    return _best_cosine_match(cand, id_col, threshold)


def _srp_prep(df: DataFrame, planes, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec) → (id, __unit, __bucket): unit-normalize + SRP bucket."""
    return _unit_frame(df, id_col, vec_col).withColumn(
        "__bucket", srp_bucket(F.col("__unit"), planes)
    )


def _probe_buckets(n_planes: int) -> "F.Column":
    """The buckets a vector probes: its home ``__bucket`` plus every 1-bit
    flip."""
    return F.array(
        F.col("__bucket"),
        *[
            F.col("__bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(n_planes)
        ],
    )


def _srp_probe_rows(newp: DataFrame, n_planes: int, id_col: str) -> DataFrame:
    """Explode a prepared batch into its probe rows."""
    return newp.select(
        F.col(id_col).alias("__new_id"),
        F.col("__unit").alias("__un"),
        F.explode(_probe_buckets(n_planes)).alias("__bucket"),
    )


def best_corpus_match(
    scored: DataFrame, id_col: str, score: str, best: str, report: Column
) -> DataFrame:
    """The screen tail of the incremental dedup family: over verified
    (``__new_id``, ``__ex_id``, ``score``) matches, each batch row's match
    count and best match (highest ``score``, ties to the lowest corpus id)
    as (id, n_corpus_matches, best_match_id, report). ``best`` names the
    winning max-struct, whose ``score`` field ``report`` reads."""
    top = F.max(F.struct(F.col(score), (-F.col("__ex_id")).alias("__neg")))
    return (
        scored.groupBy("__new_id")
        .agg(F.count(F.lit(1)).alias("n_corpus_matches"), top.alias(best))
        .select(
            F.col("__new_id").alias(id_col),
            "n_corpus_matches",
            (-F.col(f"{best}.__neg")).cast("long").alias("best_match_id"),
            report,
        )
    )


def _best_cosine_match(cand: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Verify+screen tail of the incremental embedding dedup: exact cosine
    on candidates, then ``best_corpus_match`` with the cosine reported in
    half-up-rounded nano-units."""
    scored = cand.select(
        "__new_id",
        F.col(id_col).alias("__ex_id"),
        dot("__un", "__unit").alias("__cos"),
    ).filter(F.col("__cos") >= threshold)
    return best_corpus_match(
        scored,
        id_col,
        "__cos",
        "__b",
        F.floor(F.col("__b.__cos") * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("best_cosine_nano"),
    )


def write_srp_index(
    corpus: DataFrame,
    path: str,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Persist the SRP bucket index the incremental embedding dedup
    docstring promises: the corpus laid out one directory per ``__bucket``
    (``partitionBy`` — the SRP analogue of ``write_ivf_index``'s inverted
    lists), unit vectors precomputed. At 100 TB this is written ONCE and
    appended per delivery; every ingestion batch then probes it with a
    static partition filter and reads only ~(probes/2^planes) of the corpus
    bytes — never a full scan, never a corpus shuffle."""
    planes = _hyperplanes(dim, n_planes)
    _srp_prep(corpus, planes, id_col, vec_col).write.mode("overwrite").partitionBy(
        "__bucket"
    ).parquet(f"{path}/corpus")


def incremental_embedding_dedup_from_index(
    spark,
    path: str,
    new_batch: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Ingestion screening served from a PERSISTED bucket-partitioned SRP
    index (``write_srp_index``) — result-identical to
    :func:`incremental_embedding_dedup` on the same (batch, corpus) split.

    The batch's distinct probed buckets — at most
    ``min(2^n_planes, |batch| * (n_planes+1))`` values, 64 at the default
    6 planes — are collected once and applied as a STATIC
    ``__bucket IN (...)`` filter, so the candidate scan prunes to the
    probed directories at planning time (``PartitionFilters``,
    plan-asserted in tests/test_plans.py, mirroring the IVF index). The
    corpus side never shuffles: probes broadcast into the bucket equi-join
    exactly as in the in-memory path."""
    planes = _hyperplanes(dim, n_planes)
    newe = _srp_probe_rows(
        _srp_prep(new_batch, planes, id_col, vec_col), n_planes, id_col
    )
    # bounded driver set: distinct probe buckets, NOT candidates or vectors
    cells = sorted(
        r["__bucket"] for r in newe.select("__bucket").distinct().collect()
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    # filter on the raw partition column FIRST (static pruning), then
    # normalize the inferred partition type back to long for the join
    ex = corpus.filter(F.col("__bucket").isin(cells)).withColumn(
        "__bucket", F.col("__bucket").cast("long")
    )
    cand = ex.join(F.broadcast(newe), "__bucket")
    return _best_cosine_match(cand, id_col, threshold)


def embedding_near_pairs_arrow(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_vectors: int = 100_000,
) -> DataFrame:
    """Exact cosine near-pairs via Arrow + BLAS: the corpus unit matrix is
    broadcast (n x d floats — the exact all-pairs operator is inherently a
    small-corpus verifier; the scale path is
    ``embedding_near_pairs_blocked``), and each Arrow batch computes its
    rows' similarities against the whole matrix in one matmul, emitting
    (id_a < id_b, cosine >= threshold) pairs. Identical output to the
    declarative self-join form ~30x faster (74s -> 2s at sf0.1): 64-step
    interpreted fold per pair vs one BLAS GEMM per batch.

    The corpus collect is the deliberate, BOUNDED exception to the
    no-driver-data rule: ``max_vectors`` refuses corpora where the O(n^2)
    operator itself stopped being the right tool — use the blocked variant
    there (this mirrors how verification actually runs at scale: exact
    check on a sample, blocked pass on the corpus)."""
    spark = corpus.sparkSession
    # one bounded collect is both the gate and the data: limit+1 stops the
    # scan at max_vectors+1 rows, so an oversized corpus is refused without
    # pulling the whole dataset, and no separate count() job runs first
    rows = corpus.select(id_col, vec_col).limit(max_vectors + 1).collect()
    if len(rows) > max_vectors:
        raise ValueError(
            f"exact all-pairs corpus exceeds max_vectors={max_vectors}; "
            "use embedding_near_pairs_blocked for corpora of this size"
        )
    ids = np.asarray([r[id_col] for r in rows], dtype=np.int64)
    mat = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            bmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            bmat = bmat / np.linalg.norm(bmat, axis=1, keepdims=True)
            sims = bmat @ all_mat.T  # (batch, n)
            keep = (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            bi, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {"id_a": bids[bi], "id_b": all_ids[ci], "cosine": sims[bi, ci]}
            )

    pairs = corpus.select(id_col, vec_col).mapInPandas(
        kernel, schema="id_a long, id_b long, cosine double"
    )
    return pairs.select("id_a", "id_b")


def label_silhouette_audit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label cohesion/separation audit — the silhouette-style cluster
    quality report over an embedding column: for each label, the mean
    cosine of its vectors to their OWN centroid versus the mean cosine to
    the best FOREIGN centroid, and the gap between the two (positive =
    the labeling is geometrically coherent; ~0 or negative = labels that
    blur together and won't hold up as topic buckets). Returns
    (label, n_vectors, mean_own_cos, mean_other_cos, separation).

    Determinism: centroids are the repo-standard floor-quantized nano-unit
    integer sums (:func:`label_centroid_rank`); each vector's two cosines
    are fixed-order folds quantized to nano-units BEFORE the per-label
    mean, so the means are exact-integer divisions that replay bitwise in
    the oracle. Scale shape: one (labels × dim) partial-sum shuffle for
    the fit, broadcast centroids, map-side scoring over n_labels
    candidates per vector, one O(labels) final aggregate — the corpus
    never shuffles."""
    v = _as_double(F.col(vec_col))
    cent = _nano_centroids(df, label_col, v, "__cand", "__cent")
    # norms hoisted out of the per-(vector, candidate) cosine: the vector
    # norm folds once per vector (below the broadcast join, so it is not
    # re-evaluated against every candidate) and the centroid norm once per
    # label (a projection over the Aggregate, which CollapseProject cannot
    # inline upward) — ~3x fewer interpreted HOF evaluations than folding
    # both norms inside each of the two F.when branches. Bit-identical:
    # same doubles multiplied in the same order.
    cent = cent.withColumn("__cn", F.sqrt(dot(F.col("__cent"), F.col("__cent"))))
    vecs = df.select(F.col(id_col), F.col(label_col), v.alias("__v")).withColumn(
        "__vn", F.sqrt(dot(F.col("__v"), F.col("__v")))
    )
    scored = vecs.crossJoin(F.broadcast(cent)).select(
        id_col,
        label_col,
        "__cand",
        (
            dot(F.col("__v"), F.col("__cent")) / (F.col("__vn") * F.col("__cn"))
        ).alias("__cos"),
    )
    per_vec = scored.groupBy(id_col, label_col).agg(
        F.max(
            F.when(F.col("__cand") == F.col(label_col), F.col("__cos"))
        ).alias("__own"),
        F.max(
            F.when(F.col("__cand") != F.col(label_col), F.col("__cos"))
        ).alias("__other"),
    )
    mean_own = F.col("__so").cast("double") / (
        F.lit(1e9) * F.col("n_vectors").cast("double")
    )
    mean_other = F.col("__st").cast("double") / (
        F.lit(1e9) * F.col("n_vectors").cast("double")
    )
    return (
        per_vec.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.floor(F.col("__own") * F.lit(1e9)).cast("long")).alias("__so"),
            F.sum(F.floor(F.col("__other") * F.lit(1e9)).cast("long")).alias(
                "__st"
            ),
        )
        .select(
            label_col,
            "n_vectors",
            mean_own.alias("mean_own_cos"),
            mean_other.alias("mean_other_cos"),
            (mean_own - mean_other).alias("separation"),
        )
        .orderBy(label_col)
    )


def nearest_centroid_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification over an embedding column: fit one
    centroid per label (the same floor-quantized nano-unit integer sums as
    :func:`label_centroid_rank`, so every centroid double replays bitwise
    in an external engine), then assign every vector to the centroid with
    the highest cosine — ties broken by label ascending. Returns
    (id, label, pred_label, best_cos): the per-vector working set a
    classification audit (confusion matrix, per-label accuracy) aggregates.

    This is the inference half of taxonomy bucketing / topic routing in a
    training-data pipeline (assign each document's embedding to the closest
    topic centroid). Scale shape: the centroid fit shuffles (labels x dim)
    narrow partial-summed rows; the centroid table is tiny and broadcast,
    so scoring is a map-side nested-loop over n_labels candidates per
    vector — the corpus never shuffles, and the argmax is a per-row
    aggregation, not a window."""
    v = _as_double(F.col(vec_col))
    cent = _nano_centroids(df, label_col, v, "__cand", "__cent")
    scored = df.select(F.col(id_col), F.col(label_col), v.alias("__v")).crossJoin(
        F.broadcast(cent)
    )
    cos = _cosine(F.col("__v"), F.col("__cent"))
    best = F.max(
        F.struct(cos.alias("c"), (-F.col("__cand")).alias("nl"))
    ).alias("__b")
    return (
        scored.groupBy(id_col, label_col)
        .agg(best)
        .select(
            id_col,
            label_col,
            (-F.col("__b.nl")).cast("int").alias("pred_label"),
            F.col("__b.c").alias("best_cos"),
        )
    )


def cosine_range_search(
    corpus: DataFrame,
    query_ids: list[int],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) search — the FAISS ``range_search`` counterpart to
    top-k: ALL corpus vectors with cosine ≥ ``threshold`` to each query,
    not a fixed k. The right tool when the caller needs everything inside
    a similarity radius (duplicate sweeps, recall-complete retrieval) and
    the result size is data-dependent.

    Scale shape: identical to the brute-force top-k — the few query rows
    broadcast, the corpus streams through a scan-local score+filter, and
    NO ranking window is needed at all (membership is per-row), so the
    only shuffle is whatever consumes the result. The LSH/IVF bucketed
    variants prune candidates the same way they do for top-k."""
    scored = _exact_scored(_unit_frame(corpus, id_col, vec_col), query_ids, id_col)
    return scored.filter(F.col("cosine") >= F.lit(threshold)).select(
        "query_id", "neighbor_id"
    )


def power_iteration_top_component(
    df: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed power iteration: the dominant right-singular vector of
    the embedding matrix (top PCA axis of the uncentered Gram matrix
    A^T A) — the linear-algebra primitive behind spectral embeddings and
    variance-direction diagnostics, computed as Spark aggregations.

    Each iteration is one scan: per row the scalar s_i = x_i · v (a
    fixed-order fold against the broadcast literal v), then the
    matrix-vector product w = Σ_i s_i·x_i as a (dim)-row partial-agg
    aggregate of PER-TERM micro-quantized longs — order-free, so the
    iteration replays bitwise in an external engine. The (dim)-sized w is
    collected to the driver (bounded, like the centroid collects),
    normalized exactly (norm² is an exact Python big-int of micro-units),
    re-quantized to nano components, and fed back as literals. Returns
    (pos, component_nano) — the unit vector in exact nano units.

    Scale: per iteration one scan + one 64-row shuffle; driver state is
    O(dim · iterations). The quantization noise (~1e-6 relative per
    iteration) is far below power iteration's own convergence error at 3
    iterations."""
    import math

    first = df.select(vec_col).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], "pos int, component_nano long"
        )
    dim = len(first[0])
    v_nano = [10**9 // dim] * dim
    vd = _as_double(F.col(vec_col))
    for _ in range(iterations):
        v_arr = F.array(*[F.lit(x / 1e9) for x in v_nano])
        s = dot(vd, v_arr)
        terms = df.select(
            s.alias("__s"), F.posexplode(vd).alias("pos", "val")
        ).select(
            "pos",
            F.floor(F.col("__s") * F.col("val") * F.lit(1e6))
            .cast("long")
            .alias("__t"),
        )
        w_rows = terms.groupBy("pos").agg(F.sum("__t").alias("__w")).collect()
        w = {r["pos"]: int(r["__w"]) for r in w_rows}
        wv = [w.get(j, 0) for j in range(dim)]
        norm2 = sum(x * x for x in wv)  # exact big-int, order-free
        if norm2 == 0:
            break
        norm = math.sqrt(float(norm2))
        v_nano = [math.floor(float(x) / norm * 1e9) for x in wv]
    return df.sparkSession.createDataFrame(
        [(j, v_nano[j]) for j in range(dim)], "pos int, component_nano long"
    )


def kmeans_lloyd_step(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd refinement step of spherical k-means, fully distributed and
    engine-replayable: assign every vector to its argmax-cosine centroid
    (the deterministic seeded quantizer as the starting point), recompute
    each cell's centroid as the nano-quantized mean of its members' unit
    vectors, and report per cell the membership count and the cosine
    between old and new centroid (the convergence/shift metric an EM loop
    monitors). Returns (cell, n_members, cos_shift).

    Scale shape per step: assignment is a broadcast nested-loop over
    n_cells candidates (corpus never shuffles); the update is a
    (cells × dim) partial-agg shuffle of exact longs — the textbook
    distributed k-means iteration, here with every double derived from
    exact integers so the whole step hash-verifies cross-engine."""
    cents = seeded_centroids(corpus, n_cells, id_col, vec_col)
    assigned = assign_cells(corpus, cents, id_col, vec_col)
    newc = _nano_centroids(assigned, "__cell", F.col("__unit"), "__cell", "__new")
    counts = assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("n_members"))
    joined = newc.join(F.broadcast(cents), "__cell").join(
        F.broadcast(counts), "__cell"
    )
    cos = _cosine(F.col("__new"), F.col("__centroid"))
    return joined.select(
        F.col("__cell").alias("cell"), "n_members", cos.alias("cos_shift")
    )


def mmr_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 5,
    pool: int = 20,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scored: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein,
    SIGIR'98) — retrieval that trades relevance against redundancy:

        MMR(c) = λ·cos(q, c) − (1−λ)·max_{s ∈ selected} cos(c, s)

    picked greedily k times. This is the retrieval-side twin of near-dedup:
    a RAG/eval pipeline over a 100 TB corpus that returns the 5 nearest
    neighbors of a hot query gets 5 near-copies; MMR returns the best
    *non-redundant* set.

    Scale design: the expensive part — scoring the corpus — has two
    interchangeable providers. Default: the broadcast-nested-loop +
    per-group top-k plan of :func:`cosine_topk_bruteforce` (exact pool).
    ``scored``: the caller's candidate frame ``(query_id, neighbor_id,
    cosine, __unit)`` instead, e.g. :func:`_index_scored` over the
    persisted partition-pruned IVF index (probe ``n_probe`` cells per
    query, scan only those directories), so per-query pool cost is
    |corpus|·n_probe/n_cells — the scale path for a 100 TB corpus; its
    pool recall vs brute force is audited by the
    ``simsearch_mmr_indexed`` registered query. Either way the greedy
    loop only ever sees the POOL (the ``pool`` best candidates per query
    by cosine descending, ties to the lowest neighbor id; pool² pairwise
    similarities), grouped per query and reranked in one
    applyInPandas pass — O(queries · pool²) rows total, never a driver
    collect, never corpus-sized state.

    Determinism across engines: relevance and pairwise cosines are
    quantized to integer micro-units first (the repo's milli-nat
    discipline), and λ enters as ``lam_tenths``/10 so the greedy
    comparisons are pure 64-bit integer arithmetic — score =
    lam_tenths·rel − (10−lam_tenths)·maxsim — with ties broken by the
    smaller candidate id. The DuckDB oracle replays the loop as k unrolled
    CTE steps over the same quantized integers.
    """
    if not 0 <= lam_tenths <= 10:
        raise ValueError(f"lam_tenths must be in [0, 10], got {lam_tenths}")
    if k > pool:
        raise ValueError(f"k={k} exceeds candidate pool={pool}")
    from pyspark import StorageLevel

    if scored is None:
        prepared = _unit_frame(corpus, id_col, vec_col)
        scored = _exact_scored(prepared, query_ids, id_col, "__unit")
    pooled = pin(
        _rank_neighbors(scored, pool, rank_col="__pool_rank"),
        StorageLevel.MEMORY_AND_DISK,
    )
    rel = pooled.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine") * 1e6).cast("bigint").alias("rel_micro"),
    )
    ua = pooled.alias("__mmr_a")
    ub = pooled.alias("__mmr_b")
    psim = (
        ua.join(
            ub,
            (F.col("__mmr_a.query_id") == F.col("__mmr_b.query_id"))
            & (F.col("__mmr_a.neighbor_id") != F.col("__mmr_b.neighbor_id")),
        )
        .select(
            F.col("__mmr_a.query_id").alias("query_id"),
            F.col("__mmr_a.neighbor_id").alias("__ca"),
            F.col("__mmr_b.neighbor_id").alias("__cb"),
            F.round(
                dot(F.col("__mmr_a.__unit"), F.col("__mmr_b.__unit")) * 1e6
            )
            .cast("bigint")
            .alias("sim_micro"),
        )
    )

    lam = int(lam_tenths)

    def greedy(rel_pdf: pd.DataFrame, sim_pdf: pd.DataFrame) -> pd.DataFrame:
        if rel_pdf.empty:  # cogroup key present only on the psim side
            return pd.DataFrame(columns=["query_id", "neighbor_id", "mmr_rank"])
        qid = int(rel_pdf["query_id"].iloc[0])
        rels = dict(
            zip(rel_pdf["neighbor_id"].astype(int), rel_pdf["rel_micro"].astype(int))
        )
        sims: dict[tuple[int, int], int] = {}
        for ca, cb, s in zip(
            sim_pdf["__ca"].astype(int),
            sim_pdf["__cb"].astype(int),
            sim_pdf["sim_micro"].astype(int),
        ):
            sims[(ca, cb)] = s
        selected: list[int] = []
        out = []
        remaining = set(rels)
        for step in range(1, k + 1):
            if not remaining:
                break
            best, best_key = None, None
            for c in remaining:
                ms = max((sims[(c, s)] for s in selected), default=0)
                score = lam * rels[c] - (10 - lam) * ms
                key = (score, -c)
                if best_key is None or key > best_key:
                    best, best_key = c, key
            selected.append(best)
            remaining.discard(best)
            out.append((qid, best, step))
        return pd.DataFrame(out, columns=["query_id", "neighbor_id", "mmr_rank"])

    return (
        rel.groupBy("query_id")
        .cogroup(psim.groupBy("query_id"))
        .applyInPandas(
            lambda left, right: greedy(left, right),
            schema="query_id long, neighbor_id long, mmr_rank int",
        )
    )
