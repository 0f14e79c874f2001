"""Similarity search: JVM brute force vs numpy reference, Arrow path parity,
SRP ANN recall bound."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.functions import simsearch as S

QUERY_IDS = [0, 1, 2, 3, 4]
K = 5


def _embedding_near_pairs(corpus, threshold, id_col="vec_id", vec_col="embedding"):
    """Reference exact cosine near pairs (id_a < id_b, cosine >= threshold):
    the exhaustive self-join the approximate operators are checked against."""
    prepared = S._unit_frame(corpus, id_col, vec_col)
    a = prepared.select(F.col(id_col).alias("id_a"), F.col("__unit").alias("__ua"))
    b = prepared.select(F.col(id_col).alias("id_b"), F.col("__unit").alias("__ub"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(S.dot("__ua", "__ub") >= threshold)
        .select("id_a", "id_b")
    )


def _numpy_topk(rows, query_ids, k):
    ids = np.array([r[0] for r in rows])
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    by_id = {int(i): V[n] for n, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = V @ by_id[q]
        order = sorted(
            ((float(s), int(i)) for s, i in zip(sims, ids) if int(i) != q),
            key=lambda t: (-t[0], t[1]),
        )
        out[q] = [i for _, i in order[:k]]
    return out


def test_bruteforce_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    expected = _numpy_topk(rows, QUERY_IDS, K)
    got: dict[int, list[int]] = {q: [None] * K for q in QUERY_IDS}
    for r in S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K).collect():
        got[r["query_id"]][r["rank"] - 1] = r["neighbor_id"]
    assert got == expected


def test_arrow_path_matches_jvm_path(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(QUERY_IDS)).collect()
    ]
    jvm = sorted(map(tuple, S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K).collect()))
    arrow = sorted(map(tuple, S.cosine_topk_pandas(emb, queries, k=K).collect()))
    assert jvm == arrow


_TIE_OPERATORS = {
    "bruteforce": lambda df, q: S.cosine_topk_bruteforce(df, [q[0]], k=K),
    "arrow": lambda df, q: S.cosine_topk_pandas(df, [q], k=K),
    "srp": lambda df, q: S.cosine_topk_srp(df, [q[0]], k=K),
    "ivf": lambda df, q: S.cosine_topk_ivf(
        df, [q[0]], k=K, centroids=S.seeded_centroids(df)
    ),
}


@pytest.mark.parametrize("op", sorted(_TIE_OPERATORS))
def test_topk_ties_break_by_lowest_neighbor_id(spark, op):
    """A tie wider than k — 40 identical copies of the query vector (ids
    0-39) among 20 random vectors, shuffled over 3 partitions — must rank
    by the documented rule on every exact-rerank top-k operator: cosine
    descending, then the lowest neighbor id, so query 0 gets neighbors
    1..5. The Arrow path pre-selects per batch, so it only holds if each
    batch already applies the same order. PQ and IVFPQ are left out:
    their ADC scores approximate the cosine from codes, so a random
    vector may outscore the copies and 1..5 is not their expected
    answer."""
    rng = np.random.RandomState(7)
    q = rng.standard_normal(64).astype(np.float32).tolist()
    rows = [(i, q) for i in range(40)] + [
        (i, rng.standard_normal(64).astype(np.float32).tolist()) for i in range(40, 60)
    ]
    shuffled = [rows[i] for i in rng.permutation(len(rows))]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(shuffled, 3),
        "vec_id long, embedding array<float>",
    )
    assert df.rdd.getNumPartitions() >= 2
    result = _TIE_OPERATORS[op](df, (0, q)).collect()
    got = sorted((r["rank"], r["neighbor_id"]) for r in result)
    assert got == [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)]


def test_srp_ann_recall(spark, sf_dir):
    """Bucketed ANN with few planes must recover a reasonable fraction of
    the true top-k (recall ≥ 0.2 on random vectors with 4 planes — loose
    bound, the point is the plumbing returns real neighbors)."""
    emb = load_table(spark, sf_dir, "embeddings").cache()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_srp(emb, QUERY_IDS, k=K, n_planes=4).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.2


def test_ivf_seeded_quantizer_recall(spark, sf_dir):
    """The deterministic sampled quantizer (seeded_centroids — the
    oracle-checkable IVF path) must still deliver useful recall probing
    half the cells; and its assignment must put every centroid vector in
    its own cell (cosine(v, v) = 1 is the argmax)."""
    emb = load_table(spark, sf_dir, "embeddings").cache()
    cents = S.seeded_centroids(emb, n_cells=8)
    assigned = S.assign_cells(emb, cents)
    own = {r["vec_id"]: r["__cell"] for r in assigned.filter("vec_id < 8").collect()}
    assert own == {i: i for i in range(8)}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_ivf(
            emb, QUERY_IDS, k=K, n_probe=4, centroids=cents
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.4


def test_blocked_near_pairs_subset_with_recall(spark, sf_dir):
    """SRP-blocked pairs must be a strict SUBSET of the exact pairs (exact
    cosine verifies every candidate — false positives impossible) with
    recall matching the collision curve: ≥ 0.5 at 3 planes + 1-bit probe for
    the 0.4-cosine threshold (~0.64 measured; near-dup thresholds ≥ 0.9
    collide at far higher rates)."""
    emb = load_table(spark, sf_dir, "embeddings").cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in _embedding_near_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_pairs_blocked(
            emb, threshold=0.4, n_planes=3
        ).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    assert len(approx & exact) / len(exact) >= 0.5


def test_blocked_pairs_unique_without_dedup(spark, sf_dir):
    """The up-probe construction produces each pair exactly once — a
    same-bucket pair in its bucket's ascending-id triangle, a cross-bucket
    pair only through the lower bucket's up-probe — so the operator
    carries NO dropDuplicates. This pins the invariant that relies on:
    emitted pairs must be unique."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = [
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_pairs_blocked(emb, n_planes=3).collect()
    ]
    assert len(pairs) == len(set(pairs)) and len(pairs) > 0


def test_embedding_near_pairs_symmetric_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # ~1.0 cosine with 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in _embedding_near_pairs(df, threshold=0.9).collect()
    }
    assert got == {(1, 2)}


def test_arrow_near_pairs_equal_declarative(spark, sf_dir):
    """The BLAS exact near-pairs path must emit exactly the declarative
    self-join form's pair set, and refuse corpora over its boundedness
    gate."""
    import pytest

    from sdc_mapreduce_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    declarative = {
        (r["id_a"], r["id_b"])
        for r in _embedding_near_pairs(emb, threshold=0.4).collect()
    }
    arrow = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_pairs_arrow(emb, threshold=0.4).collect()
    }
    assert arrow == declarative and len(arrow) > 0

    with pytest.raises(ValueError, match="max_vectors"):
        S.embedding_near_pairs_arrow(emb, threshold=0.4, max_vectors=10)

    # the bounded collect is the gate too: building the operator over the
    # one-partition fixture starts exactly one Spark job (no count() probe)
    sc = spark.sparkContext
    sc.setJobGroup("arrow-near-pairs-build", "arrow near-pairs build")
    try:
        S.embedding_near_pairs_arrow(emb, threshold=0.4)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("arrow-near-pairs-build")) == 1


def test_pq_codes_shape_and_codeword_self_encoding(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = S.pq_codebooks(emb, m_sub=4, n_codes=8)
    enc = S.pq_encode(emb, cbs, m_sub=4)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["__codes"]) == 4
        assert all(0 <= c < 8 for c in r["__codes"])
    # the sampled vectors ARE the codewords: each must encode to its own
    # code in every subspace (its distance key is exactly -cc, the minimum)
    seeds = {r["vec_id"]: r["__codes"] for r in rows if r["vec_id"] < 8}
    for vid, codes in seeds.items():
        assert codes == [vid] * 4, (vid, codes)


def test_pq_adc_recall_beats_random(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.cosine_topk_pq(emb, QUERY_IDS, k=K, m_sub=4, n_codes=8)
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K)
    got = {
        (r["query_id"], r["neighbor_id"]) for r in ann.collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }
    recall = len(got & want) / len(want)
    # random pick of 5 from the corpus would land ~0.01; ADC over 8x4
    # sampled codes on random vectors (PQ's worst case) still clears 0.1
    assert recall >= 0.1, recall


def test_ivfpq_prunes_but_keeps_recall_floor(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.cosine_topk_ivfpq(
        emb, QUERY_IDS, S.seeded_centroids(emb, n_cells=8), k=K, n_probe=4, m_sub=4, n_codes=8
    )
    rows = ann.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == set(QUERY_IDS)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, K + 1)), (q, ranks)
    exact = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K)
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(got & want) / len(want) >= 0.05


def test_label_centroid_rank_semantics(spark):
    # two tight clusters: each vector's cosine to its own centroid is ~1,
    # and ranks are a complete 1..n per label with deterministic ties
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.01, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.01, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = S.label_centroid_rank(df).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
        assert r["cos_to_centroid"] > 0.99
    for label, rs in by_label.items():
        assert sorted(x["rank_in_label"] for x in rs) == [1, 2]


def test_nearest_centroid_classify_separable(spark):
    """Well-separated clusters classify perfectly; a vector planted at
    another cluster's centroid is routed there; ties break label-ascending."""
    from sdc_mapreduce_spark.functions.simsearch import nearest_centroid_classify

    rows = []
    # cluster 0 along e0, cluster 1 along e1, slight jitter on other axis
    for i in range(10):
        rows.append((i, [1.0, 0.01 * i, 0.0], 0))
        rows.append((100 + i, [0.01 * i, 1.0, 0.0], 1))
    # mislabeled vector: declared label 0, sits on cluster 1's axis
    rows.append((999, [0.0, 1.0, 0.0], 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r["vec_id"]: r for r in nearest_centroid_classify(df).collect()}
    for i in range(10):
        assert got[i]["pred_label"] == 0
        assert got[100 + i]["pred_label"] == 1
    assert got[999]["pred_label"] == 1
    assert all(abs(r["best_cos"]) <= 1.0 + 1e-12 for r in got.values())


def test_nearest_centroid_tie_breaks_to_lowest_label(spark):
    """Two identical centroids => cosines tie exactly; the lower label wins."""
    from sdc_mapreduce_spark.functions.simsearch import nearest_centroid_classify

    rows = [
        (1, [1.0, 0.0], 3),
        (2, [1.0, 0.0], 7),  # identical single-vector clusters
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r["vec_id"]: r["pred_label"] for r in nearest_centroid_classify(df).collect()}
    assert got == {1: 3, 2: 3}


def test_power_iteration_converges_to_numpy_eigenvector(spark):
    """On a synthetic matrix with a dominant direction, 3 quantized
    iterations align with numpy's top right-singular vector (|cos| > 0.99);
    the result is an exact unit vector in nano units."""
    import numpy as np

    from sdc_mapreduce_spark.functions.simsearch import (
        power_iteration_top_component,
    )

    rng = np.random.RandomState(7)
    direction = rng.randn(16)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(200):
        x = 5.0 * rng.randn() * direction + 0.3 * rng.randn(16)
        rows.append((i, [float(v) for v in x], 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = power_iteration_top_component(df, iterations=3).collect()
    v = np.array(
        [r["component_nano"] for r in sorted(got, key=lambda r: r["pos"])],
        dtype=np.float64,
    ) / 1e9
    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    A = np.array([r[1] for r in rows])
    _, _, vt = np.linalg.svd(A, full_matrices=False)
    assert abs(float(np.dot(v, vt[0]))) > 0.99


def test_kmeans_lloyd_step_invariants(spark, sf_dir):
    """Memberships partition the corpus; shift cosines are valid cosines;
    every seeded cell that wins at least one vector appears."""
    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.functions.simsearch import kmeans_lloyd_step

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = kmeans_lloyd_step(emb, n_cells=8).collect()
    assert sum(r["n_members"] for r in rows) == n
    assert all(-1.0 - 1e-9 <= r["cos_shift"] <= 1.0 + 1e-9 for r in rows)
    assert len({r["cell"] for r in rows}) == len(rows)


def test_incremental_embedding_dedup_flags_planted_near_dup(spark, sf_dir):
    """A batch vector identical to a corpus vector must be flagged with that
    vector as best match at cosine ≈ 1.0; a batch vector orthogonal to the
    whole corpus must not appear."""
    import pyspark.sql.functions as F2

    from sdc_mapreduce_spark.catalog import load_table
    from sdc_mapreduce_spark.functions.simsearch import incremental_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F2.col("vec_id") < 1000)
    donor = corpus.orderBy("vec_id").limit(1).collect()[0]
    dim = len(donor["embedding"])
    clone_id, ortho_id = 100_001, 100_002
    # orthogonal-ish probe: one-hot on the last axis, then verify below
    batch = spark.createDataFrame(
        [
            (clone_id, list(donor["embedding"])),
            (ortho_id, [0.0] * (dim - 1) + [1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in incremental_embedding_dedup(batch, corpus, threshold=0.95).collect()
    }
    assert clone_id in out
    assert out[clone_id]["best_match_id"] == donor["vec_id"]
    assert out[clone_id]["best_cosine_nano"] >= 999_999_000
    assert ortho_id not in out  # nothing in the corpus at cosine >= 0.95


_BLOCKED_PLANES = 6


@pytest.fixture(scope="module")
def blocked_case(spark, sf_dir):
    """(embeddings, expected pairs). The blocked operator decides every
    pair with the same left-fold ``dot()`` as the exhaustive JVM one, so
    its result must be EXACTLY the exhaustive pairs whose SRP buckets
    differ in at most one bit."""
    from sdc_mapreduce_spark.functions.simsearch import _hyperplanes, _srp_prep

    emb = load_table(spark, sf_dir, "embeddings").cache()
    bucket = {
        r["vec_id"]: r["__bucket"]
        for r in _srp_prep(
            emb, _hyperplanes(64, _BLOCKED_PLANES), "vec_id", "embedding"
        )
        .select("vec_id", "__bucket")
        .collect()
    }
    exact = [
        (r["id_a"], r["id_b"])
        for r in _embedding_near_pairs(emb, threshold=0.4).collect()
    ]
    expected = {(a, b) for a, b in exact if bin(bucket[a] ^ bucket[b]).count("1") <= 1}
    # some expected pairs sit in different buckets, so the visitor rows
    # are exercised, and some share one, so the home triangle is too
    assert {bucket[a] == bucket[b] for a, b in expected} == {True, False}
    return emb, expected


def _blocked_pairs(emb, **kw):
    got = [
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_pairs_blocked(
            emb, threshold=0.4, n_planes=_BLOCKED_PLANES, **kw
        ).collect()
    ]
    assert len(got) == len(set(got)), kw
    return set(got)


def test_blocked_pairs_arrow_verify_bitwise_equals_jvm(blocked_case):
    """The Arrow per-bucket verify kernel reproduces the JVM fold's pairs
    EXACTLY (threshold-boundary ones included) inside the probe radius —
    no pair lost, none gained outside it, none emitted twice."""
    emb, expected = blocked_case
    assert _blocked_pairs(emb) == expected


def test_blocked_pairs_bucket_verify_bitwise_equals_jvm(blocked_case):
    """Same exact equality with a chunk small enough to force the
    visitor-blocking loop inside each bucket group."""
    emb, expected = blocked_case
    assert _blocked_pairs(emb, chunk=7) == expected


def test_label_silhouette_separable_clusters(spark):
    """Well-separated labels score near-1 own-cosine and a clearly positive
    separation; a deliberately blurred label scores lower separation. Also
    pins the output invariants: one row per label, n_vectors partitions the
    corpus, separation == mean_own_cos - mean_other_cos exactly (same
    quantized terms), all cosines within [-1, 1]."""
    from sdc_mapreduce_spark.functions.simsearch import label_silhouette_audit

    rows = []
    for i in range(8):
        rows.append((i, [1.0, 0.01 * i, 0.0], 0))  # tight cluster on e0
        rows.append((100 + i, [0.01 * i, 1.0, 0.0], 1))  # tight cluster on e1
        # label 2 straddles both axes — geometrically incoherent
        rows.append((200 + i, [1.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0], 2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["label"]: r for r in label_silhouette_audit(df).collect()}
    assert sorted(out) == [0, 1, 2]
    assert sum(r["n_vectors"] for r in out.values()) == len(rows)
    for r in out.values():
        assert -1.0 - 1e-9 <= r["mean_other_cos"] <= 1.0 + 1e-9
        assert -1.0 - 1e-9 <= r["mean_own_cos"] <= 1.0 + 1e-9
        assert abs(r["separation"] - (r["mean_own_cos"] - r["mean_other_cos"])) < 1e-12
    assert out[0]["mean_own_cos"] > 0.99 and out[1]["mean_own_cos"] > 0.99
    assert out[0]["separation"] > 0.1 and out[1]["separation"] > 0.1
    # the blurred label's best foreign centroid beats its own 45° average
    assert out[2]["separation"] < 0 < out[0]["separation"]


def test_label_silhouette_deterministic(spark, sf_dir):
    """Two runs over the fixture corpus are bitwise identical (quantized
    centroid sums + fixed-order folds — the oracle-replay contract)."""
    from sdc_mapreduce_spark.functions.simsearch import label_silhouette_audit

    emb = load_table(spark, sf_dir, "embeddings")
    a = [tuple(r) for r in label_silhouette_audit(emb).collect()]
    b = [tuple(r) for r in label_silhouette_audit(emb).collect()]
    assert a == b and len(a) > 0


# --- MMR diversified retrieval (r11) ---------------------------------------


def _python_mmr(rows, query_ids, k=5, pool=20, lam=7):
    """Greedy MMR replay on micro-quantized cosines — the same integer
    arithmetic the Spark path and the DuckDB oracle use."""
    import math

    ids = np.array([r[0] for r in rows])
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    # mirror the engine exactly: unit vectors via x / l2norm, dot via a
    # strict LEFT-TO-RIGHT fold (numpy @ is pairwise-summed — off by ulps)
    by_id = {}
    for n, i in enumerate(ids):
        nrm = math.sqrt(sum(float(x) * float(x) for x in V[n]))
        by_id[int(i)] = [float(x) / nrm for x in V[n]]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def micro(x: float) -> int:
        return int(np.floor(x + 0.5)) if x >= 0 else int(np.ceil(x - 0.5))

    out = set()
    for q in query_ids:
        qv = by_id[q]
        scored = sorted(
            ((dot(qv, by_id[c]), -c) for c in by_id if c != q), reverse=True
        )
        cands = [-negc for _, negc in scored[:pool]]
        rel = {c: micro(1e6 * dot(qv, by_id[c])) for c in cands}
        selected = []
        for step in range(1, k + 1):
            best = max(
                (c for c in cands if c not in selected),
                key=lambda c: (
                    lam * rel[c]
                    - (10 - lam)
                    * max(
                        (micro(1e6 * dot(by_id[c], by_id[s])) for s in selected),
                        default=0,
                    ),
                    -c,
                ),
            )
            selected.append(best)
            out.add((q, best, step))
    return out


def test_mmr_matches_python_greedy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    expected = _python_mmr(rows, QUERY_IDS, k=K, pool=20, lam=7)
    got = {
        (r["query_id"], r["neighbor_id"], r["mmr_rank"])
        for r in S.mmr_topk(emb, QUERY_IDS, k=K, pool=20, lam_tenths=7).collect()
    }
    assert got == expected


def test_mmr_first_pick_is_pure_relevance_and_diversifies_after(spark, sf_dir):
    """Rank 1 must equal the brute-force top-1; with λ<1 the later picks
    must diverge from plain top-k for at least one query on a corpus with
    planted near-dup clusters — otherwise the diversity term is dead."""
    emb = load_table(spark, sf_dir, "embeddings")
    plain = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.cosine_topk_bruteforce(emb, QUERY_IDS, k=K).collect()
    }
    mmr = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in S.mmr_topk(emb, QUERY_IDS, k=K, pool=20, lam_tenths=7).collect()
    }
    for q in QUERY_IDS:
        assert mmr[(q, 1)] == plain[(q, 1)]
    assert any(
        mmr[(q, s)] != plain[(q, s)] for q in QUERY_IDS for s in range(2, K + 1)
    )


def test_mmr_validates_args(spark, sf_dir):
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="lam_tenths"):
        S.mmr_topk(emb, QUERY_IDS, lam_tenths=11)
    with pytest.raises(ValueError, match="pool"):
        S.mmr_topk(emb, QUERY_IDS, k=30, pool=20)


def test_mmr_indexed_pool_matches_python_greedy_on_ivf_candidates(spark, sf_dir, tmp_path):
    """mmr_topk(scored=<index candidates>) must equal the Python greedy
    replayed over the EXACT candidate set the index serves (probed-cell
    members), and rank 1 must be the best candidate IN THE PROBED CELLS —
    the indexed path approximates the pool, never the greedy."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=8)
    assigned = S.assign_cells(emb, cents)
    path = str(tmp_path / "mmr_ivf")
    S.write_ivf_index(assigned, cents, path)
    scored = S._index_scored(spark, path, QUERY_IDS, n_probe=4)

    got = {
        (r["query_id"], r["neighbor_id"], r["mmr_rank"])
        for r in S.mmr_topk(
            emb, QUERY_IDS, k=K, pool=20, lam_tenths=7, scored=scored
        ).collect()
    }
    # replay: restrict each query's candidates to its probed cells, then
    # run the same python greedy used by the brute-force parity test
    by_q: dict[int, list] = {}
    for r in scored.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    expected = set()
    for q, cands in by_q.items():
        pool = sorted(cands, key=lambda r: (-r["cosine"], r["neighbor_id"]))[:20]
        rel = {r["neighbor_id"]: round(r["cosine"] * 1e6) for r in pool}
        units = {r["neighbor_id"]: r["__unit"] for r in pool}
        selected, remaining = [], set(rel)
        for step in range(1, K + 1):
            if not remaining:
                break
            def score(c):
                ms = max(
                    (round(sum(x * y for x, y in zip(units[c], units[s])) * 1e6)
                     for s in selected),
                    default=0,
                )
                return 7 * rel[c] - 3 * ms
            best = max(remaining, key=lambda c: (score(c), -c))
            selected.append(best)
            remaining.discard(best)
            expected.add((q, best, step))
    assert got == expected


def test_mmr_indexed_pool_recall_floor(spark, sf_dir, tmp_path):
    """The indexed pool must recover most of the brute-force pool on the
    fixture (seeded quantizer, 4/8 cells probed) — the audit column the
    registered query exposes should not silently degrade."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.seeded_centroids(emb, n_cells=8)
    assigned = S.assign_cells(emb, cents)
    path = str(tmp_path / "mmr_ivf_recall")
    S.write_ivf_index(assigned, cents, path)
    from sdc_mapreduce_spark.operators.relational import top_k_per_group
    from pyspark.sql import functions as F

    scored = S._index_scored(spark, path, QUERY_IDS, n_probe=4)
    ivf_pool = top_k_per_group(
        scored.select("query_id", "neighbor_id", "cosine"),
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        20,
        rank_col="__pr",
    ).select("query_id", "neighbor_id")
    brute = S.cosine_topk_bruteforce(emb, QUERY_IDS, k=20).select(
        "query_id", "neighbor_id"
    )
    hits = (
        ivf_pool.join(brute, ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert len(hits) == len(QUERY_IDS)
    avg = sum(r["count"] for r in hits) / (20 * len(QUERY_IDS))
    assert avg >= 0.5, f"indexed pool recall collapsed: {avg:.2f}"
