"""Dedup operators: exact Jaccard against a pure-Python reference, LSH
against exhaustive, SimHash properties, rolling fingerprint fold."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.functions import dedup as D
from sdc_mapreduce_spark.functions.text import rolling_fingerprint


def _python_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _numpy_minhash(shingles, num_hashes: int, bands: int = 1):
    """Reference MinHash of one shingle-hash array, computed per document
    in numpy: the minima of the universal family
    min((a_i * h + b_i) mod 2^61-1) and the per-band mix of those minima,
    with (a, b, mix) drawn from RNG_SEED_MINHASH in the order the Arrow
    band kernel draws them. Returns (minima, band hashes)."""
    import numpy as np

    MERSENNE = (1 << 61) - 1
    rows_per_band = num_hashes // bands
    rng = np.random.RandomState(D.RNG_SEED_MINHASH)
    a = rng.randint(1, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    mix = (
        rng.randint(1, MERSENNE, size=rows_per_band, dtype=np.int64).astype(np.uint64)
        | np.uint64(1)
    )
    h = np.asarray(shingles, dtype=np.int64).astype(np.uint64)
    mins = ((a[:, None] * h[None, :] + b[:, None]) % MERSENNE).min(axis=1)
    per_band = mins.reshape(bands, rows_per_band)
    return mins, (per_band * mix[None, :]).sum(axis=1).astype(np.int64)


def _python_jaccard_pairs(rows, n=3, threshold=0.8):
    sets = {r[0]: _python_shingles(r[1], n) for r in rows}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
    return out


def test_jaccard_pairs_vs_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(120).cache()
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    expected = _python_jaccard_pairs(rows, threshold=0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert got == expected


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """The band kernel's universal-hash family (through its numpy
    reference, which test_band_rows_arrow_vectorization_is_bitwise pins to
    the kernel bit-for-bit) must be a valid MinHash estimator: for true
    near-dup pairs, the fraction of agreeing minima estimates the
    exact Jaccard within ~4 standard errors (sqrt(j(1-j)/K) ≈ 0.035 at
    K=128) — catches any bias bug in the (a*h+b) mod M permutations."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert exact
    K = 128
    ids = {i for pair in exact for i in pair}
    sigs = {
        r["doc_id"]: _numpy_minhash(r["shingles"], K)[0]
        for r in D.shingle_sets(docs, n=3)
        .filter(F.col("doc_id").isin(list(ids)))
        .collect()
    }
    for (a, b), j in exact.items():
        est = float((sigs[a] == sigs[b]).sum()) / K
        assert abs(est - j) <= 0.15, (a, b, j, est)


def test_near_dup_clusters_match_union_find(spark, sf_dir):
    """Label propagation must produce exactly the components a driver-side
    union-find builds from the same pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = [
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, num_hashes=128, bands=32, threshold=0.8
        ).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    expected = {i: find(i) for i in all_ids}
    got = {
        r["doc_id"]: r["rep_id"]
        for r in D.near_dup_clusters(docs, num_hashes=128, bands=32).collect()
    }
    assert got == expected
    assert any(rep != i for i, rep in got.items()), "no non-trivial clusters found"


def _shuffled_chain(n: int):
    """One path over ``n`` nodes whose ids are in random order along it."""
    ids = random.Random(0).sample(range(n), n)
    return ids, list(zip(ids, ids[1:]))


def _components(spark, ids, edges):
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return D.min_label_propagation(nodes, pairs)


def test_label_propagation_matches_union_find(spark):
    """A shuffled-id chain, a star whose centre is not its minimum and two
    disjoint cliques: every component gets exactly one rep_id, its minimum
    id, as a union-find built from the same edges says."""
    chain_ids, chain = _shuffled_chain(1000)
    star = [(530, i) for i in range(500, 560) if i != 530]
    cliques = [
        (a, b) for lo in (700, 800) for a in range(lo, lo + 12) for b in range(a + 1, lo + 12)
    ]
    cases = {  # (nodes, edges, number of components)
        "chain": (chain_ids, chain, 1),
        "star": (list(range(500, 560)) + [999], star, 2),
        "cliques": (list(range(700, 712)) + list(range(800, 812)), cliques, 2),
    }
    for case, (ids, edges, n_components) in cases.items():
        parent = {i: i for i in ids}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        got = {r["doc_id"]: r["rep_id"] for r in _components(spark, ids, edges).collect()}
        assert got == {i: find(i) for i in ids}, case
        members: dict[int, list[int]] = {}
        for i, rep in got.items():
            members.setdefault(rep, []).append(i)
        assert len(members) == n_components, case
        assert all(rep == min(m) for rep, m in members.items()), case


def test_label_propagation_raises_at_its_round_cap(spark, monkeypatch):
    """A 1,000-node chain with shuffled ids needs more than 6 rounds; at
    the cap the operator fails by name (round count, labels still
    changing) instead of returning several rep_ids for the one
    component."""
    import pytest

    monkeypatch.setattr(D, "MAX_ROUNDS", 6)
    ids, edges = _shuffled_chain(1000)
    with pytest.raises(
        D.LabelPropagationNotConverged, match=r"in 6 rounds: [1-9]\d* labels still changing"
    ):
        _components(spark, ids, edges)


def test_label_propagation_size_estimate_stays_bounded(spark, sf_dir):
    """The planner's sizeInBytes estimate of the result must not multiply
    with the round count: below 10^40 on the shuffled 1,000-node chain and
    on dedup_clusters."""
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_clusters

    frames = {
        "chain": _components(spark, *_shuffled_chain(1000)),
        "dedup_clusters": dedup_clusters(spark, sf_dir),
    }
    units = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
    for name, df in frames.items():
        # Spark's own rendering ("sizeInBytes=4.8E+37 B", "6.0 EiB"): a
        # runaway estimate has millions of digits, too many to convert
        stats = df._jdf.queryExecution().optimizedPlan().stats().simpleString()
        value, unit = stats.split(",")[0].split("=")[1].split()
        assert float(value) * 1024 ** units.index(unit) < 1e40, (name, stats)


def test_minhash_lsh_equals_exhaustive(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, num_hashes=128, bands=32, threshold=0.8
        ).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # fixture has planted near-dups


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_copies"] for r in D.exact_dedup(df).collect()}
    assert got == {1: 3, 3: 1}


def test_normalized_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world "), (3, "different")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_copies"] for r in D.normalized_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_simhash_properties(spark):
    base = "spark is a unified analytics engine for large scale data processing"
    near = base.replace("unified", "unified modern")  # small edit
    far = "completely unrelated words about cooking pasta and tomato sauce recipes"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]  # determinism: identical text, identical sig

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(sigs[1], sigs[3]) < hamming(sigs[1], sigs[4])


def test_simhash_near_pairs_finds_planted(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(docs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # SimHash(hamming<=3) and 3-gram Jaccard(>=0.8) are different similarity
    # spaces; require overlap on the planted near-dups, not equality.
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(docs, n=3, threshold=0.9).collect()
    }
    assert exact & got, "simhash found none of the high-jaccard planted pairs"


def test_rolling_fingerprint_fold(spark):
    """Spark-side fold == pure-Python fold over md5-derived token hashes
    (the engine-portable token_hash60 definition)."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    tok_hashes = [
        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for t in ("alpha", "beta", "gamma", "delta")
    ]
    m, p, acc = 2147483647, 1000003, 0
    for h in tok_hashes:
        acc = (acc * p + (h % m)) % m
    got = rolling_fingerprint(df).collect()[0]["rolling_fp"]
    assert got == acc

    # order sensitivity
    df2 = spark.createDataFrame([(1, "delta gamma beta alpha")], ["doc_id", "text"])
    assert rolling_fingerprint(df2).collect()[0]["rolling_fp"] != acc


# A cap above any fixture group's size: with it, no hot-key cap fires.
_NO_CAP = 10**9


def test_jaccard_max_df_cap_identity_below_cap(spark, sf_dir, monkeypatch):
    """When no shingle's document frequency exceeds the cap, the capped
    operator must be bit-identical to the uncapped one (pairs AND values)."""
    docs = load_table(spark, sf_dir, "documents").limit(120).cache()
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    monkeypatch.setattr(D, "MAX_DF", _NO_CAP)
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert capped == uncapped


def test_jaccard_max_df_cap_drops_boilerplate(spark, monkeypatch):
    """A shingle shared by every doc (boilerplate header) is excluded from
    the universe when df > MAX_DF: pairs whose ONLY overlap is boilerplate
    vanish, while genuinely-duplicated pairs survive."""
    header = "terms of service apply here"
    rows = [
        (1, f"{header} alpha beta gamma delta epsilon"),
        (2, f"{header} zeta eta theta iota kappa"),
        (3, f"{header} alpha beta gamma delta epsilon"),  # true dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    # df(header shingles)=3 > MAX_DF=2 -> header universe removed.
    monkeypatch.setattr(D, "MAX_DF", 2)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, n=3, threshold=0.2).collect()
    }
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (1, 2) not in got and (2, 3) not in got
    # Uncapped, the boilerplate overlap (3 of 13 union shingles = 0.23)
    # lifts (1,2)/(2,3) above 0.2.
    monkeypatch.setattr(D, "MAX_DF", _NO_CAP)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(docs, n=3, threshold=0.2).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= uncapped


def test_simhash_max_block_cap(spark, sf_dir, monkeypatch):
    """Fixture blocks are all far below the default cap -> identical pair
    sets; a degenerate corpus of identical docs (every block hot) yields no
    candidates when the cap fires."""
    docs = load_table(spark, sf_dir, "documents").limit(150).cache()
    clones = spark.createDataFrame(
        [(i, "same exact text for every document") for i in range(20)],
        "doc_id int, text string",
    )

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in D.simhash_near_pairs(df, max_hamming=3).collect()}

    capped = pairs(docs)
    monkeypatch.setattr(D, "MAX_BLOCK", _NO_CAP)
    assert pairs(docs) == capped
    assert len(pairs(clones)) == 190
    monkeypatch.setattr(D, "MAX_BLOCK", 10)
    assert pairs(clones) == set()


def test_incremental_dedup_semantics(spark):
    """Batch docs with content already in the corpus are dropped; in-batch
    duplicates collapse to the lowest id with the right copy count; genuinely
    new content survives."""
    existing = spark.createDataFrame(
        [(1, "old content"), (2, "shared content")], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "shared content"),   # already in corpus -> dropped
            (11, "brand new"),        # new -> kept
            (12, "brand new"),        # in-batch dup of 11 -> counted
            (13, "also new"),         # new -> kept
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n_copies_in_batch"]
        for r in D.incremental_dedup(batch, existing).collect()
    }
    assert got == {11: 2, 13: 1}


def test_bloom_prefilter_no_false_negatives_and_flags_dups(spark):
    existing = spark.createDataFrame(
        [(i, f"corpus document {i}") for i in range(50)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(100, "corpus document 7"),   # exact dup of corpus
         (101, "corpus document 23"),  # exact dup of corpus
         (102, "a genuinely new doc"),
         (103, "another new doc")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["bloom_maybe"], r["is_dup"])
        for r in D.bloom_prefilter_dedup(batch, existing).collect()
    }
    assert out[100] == (True, True) and out[101] == (True, True)
    assert out[102][1] is False and out[103][1] is False
    # invariant: is_dup implies bloom_maybe (no false negatives)
    assert all(maybe or not dup for maybe, dup in out.values())


def test_bloom_right_sized_filter_has_no_false_positives_here(spark):
    # 50 keys in a 2^16-bit filter: expected FP rate ~1e-13 -> every
    # non-member must come back definite-new
    existing = spark.createDataFrame(
        [(i, f"corpus document {i}") for i in range(50)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(200 + i, f"fresh doc {i}") for i in range(30)], ["doc_id", "text"]
    )
    out = D.bloom_prefilter_dedup(batch, existing, m_bits=1 << 16, k=5).collect()
    assert len(out) == 30
    assert all((not r["bloom_maybe"]) and (not r["is_dup"]) for r in out)


def test_incremental_minhash_flags_near_dup_against_corpus(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different words here entirely")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, near), (101, "nothing like the corpus at all")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in D.incremental_minhash_dedup(batch, existing, threshold=0.8).collect()
    }
    assert 100 in out and 101 not in out
    assert out[100]["best_match_id"] == 1
    assert out[100]["n_corpus_matches"] == 1
    assert 0.8 <= out[100]["best_jaccard"] < 1.0


def test_incremental_dedup_fingerprint_index_bucket_join_no_shuffle(spark, sf_dir):
    """The 100 TB ingestion plan made concrete: persist the corpus
    fingerprint index BUCKETED on the fingerprint; a delivery whose batch
    fingerprints are written into the same bucket layout anti-joins the
    index with ZERO exchanges — the per-delivery dedup never reshuffles
    the billions-row index."""
    from sdc_mapreduce_spark import sources as io

    docs = load_table(spark, sf_dir, "documents")
    corpus_fps = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch_fps = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    io.write_bucketed_table(corpus_fps, "fp_index", ["fp"], num_buckets=8, sort_cols=["fp"])
    io.write_bucketed_table(batch_fps, "fp_batch", ["fp"], num_buckets=8, sort_cols=["fp"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = spark.table("fp_batch").join(
            spark.table("fp_index"), "fp", "left_anti"
        )
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"index anti-join still shuffles:\n{plan}"
        # semantics unchanged vs the logical incremental plan
        expect = (
            batch_fps.join(corpus_fps, "fp", "left_anti").count()
        )
        assert fresh.count() == expect
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS fp_index")
        spark.sql("DROP TABLE IF EXISTS fp_batch")


def test_exact_substring_dedup_policy(spark):
    """Duplicated chunks survive only at their globally-first occurrence;
    unique chunks are untouched; token counts are conserved."""
    import hashlib

    shared = " ".join(f"s{i}" for i in range(4))  # one full 4-token chunk
    docs = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(4))),
        (2, shared + " " + " ".join(f"b{i}" for i in range(4))),
        (3, " ".join(f"c{i}" for i in range(4)) + " " + shared),
        (4, "lone doc"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in D.exact_substring_dedup(df, chunk_size=4).collect()
    }
    # doc 1 holds the first occurrence of the shared chunk: keeps all 8.
    assert rows[1]["n_dropped"] == 0 and rows[1]["n_tokens_kept"] == 8
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert rows[1]["cleaned_fp"] == md5(docs[0][1])
    # docs 2 and 3 lose exactly the shared chunk, keep their own 4 tokens.
    for d, keep in ((2, "b"), (3, "c")):
        assert rows[d]["n_dropped"] == 1 and rows[d]["n_tokens_kept"] == 4
        assert rows[d]["cleaned_fp"] == md5(" ".join(f"{keep}{i}" for i in range(4)))
    # doc 4 (short tail chunk, no dups) is byte-identical.
    assert rows[4]["n_dropped"] == 0
    assert rows[4]["cleaned_fp"] == md5("lone doc")


def test_exact_substring_dedup_within_doc_repetition(spark):
    """A chunk repeated INSIDE one document keeps only its first copy —
    sub-document granularity, not doc-level."""
    chunk = " ".join(f"r{i}" for i in range(4))
    df = spark.createDataFrame(
        [(7, chunk + " " + chunk + " " + chunk)], ["doc_id", "text"]
    )
    row = D.exact_substring_dedup(df, chunk_size=4).collect()[0]
    assert row["n_chunks"] == 3
    assert row["n_dropped"] == 2
    assert row["n_tokens_kept"] == 4


def test_pagerank_integer_matches_python_replica(spark):
    """The all-integer PageRank on a star+path graph equals an exact Python
    replay; the hub outranks leaves and symmetric leaves tie exactly."""
    from sdc_mapreduce_spark.functions.graph import pagerank_integer

    # star: 0-1, 0-2, 0-3; path tail: 3-4
    edges = [(0, 1), (0, 2), (0, 3), (3, 4)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r for r in pagerank_integer(df, iterations=3).collect()}

    und = edges + [(b, a) for a, b in edges]
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    base = (15 * 10**9) // (100 * n)
    rank = {v: 10**9 // n for v in deg}
    for _ in range(3):
        inc = {v: 0 for v in deg}
        for a, b in und:
            inc[b] += rank[a] // deg[a]
        rank = {v: base + (85 * inc[v]) // 100 for v in deg}
    for v in deg:
        assert got[v]["rank_nano"] == rank[v], v
        assert got[v]["degree"] == deg[v]
    assert got[0]["rank_nano"] > max(got[1]["rank_nano"], got[4]["rank_nano"])
    assert got[1]["rank_nano"] == got[2]["rank_nano"]  # symmetric leaves


def test_containment_finds_subsets_jaccard_misses(spark):
    """A short quote embedded in a long page: containment ~1.0 while
    Jaccard is far below any dedup threshold."""
    from sdc_mapreduce_spark.functions.dedup import containment_pairs, jaccard_pairs

    quote = " ".join(f"q{i}" for i in range(12))
    page = quote + " " + " ".join(f"body{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, "unrelated text entirely different")],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    jac = jaccard_pairs(df, threshold=0.5).collect()
    assert all({r["id_a"], r["id_b"]} != {1, 2} for r in jac)


def _without_broadcast(spark, build):
    """Rows of ``build()`` with broadcast joins disabled — the sort-merge
    plan an input far past the byte threshold gets — restoring the
    session's threshold afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        return build().collect()
    finally:
        spark.conf.set(key, threshold)


def test_exact_substring_shuffle_fallback_identical(spark):
    """The drop-list join with broadcasts disabled (the shuffle-join
    rebuild a corpus-scale drop list gets) produces byte-identical
    results to the default plan."""
    shared = " ".join(f"dup{i}" for i in range(16))
    docs = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(16))),
        (2, shared + " " + " ".join(f"b{i}" for i in range(16))),
        (3, " ".join(f"c{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    base = sorted(map(tuple, D.exact_substring_dedup(df).collect()))
    fallback = sorted(
        map(tuple, _without_broadcast(spark, lambda: D.exact_substring_dedup(df)))
    )
    assert base == fallback
    # sanity: the planted shared chunk was actually dropped somewhere
    dropped = {r[0]: r[2] for r in base}
    assert dropped[2] >= 1 and dropped[1] == 0


def test_minhash_lsh_max_bucket_identity_below_cap(spark, sf_dir, monkeypatch):
    """On the fixture corpus no (band, bhash) bucket approaches the default
    cap, so MAX_BUCKET and the uncapped run are identical (the LSH twin of
    test_jaccard_max_df_cap_identity_below_cap)."""
    docs = load_table(spark, sf_dir, "documents")
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    monkeypatch.setattr(D, "MAX_BUCKET", _NO_CAP)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_minhash_lsh_max_bucket_prunes_templated_corpus(spark, monkeypatch):
    """An adversarial/templated corpus where every doc lands in one hot
    (band, bhash) bucket: a tiny cap drops those band rows, so the
    quadratic bucket never reaches the self-join (recall trade-off is the
    documented cost). Identical docs still collide in their OTHER bands
    only if those are also under the cap — with ALL bands hot, zero
    candidates survive."""
    text = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame([(i, text) for i in range(12)], ["doc_id", "text"])
    monkeypatch.setattr(D, "MAX_BUCKET", _NO_CAP)
    uncapped = D.minhash_lsh_pairs(df, threshold=0.8).collect()
    assert len(uncapped) == 12 * 11 // 2  # identical docs: all pairs
    monkeypatch.setattr(D, "MAX_BUCKET", 5)
    capped = D.minhash_lsh_pairs(df, threshold=0.8).collect()
    assert capped == []


def test_minhash_lsh_verify_gate_fallback_identical(spark, sf_dir):
    """The verify joins with broadcasts disabled (the sort-merge plan a
    candidate set far past the byte threshold gets) produce byte-identical
    pairs to the default plan."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    base = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    )
    fallback = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _without_broadcast(
            spark, lambda: D.minhash_lsh_pairs(docs, threshold=0.8)
        )
    )
    assert base == fallback


def test_incremental_minhash_verify_gate_fallback_identical(spark, sf_dir, monkeypatch):
    """Forcing the candidate-broadcast probe past its threshold must take
    the shuffle-join verify path with identical screening output."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    base = sorted(map(tuple, D.incremental_minhash_dedup(batch, existing).collect()))
    monkeypatch.setattr(D, "BROADCAST_MAX_CANDIDATES", 0)
    fallback = sorted(map(tuple, D.incremental_minhash_dedup(batch, existing).collect()))
    assert base == fallback and len(base) > 0


def test_fuzzy_name_pairs_blocking_and_verify(spark):
    """Pairs form only within a block, pass the length bound, and verify
    levenshtein <= max_dist; row support counts the un-collapsed rows."""
    df = spark.createDataFrame(
        [(1, "red bolt"), (2, "red bold"), (3, "red bolt"), (4, "red widget"),
         (5, "blue bolt")],
        ["id", "nm"],
    )
    rows = {
        (r["name_a"], r["name_b"]): (r["dist"], r["rows_a"], r["rows_b"])
        for r in D.fuzzy_name_pairs(df, "nm", max_dist=4).collect()
    }
    # "red bold" ~ "red bolt" (dist 1); widget is 5+ edits from both;
    # "blue bolt" is in another block despite dist 2 from "red bolt"
    assert rows == {("red bold", "red bolt"): (1, 1, 2)}


def test_fuzzy_name_pairs_max_block_identity_and_prune(spark, monkeypatch):
    """Below the cap output is bit-identical to uncapped; a cap smaller
    than a block's membership removes that block from the universe."""
    df = spark.createDataFrame(
        [(1, "red bolt"), (2, "red bold"), (3, "red boat")], ["id", "nm"]
    )
    capped = sorted(map(tuple, D.fuzzy_name_pairs(df, "nm").collect()))
    monkeypatch.setattr(D, "MAX_BLOCK", _NO_CAP)
    uncapped = sorted(map(tuple, D.fuzzy_name_pairs(df, "nm").collect()))
    assert capped == uncapped and len(capped) == 3
    monkeypatch.setattr(D, "MAX_BLOCK", 2)
    assert D.fuzzy_name_pairs(df, "nm").count() == 0


def test_fuzzy_name_pairs_matches_bruteforce(spark, sf_dir):
    """Against the real part table: the blocked join must equal the
    brute-force within-block answer exactly — a Python edit-distance
    replica over all distinct-name pairs sharing a block, with the same
    length bound and threshold."""
    part = load_table(spark, sf_dir, "part")
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in D.fuzzy_name_pairs(part, "p_name", max_dist=4).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = sorted(
        {r["p_name"] for r in part.select("p_name").distinct().collect()}
    )
    want = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if a.lower().split(" ")[0] != b.lower().split(" ")[0]:
                continue
            if abs(len(a) - len(b)) > 4:
                continue
            d = lev(a, b)
            if d <= 4:
                want[(a, b)] = d
    assert got == want and len(got) > 0


def test_cluster_labels_invariants(spark, sf_dir):
    """Every labeled cluster has >= 2 docs, exactly its top-min(3, terms)
    ranks starting at 1, tf bounded by cluster token volume, and scores
    non-increasing within a cluster."""
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_cluster_labels

    rows = dedup_cluster_labels(spark, sf_dir).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["rep_id"], []).append(r)
    for rep, rs in by_cluster.items():
        rs.sort(key=lambda r: r["rank"])
        assert all(r["n_docs"] >= 2 for r in rs)
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        scores = [r["score_milli"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_cluster_labels_shuffle_fallback_identical(spark, sf_dir):
    """With broadcasts disabled, the sizes and cdf sides take plain
    shuffle joins (the plan cluster- and vocab-scale sides get past the
    byte threshold) and the labels are byte-identical to the default
    plan."""
    from sdc_mapreduce_spark.queries.dedup_queries import dedup_cluster_labels

    base = sorted(map(tuple, dedup_cluster_labels(spark, sf_dir).collect()))
    fallback = sorted(
        map(
            tuple,
            _without_broadcast(spark, lambda: dedup_cluster_labels(spark, sf_dir)),
        )
    )
    assert base == fallback and len(base) > 0


def test_dedup_builders_start_no_spark_job(spark, sf_dir):
    """Building a dedup query only describes its plan: no count probe,
    collect or eager persist runs before the caller's action."""
    from sdc_mapreduce_spark.cache import drain_pins
    from sdc_mapreduce_spark.queries import REGISTRY

    # The first read of a table infers its parquet schema with one job,
    # which catalog caches for the process: table discovery, not a builder.
    for table in ("documents", "embeddings"):
        load_table(spark, sf_dir, table)
    sc = spark.sparkContext
    started = {}
    try:
        for name in (
            "dedup_minhash_lsh",
            "dedup_jaccard_prefix",
            "dedup_embedding_ann",
            "dedup_exact_substring",
            "dedup_source_leakage_matrix",
        ):
            group = f"build-only-{name}"
            sc.setJobGroup(group, f"build {name}")
            REGISTRY[name].fn(spark, sf_dir)
            started[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
        drain_pins(spark)
    assert started == {name: [] for name in started}


def test_source_leakage_matrix_consistent_with_pairs(spark, sf_dir):
    """The leakage matrix must be the exact (least, greatest)-source
    aggregation of the verified LSH pair set: total n_pairs equals the
    pair count, keys are normalized (source_a <= source_b), counts
    positive."""
    from sdc_mapreduce_spark.queries.dedup_queries import (
        dedup_source_leakage_matrix,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_pairs = D.minhash_lsh_pairs(
        docs, num_hashes=128, bands=32, n=3, threshold=0.8
    ).count()
    rows = dedup_source_leakage_matrix(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs > 0
    assert all(r["source_a"] <= r["source_b"] and r["n_pairs"] > 0 for r in rows)


def test_dedup_keep_best_prefers_quality_over_min_id(spark, tmp_path):
    """keep-best must pick the highest-quality cluster member even when it
    is NOT the min-id representative: docs 0 and 1 are near-identical
    (one 3-gram shingle set difference keeps Jaccard >= 0.8), doc 1 has
    the higher alpha/stopword quality, so best_id=1 while rep_id=0; the
    unrelated doc stays its own kept singleton."""
    import os

    from sdc_mapreduce_spark.queries.dedup_queries import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog again and again"
    # single-token suffixes keep 10 of 12 shingles shared: J = 10/12 >= 0.8
    docs = spark.createDataFrame(
        [
            (0, base + " 1234"),  # trailing digits hurt alpha_ratio
            (1, base + " nice"),  # cleaner -> higher quality
            (2, "zzz completely unrelated text block xyz"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "kb")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {r["doc_id"]: r for r in dedup_keep_best(spark, d).collect()}
    assert rows[0]["rep_id"] == 0 and rows[1]["rep_id"] == 0
    assert rows[0]["best_id"] == 1 and rows[1]["best_id"] == 1
    assert (rows[0]["is_kept"], rows[1]["is_kept"]) == (False, True)
    assert rows[2]["is_kept"] and rows[2]["best_id"] == 2


# --- AllPairs/PPJoin prefix filtering (r11) -------------------------------


def test_jaccard_prefix_parity_with_inverted_index(spark, sf_dir, monkeypatch):
    """Prefix filtering is LOSSLESS: the candidate reduction must return
    exactly the unfiltered inverted-index result — ids AND jaccard values
    — at the registered threshold."""
    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(D, "MAX_DF", _NO_CAP)
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert full  # fixture has planted near-dups
    assert pref == full


def test_jaccard_prefix_vs_python_low_threshold(spark, sf_dir):
    """At a low threshold the prefixes are long and the size filter is
    loose — exercises the ceil/epsilon prefix-length math across many doc
    sizes against the brute-force reference."""
    docs = load_table(spark, sf_dir, "documents").limit(120).cache()
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    expected = _python_jaccard_pairs(rows, threshold=0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_prefix_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert got == expected


def test_jaccard_prefix_indexes_fewer_postings(spark, sf_dir):
    """The point of the filter: the prefix index must be materially
    smaller than the full inverted index (≈ (1-t) fraction plus the +1
    per doc) — guards against a regression that silently indexes
    everything (still correct, no longer scalable)."""
    docs = load_table(spark, sf_dir, "documents")
    sets = D.shingle_sets(docs, n=3)
    full_postings = sets.select(F.explode("shingles")).count()
    t = 0.8
    prefix_postings = sets.select(
        F.greatest(
            F.lit(1),
            F.size("shingles")
            - F.ceil(F.size("shingles") * t - 1e-9)
            + 1,
        ).alias("p")
    ).agg(F.sum("p")).collect()[0][0]
    assert prefix_postings < 0.35 * full_postings


# --- sorted-neighborhood blocking (r11) -----------------------------------


def _python_snm_pairs(rows, window=10, threshold=0.5, key_chars=24):
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.lower()).strip()

    def toks(t):
        # Mirror both engines (ADVICE r11): Spark split / DuckDB
        # string_split_regex yield [''] for empty/whitespace-only text,
        # not [] — so two empty docs have union=1 and jaccard=1.
        return set(t.strip().split()) or {""}

    keyed = sorted(
        (norm(t)[:key_chars] + "#" + str(i).zfill(12), i, toks(t))
        for i, t in rows
    )
    out = set()
    for a in range(len(keyed)):
        for b in range(a + 1, min(a + window, len(keyed))):
            sa, sb = keyed[a][2], keyed[b][2]
            inter = len(sa & sb)
            union = len(sa | sb)
            if union and inter / union >= threshold:
                out.add(tuple(sorted((keyed[a][1], keyed[b][1]))))
    return out


def test_sorted_neighborhood_vs_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    expected = _python_snm_pairs(rows, window=10, threshold=0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.sorted_neighborhood_pairs(
            docs, window=10, threshold=0.5, key_chars=24
        ).collect()
    }
    assert expected  # fixture has planted near-dups with shared prefixes
    assert got == expected


def test_sorted_neighborhood_rank_is_partition_invariant(spark, sf_dir):
    """The two-phase global rank must not depend on the input layout: a
    repartitioned (shuffled-layout) input yields the identical pair set."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    base = {
        (r["id_a"], r["id_b"])
        for r in D.sorted_neighborhood_pairs(docs, window=5).collect()
    }
    shuffled = {
        (r["id_a"], r["id_b"])
        for r in D.sorted_neighborhood_pairs(
            docs.repartition(13), window=5, num_partitions=7
        ).collect()
    }
    assert base == shuffled


def test_sorted_neighborhood_rejects_degenerate_window(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="window"):
        D.sorted_neighborhood_pairs(docs, window=1)


def test_band_rows_arrow_vectorization_is_bitwise(spark, sf_dir):
    """The Arrow band kernel must reproduce the per-document numpy
    formulation BIT-FOR-BIT: min is exact and the (a*h+b) % M / band-mix
    arithmetic is elementwise uint64, so any divergence is a bug (batch
    boundaries, dtype drift, band/row layout)."""
    num_hashes, bands = 128, 32
    docs = load_table(spark, sf_dir, "documents").limit(200)
    sets = D.shingle_sets(docs, n=3)
    expected = {}
    for r in sets.collect():
        _, bh = _numpy_minhash(r["shingles"], num_hashes, bands)
        for band in range(bands):
            expected[(r["doc_id"], band)] = int(bh[band])

    got = {
        (r["doc_id"], r["band"]): r["bhash"]
        for r in D._band_rows_arrow(sets, num_hashes=num_hashes, bands=bands).collect()
    }
    assert got == expected


def test_shingle_sets_hostile_text_matches_duckdb_and_nulls_never_pair(spark):
    """Hostile document text: per document, shingle_sets must give the
    set size the shared DuckDB shingle fragment of the oracles gives over
    the same rows (null text: no shingles; empty and whitespace-only text:
    one whole-text shingle), and no pair operator may return a null-text
    document. Hashing null text would give every null document the same
    shingle and pair all of them at Jaccard 1.0."""
    import duckdb
    import pandas as pd

    from sdc_mapreduce_spark.queries.dedup_queries import _shingles_sql

    texts = [
        None, "", "   ", "a", "a b", "a a a a a", "\tx y z", " x  y   z ",
        "x\ny\tz w", None, None, None,
        "the cat sat on the warm mat by the door",
        "the cat sat on the warm mat by the door",
    ]
    rows = list(enumerate(texts))
    null_ids = {i for i, t in rows if t is None}
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r["doc_id"]: len(r["shingles"]) for r in D.shingle_sets(docs, n=3).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sizes = f"WITH {_shingles_sql()} SELECT doc_id, len(shingles) FROM sh"
    expected = dict(con.execute(sizes).fetchall())
    assert {i: got.get(i, 0) for i, _ in rows} == expected
    assert all(expected[i] == 0 for i in null_ids)

    for pairs in (
        D.jaccard_pairs(docs, n=3, threshold=0.8),
        D.minhash_lsh_pairs(docs, num_hashes=128, bands=32, n=3, threshold=0.8),
        D.jaccard_prefix_pairs(docs, n=3, threshold=0.8),
    ):
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (12, 13) in found
        assert not {i for pair in found for i in pair} & null_ids, found
