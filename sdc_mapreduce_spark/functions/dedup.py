"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine — the dedup ladder of a large-scale training-data pipeline.

Scale design (the point of each implementation):

- **exact**: group by a 128-bit content fingerprint, never by the document
  body — the shuffle carries 32 bytes/doc, not the corpus.
- **n-gram Jaccard**: inverted-index self-join on shingles (explode →
  equi-join → pair-count), not an all-pairs cross join; cost tracks shingle
  co-occurrence, which is what makes exact verification feasible after
  blocking.
- **MinHash-LSH**: per-doc signature of K min-hashes computed in ONE
  aggregation over exploded shingles (K parallel ``min`` aggregates, all
  JVM-side); banding turns near-dup search into an equi-join on
  (band, band-hash) buckets. The only pairs ever materialized are bucket
  collisions. This is the 100 TB path: shuffle volume = docs x signature,
  candidates ≪ n².
- **SimHash**: signature via per-bit majority vote over the token multiset
  (a narrow Horner fold, no shuffle); near-dups = small Hamming distance,
  found by banding the signature into chunks (pigeonhole: distance ≤ 3 ⇒
  some 16-bit chunk equal).
- **embedding cosine**: normalize once, then pair via equi-joinable blocks.

Hashing: MinHash/Jaccard block keys use Spark's xxhash64 (deterministic
across runs/executors; values verified against exact-Jaccard oracles, so
the hash function itself need not be portable). SimHash uses the
engine-portable md5-derived `text.token_hash60` so its signatures — and the
near-pair set — replay exactly in the DuckDB oracle.
The reference framework has no dedup of any kind; its closest primitive is
the hash-shuffle group-by (SURVEY.md O10-O13), which is exactly the primitive
these operators compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sdc_mapreduce_spark.cache import pin
from sdc_mapreduce_spark.functions.text import normalized_text, token_hash60, tokens

RNG_SEED_MINHASH = 7


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact-content group,
    grouping by md5 fingerprint (not the body) so the shuffle stays narrow."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup after whitespace/case normalization."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def incremental_dedup(
    new_batch: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingestion-time dedup: drop new documents whose content fingerprint
    already exists in the corpus, then dedupe within the batch (lowest id
    survives). Returns (id, n_copies_in_batch) for the kept docs.

    The existing side reduces to DISTINCT 16-byte md5 fingerprints before
    the anti-join — at 100 TB the corpus side is a fingerprint index, not
    re-read documents, and the join shuffles fingerprints only (the new
    batch is typically a sliver of the corpus, so at real scale the
    fingerprint index is also the natural broadcast/bucket side)."""
    def fps(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__fp"))

    existing_fps = fps(existing).select("__fp").distinct()
    fresh = fps(new_batch).join(existing_fps, "__fp", "left_anti")
    return (
        fresh.groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies_in_batch"),
        )
        .select(id_col, "n_copies_in_batch")
    )


def _bloom_positions(fp: F.Column, m_bits: int, k: int) -> F.Column:
    """The k bit positions of a fingerprint under portable double hashing
    (Kirsch-Mitzenmacher: pos_i = h1 + i*h2 mod m). Both hashes derive from
    md5 so any engine can replay them; h2 is forced odd so the k probes
    never collapse onto one position when m is a power of two."""
    h1 = token_hash60(fp)
    h2 = token_hash60(F.concat(fp, F.lit("#bloom"))).bitwiseOR(F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m_bits)),
    )


def bloom_build(
    fps: DataFrame, m_bits: int = 1 << 16, k: int = 5, fp_col: str = "__fp"
) -> DataFrame:
    """Aggregate a fingerprint set into a Bloom-filter bitmap stored as
    (word, bits) rows of 32-bit words packed in longs: explode each key's k
    positions, group by word index, OR the bits. Map-side partial bit_or
    means the shuffle carries at most m_bits/32 rows per mapper regardless
    of corpus size; the final bitmap is m_bits/8 bytes — megabytes for
    billions of keys at ~10 bits/key — i.e. always broadcastable."""
    pos = fps.select(
        F.explode(_bloom_positions(F.col(fp_col), m_bits, k)).alias("__pos")
    )
    return (
        pos.select(
            (F.col("__pos") / 32).cast("int").alias("word"),
            F.expr("shiftleft(1L, int(__pos % 32))").alias("__bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_probe(
    probe: DataFrame,
    bitmap: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
    fp_col: str = "__fp",
) -> DataFrame:
    """Membership test against a built bitmap: a key is ``bloom_maybe`` iff
    all k of its bits are set (no false negatives; false-positive rate
    ~(1-e^{-kn/m})^k). The bitmap side is broadcast, so the probe is a
    narrow per-row lookup — no shuffle of the probe set."""
    pos = probe.select(
        fp_col, F.explode(_bloom_positions(F.col(fp_col), m_bits, k)).alias("__pos")
    ).select(
        fp_col,
        (F.col("__pos") / 32).cast("int").alias("word"),
        (F.col("__pos") % 32).cast("int").alias("__b"),
    )
    hits = pos.join(F.broadcast(bitmap), "word", "left").select(
        fp_col,
        F.coalesce(
            F.expr("int(shiftright(bits, __b) & 1)"), F.lit(0)
        ).alias("__hit"),
    )
    return hits.groupBy(fp_col).agg(
        (F.min("__hit") == 1).alias("bloom_maybe")
    )


def bloom_prefilter_dedup(
    new_batch: DataFrame,
    existing: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-prefiltered ingestion dedup: build the filter over the corpus
    fingerprint index once, probe every incoming document, and report both
    the filter's verdict and exact membership. At 100 TB the exact
    fingerprint anti-join ([[incremental_dedup]]) shuffles the batch against
    a billions-row index on every delivery; with the bitmap broadcast,
    documents the filter rejects (the typical vast majority of a fresh
    crawl) are proven new without touching the index, and only the
    ``bloom_maybe`` sliver takes the exact join. Emitting both flags makes
    the no-false-negative invariant (is_dup ⇒ bloom_maybe) and the
    deterministic false-positive set part of the verified output."""
    fp = F.md5(F.col(text_col)).alias("__fp")
    existing_fps = existing.select(fp).distinct()
    batch_fps = new_batch.select(F.col(id_col), fp)
    bitmap = bloom_build(existing_fps, m_bits=m_bits, k=k)
    verdicts = bloom_probe(
        batch_fps.select("__fp").distinct(), bitmap, m_bits=m_bits, k=k
    )
    exact = existing_fps.withColumn("__is_dup", F.lit(True))
    return (
        batch_fps.join(F.broadcast(verdicts), "__fp", "left")
        .join(exact, "__fp", "left")
        .select(
            id_col,
            "bloom_maybe",
            F.coalesce(F.col("__is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def shingle_sets(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct token n-gram shingles per document, each represented by
    its 64-bit hash: (id, shingles array<long>). Documents shorter than n
    tokens get a single whole-text shingle so they still participate.

    Why hashes, not strings: building every shingle as a string (an
    interpreted array_join over a slice per position, then array_distinct
    over strings) and re-hashing it in every consumer was the single
    largest stage of every token-dedup operator at the 100x corpus (202 of
    dedup_jaccard_prefix's 317 core-seconds). Tokens come from a whitespace
    split, so no token contains whitespace and a token n-gram is fully
    determined by its token tuple — hashing the tuple directly (one n-ary
    xxhash64 per position: no string allocation, no join, distinct over
    longs) identifies the same shingle universe up to 64-bit hash
    collisions.

    Collisions are a real, if negligible (~m²/2^65 for m distinct
    shingles), channel that the string form did not have everywhere: the
    exact-Jaccard verifies of minhash_lsh_pairs and
    incremental_minhash_dedup used to intersect STRING shingle arrays and
    were collision-free; they now intersect hash arrays. Likewise the
    whole-text branch (< n tokens, the xxhash64 of the ' '-joined tokens)
    and the n-gram branch (an n-ary hash of the token tuple, not of a
    joined string) are different hash constructions, so a whole-text
    shingle is distinct from every n-gram shingle only up to the same
    collision odds. Every consumer is a function of hash-set equality only
    (Jaccard/containment intersections and sizes, MinHash signature bases,
    prefix-filter df ranks), and every oracle replays STRING shingles in
    DuckDB, so declared outputs match the oracles; banding recall is
    verified against the exhaustive-Jaccard oracles at every fixture SF."""
    # Materialize the token array in its own projection first: higher-order
    # lambdas are interpreted (not codegen'd), so referencing the split()
    # expression inside the gram lambda would re-tokenize the document for
    # every gram element. With a column reference the array is built once.
    toked = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    t = F.col("__t")
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array(F.xxhash64(F.array_join(t, " "))))
    return toked.select(F.col(id_col), F.array_distinct(grams).alias("shingles"))


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    explode(shingles) → equi-join on shingle → count common shingles per
    pair → |A∩B| / (|A| + |B| - |A∩B|) ≥ threshold. Returns
    (id_a, id_b, jaccard) with id_a < id_b. Jaccard is an exact int/int
    division — deterministic, oracle-hashable.

    ``max_df`` caps shingle document frequency: a shingle in d documents
    contributes d² candidate pairs to the equi-join, so one boilerplate
    3-gram shared by 1% of a 100 TB corpus is a quadratic blowup. Shingles
    with df > max_df are removed from the UNIVERSE (both the intersection
    count and the per-doc sizes), i.e. Jaccard is computed over the
    df-filtered shingle set — the standard stop-shingle treatment: such
    shingles carry ~no discriminative signal, but pairs whose overlap is
    ONLY boilerplate will score lower than their unfiltered Jaccard
    (deliberate precision bias). Docs whose every shingle is hot drop out.
    When no shingle exceeds the cap (any reasonably-sized corpus sample),
    results are bit-identical to the uncapped form — property-tested.
    ``max_df=None`` disables the cap.
    """
    from pyspark import StorageLevel

    # One tokenize+gram pass for both consumers (sizes + inverted index);
    # the index joins on the 8-byte xxhash64 of each shingle, not the
    # shingle string — same join cardinality, a fraction of the shuffle
    # bytes and comparison cost (64-bit collisions are ~1e-7 at billions of
    # distinct shingles — far below any other error source).
    sets = shingle_sets(df, n=n, text_col=text_col, id_col=id_col)
    if max_df is None:
        # only the uncapped path reads `sets` twice (inverted index AND
        # sizes); the capped path derives sizes from the filtered index, so
        # persisting the wide shingle arrays there would be dead weight
        sets = pin(sets, StorageLevel.MEMORY_AND_DISK)
    inv = sets.select(
        F.col(id_col).alias("__id"),
        # shingles are already 8-byte hashes (shingle_sets, r14) — the
        # index explodes them directly; no per-element re-hash
        F.explode("shingles").alias("__shingle"),
    )
    if max_df is not None:
        # Hot-shingle anti-join: the hot set is tiny (shingles above the
        # cap), so broadcast it; the df count is a map-side-combinable
        # aggregation over the index — linear, vs the quadratic join it
        # prevents.
        hot = (
            inv.groupBy("__shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__shingle")
        )
        inv = pin(
            inv.join(F.broadcast(hot), "__shingle", "left_anti"),
            StorageLevel.MEMORY_AND_DISK,
        )
        sizes = inv.groupBy(F.col("__id")).agg(F.count(F.lit(1)).alias("__sz"))
    else:
        sizes = sets.select(
            F.col(id_col).alias("__id"), F.size("shingles").alias("__sz")
        )
    a = inv.select(F.col("__id").alias("id_a"), "__shingle")
    b = inv.select(F.col("__id").alias("id_b"), "__shingle")
    common = (
        a.join(b, "__shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    with_sizes = (
        common.join(sizes.withColumnRenamed("__sz", "__sz_a"), F.col("id_a") == F.col("__id"))
        .drop("__id")
        .join(sizes.withColumnRenamed("__sz", "__sz_b"), F.col("id_b") == F.col("__id"))
        .drop("__id")
    )
    jac = F.col("__common") / (F.col("__sz_a") + F.col("__sz_b") - F.col("__common"))
    return with_sizes.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _band_rows_arrow(
    sets: DataFrame, num_hashes: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingles) → (id, band, bhash) long-format band rows, computed
    entirely inside one Arrow kernel (minima AND band mixing in numpy).

    Avoids materializing the K-column signature frame: the wide projection
    costs a large whole-stage-codegen compile and K columns of Arrow
    transfer, while banding only ever needs the per-band mix. Output is
    bands rows per doc — the exact join-key shape LSH needs."""
    import numpy as np
    import pandas as pd

    MERSENNE = (1 << 61) - 1
    rows_per_band = num_hashes // bands
    rng = np.random.RandomState(RNG_SEED_MINHASH)
    a = rng.randint(1, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    # one odd multiplier per row-in-band for the band mix (any fixed mix
    # works — banding only needs equality to be signature-equality)
    mix = (
        rng.randint(1, MERSENNE, size=rows_per_band, dtype=np.int64).astype(np.uint64)
        | np.uint64(1)
    )

    based = sets.select(id_col, F.col("shingles").alias("__base"))

    def kernel(batches):
        # NOTE: a slab-vectorized rewrite of this loop (whole-doc
        # groups flattened into preallocated buffers, minimum.reduceat per
        # doc, Mersenne shift-add fold instead of %) was built, verified
        # bit-identical, and A/B-measured 1.5-1.8x SLOWER single-threaded
        # on this host (0.45-0.53 s vs 0.79-0.95 s per 10k docs) — the
        # K x ~50 per-doc matrices live in L2 while any slab big enough to
        # amortize numpy dispatch thrashes cache, and the arithmetic is
        # only ~20% of the stage anyway (Arrow/pandas boundary + the band
        # row exchange dominate). Kept per-doc deliberately; the math is
        # pinned by test_band_rows_arrow_vectorization_is_bitwise.
        band_idx = np.tile(np.arange(bands, dtype=np.int32), 1)
        for pdf in batches:
            n = len(pdf)
            ids = np.repeat(pdf[id_col].to_numpy(), bands)
            bhash = np.empty((n, bands), dtype=np.int64)
            for r, hs in enumerate(pdf["__base"]):
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                mins = ((a[:, None] * h[None, :] + b[:, None]) % MERSENNE).min(axis=1)
                per_band = mins.reshape(bands, rows_per_band)
                bhash[r] = (per_band * mix[None, :]).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "band": np.tile(band_idx, n),
                    "bhash": bhash.reshape(-1),
                }
            )

    return based.mapInPandas(kernel, schema=f"{id_col} long, band int, bhash long")


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 1000,
    broadcast_max_candidates: int = 10_000_000,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with exact
    Jaccard. Signatures and band hashes come from one vectorized numpy
    kernel (:func:`_band_rows_arrow`).

    With K=64, b=16 bands of r=4 rows the collision curve
    P(candidate) = 1-(1-j^r)^b puts ~0.99+ recall at j ≥ 0.8. Candidates
    come from an equi-join on (band_index, band_hash); exact Jaccard then
    filters false positives, computed only on candidates (array_intersect on
    the two shingle sets). Returns (id_a, id_b, jaccard).

    Skew guards (the LSH twins of jaccard/simhash's hot-key caps): a
    (band, bhash) bucket holding d docs yields d² candidate pairs, so an
    adversarial/templated corpus where one bucket goes quadratic would
    dominate candidate generation. ``max_bucket`` drops whole over-cap
    buckets as a size filter on the aggregated bucket list (no pairs from
    that bucket, but members still collide in their other bands; recall
    only degrades for pairs whose every matching band is corpus-hot, the
    same trade-off as ``jaccard_pairs(max_df=...)``). The verify-side
    broadcast is gated by a bounded ``limit(N+1).count()`` probe over the
    candidate set; past ``broadcast_max_candidates`` the verify joins fall
    back to plain shuffle joins instead of an unbounded driver broadcast.
    """
    # The shingle arrays feed three consumers (banding, and both sides of
    # the verify join); persist so the tokenize+gram pass runs once. At
    # scale this is the materialized "shingle table" stage of a dedup
    # pipeline — MEMORY_AND_DISK spills gracefully.
    from pyspark import StorageLevel

    sets = pin(
        shingle_sets(df, n=n, text_col=text_col, id_col=id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    # minima AND band mixing fused in one Arrow kernel — no K-column
    # signature frame, no wide codegen
    band_rows = _band_rows_arrow(
        sets, num_hashes=num_hashes, bands=bands, id_col=id_col
    ).withColumnRenamed(id_col, "__id")
    # Candidate generation as ONE grouped aggregation. A self-join of the
    # band rows on (band, bhash) would shuffle and sort the same frame
    # (16M rows at the 100x corpus) once per join side, plus a third pass
    # for a hot-bucket count feeding a broadcast anti-join cap.
    # Collecting each bucket's sorted member list instead shuffles the band
    # rows ONCE, folds the cap into a size filter on the aggregated bucket
    # (members of an over-cap bucket contribute no pairs from that bucket
    # but still collide in their other bands), and emits each unordered
    # pair exactly once by pairing every member with the tail of the
    # sorted list (ids are unique, so ascending order IS id_a < id_b; no
    # quadratic emit-then-filter). Measured at the 100x corpus, the
    # candidate stage costs ~8 s this way against ~26 s for the self-join.
    buckets = band_rows.groupBy("band", "bhash").agg(
        F.sort_array(F.collect_list("__id")).alias("__ids")
    )
    cap = F.size("__ids") <= max_bucket if max_bucket is not None else F.lit(True)
    cand = pin(
        buckets.filter((F.size("__ids") >= 2) & cap)
        .select(F.posexplode("__ids").alias("__i", "id_a"), "__ids")
        .select(
            "id_a",
            F.explode(
                F.slice(
                    "__ids", F.col("__i") + 2, F.size("__ids") - F.col("__i") - 1
                )
            ).alias("id_b"),
        )
        .distinct(),
        # pinned so both verify joins and the size probe share one
        # materialization of the bucket pair generation
        StorageLevel.MEMORY_AND_DISK,
    )
    # Bounded gate on the verify-side broadcast: candidates are usually a
    # vanishing fraction of the corpus; the probe stops at N+1 rows and the
    # partitions it does compute land in cand's persist for the verify.
    probe = cand.select("id_a").limit(broadcast_max_candidates + 1).count()
    cand_hinted = F.broadcast(cand) if probe <= broadcast_max_candidates else cand

    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b"))
    if probe <= broadcast_max_candidates:
        # The planner cannot know the first verify join's output
        # (candidates + arrays) is small, so it plans the second join as
        # SMJ, and AQE's late BHJ conversion still materializes the
        # probe-side exchange — the ENTIRE corpus shingle table reshuffled
        # (219 MiB at the 100x corpus) to serve 26k candidate rows.
        # Semi-filtering the b-side to candidate ids first (ids broadcast;
        # same inner-join semantics) makes that exchange carry only the
        # docs that appear in some pair.
        sb = sb.join(
            F.broadcast(cand.select("id_b").distinct()), "id_b", "semi"
        )
    verified = (
        cand_hinted.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size(F.array_union("__sh_a", "__sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def incremental_minhash_dedup(
    new_batch: DataFrame,
    existing: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_max_candidates: int = 10_000_000,
) -> DataFrame:
    """Ingestion-shape NEAR-dup screening: the corpus's LSH band rows act
    as the bucket index (at 100 TB persisted once, bucketed by
    (band, bhash), and appended per delivery — never recomputed); the
    incoming batch computes its own band rows, equi-joins the index, and
    exact Jaccard verifies only the collisions. The exact-dup analogue is
    [[incremental_dedup]]; this catches the re-crawled page with a new
    timestamp that a fingerprint join misses.

    Returns one row per batch document that has at least one corpus
    near-dup at ``threshold``: (id, n_corpus_matches, best_match_id,
    best_jaccard), best = highest Jaccard with ties to the lowest corpus
    id — the reject list a curation pipeline anti-joins against the batch.

    Scale shape: batch band rows ≪ corpus band rows, so the bucket join
    broadcasts the batch side; candidates are usually a vanishing fraction
    and broadcast into the shingle-verify joins (so the corpus shingle
    table never shuffles) — but only a bounded size probe proves it: past
    ``broadcast_max_candidates`` (a templated batch colliding with a
    templated corpus region goes quadratic) the verify falls back to plain
    shuffle joins instead of an unbounded driver broadcast."""
    from pyspark import StorageLevel

    sets_new = pin(
        shingle_sets(new_batch, n=n, text_col=text_col, id_col=id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    sets_ex = pin(
        shingle_sets(existing, n=n, text_col=text_col, id_col=id_col),
        StorageLevel.MEMORY_AND_DISK,
    )
    bands_new = _band_rows_arrow(
        sets_new, num_hashes=num_hashes, bands=bands, id_col=id_col
    ).withColumnRenamed(id_col, "__new_id")
    bands_ex = _band_rows_arrow(
        sets_ex, num_hashes=num_hashes, bands=bands, id_col=id_col
    ).withColumnRenamed(id_col, "__ex_id")
    cand = pin(
        bands_ex.join(F.broadcast(bands_new), ["band", "bhash"])
        .select("__new_id", "__ex_id")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    probe = cand.select("__new_id").limit(broadcast_max_candidates + 1).count()
    cand_hinted = (
        F.broadcast(cand) if probe <= broadcast_max_candidates else cand
    )
    sa = sets_new.select(
        F.col(id_col).alias("__new_id"), F.col("shingles").alias("__sh_a")
    )
    sb = sets_ex.select(
        F.col(id_col).alias("__ex_id"), F.col("shingles").alias("__sh_b")
    )
    verified = (
        cand_hinted
        .join(sa, "__new_id")
        .join(sb, "__ex_id")
        .select(
            "__new_id",
            "__ex_id",
            (
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size(F.array_union("__sh_a", "__sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = F.max(F.struct(F.col("jaccard"), (-F.col("__ex_id")).alias("__neg")))
    return (
        verified.groupBy("__new_id")
        .agg(
            F.count(F.lit(1)).alias("n_corpus_matches"),
            best.alias("__best"),
        )
        .select(
            F.col("__new_id").alias(id_col),
            "n_corpus_matches",
            (-F.col("__best.__neg")).cast("long").alias("best_match_id"),
            F.col("__best.jaccard").alias("best_jaccard"),
        )
    )


def near_dup_clusters(
    df: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iterations: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over the near-dup pair graph → one
    representative (min id) per cluster: the step that turns pairwise
    near-dup detection into an actual dedup decision (keep rep, drop rest).
    Returns (id, rep_id) for EVERY document (singletons map to themselves).

    Min-label propagation: each node repeatedly takes the min label among
    itself and its neighbors; converges in O(component diameter) rounds —
    near-dup clusters are shallow (dupes of a common source), so this is
    2-4 distributed joins in practice, each shuffling only (node, label)
    pairs. Lineage is truncated per round with an eager localCheckpoint so
    the plan does not grow with iterations. For adversarial long-chain
    graphs swap in the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — same
    per-round shuffle shape.

    The convergence test (a ``count()`` job) runs every ``check_every``
    rounds rather than every round: labels are monotonically non-increasing
    per node, so "no change since the labels at the LAST CHECK" implies no
    change in any intermediate round either — the batched check is exact,
    and at cluster scale it halves the per-iteration job-launch overhead.
    An extra propagation round after quiescence is a no-op join.
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    pairs = minhash_lsh_pairs(
        df,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    ).select("id_a", "id_b")
    return min_label_propagation(
        df.select(id_col),
        pairs,
        id_col=id_col,
        max_iterations=max_iterations,
        check_every=check_every,
    )


def min_label_propagation(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over an undirected pair graph → (id, rep_id)
    with rep = min id per component; singletons map to themselves. The
    propagation engine behind :func:`near_dup_clusters`, reusable over ANY
    near-dup pair source (token LSH, SimHash blocks, embedding ANN
    buckets). ``pairs`` must have columns (id_a, id_b); ``nodes`` a single
    ``id_col`` column covering every node (isolated ones included).

    Rounds combine neighbor propagation with LABEL-CHAIN SHORTCUTTING
    (pointer jumping — the Shiloach-Vishkin shortcut step, the same move
    hash-to-min [Rastogi et al., ICDE'13] relies on): new label =
    min(label, neighbors' labels, label-of-label). Shortcutting collapses
    convergence from O(component diameter) rounds to O(log diameter) —
    on a giant sparse component (the shape the r12 scale fixture's
    0.4-threshold random pair graph produces at 10x: 20k nodes, 29k
    edges, one ~19k-node component) plain min-label needed ~25 rounds
    (359 s); with shortcutting it converges in ~6. Each round shuffles
    only (node, label) pairs — two joins, no corpus payloads; lineage
    truncated per round; batched convergence check.
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    # Materialize the pair source ONCE before symmetrizing: the union
    # references `pairs` twice, and for an expensive pair producer (the
    # SRP bucket-verify behind dedup_embedding_clusters costs ~70 s at the
    # 10x corpus) an unmaterialized plan would run the whole verify per
    # branch. O(pairs) rows on executor disk, same per-round
    # localCheckpoint discipline as the label frames below.
    src = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    # pin + explicit local release at the end of the loop: the pin makes a
    # harness drain the backstop if an exception skips the unpersist below
    edges = pin(
        src.union(src.select(F.col("id_b"), F.col("id_a"))).toDF("src", "dst")
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)

    last_checked = labels
    for i in range(1, max_iterations + 1):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        jump = (
            labels.alias("__mlp_a")
            .join(
                labels.alias("__mlp_b"),
                F.col("__mlp_a.label") == F.col("__mlp_b.node"),
            )
            .select(
                F.col("__mlp_a.node").alias("node"),
                F.col("__mlp_b.label").alias("jmp_label"),
            )
        )
        labels = (
            labels.join(neighbor_min, "node", "left")
            .join(jump, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_label", "label"),
                    F.coalesce("jmp_label", "label"),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        if i % check_every == 0 or i == max_iterations:
            changed = (
                labels.withColumnRenamed("label", "new_label")
                .join(last_checked.withColumnRenamed("label", "old_label"), "node")
                .filter(F.col("new_label") != F.col("old_label"))
                .count()
            )
            if changed == 0:
                break
            last_checked = labels
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("rep_id"))


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash per document: per-bit majority vote over token hashes,
    weighted by token frequency — 64 conditional sums in one aggregation over
    exploded tokens, all JVM-side. Token hashes are the engine-portable
    md5-derived ``token_hash60`` (60 effective bits; the top 4 of the 64-bit
    signature are always 0), so signatures — and the near-pair set built on
    them — reproduce exactly in the DuckDB oracle."""
    # Fully narrow: the signature is a per-doc function of the token
    # multiset, so no explode/shuffle — a pure map stage at 100 TB (the
    # former formulation exploded tokens and ran a 64-aggregate groupBy,
    # shuffling corpus-sized token rows for a per-doc result). Token hashes
    # are materialized ONCE as a column (higher-order lambdas are
    # interpreted; an inline hash would recompute per bit).
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda x: token_hash60(x)).alias("__hs"),
    )
    # Horner fold over bits 63..0 (acc*2 + vote_bit leaves bit b at position
    # b; max value < 2^60 since the hash is 60-bit, so the long never
    # overflows ANSI). SQL expression form because the Python DSL's
    # shiftright only takes a literal bit count, while the SQL function
    # accepts the lambda-bound column b. Bit b is set iff the +1/-1
    # frequency-weighted vote sum is positive, i.e. 2*ones(b) > n_tokens.
    sig = F.expr(
        """
        aggregate(
          sequence(63, 0),
          cast(0 as bigint),
          (acc, b) -> acc * 2 + if(
            2 * size(filter(__hs, h -> (shiftright(h, b) & 1) = 1)) > size(__hs),
            cast(1 as bigint), cast(0 as bigint))
        )
        """
    )
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block: int | None = 10000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the 64-bit signature into ``max_hamming + 1``
    chunks; any pair within distance d must agree on ≥1 chunk, so candidates
    are an equi-join on (chunk_index, chunk_value) — never all-pairs.

    ``max_block`` caps the (chunk, cval) block size: a block of b docs
    contributes b² candidates, so one degenerate chunk value (e.g. the
    all-zeros chunk produced by short or templated documents) shared by a
    large corpus slice is a quadratic blowup. Blocks above the cap are
    dropped from candidate generation — a pair agreeing ONLY on dropped
    blocks is missed (bounded recall trade-off; Hamming verification means
    precision is unaffected). With 16-bit chunks a uniform corpus needs
    >655M docs before an average block reaches 10k, so the cap only fires
    on pathological value skew. ``max_block=None`` disables.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    # Materialize signatures ONCE: both self-join sides and every chunk
    # struct reference them, and the signature expression is an interpreted
    # higher-order fold — without a boundary it re-evaluates per chunk per
    # side (observed 6x+ recomputation; 87s -> 3s at sf0.1). The
    # materialized table is n_docs x 16 bytes — negligible at any scale.
    sigs = simhash_signatures(df, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=True
    )
    mask = (1 << width) - 1
    pieces = sigs.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask)).alias("cval"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("p"),
    ).select("__id", "simhash", "p.chunk", "p.cval")
    if max_block is not None:
        hot = (
            pieces.groupBy("chunk", "cval")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block)
            .select("chunk", "cval")
        )
        pieces = pieces.join(F.broadcast(hot), ["chunk", "cval"], "left_anti")

    cand = (
        pieces.alias("x")
        .join(pieces.alias("y"), ["chunk", "cval"])
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.col("x.simhash").alias("__sig_a"),
            F.col("y.simhash").alias("__sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def exact_substring_dedup(
    df: DataFrame,
    chunk_size: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_max_docs: int = 1_000_000,
) -> DataFrame:
    """Apply-side of the duplicated-span inventory (the exact SUB-document
    dedup of Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): split every document into DISJOINT ``chunk_size``-token
    chunks, find chunk contents occurring more than once corpus-wide, keep
    only the globally-first occurrence (min doc id, then min chunk id) of
    each duplicated chunk, drop every other occurrence, and rebuild the
    cleaned document. Returns one row per document:
    (doc_id, n_chunks, n_dropped, n_tokens_kept, cleaned_fp) where
    cleaned_fp is the md5 of the space-joined surviving tokens — the
    byte-for-byte witness of the rebuilt text.

    Scale shape: the corpus text never shuffles. The chunk inventory
    explodes (doc_id, chunk_id, 16-byte fingerprint) rows — narrow until
    the defined expansion — and aggregates on the fingerprint with map-side
    partial counts; only the duplicated sliver survives the >= 2 filter.
    The per-doc drop list (docs that lose at least one chunk x the ids
    they lose) is broadcast back onto the scan when it is provably small:
    the persisted list is probed with a bounded ``limit(N+1).count()`` (the
    same gate pattern as ``embedding_near_pairs_arrow``), and past
    ``broadcast_max_docs`` rows the rebuild falls back to the same plan
    with a shuffle join on doc_id — still sliver-sized, never corpus-sized,
    and safe at an extreme duplication rate where the drop list is a
    corpus-scale fraction that would blow the 8 GB broadcast limit. The
    reference has no sub-document operator of any kind; the nearest
    primitive is its hash-shuffle group-by (SURVEY.md O10-O13), which is
    what the fingerprint aggregation compiles to.
    """
    from pyspark import StorageLevel

    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1")
    cs = F.lit(chunk_size)
    t = tokens(text_col)
    n_chunks = F.floor((F.size(t) + cs - 1) / cs).cast("int")
    base = df.select(
        F.col(id_col).alias("__id"), t.alias("__t"), n_chunks.alias("n_chunks")
    )
    # r13 optimization-round notes (guide §2.3/§5):
    # - the chunk inventory is PINNED: it previously fed the stats
    #   aggregate and the drops join as two separate subtrees, so the
    #   tokenize + per-chunk md5 Generate ran TWICE per execution;
    # - chunk_fp is unhex(md5(...)) — 16-byte binary instead of the
    #   32-char hex string, halving the inventory's exchange/persist key
    #   bytes (cleaned_fp below stays the hex md5 the oracle computes);
    # - min(struct(__id, chunk_id)) is not hash-aggregable, so the old
    #   single stats aggregate compiled to a SortAggregate that SORTED THE
    #   FULL INVENTORY by fingerprint. The count is now a plain
    #   HashAggregate over everything, and the globally-first-occurrence
    #   winner is computed with a window over ONLY the duplicated sliver
    #   (plan diff: SortAggregate x2 over all chunks -> HashAggregate x2
    #   + Window over cnt>=2 rows).
    chunks = pin(
        base.select(
            "__id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_chunks") - 1),
                    lambda i: F.unhex(
                        F.md5(F.concat_ws(" ", F.slice(F.col("__t"), i * cs + 1, cs)))
                    ),
                )
            ).alias("chunk_id", "chunk_fp"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    dup = (
        chunks.groupBy("chunk_fp")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("chunk_fp")
    )
    # Globally-first occurrence per duplicated fingerprint: min (doc, chunk)
    # over the duplicated occurrences only.
    from pyspark.sql import Window

    w_fp = Window.partitionBy("chunk_fp")
    drops = (
        chunks.join(dup, "chunk_fp")
        .withColumn("__w", F.min(F.struct("__id", "chunk_id")).over(w_fp))
        .filter(
            ~(
                (F.col("__id") == F.col("__w.__id"))
                & (F.col("chunk_id") == F.col("__w.chunk_id"))
            )
        )
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("chunk_id")).alias("__drop_ids"))
    )
    # pinned so the size probe below and the rebuild join share one
    # materialization of the inventory aggregation
    drops = pin(drops, StorageLevel.MEMORY_AND_DISK)
    # Bounded gate: the probe stops scanning the persisted list at N+1 rows;
    # only a provably-small drop list earns the broadcast hint.
    probe = drops.select("__id").limit(broadcast_max_docs + 1).count()
    drops_hinted = F.broadcast(drops) if probe <= broadcast_max_docs else drops
    rebuilt = base.join(drops_hinted, "__id", "left")
    drop_ids = F.coalesce(F.col("__drop_ids"), F.array().cast("array<int>"))
    kept = F.flatten(
        F.transform(
            F.filter(
                F.sequence(F.lit(0), F.col("n_chunks") - 1),
                lambda i: ~F.array_contains(drop_ids, i),
            ),
            lambda i: F.slice(F.col("__t"), i * cs + 1, cs),
        )
    )
    return rebuilt.select(
        F.col("__id").alias(id_col),
        "n_chunks",
        F.size(drop_ids).alias("n_dropped"),
        F.size(kept).alias("n_tokens_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("cleaned_fp"),
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-SUBSET detection: n-gram containment pairs, the asymmetric
    companion to Jaccard. Containment of the smaller shingle set in the
    larger, |A∩B| / min(|A|,|B|) ≥ threshold, catches quotes, excerpts and
    wrapper documents that Jaccard misses entirely (a 10-line quote inside
    a 1000-line page has Jaccard ≈ 0.01 but containment ≈ 1.0) — the
    standard second screen of a substring-aware dedup pass.

    Same inverted-index plan and hot-shingle ``max_df`` cap as
    :func:`jaccard_pairs` (a shingle in d docs is d² candidate pairs);
    containment is an exact int/int division — oracle-hashable. Returns
    (id_a, id_b, containment) with id_a < id_b."""
    inv = shingle_sets(df, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("__id"),
        # shingles are already hashes (shingle_sets, r14)
        F.explode("shingles").alias("__shingle"),
    )
    if max_df is not None:
        hot = (
            inv.groupBy("__shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__shingle")
        )
        inv = inv.join(F.broadcast(hot), "__shingle", "left_anti")
    inv = inv.localCheckpoint(eager=True)
    sizes = inv.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    a = inv.select(F.col("__id").alias("id_a"), "__shingle")
    b = inv.select(F.col("__id").alias("id_b"), "__shingle")
    common = (
        a.join(b, "__shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    with_sizes = (
        common.join(
            sizes.withColumnRenamed("__sz", "__sz_a"),
            F.col("id_a") == F.col("__id"),
        )
        .drop("__id")
        .join(
            sizes.withColumnRenamed("__sz", "__sz_b"),
            F.col("id_b") == F.col("__id"),
        )
        .drop("__id")
    )
    cont = F.col("__common") / F.least(F.col("__sz_a"), F.col("__sz_b"))
    return with_sizes.select("id_a", "id_b", cont.alias("containment")).filter(
        F.col("containment") >= threshold
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 4,
    block_col=None,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Entity-resolution fuzzy self-join: distinct-name blocking +
    Levenshtein verify — the classic record-linkage plan (Fellegi-Sunter
    blocking), shaped for a 100 TB fact table:

    1. collapse to DISTINCT names first, carrying each name's row support —
       one map-side-combinable groupBy; every downstream quadratic step
       runs on names, never rows (at scale the distinct-name set is orders
       of magnitude smaller than the row count);
    2. blocking: equi-join names on a cheap deterministic key (default:
       first lowercase whitespace token) — the ER analogue of LSH banding.
       Pairs in different blocks are never compared (documented recall
       trade-off, same contract as ``jaccard_pairs(max_df=...)``);
    3. length prefilter ``abs(len(a)-len(b)) <= max_dist`` inside the join
       condition — a free edit-distance lower bound that prunes before the
       O(len*len) levenshtein;
    4. verify ``levenshtein(a, b) <= max_dist`` — JVM built-in, whole-stage
       codegen, never Python.

    ``max_block`` caps block membership (distinct names per block), the
    twin of ``jaccard_pairs``' ``max_df``: one degenerate block (every name
    starting "the") is a quadratic blowup, so blocks above the cap are
    dropped from the comparison universe via a broadcast anti-join. When no
    block exceeds the cap the output is bit-identical to the uncapped form.

    Returns (name_a, name_b, dist, rows_a, rows_b) with name_a < name_b.
    """
    names = df.groupBy(F.col(name_col).alias("__nm")).agg(
        F.count(F.lit(1)).alias("__rows")
    )
    blk = (
        block_col
        if block_col is not None
        else F.split_part(F.lower(F.col("__nm")), F.lit(" "), F.lit(1))
    )
    # The distinct-name set is read three times (hot-block count + both
    # self-join sides): persist it so the row-level groupBy — the heaviest
    # stage on a 100 TB fact table — runs exactly once.
    from pyspark import StorageLevel

    names = pin(names.withColumn("__blk", blk), StorageLevel.MEMORY_AND_DISK)
    if max_block is not None:
        hot = (
            names.groupBy("__blk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block)
            .select("__blk")
        )
        names = names.join(F.broadcast(hot), "__blk", "left_anti")
    a = names.select(
        F.col("__nm").alias("name_a"), F.col("__rows").alias("rows_a"), "__blk"
    )
    b = names.select(
        F.col("__nm").alias("name_b"), F.col("__rows").alias("rows_b"), "__blk"
    )
    pairs = a.join(
        b,
        on=[
            a["__blk"] == b["__blk"],
            F.col("name_a") < F.col("name_b"),
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(max_dist),
        ],
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
        "rows_a",
        "rows_b",
    ).filter(F.col("dist") <= max_dist)


def jaccard_prefix_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin prefix filtering —
    a LOSSLESS alternative to the full inverted-index self-join of
    :func:`jaccard_pairs`.

    Principle (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW'07; Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08): fix one global total order over shingles; if
    J(A, B) >= t, then |A∩B| >= t·|A|, so the intersection cannot hide
    entirely in A's last ceil(t·|A|) - 1 shingles — A and B must share a
    shingle inside each one's first p = |A| - ceil(t·|A|) + 1 shingles.
    Only those PREFIXES are indexed, so the candidate self-join touches a
    (1 - t) fraction of each posting list instead of all of it — at
    t = 0.8 that's 5× fewer indexed shingles and ~25× fewer candidate
    comparisons on uniform lists.

    The order is ascending document frequency (ties by hash): rare-first
    ordering puts each doc's most selective shingles in its prefix, and hot
    boilerplate shingles sort LAST — they essentially never enter a prefix,
    which yields the skew protection jaccard_pairs needs an explicit
    ``max_df`` stop-shingle cap for, WITHOUT changing the similarity
    universe. Results are therefore exactly the unfiltered threshold pairs
    (same oracle as jaccard_pairs with max_df=None), and the filter is
    complete by construction — property-tested against jaccard_pairs.

    Stages (all linear except the prefix self-join):
      1. shingle + hash (narrow);
      2. document frequency per shingle (map-side-combinable agg);
      3. rank shingles within each doc by (df, hash) — window partitioned
         by doc, bounded by doc length — and keep the prefix;
      4. group the prefix rows by shingle hash and pair the members of
         each posting list, with the size filter |B| >= t·|A| (a pair
         with J >= t cannot differ in size by more than t) and the
         positional filter below; distinct candidate pairs;
      5. exact verify: join the two full hashed-shingle arrays back by id
         and compute |A∩B| via array_intersect — arrays travel only for
         candidates, never for the corpus cross-product.

    The epsilon in ceil(t·s - 1e-9) biases the prefix LONGER whenever t·s
    sits on a float boundary — more candidates, never a missed pair; the
    exact verify step makes over-generation harmless.

    The candidate stage additionally applies PPJoin's POSITIONAL filter
    (Xiao et al. WWW'08 §3.2) before any token array travels. Ranks are a
    strict total order ((df, xxhash64) — shingles are identified by their
    hash everywhere, including the verify, so equal hash IS the same
    element), hence the globally smallest token shared by a pair attains
    the minimum matched rank on BOTH sides simultaneously, and no common
    token precedes it. Therefore |A∩B| <= 1 + min(|A| - i, |B| - j) with
    i = min matched rank in A, j = min matched rank in B; J >= t further
    requires |A∩B| >= t/(1+t)·(|A|+|B|). Candidates whose bound falls
    below that are provably sub-threshold and are dropped BEFORE the
    verify join — the exact verify is unchanged, so results are
    bit-identical; the filter only shrinks the pair set whose token
    arrays get shipped and
    intersected (the dominant verify-stage cost at the 100x corpus).

    Memory shape: stage 4 collects each prefix token's whole posting list
    into ONE ``collect_list`` aggregation buffer, with no cap — losslessness
    forbids dropping a hot token the way ``minhash_lsh_pairs(max_bucket=)``
    drops a hot bucket. A token in the prefix of d documents therefore
    costs one O(d) struct array in a single task's executor memory (e.g.
    thousands of identical documents all share their prefix tokens),
    before the O(d²) pair emission. Rare-first ordering keeps d small on
    natural corpora, but nothing bounds it on adversarial ones.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    eps = 1e-9
    sets = shingle_sets(df, n=n, text_col=text_col, id_col=id_col)
    hashed = pin(
        sets.select(
            F.col(id_col).alias("__id"),
            # shingles are already hashes (shingle_sets)
            F.col("shingles").alias("__sh"),
            F.size("shingles").alias("__sz"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    inv = hashed.select(
        "__id", "__sz", F.explode("__sh").alias("__h")
    )
    dfreq = inv.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__h")
    prefix_len = F.greatest(
        F.lit(1),
        F.col("__sz") - F.ceil(F.col("__sz") * threshold - eps) + 1,
    )
    prefix = (
        inv.join(dfreq, "__h")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("__id", "__sz", "__h", "__rn")
    )
    # Candidate generation as ONE grouped pass (the minhash_lsh_pairs
    # bucket shape): a self-join of the prefix frame on __h would, at the
    # 100x corpus, build a 384 MiB broadcast of one side and walk the
    # frame a second time for the probe side. Collecting each prefix
    # token's posting list instead reads the frame once and shuffles the
    # prefix rows ONCE, so the frame needs no pin; sort_array orders the
    # (id, sz, rn) structs by id first, so pairing each member with the
    # tail of the list emits every unordered pair exactly once per shared
    # token with id_a < id_b.
    # The pair filters: the size filter, then a groupBy over (id_a, id_b)
    # (a pair sharing several prefix tokens is emitted once per token)
    # that also aggregates the MIN matched rank per side for PPJoin's
    # positional filter (docstring): the globally smallest shared token
    # attains both minima at once, so 1 + min(|A| - i, |B| - j) bounds the
    # overlap and J >= t needs |A∩B| >= t/(1+t)·(|A|+|B|) — pairs below
    # are dropped before any token array is verified.
    buckets = (
        prefix.groupBy("__h")
        .agg(F.sort_array(F.collect_list(F.struct("__id", "__sz", "__rn"))).alias("__ps"))
        .filter(F.size("__ps") >= 2)
    )
    pa = F.col("__pa")
    pb = F.col("__pb")
    cand = (
        buckets.select(F.posexplode("__ps").alias("__i", "__pa"), "__ps")
        .select(
            "__pa",
            F.explode(
                F.slice("__ps", F.col("__i") + 2, F.size("__ps") - F.col("__i") - 1)
            ).alias("__pb"),
        )
        .filter(
            (pb["__sz"] >= pa["__sz"] * threshold - eps)
            & (pa["__sz"] >= pb["__sz"] * threshold - eps)
        )
        .select(
            pa["__id"].alias("id_a"),
            pb["__id"].alias("id_b"),
            pa["__sz"].alias("__sza"),
            pb["__sz"].alias("__szb"),
            pa["__rn"].alias("__ra"),
            pb["__rn"].alias("__rb"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("__ra").alias("__ia"),
            F.min("__rb").alias("__ib"),
            F.first("__sza").alias("__fpa"),
            F.first("__szb").alias("__fpb"),
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("__fpa") - F.col("__ia"), F.col("__fpb") - F.col("__ib")
            )
            >= (F.col("__fpa") + F.col("__fpb")) * (threshold / (1.0 + threshold))
            - eps
        )
        .select("id_a", "id_b")
    )
    va = hashed.select(
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__sz").alias("__sz_a"),
    )
    vb = hashed.select(
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__sz").alias("__sz_b"),
    )
    c = F.size(F.array_intersect("__sh_a", "__sh_b"))
    jac = F.col("__common") / (
        F.col("__sz_a") + F.col("__sz_b") - F.col("__common")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("__common", c)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    key_chars: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup blocking: sort the corpus by a
    blocking key, slide a window of ``window`` ranks, and exactly verify
    only pairs that fall inside the same window (Hernández & Stolfo,
    "The Merge/Purge Problem for Large Databases", SIGMOD'95).

    The blocking key is the first ``key_chars`` characters of the
    normalized text, tie-broken by zero-padded doc id, so the total order
    is unique and engine-portable — the DuckDB oracle replays the exact
    same ranking. Similarity is distinct-token Jaccard; candidates =
    O(window · N) pairs instead of N².

    Scale design — the classic SNM pitfall is the global sort rank: a
    naive ``row_number() OVER (ORDER BY key)`` moves the corpus to ONE
    partition. Here ranks come from
    :func:`~sdc_mapreduce_spark.operators.relational.global_running_sum`
    (range-partition + per-partition cumsum + O(partitions) driver offset
    prefix-sum), so the sort stays distributed. Neighbor pairing is an
    equi-join on rank: each row probes ranks r+1 .. r+window-1 via a
    sequence-explode of the 8-byte (id, rank) projection — token arrays
    join in afterwards, per side, only for candidate rows, so the
    window-factor amplification applies to 16-byte rows, never to
    document payloads.

    Complements the content-blocking family (LSH/SimHash): SNM catches
    prefix-anchored near-dups (same title, drifted bodies) that n-gram
    banding can miss, at a guaranteed O(window·N) candidate budget.
    """
    from sdc_mapreduce_spark.operators.relational import global_running_sum

    if window < 2:
        # Spark's sequence(start, stop) runs DESCENDING when start > stop,
        # so window=1 would silently probe ranks r+1..r backwards instead
        # of producing the empty neighborhood it denotes. Reject early.
        raise ValueError(f"window must be >= 2 (one row has no neighbors), got {window}")
    key = F.concat(
        F.substring(normalized_text(text_col), 1, key_chars),
        F.lit("#"),
        F.lpad(F.col(id_col).cast("string"), 12, "0"),
    )
    # Rank ONLY the 40-byte (__id, __k, __one) projection.
    # global_running_sum internally localCheckpoints its range-partitioned
    # input (relational.py), so whatever enters the rank pipeline is
    # serialized to executor disk; token arrays fed through it would pay a
    # heavy-column range shuffle plus checkpoint that the rank math never
    # needs. Token arrays instead come straight from the scan, per verify
    # side, and never enter a shuffle at all (the verify joins stream them
    # against the candidate set).
    narrow = df.select(F.col(id_col).alias("__id"), key.alias("__k")).withColumn(
        "__one", F.lit(1)
    )
    # 16-byte rows, checkpointed so the two consumers below (the probe
    # explode and the rank lookup) share one cumsum instead of each
    # recomputing it
    ranked = global_running_sum(
        narrow, order_col="__k", value_col="__one", out_col="__r",
        num_partitions=num_partitions,
    ).select("__id", "__r").localCheckpoint(eager=True)
    probes = ranked.select(
        F.col("__id").alias("__id_x"),
        F.explode(
            F.sequence(F.col("__r") + 1, F.col("__r") + window - 1)
        ).alias("__r2"),
    )
    cand = probes.join(
        ranked.select(F.col("__id").alias("__id_y"), F.col("__r").alias("__r2")),
        "__r2",
    ).select("__id_x", "__id_y")
    toks = df.select(
        F.col(id_col).alias("__id"), F.array_distinct(tokens(text_col)).alias("__t")
    )
    tx = toks.select(F.col("__id").alias("__id_x"), F.col("__t").alias("__tx"))
    ty = toks.select(F.col("__id").alias("__id_y"), F.col("__t").alias("__ty"))
    c = F.size(F.array_intersect("__tx", "__ty"))
    jac = F.col("__c") / (
        F.size("__tx") + F.size("__ty") - F.col("__c")
    )
    return (
        cand.join(tx, "__id_x")
        .join(ty, "__id_y")
        .withColumn("__c", c)
        .select(
            F.least("__id_x", "__id_y").alias("id_a"),
            F.greatest("__id_x", "__id_y").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
