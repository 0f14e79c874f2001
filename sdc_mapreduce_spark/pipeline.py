"""End-to-end training-data curation pipeline.

The composition a 100 TB corpus actually runs, as one operator:

    ingest → quality score → language ID → exact dedup (fingerprint,
    keep lowest id) → curated table

Each stage is one of this engine's tested operators (functions.text); the
composition stays fully declarative, so Catalyst plans the whole pipeline
as one DAG: the per-document feature stages are narrow projections fused
into ONE pass over the scan (chained via ``carry=``, never re-joined on
doc_id), and the only shuffle is the fingerprint window rank, keyed on a
32-byte hash.

The reference framework's analog is a chain of separate MapReduce jobs with
blob round-trips between them (SURVEY.md §3.2 — one job per stage); here
intermediate results never hit storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from sdc_mapreduce_spark.cache import pin
from sdc_mapreduce_spark.functions.text import (
    contamination_check,
    language_id,
    normalized_text,
    quality_features,
    repetition_features,
)


def curate(docs: DataFrame, min_quality: float = 0.58) -> DataFrame:
    """Curated corpus: per-doc quality + language features, thresholded on
    quality and exact-deduped (lowest doc id survives per fingerprint).

    Returns (doc_id, lang_pred, quality_score, n_tokens) of kept docs.
    """
    # The per-doc feature stages are narrow projections — chain them
    # on ONE pass over the corpus (carry= threads the text column through)
    # instead of computing each separately and re-joining on doc_id: zero
    # shuffles until the dedup.
    feats = language_id(
        quality_features(docs, carry=("text",)),
        carry=("n_tokens", "quality_score", "text"),
    ).withColumn("fingerprint", F.md5(normalized_text("text")))

    # narrow persist before the threshold filter — same rationale as
    # curate_full: pushdown would re-expand the aliased feature expressions
    # (tokenization included) inside the interpreted Filter condition
    featured = pin(feats.drop("text")).filter(
        F.col("quality_score") >= min_quality
    )
    # prune to the output columns BEFORE the shuffle: the per-language score
    # and ratio columns would otherwise ride the fingerprint exchange
    featured = featured.select(
        "doc_id", "lang_pred", "quality_score", "n_tokens", "fingerprint"
    )

    # exact dedup among survivors: keep the lowest doc id per fingerprint —
    # a window rank on the fingerprint shuffle, no join back
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        featured.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang_pred", "quality_score", "n_tokens")
    )


def curate_full(
    docs: DataFrame,
    benchmark: DataFrame,
    min_quality: float = 0.58,
    max_dup_2gram: float = 0.55,
    max_contamination: float = 0.5,
    contamination_n: int = 5,
) -> DataFrame:
    """The COMPLETE curation pass a 100 TB pretraining corpus runs, as one
    declarative DAG: quality scoring + language ID + Gopher-style repetition
    signals (all narrow, fused on one scan), threshold filters, exact dedup
    (fingerprint window, lowest id survives), and a benchmark-contamination
    screen (distinct n-gram overlap vs the broadcast eval inventory; docs
    too short to produce n-grams count as clean).

    Shuffle inventory, in order: ONE fingerprint exchange for the dedup
    window, ONE doc_id exchange to attach contamination scores (the
    contamination join itself is broadcast). Everything upstream is a map
    stage; the text column never crosses an exchange.

    Returns (doc_id, lang_pred, quality_score, n_tokens,
    dup_2gram_fraction, contamination) of kept docs.
    """
    # The scoring expressions are interpreted higher-order functions
    # (~2.8 ms/doc measured at sf0.1) — CPU-bound, so their parallelism is
    # capped by the scan's split count. A small fixture file arrives as ONE
    # split and pins all scoring to one core (13.8 s single-core vs sub-
    # second spread over 32). At corpus scale the input has thousands of
    # splits and this branch is a no-op; when the scan is under-parallel,
    # one corpus exchange is far cheaper than serializing the scoring.
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    feats = repetition_features(
        language_id(
            quality_features(docs, carry=("text",)),
            carry=("quality_score", "text"),
        ),
        carry=("lang_pred", "quality_score", "text"),
    ).withColumn("fingerprint", F.md5(normalized_text("text")))

    # Persist the NARROW per-doc feature set (text dropped — ~80 B/row)
    # before filtering: predicate pushdown would otherwise substitute the
    # aliased feature expressions through all three projection layers and
    # re-expand the tokenization ~10x inside one interpreted Filter
    # condition (measured 13.2 s of the 14.9 s total at sf0.1; the scoring
    # itself is 1.5 s). The persist is also what the dedup window and the
    # survivor semi-join re-read, so the scoring pass runs exactly once.
    feats_narrow = pin(feats.drop("text"))
    kept = feats_narrow.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("dup_2gram_fraction") <= max_dup_2gram)
    ).select(
        "doc_id",
        "lang_pred",
        "quality_score",
        "n_tokens",
        "dup_2gram_fraction",
        "fingerprint",
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fingerprint")
    )

    # contamination is a per-doc score (independent of other docs), so the
    # n-gram explode + aggregation runs over SURVIVORS only — not the
    # documents the upstream gates already dropped, the dominant waste at
    # corpus scale
    survivor_texts = docs.join(deduped.select("doc_id"), "doc_id", "leftsemi")
    contam = contamination_check(survivor_texts, benchmark, n=contamination_n).select(
        "doc_id", "contamination"
    )
    return (
        deduped.join(contam, "doc_id", "left")
        .withColumn("contamination", F.coalesce("contamination", F.lit(0.0)))
        .filter(F.col("contamination") <= max_contamination)
        .select(
            "doc_id",
            "lang_pred",
            "quality_score",
            "n_tokens",
            "dup_2gram_fraction",
            "contamination",
        )
    )
