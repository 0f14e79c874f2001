"""Text-analysis queries over the documents table (functions.text)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_mapreduce_spark.cache import pin
from sdc_mapreduce_spark.catalog import load_table
from sdc_mapreduce_spark.functions import text as T
from sdc_mapreduce_spark.queries.base import (
    QUALITY_CHARS_SQL,
    QUALITY_SCORE_SQL,
    QuerySpec,
    quality_features_sql,
    stop_list_sql,
)


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_stats(load_table(spark, sf_dir, "documents"))


TEXT_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS INT)
         AS n_unique_tokens,
       CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars_actual
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_features(load_table(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks{QUALITY_CHARS_SQL}
  FROM documents
), feat AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         {quality_features_sql()}
  FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, alpha_ratio, mean_token_len,
       {QUALITY_SCORE_SQL}
FROM feat
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(load_table(spark, sf_dir, "documents"))


def _lang_scores_sql() -> tuple[str, str]:
    score_exprs = []
    langs = sorted(T.LANG_MARKERS)
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> x IN ({markers}))) AS INT) AS score_{lang}"
        )
    case = " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs
    )
    return ",\n       ".join(score_exprs), case


_SCORES, _CASE = _lang_scores_sql()
_BEST = "GREATEST(score_de, score_en, score_es, score_fr, score_zh) AS best"
_LANG_PRED = f"CASE WHEN best > 0 THEN CASE {_CASE} END ELSE 'und' END AS lang_pred"

# t(doc_id, lang_declared, toks), scored (+ score_<lang>), best (+ best):
# the marker-count language scores of functions.text.language_id.
_LANG_BEST = f"""t AS (
  SELECT doc_id, lang AS lang_declared,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang_declared,
       {_SCORES}
  FROM t
), best AS (
  SELECT *, {_BEST}
  FROM scored
)"""

TEXT_LANG_SQL = f"""
WITH {_LANG_BEST}
SELECT doc_id, lang_declared, score_de, score_en, score_es, score_fr, score_zh,
       {_LANG_PRED}
FROM best
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint_md5(load_table(spark, sf_dir, "documents"))


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash (Rabin-Karp fold over md5-derived
    60-bit token hashes, modulo the Mersenne prime 2^31-1). The oracle
    replays the identical fold in DuckDB with list_reduce — fingerprint
    values, not just row counts, are verified cross-engine."""
    return T.rolling_fingerprint(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


TEXT_ROLLING_FP_SQL = """
WITH t AS (
  SELECT doc_id,
         list_transform(
           string_split_regex(trim(text), '\\s+'),
           x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
         ) AS hs
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(hs) = 0 THEN 0
            ELSE list_reduce(hs, (acc, x) -> (acc * 1000003 + x) % 2147483647)
       END AS rolling_fp
FROM t
ORDER BY doc_id
"""


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.top_ngrams(load_table(spark, sf_dir, "documents"), n=2, k=20)


TEXT_BIGRAMS_SQL = """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
), g AS (
  SELECT UNNEST([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS ngram
  FROM t WHERE len(toks) >= 2
)
SELECT ngram, COUNT(*) AS cnt
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram ASC
LIMIT 20
"""


def text_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 term pairs by document-co-occurrence lift
    (functions.text.term_cooccurrence_lift): each document keeps its 20
    highest-tf terms (bounding the pair expansion at C(20,2) per doc),
    pairs are generated map-side from sorted term arrays, and lift is the
    exact integer floor(1e9·N·c_ab/(c_a·c_b)) — the PMI signal without a
    cross-engine transcendental."""
    return T.term_cooccurrence_lift(load_table(spark, sf_dir, "documents"))


TEXT_COOCCURRENCE_SQL = """
WITH tc AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
), kept AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tf DESC, term ASC) AS rk
    FROM tc) WHERE rk <= 20
), pc AS (
  SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
)
SELECT pc.term_a, pc.term_b, pc.c_ab, da.c AS c_a, db.c AS c_b,
       CAST((1000000000::HUGEINT * n.n_docs * pc.c_ab)
            // (da.c::HUGEINT * db.c) AS BIGINT) AS lift_nano
FROM pc
JOIN dfq da ON da.term = pc.term_a
JOIN dfq db ON db.term = pc.term_b
CROSS JOIN n
ORDER BY lift_nano DESC, term_a, term_b
LIMIT 100
"""


def text_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law audit of the corpus frequency distribution — the
    classic synthetic-text / corrupted-corpus detector (natural language
    fits ln(freq) ≈ a + s·ln(rank) with s ≈ −1; templated or machine-
    generated text bends the curve): OLS fit of ln(freq) on ln(rank) over
    the top-1000 terms, emitting (n_terms, vocab_size, slope, intercept,
    r). Determinism discipline: both axes are quantized ONCE to integer
    milli-nats (the bigram-LM trick), moment sums accumulate in decimal,
    and both engines then run the identical IEEE double expression — the
    repo-standard recipe for oracle-hashable regression statistics
    (events_grouped_regression). The top-1000 cut is sort+limit
    (TakeOrdered — per-partition heaps, no vocabulary-wide global
    window), so the plan stays distributed when the vocabulary is
    billions of terms; ranks are assigned after the 1000-row cut."""
    from pyspark.sql import Window

    tf = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(T.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = tf.agg(F.count(F.lit(1)).alias("vocab_size"))
    top = tf.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(1000)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("term").asc())
        ),
    )
    base = ranked.select(
        F.expr("cast(round(ln(rank) * 1000) as bigint)").alias("x"),
        F.expr("cast(round(ln(freq) * 1000) as bigint)").alias("y"),
    )
    s = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("cast(sum(cast(x as decimal(28,0))) as double)").alias("sx"),
        F.expr(
            "cast(sum(cast(x as decimal(19,0)) * cast(x as decimal(19,0)))"
            " as double)"
        ).alias("sxx"),
        F.expr("cast(sum(cast(y as decimal(28,0))) as double)").alias("sy"),
        F.expr(
            "cast(sum(cast(x as decimal(19,0)) * cast(y as decimal(19,0)))"
            " as double)"
        ).alias("sxy"),
        F.expr(
            "cast(sum(cast(y as decimal(19,0)) * cast(y as decimal(19,0)))"
            " as double)"
        ).alias("syy"),
    )
    nn = F.col("n").cast("double")
    den_x = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = nn * F.col("syy") - F.col("sy") * F.col("sy")
    cov_n = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov_n / den_x
    return s.crossJoin(F.broadcast(vocab)).select(
        F.col("n").alias("n_terms"),
        "vocab_size",
        slope.alias("slope"),
        ((F.col("sy") / F.lit(1000.0) - slope * (F.col("sx") / F.lit(1000.0))) / nn).alias(
            "intercept"
        ),
        (cov_n / F.sqrt(den_x * den_y)).alias("r"),
    )


TEXT_ZIPF_SQL = """
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> ''
  GROUP BY term
), top AS (
  SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT 1000
), ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM top
), base AS (
  SELECT CAST(round(ln(rank) * 1000) AS BIGINT) AS x,
         CAST(round(ln(freq) * 1000) AS BIGINT) AS y
  FROM ranked
), s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
           AS DOUBLE) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
           AS DOUBLE) AS syy
  FROM base
), d AS (
  SELECT n, sx, sy,
         (CAST(n AS DOUBLE) * sxx - sx * sx) AS den_x,
         (CAST(n AS DOUBLE) * syy - sy * sy) AS den_y,
         (CAST(n AS DOUBLE) * sxy - sx * sy) AS cov_n
  FROM s
), sl AS (
  SELECT *, cov_n / den_x AS slope FROM d
)
SELECT n AS n_terms,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tf) AS vocab_size,
       slope,
       (sy / 1000.0 - slope * (sx / 1000.0)) / CAST(n AS DOUBLE) AS intercept,
       cov_n / sqrt(den_x * den_y) AS r
FROM sl
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (functions.text.tfidf_top_terms)."""
    return T.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


TEXT_TFIDF_SQL = """
WITH pairs AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df_t FROM pairs GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df_t,
         ROUND(p.tf * LN(n.n_docs / d.df_t), 6) AS tfidf
  FROM pairs p JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df_t, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def text_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY.md §2.2 — the reference has no UDTF; its
    reducer subprocess is the closest analog): LATERAL-join a table function
    that explodes each document into sentences, then re-aggregate per doc.
    UDTFs are the right tool when one input row yields a variable number of
    structured rows and the logic needs real Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent string, n_tokens int")
    class SplitSentences:
        def eval(self, text: str):
            for raw in (text or "").split("."):
                sent = raw.strip()
                if sent:
                    yield sent, len(sent.split())

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT doc_id,
               COUNT(*) AS n_sentences,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(n_tokens) AS INT) AS longest_sentence
        FROM docs_udtf, LATERAL split_sentences(text)
        GROUP BY doc_id
        """
    )


TEXT_UDTF_SENTENCES_SQL = """
WITH s AS (
  SELECT doc_id, trim(part) AS sent
  FROM documents, UNNEST(string_split(text, '.')) AS t(part)
)
SELECT doc_id,
       COUNT(*) AS n_sentences,
       CAST(SUM(len(string_split_regex(sent, '\\s+'))) AS BIGINT) AS total_tokens,
       CAST(MAX(len(string_split_regex(sent, '\\s+'))) AS INT) AS longest_sentence
FROM s WHERE sent <> ''
GROUP BY doc_id
"""


def text_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-with-ordinality surface: ``posexplode`` emits (position,
    token) rows — the order-preserving explode needed whenever downstream
    logic is position-sensitive (n-gram building, span labeling)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "token")
    ).filter(F.col("token") != "")


TEXT_POSEXPLODE_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), z AS (
  SELECT doc_id,
         UNNEST([{'i': i, 't': toks[i]} FOR i IN range(1, len(toks) + 1)]) AS s
  FROM t
)
SELECT doc_id, CAST(s.i - 1 AS INT) AS pos, s.t AS token
FROM z WHERE s.t <> ''
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata surface: payload byte length + checksum over a
    synthesized media table (multimodal.synthesize_media). The decode stubs
    are exercised in tests; this checks the binary plumbing itself."""
    from sdc_mapreduce_spark.multimodal import synthesize_media

    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        media["meta.n_bytes"].alias("n_bytes"),
        media["meta.checksum"].alias("checksum"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS checksum
FROM documents
"""


def multimodal_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real binary decode over the SDCM-framed media table: the Arrow-batched
    kernel parses each payload's header (magic/version validation, u16 LE
    dimensions) and profiles the body buffer with numpy. Fully
    oracle-checkable because the framed format is self-describing: the
    header fields are deterministic functions of the id and the body is the
    document's utf-8 bytes, so DuckDB can recompute every output column —
    the byte_sum/mean_byte oracle re-derives the buffer sum from hex pairs.
    Reference analog: byte-exact record parsing at the scan boundary
    (src/worker/worker.cpp:229-247)."""
    from sdc_mapreduce_spark.multimodal import decode_framed, synthesize_framed_media

    media = synthesize_framed_media(load_table(spark, sf_dir, "documents"))
    return decode_framed(media).orderBy("media_id")


# Oracle fragments over each document's utf-8 bytes, read as hex pairs.


def _nibble_sql(pos: str) -> str:
    """One plus the value of hex digit ``pos`` (1-based) of ``h``."""
    return f"strpos('0123456789ABCDEF', h[{pos}:{pos}])"


def _hex_bytes_sql(where: str = "") -> str:
    """CTE ``b(doc_id, h, n)``: each text's utf-8 bytes as a hex string
    and their count."""
    return f"""b AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents{where}
)"""


def _byte_bins_sql(where: str = "") -> str:
    """``b``, then ``e(doc_id, bin)``, each byte's high nibble, and
    ``bins(doc_id, bin, cnt)``: the 16-bin high-nibble histogram."""
    return f"""{_hex_bytes_sql(where)}, e AS (
  SELECT doc_id,
    UNNEST([{_nibble_sql("2*i-1")} - 1
            FOR i IN range(1, CAST(n AS INT) + 1)]) AS bin
  FROM b
), bins AS (
  SELECT doc_id, bin, COUNT(*) AS cnt FROM e GROUP BY doc_id, bin
)"""


# norms(doc_id, nn): the squared L2 norm of each histogram.
_BIN_NORMS = """, norms AS (
  SELECT doc_id, CAST(SUM(cnt * cnt) AS DOUBLE) AS nn FROM bins GROUP BY doc_id
)"""

# cand(id_a, id_b): histogram LSH candidates — per 4-bin band, the bins
# quantized to 64ths of the total as the band key; all-zero and hot (> 64
# docs) keys are skipped.
_BIN_BAND_CANDS = """, tot AS (
  SELECT doc_id, SUM(cnt) AS t FROM bins GROUP BY doc_id
), dense AS (
  SELECT t.doc_id, r.i AS bin, COALESCE(bn.cnt, 0) AS cnt, t.t
  FROM tot t CROSS JOIN range(16) r(i)
  LEFT JOIN bins bn ON bn.doc_id = t.doc_id AND bn.bin = r.i
), keys AS (
  SELECT doc_id, bin // 4 AS band,
         string_agg(CAST((cnt * 64) // t AS VARCHAR), ',' ORDER BY bin)
           AS bkey
  FROM dense GROUP BY doc_id, bin // 4
), live AS (
  SELECT * FROM keys WHERE bkey <> '0,0,0,0'
), ok AS (
  SELECT band, bkey FROM live GROUP BY band, bkey HAVING COUNT(*) <= 64
), kept AS (
  SELECT l.* FROM live l JOIN ok USING (band, bkey)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM kept a JOIN kept c ON a.band = c.band AND a.bkey = c.bkey
                         AND a.doc_id < c.doc_id
)"""

# scored/ranked over pairs(query_id, neighbor_id, dp) and norms: the
# cosine top-3 per query as the query result.
_COSINE_TOP3 = """, scored AS (
  SELECT p.query_id, p.neighbor_id,
         p.dp / (sqrt(qn.nn) * sqrt(vn.nn)) AS cosine
  FROM pairs p
  JOIN norms qn ON qn.doc_id = p.query_id
  JOIN norms vn ON vn.doc_id = p.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       cosine AS score
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""

MULTIMODAL_DECODE_PROFILE_SQL = f"""
WITH {_hex_bytes_sql()}, e AS (
  SELECT doc_id, n,
    UNNEST([16*({_nibble_sql("2*i-1")}-1)
            + ({_nibble_sql("2*i")}-1)
            FOR i IN range(1, CAST(n AS INT) + 1)]) AS byte
  FROM b
), sums AS (
  SELECT doc_id, CAST(SUM(byte) AS BIGINT) AS byte_sum
  FROM e GROUP BY doc_id
)
-- drive from the base docs CTE, not sums: UNNEST of an empty body yields
-- no e/sums rows, but the Spark kernel still emits the doc with
-- body_bytes=0/byte_sum=0/mean_byte=0.0 — LEFT JOIN + COALESCE keeps the
-- engines aligned on zero-length texts
SELECT b.doc_id AS media_id,
       CASE b.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(16 + (b.doc_id * 7919) % 240 AS INT) AS width,
       CAST(16 + (b.doc_id * 104729) % 240 AS INT) AS height,
       CAST(1 + (b.doc_id // 3) % 3 AS INT) AS n_channels,
       CAST(b.n AS BIGINT) AS body_bytes,
       COALESCE(s.byte_sum, 0) AS byte_sum,
       CASE WHEN b.n > 0 THEN FLOOR(s.byte_sum / b.n * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS mean_byte
FROM b LEFT JOIN sums s ON s.doc_id = b.doc_id
ORDER BY media_id
"""


def multimodal_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through BOTH real binary kernels: frame → nearest-neighbor
    resize (numpy index-map, image payloads only) → decode the RESIZED
    payload. Certifies that resize writes a well-formed SDCM container with
    the target dimensions and a w*h*c pixel body — all SQL-derivable from
    the framed-format spec, so the driver hash-checks the whole path.
    Exact pixel placement is pinned separately in
    tests/test_multimodal.py::test_resize_media_nearest_neighbor_exact."""
    from sdc_mapreduce_spark.multimodal import (
        decode_framed,
        resize_media,
        synthesize_framed_media,
    )

    media = synthesize_framed_media(load_table(spark, sf_dir, "documents"))
    resized = resize_media(media, target=(32, 24))
    return (
        decode_framed(resized.select("media_id", "content"))
        .select("media_id", "kind", "width", "height", "n_channels", "body_bytes")
        .orderBy("media_id")
    )


MULTIMODAL_RESIZE_AUDIT_SQL = """
SELECT doc_id AS media_id,
       'image' AS kind,
       CAST(32 AS INT) AS width,
       CAST(24 AS INT) AS height,
       CAST(1 + (doc_id // 3) % 3 AS INT) AS n_channels,
       CAST(32 * 24 * (1 + (doc_id // 3) % 3) AS BIGINT) AS body_bytes
FROM documents
WHERE doc_id % 3 = 0
ORDER BY media_id
"""


def pipeline_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table pipeline step: join the CURATED corpus (quality gate +
    exact dedup) to its embedding vectors and aggregate per declared
    language — the embedding-side health check run after curation (are the
    kept docs' vectors well-scaled per language?). Decimal-accumulated norm
    average for cross-engine determinism; the embeddings side joins on the
    32-byte-key-free doc_id, so at scale this is a co-partitionable
    equi-join."""
    from sdc_mapreduce_spark.functions.simsearch import dot
    from sdc_mapreduce_spark.pipeline import curate

    docs = load_table(spark, sf_dir, "documents")
    kept = curate(docs, min_quality=0.58)
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norms = emb.select(F.col("vec_id").alias("doc_id"), F.sqrt(dot(v, v)).alias("__norm"))
    from sdc_mapreduce_spark.queries.base import davg

    return (
        kept.join(docs.select("doc_id", "lang"), "doc_id")
        .join(norms, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), davg("__norm", "avg_norm", scale=8))
        .orderBy("lang")
    )


def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling accounting: run the row-expanding ``mapInPandas``
    frame kernel (4 evenly-spaced payload slices per video), then aggregate
    frames and bytes per media. The kernel itself is Python, but its byte
    arithmetic is exact — the oracle recomputes the slice lengths in SQL,
    so the Arrow kernel's row expansion and byte accounting are
    value-verified, not just row-counted."""
    from sdc_mapreduce_spark.multimodal import sample_frames, synthesize_media

    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, n_frames=4)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.octet_length("frame_bytes")).cast("bigint").alias(
                "total_frame_bytes"
            ),
            F.max(F.octet_length("frame_bytes")).cast("int").alias("max_frame_bytes"),
        )
        .orderBy("media_id")
    )


MULTIMODAL_FRAME_STATS_SQL = """
WITH v AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT media_id, n,
         GREATEST(n // 4, 1) AS stride,
         unnest(generate_series(0, 3)) AS i
  FROM v
), sizes AS (
  SELECT media_id,
         LEAST(GREATEST(n - i * stride, 0), stride) AS frame_len
  FROM f
)
SELECT media_id,
       COUNT(*) AS n_frames,
       CAST(SUM(frame_len) AS BIGINT) AS total_frame_bytes,
       CAST(MAX(frame_len) AS INT) AS max_frame_bytes
FROM sizes
GROUP BY media_id
ORDER BY media_id
"""


def _media_cosine_top3(features: DataFrame) -> DataFrame:
    """Broadcast cosine top-3 for query media 0-4 over a (media_id,
    feature) frame: int_dot / (sqrt(qq) * sqrt(vv)) on exact integer
    features, ranked by cosine descending with ties to the lowest neighbor
    id, as (query_id, neighbor_id, rank, score).

    Zero-norm (empty-body) vectors are dropped: they have no cosine
    direction, and the DuckDB twins' bin joins drop them implicitly (an
    empty text yields no bins rows) — without this filter an empty doc
    would surface as a NaN-scored row the oracle never produces. The
    bounded (media_id, vector, norm) frame is pinned: it feeds both the
    query side and the corpus side of the theta-join, and without the
    persist each side re-runs the Arrow feature kernel end-to-end."""
    from sdc_mapreduce_spark.functions.simsearch import _rank_neighbors, dot

    v = F.col("feature").cast("array<double>")
    prepared = pin(
        features.select(
            "media_id", v.alias("__v"), dot(v, v).alias("__nn")
        ).filter(F.col("__nn") > 0)
    )
    queries = prepared.filter(F.col("media_id").isin([0, 1, 2, 3, 4])).select(
        F.col("media_id").alias("query_id"),
        F.col("__v").alias("__q"),
        F.col("__nn").alias("__qnn"),
    )
    pairs = prepared.join(F.broadcast(queries), F.col("media_id") != F.col("query_id"))
    cosine = dot(F.col("__q"), F.col("__v")) / (
        F.sqrt(F.col("__qnn")) * F.sqrt(F.col("__nn"))
    )
    scored = pairs.select(
        "query_id",
        F.col("media_id").alias("neighbor_id"),
        cosine.alias("__cos"),
    )
    return (
        _rank_neighbors(scored, 3, score="__cos")
        .select("query_id", "neighbor_id", "rank", F.col("__cos").alias("score"))
        .orderBy("query_id", "rank")
    )


def multimodal_embed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal similarity search, fully oracle-checked: framed
    media payloads → Arrow byte-histogram feature kernel (integer counts =
    exact math) → broadcast cosine top-k (:func:`_media_cosine_top3`).
    Cosine is computed as int_dot / (sqrt(qq) * sqrt(vv)) with the same
    left-fold order the DuckDB oracle uses (bin-join dot product), so
    scores are bit-reproducible cross-engine. The projection encoder's
    twin is multimodal_encoder_topk."""
    from sdc_mapreduce_spark.multimodal import byte_bin_histogram, synthesize_framed_media

    media = synthesize_framed_media(load_table(spark, sf_dir, "documents"))
    return _media_cosine_top3(byte_bin_histogram(media))


MULTIMODAL_EMBED_SEARCH_SQL = f"""
WITH {_byte_bins_sql()}{_BIN_NORMS}, pairs AS (
  SELECT q.doc_id AS query_id, v.doc_id AS neighbor_id,
         CAST(SUM(q.cnt * v.cnt) AS DOUBLE) AS dp
  FROM bins q JOIN bins v ON q.bin = v.bin
  WHERE q.doc_id IN (0, 1, 2, 3, 4) AND v.doc_id <> q.doc_id
  GROUP BY q.doc_id, v.doc_id
){_COSINE_TOP3}"""


def multimodal_encoder_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over the ENCODER features (multimodal.
    synthesize_and_extract): framed payloads → fixed-seed integer random
    projection of the body byte-histogram (a Johnson–Lindenstrauss feature
    map) → broadcast
    cosine top-3 for query media 0-4 (:func:`_media_cosine_top3`). Every
    projected coordinate is an exact integer (hist counts × weights in
    [-8,8], |proj| << 2^53 at any fixture SF), so dot products and norms
    are order-free and the DuckDB twin — which carries the projection
    matrix as 256 literal weights and replays hist → proj → cosine
    relationally — reproduces every score bit-for-bit."""
    from sdc_mapreduce_spark.multimodal import synthesize_and_extract

    # one kernel from the text: the framed payload bytes never cross the
    # JVM<->Python boundary (see synthesize_and_extract's docstring)
    return _media_cosine_top3(
        synthesize_and_extract(load_table(spark, sf_dir, "documents"))
    )


def _encoder_topk_sql() -> str:
    """DuckDB twin of multimodal_encoder_topk: the fixed-seed projection
    matrix rides as 256 (d, bin, weight) literals, so the oracle replays
    the encoder itself — hist → integer projection → cosine — end-to-end."""
    from sdc_mapreduce_spark.multimodal import PROJECTION_MATRIX

    weights = ",\n    ".join(
        f"({d}, {b}, {int(w)})"
        for d, row in enumerate(PROJECTION_MATRIX)
        for b, w in enumerate(row)
    )
    return f"""
WITH {_byte_bins_sql()}, r(d, bin, w) AS (
  VALUES {weights}
), proj AS (
  SELECT bins.doc_id, r.d, CAST(SUM(r.w * bins.cnt) AS DOUBLE) AS p
  FROM bins JOIN r ON r.bin = bins.bin
  GROUP BY bins.doc_id, r.d
), norms AS (
  SELECT doc_id, SUM(p * p) AS nn FROM proj GROUP BY doc_id HAVING SUM(p * p) > 0
), pairs AS (
  SELECT q.doc_id AS query_id, v.doc_id AS neighbor_id, SUM(q.p * v.p) AS dp
  FROM proj q JOIN proj v ON q.d = v.d
  WHERE q.doc_id IN (0, 1, 2, 3, 4) AND v.doc_id <> q.doc_id
  GROUP BY q.doc_id, v.doc_id
){_COSINE_TOP3}"""


MULTIMODAL_ENCODER_TOPK_SQL = _encoder_topk_sql()


def multimodal_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup dedup through LSH-style feature banding — the
    image/audio analog of minhash near-dedup, end-to-end oracle-checked:
    framed payloads → Arrow byte-histogram kernel (16 integer bins) →
    per-media quantized signature (bin·64 div total, exact integer
    division) → 4 bands of 4 bins; two media are CANDIDATES only if one
    band's quantized 4-tuple matches exactly — never an all-pairs pass.
    All-zero band keys are dropped (a byte-histogram of text concentrates
    in the ascii bins, so the high bands carry no signal and would
    otherwise collide everything), and hot bands holding > 64 media are
    capped before the self-join — the same quadratic-bucket guard
    minhash_lsh_pairs documents, replayed identically in the oracle.
    Candidates verify with exact integer-count cosine >= 0.99999
    (byte histograms of same-language text all cosine ~0.99+, so only the
    near-identical tail discriminates: ~900 of the 125k possible pairs at
    sf0.01); both
    engines compute the identical double (integer dot and norms are exact
    in float64), so even a boundary-equal score filters consistently.
    Like every LSH screen, banding trades recall for the bounded
    candidate set (~68% of true >= 0.99999 pairs at sf0.01 —
    quantization misses plus the hot-band cap); the exact all-pairs form
    of the same verify is the dedup_embedding_cosine-shaped small-corpus
    path."""
    return _neardup_banded_pairs(
        load_table(spark, sf_dir, "documents")
    ).orderBy("id_a", "id_b")


def _neardup_hist(docs: DataFrame) -> DataFrame:
    """Persisted byte-histogram features with totals for a docs table —
    shared by the banded pipeline and the exact-truth side of the recall
    audit."""
    from sdc_mapreduce_spark.multimodal import (
        byte_bin_histogram,
        synthesize_framed_media,
    )

    media = synthesize_framed_media(docs)
    hist = (
        byte_bin_histogram(media)
        .withColumn(
            "__tot",
            F.aggregate(
                "feature", F.lit(0).cast("long"), lambda acc, x: acc + x
            ),
        )
        .filter(F.col("__tot") > 0)
    )
    # reused by the banding pass and both verify joins; the Arrow
    # kernel would otherwise re-decode every payload per consumer.
    # pin (not bare persist): released by the harness's drain_pins()
    return pin(hist)


def _neardup_banded_pairs(docs: DataFrame, hist: DataFrame | None = None) -> DataFrame:
    """The banded near-dup pipeline body (see multimodal_neardup_banded's
    docstring) as a reusable function of the docs table, so the recall
    audit can run the identical pipeline on its sample.

    ``hist`` lets a caller that ALSO needs the persisted histogram (the
    recall audit's exact-truth pass) share one cached copy — without it
    each invocation persisted a second identical frame and re-ran the
    Arrow decode (ADVICE r8: 'Asked to cache already cached data')."""
    from sdc_mapreduce_spark.functions.simsearch import dot

    if hist is None:
        hist = _neardup_hist(docs)
    banded = (
        hist.select(
            "media_id",
            F.expr(
                "transform(sequence(0, 3), k -> struct(k AS band, "
                "concat_ws(',', transform(slice(transform(feature, "
                "x -> CAST((x * 64) div __tot AS STRING)), k * 4 + 1, 4), "
                "s -> s)) AS bkey))"
            ).alias("__b"),
        )
        .select("media_id", F.explode("__b").alias("b"))
        .select("media_id", "b.band", "b.bkey")
        .filter(F.col("bkey") != "0,0,0,0")
    )
    ok = (
        banded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= 64)
        .select("band", "bkey")
    )
    kept = banded.join(ok, ["band", "bkey"])
    cand = (
        kept.alias("x")
        .join(kept.alias("y"), ["band", "bkey"])
        .select(
            F.col("x.media_id").alias("id_a"), F.col("y.media_id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    v = F.col("feature").cast("array<double>")
    side_a = hist.select(
        F.col("media_id").alias("id_a"),
        v.alias("__va"),
        dot(v, v).alias("__na"),
    )
    side_b = hist.select(
        F.col("media_id").alias("id_b"),
        v.alias("__vb"),
        dot(v, v).alias("__nb"),
    )
    cosine = dot(F.col("__va"), F.col("__vb")) / (
        F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))
    )
    return (
        cand.join(side_a, "id_a")
        .join(side_b, "id_b")
        .select("id_a", "id_b", cosine.alias("__cos"))
        .filter(F.col("__cos") >= 0.99999)
        .select("id_a", "id_b", F.col("__cos").alias("score"))
    )


def multimodal_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded multimodal near-dup screen — the
    docstring claim ("banding trades recall for the bounded candidate
    set") as a certified number: on a deterministic 20% sample with an
    ABSOLUTE cap (doc_id % 5 == 0 AND doc_id < 100000 — a pure fraction
    would grow the exact-truth side linearly with the corpus and its
    all-pairs cost quadratically; the cap bounds truth at <= 20k docs /
    ~200M pairs at ANY corpus size, and is a no-op at every test SF
    incl. the 10x corpus whose doc_ids top out at 49999), run the
    IDENTICAL banded pipeline and an exact all-pairs cosine >= 0.99999
    truth pass, and emit (n_true, n_detected, recall_milli =
    floor(1000·detected/true)). The verify step only filters candidates,
    so detected ⊆ true and the ratio IS candidate-generation recall.
    This is the same audit discipline as simsearch_ann_recall — every
    approximate screen in the repo carries a measured-recall twin."""
    from sdc_mapreduce_spark.functions.simsearch import dot

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 100000)
    )
    # ONE persisted histogram feeds both the banded screen and the exact
    # truth pass (was: two identical cached copies + a duplicate decode)
    hist = _neardup_hist(docs)
    detected = _neardup_banded_pairs(docs, hist=hist).agg(
        F.count(F.lit(1)).alias("n_detected")
    )
    v = F.col("feature").cast("array<double>")
    side = hist.select("media_id", v.alias("__v"), dot(v, v).alias("__n"))
    a = side.select(
        F.col("media_id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = side.select(
        F.col("media_id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cosine = dot(F.col("__va"), F.col("__vb")) / (
        F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))
    )
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(cosine >= 0.99999)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return truth.crossJoin(F.broadcast(detected)).select(
        "n_true",
        "n_detected",
        F.expr(
            "CASE WHEN n_true > 0 THEN (1000 * n_detected) div n_true "
            "ELSE 1000 END"
        ).alias("recall_milli"),
    )


def _neardup_recall_sql() -> str:
    bins = _byte_bins_sql(" WHERE doc_id % 5 = 0 AND doc_id < 100000")
    return f"""
WITH {bins}{_BIN_BAND_CANDS}{_BIN_NORMS}, alldp AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         CAST(SUM(x.cnt * y.cnt) AS DOUBLE) AS dp
  FROM bins x JOIN bins y ON y.bin = x.bin AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true
  FROM alldp d JOIN norms na ON na.doc_id = d.id_a
               JOIN norms nb ON nb.doc_id = d.id_b
  WHERE d.dp / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.99999
), det AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_detected
  FROM cand c JOIN alldp d ON d.id_a = c.id_a AND d.id_b = c.id_b
  JOIN norms na ON na.doc_id = c.id_a
  JOIN norms nb ON nb.doc_id = c.id_b
  WHERE d.dp / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.99999
)
SELECT truth.n_true, det.n_detected,
       CAST(CASE WHEN truth.n_true > 0
            THEN (1000 * det.n_detected) // truth.n_true
            ELSE 1000 END AS BIGINT) AS recall_milli
FROM truth, det
"""


MULTIMODAL_NEARDUP_SQL = f"""
WITH {_byte_bins_sql()}{_BIN_BAND_CANDS}{_BIN_NORMS}, dp AS (
  SELECT cand.id_a, cand.id_b, CAST(SUM(x.cnt * y.cnt) AS DOUBLE) AS dp
  FROM cand
  JOIN bins x ON x.doc_id = cand.id_a
  JOIN bins y ON y.doc_id = cand.id_b AND y.bin = x.bin
  GROUP BY cand.id_a, cand.id_b
)
SELECT dp.id_a, dp.id_b,
       dp.dp / (sqrt(na.nn) * sqrt(nb.nn)) AS score
FROM dp
JOIN norms na ON na.doc_id = dp.id_a
JOIN norms nb ON nb.doc_id = dp.id_b
WHERE dp.dp / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.99999
ORDER BY id_a, id_b
"""


def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline (pipeline.curate): quality
    threshold + exact dedup, returning kept docs with features. Near-dup
    clustering is its own query (dedup_clusters)."""
    from sdc_mapreduce_spark.pipeline import curate

    return curate(load_table(spark, sf_dir, "documents"), min_quality=0.58).orderBy(
        "doc_id"
    )


# grams: each document's token 2-grams (functions.text.repetition_features).
_BIGRAMS = """CASE WHEN len(toks) >= 2
                THEN list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i + 1])
                ELSE [] END AS grams"""

_DUP_2GRAM_FRACTION = """CASE WHEN len(grams) > 0
              THEN (len(grams) - len(list_distinct(grams))) / len(grams)
              ELSE 0.0 END AS dup_2gram_fraction"""


def _contamination_grams_sql(g: str) -> str:
    """CTEs ``{g}(doc_id, grams)``, each document's distinct token 5-grams
    (functions.text.contamination_check), ``doc_grams(doc_id, gram)`` and
    ``bench_grams(gram)``, the grams of the benchmark documents
    (doc_id % 97 = 0)."""
    return f"""{g} AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct(list_transform(
                     generate_series(1, len(toks) - 4),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4]))
              ELSE [] END AS grams
  FROM t
), doc_grams AS (
  SELECT doc_id, unnest(grams) AS gram FROM {g}
), bench_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM {g} WHERE doc_id % 97 = 0
)"""


def _curation_langd_sql(carry: str = "") -> str:
    """CTEs t, feat, scored and langd(doc_id, fingerprint, n_tokens,
    quality_score, lang_pred): pipeline.curate's fused quality and
    language scoring. ``carry`` ("toks, ") keeps columns through feat and
    scored."""
    return f"""t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks{QUALITY_CHARS_SQL},
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
), feat AS (
  SELECT doc_id, fingerprint, {carry}
         CAST(len(toks) AS INT) AS n_tokens,
         {quality_features_sql()},
         {_SCORES}
  FROM t
), scored AS (
  SELECT doc_id, fingerprint, {carry}n_tokens,
         {QUALITY_SCORE_SQL},
         {_BEST},
         score_de, score_en, score_es, score_fr, score_zh
  FROM feat
), langd AS (
  SELECT doc_id, fingerprint, n_tokens, quality_score,
         {_LANG_PRED}
  FROM scored
)"""


PIPELINE_CURATION_SQL = f"""
WITH {_curation_langd_sql()}, kept AS (
  SELECT * FROM langd WHERE quality_score >= 0.58
), dedup AS (
  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY fingerprint
)
SELECT k.doc_id, k.lang_pred, k.quality_score, k.n_tokens
FROM kept k JOIN dedup d ON k.doc_id = d.doc_id
ORDER BY k.doc_id
"""

PIPELINE_EMBEDDING_STATS_SQL = f"""
WITH curated AS ({PIPELINE_CURATION_SQL}
), nrm AS (
  SELECT vec_id AS doc_id,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                             'sum')) AS nrm
  FROM embeddings
)
SELECT d.lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n.nrm AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS avg_norm
FROM curated c
JOIN documents d USING (doc_id)
JOIN nrm n USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pass in one declarative DAG (pipeline.
    curate_full): quality + language + repetition scoring fused on one
    scan, threshold filters, exact dedup, and the benchmark-contamination
    screen — with the whole composition oracle-checked end to end, not just
    its stages. Benchmark = docs with doc_id % 97 == 0."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.pipeline import curate_full

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return curate_full(docs, bench).orderBy("doc_id")


PIPELINE_CURATION_FULL_SQL = f"""
WITH {_curation_langd_sql("toks, ")}, rep AS (
  SELECT doc_id,
         {_DUP_2GRAM_FRACTION}
  FROM (
    SELECT doc_id,
           {_BIGRAMS}
    FROM t
  )
), {_contamination_grams_sql("g5")}, contam AS (
  SELECT d.doc_id, COUNT(b.gram) / COUNT(*) AS contamination
  FROM doc_grams d LEFT JOIN bench_grams b ON b.gram = d.gram
  GROUP BY d.doc_id
), kept AS (
  SELECT l.doc_id, l.fingerprint, l.n_tokens, l.quality_score, l.lang_pred,
         r.dup_2gram_fraction
  FROM langd l JOIN rep r USING (doc_id)
  WHERE l.quality_score >= 0.58 AND r.dup_2gram_fraction <= 0.55
), dedup AS (
  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY fingerprint
)
SELECT k.doc_id, k.lang_pred, k.quality_score,
       k.n_tokens, k.dup_2gram_fraction,
       COALESCE(c.contamination, 0.0) AS contamination
FROM kept k
JOIN dedup d ON k.doc_id = d.doc_id
LEFT JOIN contam c ON c.doc_id = k.doc_id
WHERE COALESCE(c.contamination, 0.0) <= 0.5
ORDER BY k.doc_id
"""


def pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pass COMPOSED with the sampling plan — the full
    pretraining-data decision chain in one DAG: quality + language +
    repetition scoring, threshold gates, exact dedup, contamination screen
    (pipeline.curate_full), then mT5-style temperature mixing over the
    SURVIVORS' predicted languages (functions.splits.temperature_mix,
    alpha=0.3, budget=half the curated corpus). Output is the per-language
    plan and its exact realized kept counts — the end-to-end composition is
    what the oracle replays, not the stages in isolation. The mixing adds
    one group-cardinality aggregate and a broadcast join on top of
    curate_full's two exchanges; nothing new touches the corpus text."""
    from pyspark.sql import functions as F

    from sdc_mapreduce_spark.functions.splits import temperature_mix
    from sdc_mapreduce_spark.pipeline import curate_full

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # mix over the declared language metadata: the heuristic lang_pred
    # collapses to 'en' on this fixture's curated survivors, so the
    # declared column is the meaningful mixing stratum
    survivors = curate_full(docs, bench).select("doc_id")
    # persist the tiny (doc_id, lang) survivor projection: temperature_mix
    # scans its input twice (group counts, then the keep pass) and each scan
    # would otherwise recompute the whole curation DAG — the 5-gram
    # contamination join included (19.8 s -> ~3 s at sf0.01)
    strata = pin(
        docs.join(survivors, "doc_id", "leftsemi").select("doc_id", "lang")
    )
    return temperature_mix(
        strata, group_col="lang", alpha=0.3, budget_frac=0.5
    ).orderBy("lang")


def _pretrain_mix_sql() -> str:
    return f"""
WITH surv AS (
  SELECT doc_id FROM ({PIPELINE_CURATION_FULL_SQL})
), final AS (
  SELECT d.doc_id, d.lang FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM surv)
), c AS (
  SELECT lang, COUNT(*) AS n_docs FROM final GROUP BY lang
), t2 AS (
  SELECT SUM(n_docs) AS N FROM c
), w AS (
  SELECT lang, n_docs,
         CAST(ROUND(1e6 * POW(CAST(n_docs AS DOUBLE) / (SELECT N FROM t2), 0.3))
              AS BIGINT) AS weight_micro
  FROM c
), sw AS (
  SELECT SUM(weight_micro) AS SW FROM w
), plan AS (
  SELECT lang, n_docs, weight_micro,
         LEAST(1.0, ((0.5 * (SELECT N FROM t2)) * weight_micro)
                      / ((SELECT SW FROM sw) * n_docs)) AS keep_frac
  FROM w
), kept2 AS (
  SELECT f.lang, COUNT(*) AS n_kept
  FROM final f JOIN plan p USING (lang)
  WHERE p.keep_frac >= 1.0
     OR CAST(('0x' || SUBSTRING(md5('tmix-v1' || CAST(f.doc_id AS VARCHAR)),
                                1, 4)) AS BIGINT)
        < CAST(FLOOR(p.keep_frac * 65536.0) AS BIGINT)
  GROUP BY f.lang
)
SELECT p.lang, p.n_docs, p.weight_micro, p.keep_frac,
       COALESCE(k.n_kept, 0) AS n_kept
FROM plan p LEFT JOIN kept2 k USING (lang)
ORDER BY p.lang
"""


# Literal query set for the BM25 retrieval surface: plan literals (like the
# SRP hyperplanes) so the DuckDB oracle replays the exact same retrieval.
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q_join": ("hash", "join", "merge"),
    "q_scan": ("vector", "scan", "filter"),
    "q_stream": ("stream", "window", "agg"),
}

_BM25_K1 = 1.2
_BM25_B = 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval (functions.text.bm25_topk) for a literal query
    set — the eval-retrieval / contamination-ranking surface over the raw
    corpus. Lucene idf variant (positive on small corpora), nano-quantized
    per-term partial scores so the per-doc sum is an order-independent
    integer; the per-query ranking runs through the salted hot-group top-k
    (one group per query holds every matching doc)."""
    return T.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        BM25_QUERIES,
        k=5,
        k1=_BM25_K1,
        b=_BM25_B,
    )


def _bm25_sql() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in sorted(BM25_QUERIES.items())
        for t in terms
    )
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH q(query_id, term) AS (
  VALUES {qvals}
), toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
), pairs AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM pairs GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
           / (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) FROM documents)
           AS avgdl
), dfreq AS (
  SELECT term, COUNT(*) AS df_t
  FROM pairs WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
), scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(FLOOR(
           LN(1.0 + (CAST(s.n_docs - f.df_t AS DOUBLE) + 0.5)
                    / (CAST(f.df_t AS DOUBLE) + 0.5))
           * ((CAST(p.tf AS DOUBLE) * {k1 + 1.0!r})
              / (CAST(p.tf AS DOUBLE)
                 + {k1!r} * ({1.0 - b!r}
                             + {b!r} * (CAST(d.dl AS DOUBLE) / s.avgdl))))
           * 1e9) AS BIGINT) AS nano
  FROM pairs p
  JOIN q USING (term)
  JOIN dl d USING (doc_id)
  JOIN dfreq f USING (term)
  CROSS JOIN stats s
), per_doc AS (
  SELECT query_id, doc_id, COUNT(*) AS n_matched, SUM(nano) AS score_nano
  FROM scored GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, n_matched, score_nano,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_nano DESC, doc_id ASC) AS rank
  FROM per_doc
)
SELECT query_id, doc_id, CAST(n_matched AS BIGINT) AS n_matched,
       CAST(score_nano AS DOUBLE) / 1e9 AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector similarity join (functions.text.tfidf_cosine_pairs):
    document pairs at TF-IDF cosine ≥ 0.9 via the weighted inverted index
    — the bag-of-words half of a hybrid retrieval stack (the fixture
    corpus is lexically homogeneous, so the threshold sits high to isolate
    genuine near-dups). idf milli-quantization keeps every dot product and
    norm an exact integer."""
    return T.tfidf_cosine_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.9
    ).orderBy("id_a", "id_b")


TEXT_TFIDF_COSINE_SQL = f"""
WITH tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents
  ) GROUP BY doc_id, t
), dfreq AS (
  SELECT t, COUNT(*) AS df_t FROM tf GROUP BY t HAVING COUNT(*) <= {T.TFIDF_MAX_DF}
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS nd FROM documents
), w AS (
  SELECT tf.doc_id, tf.t,
         tf.tf * CAST(ROUND(1000.0 * ln(CAST(n.nd AS DOUBLE) / df_t)) AS BIGINT)
           AS w
  FROM tf JOIN dfreq USING (t), n
  WHERE tf.tf * CAST(ROUND(1000.0 * ln(CAST(n.nd AS DOUBLE) / df_t)) AS BIGINT)
        > 0
), norms AS (
  SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS d
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(d AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE CAST(d AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.9
ORDER BY id_a, id_b
"""


def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape for the heuristic language ID: the
    (declared, predicted) confusion matrix with per-cell counts and the
    row-relative rate — the quality report any model-based labeling stage
    ships with. Rates are exact count ratios (hash-safe); one narrow scoring
    pass plus a tiny pair aggregate."""
    scored = T.language_id(load_table(spark, sf_dir, "documents"))
    pairs = scored.groupBy("lang_declared", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang_declared")
    return (
        pairs.withColumn("rate", F.col("n") / F.sum("n").over(w))
        .withColumn("is_match", F.col("lang_declared") == F.col("lang_pred"))
        .orderBy("lang_declared", "lang_pred")
    )


TEXT_LANG_CONFUSION_SQL = f"""
WITH {_LANG_BEST}, pred AS (
  SELECT lang_declared,
         {_LANG_PRED}
  FROM best
), pairs AS (
  SELECT lang_declared, lang_pred, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
)
SELECT lang_declared, lang_pred, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang_declared) AS rate,
       lang_declared = lang_pred AS is_match
FROM pairs
ORDER BY lang_declared, lang_pred
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (distinct-token ratio, top
    token share, duplicate-2-gram fraction) — the repetition filters a
    training-data pipeline applies before dedup. Fully narrow per-doc
    expressions; see functions.text.repetition_features."""
    return T.repetition_features(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


TEXT_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks,
         {_BIGRAMS}
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       len(list_distinct(toks)) / len(toks) AS distinct_token_ratio,
       list_max(list_transform(list_distinct(toks),
                               u -> len(list_filter(toks, x -> x = u))))
         / len(toks) AS top_token_fraction,
       {_DUP_2GRAM_FRACTION}
FROM g
ORDER BY doc_id
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministically PII-augmented documents (the
    fixture corpus carries none): per-doc email/IPv4 counts plus the md5 of
    the redacted text, so the oracle verifies the rewrite byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return T.pii_redact(T.synthesize_pii(docs)).orderBy("doc_id")


TEXT_PII_REDACT_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
              || CAST(doc_id % 250 AS VARCHAR)
              || ' tel 555-01' || lpad(CAST(doc_id AS VARCHAR), 2, '0') AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{T.IPV4_RE}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(text, '{T.EMAIL_RE}', '[EMAIL]', 'g'),
                          '{T.IPV4_RE}', '[IP]', 'g')) AS redacted_fp
FROM aug
ORDER BY doc_id
"""


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: fraction of each doc's distinct
    5-grams found in the benchmark subset's inventory (docs with
    doc_id % 97 == 0 stand in for the eval suite). Benchmark inventory is
    broadcast; corpus never shuffles. Docs shorter than 5 tokens drop out
    (no grams) — mirrored by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return T.contamination_check(docs, bench, n=5).orderBy("doc_id")


TEXT_CONTAMINATION_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), {_contamination_grams_sql("g")}
SELECT d.doc_id,
       COUNT(*) AS n_grams,
       CAST(COUNT(b.gram) AS INT) AS n_overlap,
       COUNT(b.gram) / COUNT(*) AS contamination
FROM doc_grams d LEFT JOIN bench_grams b ON b.gram = d.gram
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk 16, stride 12) — the
    sequence-packing preparation for fixed-context training; chunk content
    verified by md5 fingerprint. See functions.text.chunk_documents."""
    return T.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=16, stride=12
    ).orderBy("doc_id", "chunk_id")


# t, c and e(doc_id, toks, chunk_id): the 16-token windows at stride 12
# of functions.text.chunk_documents.
_CHUNKS_SQL = """t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= 16 THEN 1
              ELSE 1 + CAST(FLOOR((len(toks) - 16 + 12 - 1) / 12.0) AS INT)
         END AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM c
)"""

TEXT_CHUNKING_SQL = f"""
WITH {_CHUNKS_SQL}
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16]) AS INT)
         AS n_chunk_tokens,
       md5(array_to_string(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16], ' '))
         AS chunk_fp
FROM e
ORDER BY doc_id, chunk_id
"""


def text_quality_gate_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gating: keep documents above the 25th
    quality-score percentile of their OWN language — a per-stratum
    threshold (a global cutoff would gut low-resource languages whose score
    distribution sits lower). percent_rank over (lang, quality, doc_id) is
    exact integer arithmetic, so the gate is oracle-hashable; one shuffle
    on lang. At 100 TB with few languages the lang partitions are coarse —
    pre-aggregate approx percentiles per lang and broadcast the thresholds
    instead if the window's per-key volume becomes the bottleneck."""
    from pyspark.sql import Window

    scored = T.quality_features(
        load_table(spark, sf_dir, "documents"), carry=("lang",)
    ).select("doc_id", "lang", "quality_score")
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    ranked = scored.withColumn("pct_rank", F.percent_rank().over(w))
    return ranked.filter(F.col("pct_rank") >= 0.25).orderBy("doc_id")


TEXT_QUALITY_GATE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
), feat AS (
  SELECT doc_id, lang,
         (alpha_chars / n_chars) * 0.5
         + LEAST((len(list_filter(toks, x -> x IN ({stop_list_sql()})))
                  / len(toks)) * 4.0, 1.0) * 0.3
         + LEAST(((n_chars - (len(toks) - 1)) / len(toks)) / 8.0, 1.0) * 0.2
           AS quality_score
  FROM t
), ranked AS (
  SELECT doc_id, lang, quality_score,
         PERCENT_RANK() OVER (PARTITION BY lang
                              ORDER BY quality_score, doc_id) AS pct_rank
  FROM feat
)
SELECT doc_id, lang, quality_score, pct_rank
FROM ranked WHERE pct_rank >= 0.25
ORDER BY doc_id
"""


def text_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction (functions.text.vocab_ids): global token
    counts, min_count cutoff, dense ids by (freq desc, token asc) via the
    two-phase distributed ranking — no single-partition window."""
    return T.vocab_ids(
        load_table(spark, sf_dir, "documents"), min_count=5
    ).orderBy("vocab_id")


TEXT_VOCAB_IDS_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
), c AS (
  SELECT token, COUNT(*) AS freq FROM toks GROUP BY token HAVING COUNT(*) >= 5
)
SELECT token, freq,
       ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS vocab_id
FROM c
ORDER BY vocab_id
"""


def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span inventory — the sub-document granularity of
    Lee et al.'s training-data dedup: 16-token windows (stride 12, same
    chunking as text_chunking) occurring in >= 2 distinct documents, with
    document reach and occurrence counts. This is the removal list an
    exact-substring dedup pass consumes. Scale shape: one partial-agg
    shuffle on 16-byte chunk fingerprints; only the duplicated sliver is
    emitted, the corpus text never moves."""
    chunks = T.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=16, stride=12
    )
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_fp")
    )


TEXT_DUPLICATE_SPANS_SQL = f"""
WITH {_CHUNKS_SQL}, ch AS (
  SELECT doc_id,
         md5(array_to_string(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16], ' '))
           AS chunk_fp
  FROM e
)
SELECT chunk_fp,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM ch
GROUP BY chunk_fp
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_fp
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference (functions.text.
    hashed_linear_score): fastText-style bag-of-buckets scoring with an
    md5-derived deterministic weight table, mean-milliweight score, keep
    gate at 0. Integer accumulation makes the double score bitwise
    reproducible cross-engine."""
    return T.hashed_linear_score(
        load_table(spark, sf_dir, "documents"), n_buckets=1024, threshold=0.0
    ).orderBy("doc_id")


_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

# t and s(doc_id, n_tokens, score_milli): the md5-hashed bag-of-buckets
# score of functions.text.hashed_linear_score (1024 buckets).
_HASHED_SCORE_SQL = f"""t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_sum(list_transform(toks, x ->
           {_H60.format(x="'w#' || CAST(" + _H60.format(x='x') + " % 1024 AS VARCHAR)")}
             % 2001 - 1000)) AS score_milli
  FROM t
)"""

TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH {_HASHED_SCORE_SQL}
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens) AS score,
       CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens) >= 0.0 AS keep
FROM s
ORDER BY doc_id
"""


def text_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation (functions.text.
    countmin_token_freq), probed at the true top-20 tokens so the
    over-count-only invariant (est_cnt >= exact_cnt) and the exact
    deterministic overcounts are part of the hashed output. The exact
    counts double as the verification harness; a production pipeline keeps
    only the constant-size sketch."""
    return T.countmin_token_freq(
        load_table(spark, sf_dir, "documents"), probe_k=20, depth=3, width=1024
    ).orderBy("token")


TEXT_COUNTMIN_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
), pos AS (
  SELECT tok, d.i AS d,
         CAST(('0x' || substr(md5('cm' || CAST(d.i AS VARCHAR) || '#' || tok), 1, 15))
              AS BIGINT) % 1024 AS pos
  FROM toks, range(3) d(i)
), sketch AS (
  SELECT d, pos, COUNT(*) AS cnt FROM pos GROUP BY 1, 2
), exact AS (
  SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
  ORDER BY exact_cnt DESC, tok ASC LIMIT 20
), probe AS (
  SELECT e.tok, e.exact_cnt, d.i AS d,
         CAST(('0x' || substr(md5('cm' || CAST(d.i AS VARCHAR) || '#' || e.tok), 1, 15))
              AS BIGINT) % 1024 AS pos
  FROM exact e, range(3) d(i)
), est AS (
  SELECT p.tok, p.exact_cnt, MIN(s.cnt) AS est_cnt
  FROM probe p JOIN sketch s ON s.d = p.d AND s.pos = p.pos
  GROUP BY 1, 2
)
SELECT tok AS token, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
FROM est ORDER BY token
"""


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified two-pass exact top-20 tokens (functions.text.
    heavy_hitters_twopass): per-partition Misra-Gries summaries, broadcast
    candidate recount, pigeonhole exactness proof with a full-aggregation
    valve — the vocabulary never shuffles on the fast path. The oracle is
    a plain GROUP BY / ORDER BY / LIMIT because the result is exact by
    construction either way."""
    return T.heavy_hitters_twopass(
        load_table(spark, sf_dir, "documents"), k=20, summary_size=2048
    ).orderBy("rank")


TEXT_HEAVY_HITTERS_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
), exact AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), ranked AS (
  SELECT tok AS token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS INT) AS rank
  FROM exact
)
SELECT token, cnt, rank FROM ranked WHERE rank <= 20 ORDER BY rank
"""


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (functions.text.boilerplate_strip):
    segment docs into 2-token windows, drop segments shared by > 20 docs,
    verify the cleaned body via md5 of the surviving segments in order.
    window=2 so the tiny-vocabulary fixture actually has corpus-wide
    repeats to strip; production corpora run the same plan at line
    granularity."""
    return T.boilerplate_strip(
        load_table(spark, sf_dir, "documents"), window=2, max_df=20
    ).orderBy("doc_id")


TEXT_BOILERPLATE_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), sa AS (
  SELECT doc_id,
         [array_to_string(toks[(i*2+1):(i*2+2)], ' ')
          FOR i IN range(0, (len(toks) + 1) // 2)] AS segs
  FROM t
), seg AS (
  SELECT doc_id, unnest(segs) AS seg, unnest(range(len(segs))) AS seg_idx FROM sa
), hot AS (
  SELECT md5(seg) AS h FROM seg GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 20
), kept AS (
  SELECT s.* FROM seg s WHERE md5(s.seg) NOT IN (SELECT h FROM hot)
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
         md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS cleaned_fp
  FROM kept GROUP BY doc_id
)
SELECT sa.doc_id, CAST(len(sa.segs) AS INT) AS n_segments,
       COALESCE(agg.n_kept, 0) AS n_kept,
       COALESCE(agg.cleaned_fp, md5('')) AS cleaned_fp
FROM sa LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring (functions.text.bigram_lm_scores): add-one
    smoothed corpus bigram model, per-doc mean negative log-likelihood in
    nats — the CCNet-style perplexity quality gate. Milli-nat integer
    accumulation makes the doubles engine-portable."""
    return T.bigram_lm_scores(
        load_table(spark, sf_dir, "documents"), min_count=2
    ).orderBy("doc_id")


TEXT_BIGRAM_LM_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), tok AS (
  SELECT unnest(toks) AS w1 FROM t
), uni AS (
  SELECT w1, COUNT(*) AS c1 FROM tok GROUP BY w1
), v AS (
  SELECT COUNT(*) AS vs FROM uni
), db AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
  FROM t WHERE len(toks) >= 2
), docbi AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM db
), big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM docbi GROUP BY w1, w2
  HAVING COUNT(*) >= 2
), sc AS (
  SELECT d.doc_id,
         CAST(ROUND(-1000.0 * ln((COALESCE(b.c12, 0) + 1.0) / (u.c1 + v.vs)))
              AS BIGINT) AS nll
  FROM docbi d
  JOIN uni u ON d.w1 = u.w1
  LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
  CROSS JOIN v
), pd AS (
  SELECT doc_id, SUM(nll) AS nll_milli, COUNT(*) AS n_bigrams
  FROM sc GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(pd.n_bigrams, 0) AS INT) AS n_bigrams,
       CAST(COALESCE(pd.nll_milli, 0) AS BIGINT) AS nll_milli,
       CASE WHEN pd.n_bigrams > 0
            THEN CAST(pd.nll_milli AS DOUBLE) / (1000.0 * pd.n_bigrams)
       END AS avg_nll
FROM t LEFT JOIN pd USING (doc_id)
ORDER BY t.doc_id
"""


def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode (functions.text.encode_with_vocab): every document's
    token stream mapped to dense vocab ids (OOV=0) through a broadcast
    dictionary in an Arrow mapInPandas kernel — zero shuffle. The oracle is
    the declarative twin (explode → join → positional re-assemble); ids_fp
    pins the full encoded sequence byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    # r9 shave (VERDICT ask #8): pass RAW counts — encode_with_vocab fuses
    # the gate probe, the rank assignment, and the broadcast collect into
    # one bounded job, skipping the range-shuffle ranking (whose sampling
    # pass re-executes the groupBy) that the DataFrame-deliverable path
    # (text_vocab_ids -> T.vocab_ids) rightly keeps. Ids are identical by
    # construction; ids_fp pins that byte-for-byte against the oracle.
    vocab = T.vocab_counts(docs, min_count=5)
    # persist BEFORE the output sort: the encode kernel is shuffle-free,
    # so the range-sort's boundary-sampling job would otherwise run the
    # Arrow kernel twice end-to-end (the dedup_embedding_ann finding);
    # the persisted frame is one summary row per document.
    return pin(T.encode_with_vocab(docs, vocab)).orderBy("doc_id")


TEXT_VOCAB_ENCODE_SQL = """
WITH toks_all AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
), c AS (
  SELECT token, COUNT(*) AS freq FROM toks_all GROUP BY token
  HAVING COUNT(*) >= 5
), v AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS vocab_id
  FROM c
), t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), e AS (
  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos FROM t
), j AS (
  SELECT e.doc_id, e.pos, COALESCE(v.vocab_id, 0) AS id
  FROM e LEFT JOIN v ON e.tok = v.token
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS INT) AS n_oov,
       md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)) AS ids_fp
FROM j GROUP BY doc_id
ORDER BY doc_id
"""




def text_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-score distribution monitoring — the filter-drift observability
    op: histogram the hashed-linear classifier score (same model as
    text_quality_classifier, functions.text.hashed_linear_score) into
    fixed-width 0.1 bins with per-bin doc counts and the token-weighted
    pooled score. Fixed-width binning needs NO global sort (unlike
    quantile bins) and the pooled mean divides two exact long sums once —
    so the doubles replay bitwise cross-engine. One combinable groupBy on
    O(bins) keys; scoring itself is a zero-shuffle per-row fold."""
    from sdc_mapreduce_spark.functions.text import token_hash60, tokens

    docs = load_table(spark, sf_dir, "documents")
    n_buckets = 1024
    t = tokens("text")
    bucket = lambda x: F.pmod(token_hash60(x), F.lit(n_buckets))  # noqa: E731
    weight = lambda x: (  # noqa: E731
        F.pmod(
            token_hash60(F.concat(F.lit("w#"), bucket(x).cast("string"))),
            F.lit(2001),
        )
        - 1000
    )
    score_milli = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + weight(x)
    )
    per_doc = docs.select(
        score_milli.alias("score_milli"), F.size(t).alias("n_tokens")
    )
    score = F.col("score_milli").cast("double") / (
        F.lit(1000.0) * F.col("n_tokens").cast("double")
    )
    binned = per_doc.withColumn(
        "bin", F.floor(score * F.lit(10.0)).cast("int")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_milli").alias("sum_score_milli"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "pooled_score",
            F.col("sum_score_milli").cast("double")
            / (F.lit(1000.0) * F.col("sum_tokens").cast("double")),
        )
        .orderBy("bin")
    )


TEXT_SCORE_DISTRIBUTION_SQL = f"""
WITH {_HASHED_SCORE_SQL}, b AS (
  SELECT CAST(floor((CAST(score_milli AS DOUBLE)
           / (1000.0 * CAST(n_tokens AS DOUBLE))) * 10.0) AS INT) AS bin,
         score_milli, n_tokens
  FROM s
)
SELECT bin, COUNT(*) AS n_docs,
       CAST(SUM(score_milli) AS BIGINT) AS sum_score_milli,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(CAST(SUM(score_milli) AS BIGINT) AS DOUBLE)
         / (1000.0 * CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE))
         AS pooled_score
FROM b GROUP BY bin ORDER BY bin
"""


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (functions.text.bpe_merges_batched
    with one merge per pass, the sequential learner — the
    tokenizer-TRAINING step; text_vocab_ids/encode cover the type-vocab
    side): 4 merge iterations over the ASCII-alphanumeric word table of
    the documents corpus, canonical Sennrich semantics (every adjacent
    position counted, greedy left-to-right merge application via the
    run-parity window — no regex replace, whose overlap behavior engines
    disagree on). The DuckDB twin replays all 4 iterations as staged CTEs
    with the per-stage argmax as a scalar 1-row cross join, so the learned
    merge table (merge_rank, left_sym, right_sym, pair_count) matches
    byte-for-byte. Early-stop parity note: the Spark side stops when the
    best pair's count < 2; the SQL always emits 4 stages — equivalent on
    any corpus where 4 productive merges exist (every fixture SF; unit
    tests cover the degenerate cases)."""
    from sdc_mapreduce_spark.functions.text import bpe_merges_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges_batched(docs, passes=4, m=1).drop("pass_id").orderBy("merge_rank")


# The BPE oracles' word table w0(w, freq) (the ASCII-alphanumeric tokens)
# and initial state s0(w, freq, syms), one symbol per character.
_BPE_WORDS = """
WITH w0 AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
  ) WHERE regexp_full_match(w, '[A-Za-z0-9]+')
  GROUP BY w
), s0 AS (
  SELECT w, freq,
         [substr(w, i, 1) FOR i IN range(1, CAST(strlen(w) AS INT) + 1)]
           AS syms
  FROM w0
),"""


def _bpe_positions_sql(i: int) -> str:
    """CTE ``pa{i}``: stage i-1's symbols exploded with their positions."""
    return f"""
pa{i} AS (
  SELECT w, freq,
         UNNEST([{{'pos': j - 1, 'sym': syms[j]}}
                 FOR j IN range(1, len(syms) + 1)]) AS u
  FROM s{i - 1}
)"""


def _bpe_apply_sql(i: int) -> str:
    """The run-parity merge over ``f{i}(w, freq, pos, sym, nxt, m)``,
    where m flags a selected pair: within each run of matches only every
    other one merges (greedy left to right), and the symbol after a merge
    is consumed. Defines the new state ``s{i}(w, freq, syms)``."""
    return f""", g{i} AS (
  SELECT *, COALESCE(MAX(CASE WHEN m = 0 THEN pos END) OVER (
              PARTITION BY w ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ) + 1, 0) AS run_start
  FROM f{i}
), h{i} AS (
  SELECT *, CASE WHEN m = 1 AND (pos - run_start) % 2 = 0
                 THEN 1 ELSE 0 END AS mg
  FROM g{i}
), c{i} AS (
  SELECT *, COALESCE(LAG(mg) OVER (PARTITION BY w ORDER BY pos), 0)
              AS consumed
  FROM h{i}
), s{i} AS (
  SELECT w, freq,
         list(CASE WHEN mg = 1 THEN sym || nxt ELSE sym END
              ORDER BY pos) AS syms
  FROM c{i} WHERE consumed = 0
  GROUP BY w, freq
)"""


def _bpe_segment_tail_sql(k: int) -> str:
    """Segments every document with the final state ``s{k}``: the
    positional token explode, the word join and the ordered fingerprint,
    as the query result."""
    return f""",
dt AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), dz AS (
  SELECT doc_id,
         UNNEST([{{'i': i, 't': toks[i]}}
                 FOR i IN range(1, len(toks) + 1)]) AS s
  FROM dt
), dw AS (
  SELECT doc_id, s.i - 1 AS tpos, s.t AS w
  FROM dz WHERE regexp_full_match(s.t, '[A-Za-z0-9]+')
), seg AS (
  SELECT dw.doc_id, dw.tpos, s{k}.syms
  FROM dw JOIN s{k} ON s{k}.w = dw.w
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_words,
       CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
       md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY tpos))
         AS subword_fp
FROM seg
GROUP BY doc_id
ORDER BY doc_id
"""


def _bpe_stages_sql(k: int = 4) -> str:
    """Shared WITH-prefix for the BPE oracles: word table, character
    state, and k learn+apply stages (argmax as a 1-row cross join)."""
    stages = []
    for i in range(1, k + 1):
        stages.append(f"""{_bpe_positions_sql(i)}, p{i} AS (
  SELECT w, freq, u.pos AS pos, u.sym AS sym,
         lead(u.sym) OVER (PARTITION BY w ORDER BY u.pos) AS nxt
  FROM pa{i}
), best{i} AS (
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY cnt DESC, a ASC, b ASC
  LIMIT 1
), f{i} AS (
  SELECT p.w, p.freq, p.pos, p.sym, p.nxt,
         CASE WHEN p.sym = b.a AND p.nxt = b.b THEN 1 ELSE 0 END AS m
  FROM p{i} p CROSS JOIN best{i} b
){_bpe_apply_sql(i)}""")
    return _BPE_WORDS + ",".join(stages)


def _bpe_merges_sql(k: int = 4) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"cnt AS pair_count FROM best{i}"
        for i in range(1, k + 1)
    )
    return f"""{_bpe_stages_sql(k)}
SELECT CAST(merge_rank AS INT) AS merge_rank, left_sym, right_sym,
       pair_count
FROM ({finals})
ORDER BY merge_rank
"""


def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY (functions.text.bpe_segment_batched, one merge per pass):
    segment every document with the 4-merge table learned on the same
    corpus, via the distinct-word
    memoization join — segmentation is a pure function of the word, so the
    learned O(distinct words) state IS the segmentation table and per-doc
    work is one equi-join. Emits (doc_id, n_words, n_subwords, subword_fp)
    for documents with >= 1 ASCII-alphanumeric token; subword_fp pins the
    space-joined subword stream in document token order byte-for-byte. The
    DuckDB twin replays learn + apply: the shared 4-stage CTE prefix, a
    positional token explode, the same join, and an ordered string_agg."""
    from sdc_mapreduce_spark.functions.text import bpe_segment_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_segment_batched(docs, passes=4, m=1).orderBy("doc_id")


def _bpe_segment_sql(k: int = 4) -> str:
    return _bpe_stages_sql(k) + _bpe_segment_tail_sql(k)


def text_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE merge learning (functions.text.bpe_merges_batched —
    VERDICT r9 ask #3, the scale-honest variant of text_bpe_merges): 3
    passes x up-to-3 merges over the same ASCII-alphanumeric word table,
    greedily selecting per pass a pairwise-symbol-disjoint subset of the
    (count desc, left, right)-ranked candidates — skip-and-continue past
    conflicts (VERDICT r10 ask #2) — and applying the whole batch in ONE
    run-parity rewrite: O(k/m_eff) driver-sequenced jobs instead of the
    sequential learner's O(k). The DuckDB twin replays all 3 passes as
    staged CTEs: rank -> unrolled greedy scan (m chained single-row CTEs
    carrying the used-symbol list) -> simultaneous apply via a LEFT JOIN
    flag, so the learned table — merge_rank, pass_id included — matches
    byte-for-byte."""
    from sdc_mapreduce_spark.functions.text import bpe_merges_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges_batched(docs, passes=3, m=3).orderBy("merge_rank")


def _bpe_batched_stages_sql(passes: int = 3, m: int = 3) -> str:
    """Shared WITH-prefix for the batched-BPE oracles: per pass —
    candidate counts (>= 2), rank by (cnt desc, a, b) capped at the 4*m
    over-fetched pool, then GREEDY SKIP-AND-CONTINUE selection (VERDICT
    r10 ask #2) unrolled as 4*m chained single-row CTEs: st{{i}}_j
    consumes rank j, accepting it iff fewer than m pairs are accepted so
    far AND neither symbol appears in the accumulated used-symbol list (a
    conflicting rank is skipped, the scan continues, and over-fetched
    ranks past m backfill — the old rule ended the batch at the first
    conflict). Then the shared run-parity apply with the match flag
    coming from a LEFT JOIN against the selected pairs (sound: selected
    pairs are pairwise symbol-disjoint, so each position matches at most
    one and matches are never adjacent across pairs). Exposes sel{{i}}
    (the pass-i accepted merges) and s{{passes}} (the final per-word
    state)."""
    from sdc_mapreduce_spark.functions.text import _BPE_CANDIDATE_OVERFETCH

    pool = m * _BPE_CANDIDATE_OVERFETCH
    stages = []
    for i in range(1, passes + 1):
        greedy = [
            f"""
st{i}_0 AS (
  SELECT CAST([] AS VARCHAR[]) AS used, 0 AS n_taken,
         CAST(NULL AS INT) AS rn, CAST(NULL AS VARCHAR) AS a,
         CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS cnt,
         FALSE AS taken
)"""
        ]
        for j in range(1, pool + 1):
            accept = (
                f"p.n_taken < {m} AND r.a IS NOT NULL"
                " AND NOT (list_contains(p.used, r.a)"
                " OR list_contains(p.used, r.b))"
            )
            greedy.append(f"""
st{i}_{j} AS (
  SELECT CASE WHEN {accept}
              THEN list_concat(p.used, [r.a, r.b]) ELSE p.used END AS used,
         p.n_taken + CASE WHEN {accept} THEN 1 ELSE 0 END AS n_taken,
         CAST(r.rn AS INT) AS rn, r.a, r.b, r.cnt,
         COALESCE({accept}, FALSE) AS taken
  FROM st{i}_{j - 1} p LEFT JOIN rk{i} r ON r.rn = {j}
)""")
        sel_union = "\n    UNION ALL ".join(
            f"SELECT rn, a, b, cnt, taken FROM st{i}_{j}" for j in range(1, pool + 1)
        )
        greedy.append(f"""
sel{i} AS MATERIALIZED (
  SELECT a, b, cnt, rn FROM (
    {sel_union}
  ) WHERE taken
)""")
        stages.append(f"""{_bpe_positions_sql(i)}, p{i} AS MATERIALIZED (
  -- MATERIALIZED (here and on rk/sel/s below): the greedy-selection
  -- chain references rk{i} once per unrolled rank; letting DuckDB
  -- inline these multi-referenced CTEs re-expands the whole upstream
  -- lineage per reference — measured as hundreds of parquet re-opens
  -- (EMFILE) at pool=12 x 3 passes
  SELECT w, freq, u.pos AS pos, u.sym AS sym,
         lead(u.sym) OVER (PARTITION BY w ORDER BY u.pos) AS nxt
  FROM pa{i}
), cnt{i} AS (
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt HAVING SUM(freq) >= 2
), rk{i} AS MATERIALIZED (
  SELECT a, b, cnt, rn FROM (
    SELECT a, b, cnt,
           row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rn
    FROM cnt{i}
  ) WHERE rn <= {pool}
),{",".join(greedy)}, f{i} AS (
  SELECT p.w, p.freq, p.pos, p.sym, p.nxt,
         CASE WHEN s.a IS NOT NULL THEN 1 ELSE 0 END AS m
  FROM p{i} p LEFT JOIN sel{i} s ON s.a = p.sym AND s.b = p.nxt
){_bpe_apply_sql(i)}""")
    return _BPE_WORDS + ",".join(stages)


def _bpe_batched_sql(passes: int = 3, m: int = 3) -> str:
    """Merge-table oracle over the batched stages: the accepted disjoint
    prefixes of all passes in (pass_id, rank) order."""
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS pass_id, rn, a, b, cnt FROM sel{i}"
        for i in range(1, passes + 1)
    )
    return f"""{_bpe_batched_stages_sql(passes, m)}
SELECT CAST(row_number() OVER (ORDER BY pass_id, rn) AS INT) AS merge_rank,
       CAST(pass_id AS INT) AS pass_id, a AS left_sym, b AS right_sym,
       cnt AS pair_count
FROM ({finals})
ORDER BY merge_rank
"""


def text_bpe_segment_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY over the BATCHED learner (functions.text.
    bpe_segment_batched): segment every document with the state learned
    by the 3-pass x up-to-3-merge batched run, through the same
    distinct-word memoization join as text_bpe_segment — apply cost is
    one equi-join regardless of how the merge table was learned, so the
    scale-honest learner composes with the production apply path. Output
    shape matches text_bpe_segment; the DuckDB twin replays the 3 batched
    passes as staged CTEs, then the positional token explode + join +
    ordered fingerprint."""
    from sdc_mapreduce_spark.functions.text import bpe_segment_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_segment_batched(docs, passes=3, m=3).orderBy("doc_id")


def _bpe_segment_batched_sql(passes: int = 3, m: int = 3) -> str:
    return _bpe_batched_stages_sql(passes, m) + _bpe_segment_tail_sql(passes)


def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer learner (functions.text.unigram_lm — Kudo
    ACL'18 hard-EM/Viterbi variant, VERDICT r11 ask #8): seed = all
    characters + the 128 highest-weight substrings (len 2..4) of the
    ASCII-alphanumeric word table (words of length <= 12), then 2 EM
    rounds of integer-micro-nat Viterbi segmentation + count
    re-estimation; emits the top 60 pieces by final count with quantized
    log-probs. The DuckDB twin replays EVERYTHING — word table, substring
    seeding, both EM rounds' Viterbi dp (unrolled to the 12-position
    bound, tie-breaks pinned: score DESC then smaller boundary), path
    reconstruction, recounting, and the final micro-nat log-probs — so
    the learned vocabulary itself hash-matches cross-engine."""
    from sdc_mapreduce_spark.functions.text import unigram_lm

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm(docs)


def _unigram_lm_sql(
    max_piece: int = 4,
    max_word: int = 12,
    seed_multi: int = 128,
    top_out: int = 60,
) -> str:
    """Oracle twin of text_unigram_lm. The Viterbi dp is unrolled: for EM
    round t, dp{t}_i holds the best (score, back-boundary) per word at
    position i (i = 1..max_word), then pth{t}_s walks the back-pointers
    (at most max_word steps) to materialize the 1-best path's pieces.
    MATERIALIZED fences keep DuckDB from re-inlining the shared frames."""
    parts = [
        f"""
WITH w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
  ) WHERE regexp_full_match(w, '[A-Za-z0-9]+') AND strlen(w) <= {max_word}
  GROUP BY w
), sub1 AS (
  SELECT freq, w, UNNEST(range(1, CAST(strlen(w) AS INT) + 1)) AS i FROM w0
), sub2 AS (
  SELECT freq,
         UNNEST([substr(w, i, l)
                 FOR l IN range(1, least({max_piece},
                                         CAST(strlen(w) AS INT) - i + 1) + 1)])
           AS piece
  FROM sub1
), subs AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM sub2 GROUP BY piece
), seed AS MATERIALIZED (
  SELECT piece, c FROM subs WHERE strlen(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c FROM subs WHERE strlen(piece) >= 2
    ORDER BY c DESC, piece ASC LIMIT {seed_multi})
), vocab1 AS MATERIALIZED (
  SELECT piece,
         CAST(ROUND(1000000.0 * ln(CAST(c AS DOUBLE)
              / (SELECT CAST(SUM(c) AS DOUBLE) FROM seed))) AS BIGINT) AS lp
  FROM seed
)"""
    ]
    for t in range(1, T.EM_ITERS + 1):
        parts.append(
            f""", dpall{t}_0 AS (
  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS bj FROM w0
)"""
        )
        for i in range(1, max_word + 1):
            parts.append(
                f""", dp{t}_{i} AS MATERIALIZED (
  SELECT w, score, bj FROM (
    SELECT d.w, d.score + v.lp AS score, d.pos AS bj,
           ROW_NUMBER() OVER (PARTITION BY d.w
                              ORDER BY d.score + v.lp DESC, d.pos ASC) AS rn
    FROM dpall{t}_{i - 1} d
    JOIN w0 ON w0.w = d.w AND strlen(w0.w) >= {i}
    JOIN vocab{t} v ON v.piece = substr(d.w, d.pos + 1, {i} - d.pos)
    WHERE d.pos >= {i} - {max_piece} AND d.pos < {i}
  ) WHERE rn = 1
), dpall{t}_{i} AS MATERIALIZED (
  SELECT * FROM dpall{t}_{i - 1}
  UNION ALL SELECT w, {i} AS pos, score, bj FROM dp{t}_{i}
)"""
            )
        parts.append(
            f""", dpfin{t} AS MATERIALIZED (SELECT * FROM dpall{t}_{max_word})
, pth{t}_0 AS (SELECT w, CAST(strlen(w) AS INT) AS pos FROM w0)"""
        )
        for s in range(1, max_word + 1):
            parts.append(
                f""", pth{t}_{s} AS MATERIALIZED (
  SELECT p.w, d.bj AS pos, substr(p.w, d.bj + 1, p.pos - d.bj) AS piece
  FROM pth{t}_{s - 1} p
  JOIN dpfin{t} d ON d.w = p.w AND d.pos = p.pos
  WHERE p.pos > 0
)"""
            )
        pieces_union = "\n  UNION ALL ".join(
            f"SELECT w, piece FROM pth{t}_{s}" for s in range(1, max_word + 1)
        )
        parts.append(
            f""", pieces{t} AS (
  {pieces_union}
), counts{t} AS MATERIALIZED (
  SELECT p.piece, CAST(SUM(w0.freq) AS BIGINT) AS c
  FROM pieces{t} p JOIN w0 ON w0.w = p.w GROUP BY p.piece
), vocab{t + 1} AS MATERIALIZED (
  SELECT piece, c,
         CAST(ROUND(1000000.0 * ln(CAST(c AS DOUBLE)
              / (SELECT CAST(SUM(c) AS DOUBLE) FROM counts{t}))) AS BIGINT)
           AS lp
  FROM counts{t}
)"""
        )
    parts.append(
        f"""
SELECT piece, c AS cnt, lp AS logprob_micro
FROM vocab{T.EM_ITERS + 1}
ORDER BY cnt DESC, piece ASC LIMIT {top_out}
"""
    )
    return "".join(parts)


TEXT_BPE_MERGES_SQL = _bpe_merges_sql()
TEXT_BPE_SEGMENT_SQL = _bpe_segment_sql()
TEXT_BPE_MERGES_BATCHED_SQL = _bpe_batched_sql()
TEXT_BPE_SEGMENT_BATCHED_SQL = _bpe_segment_batched_sql()

QUERIES: dict[str, QuerySpec] = {
    "text_score_distribution": QuerySpec(
        text_score_distribution, TEXT_SCORE_DISTRIBUTION_SQL
    ),
    "text_token_stats": QuerySpec(text_token_stats, TEXT_TOKEN_STATS_SQL),
    "text_bigram_lm_score": QuerySpec(text_bigram_lm_score, TEXT_BIGRAM_LM_SQL),
    "text_vocab_encode": QuerySpec(
        text_vocab_encode, TEXT_VOCAB_ENCODE_SQL, bench=True
    ),
    "text_quality": QuerySpec(text_quality, TEXT_QUALITY_SQL, bench=True),
    "text_language_id": QuerySpec(text_language_id, TEXT_LANG_SQL),
    "text_language_confusion": QuerySpec(
        text_language_confusion, TEXT_LANG_CONFUSION_SQL
    ),
    "text_fingerprint": QuerySpec(text_fingerprint, TEXT_FINGERPRINT_SQL),
    "text_rolling_fingerprint": QuerySpec(
        text_rolling_fingerprint, TEXT_ROLLING_FP_SQL
    ),
    "text_top_bigrams": QuerySpec(text_top_bigrams, TEXT_BIGRAMS_SQL),
    "text_term_cooccurrence": QuerySpec(
        text_term_cooccurrence, TEXT_COOCCURRENCE_SQL
    ),
    "text_zipf_audit": QuerySpec(text_zipf_audit, TEXT_ZIPF_SQL),
    "text_udtf_sentences": QuerySpec(text_udtf_sentences, TEXT_UDTF_SENTENCES_SQL),
    "text_posexplode": QuerySpec(text_posexplode, TEXT_POSEXPLODE_SQL),
    "text_tfidf_top_terms": QuerySpec(text_tfidf_top_terms, TEXT_TFIDF_SQL),
    "text_tfidf_cosine_pairs": QuerySpec(
        text_tfidf_cosine_pairs, TEXT_TFIDF_COSINE_SQL
    ),
    "text_bm25_topk": QuerySpec(text_bm25_topk, _bm25_sql()),
    "text_repetition": QuerySpec(text_repetition, TEXT_REPETITION_SQL),
    "text_pii_redact": QuerySpec(text_pii_redact, TEXT_PII_REDACT_SQL),
    "text_contamination": QuerySpec(text_contamination, TEXT_CONTAMINATION_SQL),
    "text_chunking": QuerySpec(text_chunking, TEXT_CHUNKING_SQL),
    "text_boilerplate_strip": QuerySpec(
        text_boilerplate_strip, TEXT_BOILERPLATE_SQL, bench=True
    ),
    "text_quality_classifier": QuerySpec(
        text_quality_classifier, TEXT_QUALITY_CLASSIFIER_SQL
    ),
    "text_countmin_freq": QuerySpec(text_countmin_freq, TEXT_COUNTMIN_SQL),
    "text_heavy_hitters": QuerySpec(
        text_heavy_hitters, TEXT_HEAVY_HITTERS_SQL, bench=True
    ),
    "text_duplicate_spans": QuerySpec(text_duplicate_spans, TEXT_DUPLICATE_SPANS_SQL),
    "text_vocab_ids": QuerySpec(text_vocab_ids, TEXT_VOCAB_IDS_SQL),
    "text_quality_gate_per_lang": QuerySpec(
        text_quality_gate_per_lang, TEXT_QUALITY_GATE_SQL
    ),
    "pipeline_curation": QuerySpec(pipeline_curation, PIPELINE_CURATION_SQL, bench=True),
    "pipeline_embedding_stats": QuerySpec(
        pipeline_embedding_stats, PIPELINE_EMBEDDING_STATS_SQL
    ),
    "pipeline_curation_full": QuerySpec(
        pipeline_curation_full, PIPELINE_CURATION_FULL_SQL
    ),
    "pipeline_pretrain_mix": QuerySpec(pipeline_pretrain_mix, _pretrain_mix_sql()),
    "multimodal_meta": QuerySpec(multimodal_meta, MULTIMODAL_META_SQL),
    "multimodal_decode_profile": QuerySpec(
        multimodal_decode_profile, MULTIMODAL_DECODE_PROFILE_SQL
    ),
    "multimodal_frame_stats": QuerySpec(
        multimodal_frame_stats, MULTIMODAL_FRAME_STATS_SQL
    ),
    "multimodal_neardup_banded": QuerySpec(
        multimodal_neardup_banded, MULTIMODAL_NEARDUP_SQL
    ),
    "multimodal_neardup_recall": QuerySpec(
        multimodal_neardup_recall, _neardup_recall_sql()
    ),
    "multimodal_embed_search": QuerySpec(
        multimodal_embed_search, MULTIMODAL_EMBED_SEARCH_SQL
    ),
    "multimodal_encoder_topk": QuerySpec(
        multimodal_encoder_topk, MULTIMODAL_ENCODER_TOPK_SQL, bench=True
    ),
    "text_unigram_lm": QuerySpec(text_unigram_lm, _unigram_lm_sql()),
    "text_bpe_merges": QuerySpec(text_bpe_merges, TEXT_BPE_MERGES_SQL),
    "text_bpe_merges_batched": QuerySpec(
        text_bpe_merges_batched, TEXT_BPE_MERGES_BATCHED_SQL
    ),
    "text_bpe_segment": QuerySpec(text_bpe_segment, TEXT_BPE_SEGMENT_SQL),
    "text_bpe_segment_batched": QuerySpec(
        text_bpe_segment_batched, TEXT_BPE_SEGMENT_BATCHED_SQL
    ),
    "multimodal_resize_audit": QuerySpec(
        multimodal_resize_audit, MULTIMODAL_RESIZE_AUDIT_SQL
    ),
}
