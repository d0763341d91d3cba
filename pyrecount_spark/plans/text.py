"""Text-analysis queries (SURVEY.md §2.10) with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.text import (
    LANG_STOPWORDS,
    normalized_fingerprint,
    quality_metrics,
    tokens,
)
from pyrecount_spark.functions.scalars import round_ratio_half_up
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens, total + distinct per document.
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: integer char-class counts + a derived rounded ratio.
# ---------------------------------------------------------------------------
@register(
    "text_quality_metrics",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT)  AS n_spaces,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           FLOOR(((length(text) - length(regexp_replace(text, ' ', '', 'g'))) * 20000.0 + (length(text))) / (2.0 * (length(text)))) / 10000.0 AS space_ratio
    FROM documents
    """,
)
def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    m = quality_metrics(d, "text", "doc_id")
    return m.withColumn(
        "space_ratio", round_ratio_half_up(F.col("n_spaces"), F.col("n_chars"), 4)
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword-hit counts per language, deterministic
# argmax (ties broken by the fixed en > de > fr > es precedence).
# ---------------------------------------------------------------------------
def _lang_sql() -> str:
    cases = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        cases.append(f"CAST(SUM(CASE WHEN tok IN ({lst}) THEN 1 ELSE 0 END) AS BIGINT) AS c_{lang}")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), scores AS (
      SELECT doc_id, {', '.join(cases)} FROM toks GROUP BY doc_id
    )
    SELECT doc_id, c_en, c_de, c_fr, c_es,
           CASE WHEN c_en >= greatest(c_de, c_fr, c_es) THEN 'en'
                WHEN c_de >= greatest(c_fr, c_es) THEN 'de'
                WHEN c_fr >= c_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scores
    """


@register("text_lang_id", _lang_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    aggs = [
        F.sum(F.when(F.col("tok").isin(words), 1).otherwise(0)).alias(f"c_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    ]
    scores = toks.groupBy("doc_id").agg(*aggs)
    predicted = (
        F.when(F.col("c_en") >= F.greatest("c_de", "c_fr", "c_es"), "en")
        .when(F.col("c_de") >= F.greatest("c_fr", "c_es"), "de")
        .when(F.col("c_fr") >= F.col("c_es"), "fr")
        .otherwise("es")
    )
    return scores.select(
        "doc_id", "c_en", "c_de", "c_fr", "c_es", predicted.alias("predicted_lang")
    )


# ---------------------------------------------------------------------------
# Document fingerprint: md5 of normalized text (lowercase, strip punct,
# collapse whitespace) — the canonical near-exact dedup key.
# ---------------------------------------------------------------------------
@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: bucket = first-two-hex-digits of
# md5(doc_id) mod 100 — content-addressed, no RNG, identical on any engine
# and any cluster size (a training pipeline's split must never depend on
# partitioning). Pure projection: zero shuffles at any scale.
# ---------------------------------------------------------------------------
@register(
    "hash_split_assign",
    """
    SELECT doc_id,
           CAST(b AS BIGINT) AS bucket,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
             AS split
    FROM (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 100
               AS b
      FROM documents)
    """,
)
def hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")

    def nib(i: int):
        return F.expr(
            f"locate(substr(md5(cast(doc_id as string)), {i}, 1),"
            f" '0123456789abcdef') - 1"
        )

    b = ((nib(1) * 16 + nib(2)) % 100).cast("long")
    return d.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# Corpus heavy hitters: top-50 tokens by total frequency. Partial (map-side)
# aggregation absorbs most of the explode volume before the single token
# shuffle; top-k is TakeOrderedAndProject, never a global sort.
# ---------------------------------------------------------------------------
@register(
    "token_heavy_hitters",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY tf_total DESC, token LIMIT 50
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("tf_total"), F.asc("token"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TF-IDF, top-5 terms per document. Composition: explode -> two aggregations
# (tf by doc×token, df by token) -> token-key join -> broadcast scalar N ->
# per-doc window top-k. Scores round(6) with a token tiebreak, so the rank
# cut is engine-stable.
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS dfreq FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfreq), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT scored.*,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored) t
    WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("dfreq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# Train/test contamination check: documents whose normalized 20-char prefix
# key appears in BOTH the train and test hash splits. Composition of the
# fingerprint normalization + the md5 split assignment + a self-join on the
# contamination key — the leakage audit every training pipeline needs.
# ---------------------------------------------------------------------------
@register(
    "split_contamination_check",
    """
    WITH fp AS (
      SELECT doc_id,
             substr(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')), 1, 20) AS ckey,
             ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 100
               AS b
      FROM documents
    ),
    labeled AS (
      SELECT doc_id, ckey,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM fp
    )
    SELECT t.doc_id AS train_doc, x.doc_id AS test_doc, t.ckey
    FROM labeled t JOIN labeled x ON t.ckey = x.ckey
    WHERE t.split = 'train' AND x.split = 'test'
    """,
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r"\s+", " "
        )
    )

    def nib(i: int):
        return F.expr(
            f"locate(substr(md5(cast(doc_id as string)), {i}, 1),"
            f" '0123456789abcdef') - 1"
        )

    b = (nib(1) * 16 + nib(2)) % 100
    labeled = d.select(
        "doc_id",
        F.substring(norm, 1, 20).alias("ckey"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )
    t = labeled.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "ckey"
    )
    x = labeled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "ckey"
    )
    return t.join(x, on="ckey").select("train_doc", "test_doc", "ckey")


# ---------------------------------------------------------------------------
# Boilerplate detection (Gopher-style): fraction of repeated word 3-grams
# per document. dup_fraction = 1 - distinct/total shingles; high values
# flag template/boilerplate text. Narrow explode + one groupBy(doc).
# ---------------------------------------------------------------------------
@register(
    "boilerplate_ngram_fraction",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ), pos AS (
      SELECT doc_id, l, generate_subscripts(l, 1) AS i, unnest(l) AS _tok FROM toks
    ), sh AS (
      SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      FROM pos WHERE i <= len(l) - 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_distinct,
           FLOOR(((COUNT(*) - COUNT(DISTINCT shingle)) * 20000.0 + (COUNT(*))) / (2.0 * (COUNT(*)))) / 10000.0 AS dup_fraction
    FROM sh GROUP BY doc_id
    """,
)
def boilerplate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import word_shingles

    d = _t(spark, sf_dir, "documents")
    sh = word_shingles(d, "text", 3, "doc_id", distinct=False)
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        round_ratio_half_up(
            F.count(F.lit(1)) - F.countDistinct("shingle"), F.count(F.lit(1)), 4
        ).alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Quality-rule filter with reasons (the keep/drop gate a training pipeline
# runs before tokenization): each rule is a named boolean; the document
# keeps only if all pass. Rules are integer/ratio thresholds over the
# already-oracle-checked quality metrics — one narrow pass, no shuffle.
# ---------------------------------------------------------------------------
@register(
    "quality_rule_filter",
    """
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END AS BIGINT) AS pass_min_tokens,
           CAST(CASE WHEN n_chars <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS pass_max_chars,
           CAST(CASE WHEN n_digits * 1.0 / n_chars < 0.3 THEN 1 ELSE 0 END AS BIGINT)
             AS pass_digit_ratio,
           CAST(CASE WHEN n_tokens >= 10 AND n_chars <= 100000
                      AND n_digits * 1.0 / n_chars < 0.3
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m
    """,
)
def quality_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = F.size(F.split(F.trim(t), r"\s+"))
    n_digits = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    p1 = (n_tokens >= 10).cast("long")
    p2 = (n_chars <= 100000).cast("long")
    p3 = (n_digits * 1.0 / n_chars < 0.3).cast("long")
    return d.select(
        "doc_id",
        p1.alias("pass_min_tokens"),
        p2.alias("pass_max_chars"),
        p3.alias("pass_digit_ratio"),
        ((p1 == 1) & (p2 == 1) & (p3 == 1)).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# End-to-end training-corpus build: quality gate -> exact dedup (keep min
# doc_id per fingerprint) -> deterministic split -> per-split corpus stats.
# The composite the rest of this module exists for, as ONE declarative plan:
# narrow quality/fingerprint projections, one dedup aggregation, one final
# stats aggregation — Catalyst pipelines the whole chain in two shuffles.
# ---------------------------------------------------------------------------
@register(
    "training_corpus_build",
    """
    WITH gated AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 10
        AND length(text) <= 100000
        AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
              / length(text) < 0.3
    ),
    deduped AS (
      SELECT doc_id, text FROM gated g
      WHERE doc_id = (SELECT MIN(doc_id) FROM gated g2
                      WHERE g2.fingerprint = g.fingerprint)
    ),
    split_assigned AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM (
        SELECT doc_id, text,
               ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 100
                 AS b
        FROM deduped)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM split_assigned GROUP BY split
    """,
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import normalized_fingerprint
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = F.size(tokens(t))
    n_digits = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    gated = d.filter(
        (n_tokens >= 10) & (n_chars <= 100000) & (n_digits * 1.0 / n_chars < 0.3)
    ).select("doc_id", "text", normalized_fingerprint(t).alias("fingerprint"))
    # keep min doc_id per fingerprint — window-min avoids a second self-join
    w = Window.partitionBy("fingerprint")
    deduped = (
        gated.withColumn("_min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "text")
    )

    def nib(i: int):
        return F.expr(
            f"locate(substr(md5(cast(doc_id as string)), {i}, 1),"
            f" '0123456789abcdef') - 1"
        )

    b = (nib(1) * 16 + nib(2)) % 100
    assigned = deduped.select(
        "doc_id",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting: alongside the whitespace count, tokenize with the
# GPT-2-style pretokenizer regex (letter runs / digit runs / punctuation
# runs, each optionally preceded by one space). Pattern is RE2-and-Java
# compatible (no lookarounds), so Spark and DuckDB tokenize identically.
# Narrow map; at scale this is the cheap pre-pass that sizes a corpus in
# tokens before any real BPE runs.
# ---------------------------------------------------------------------------
BPE_PATTERN = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

TOKEN_BPE_SQL = f"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(' ' || trim(text), '{BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           FLOOR(((length(trim(text))) * 20000.0 + (len(regexp_extract_all(' ' || trim(text), '{BPE_PATTERN}')))) / (2.0 * (len(regexp_extract_all(' ' || trim(text), '{BPE_PATTERN}'))))) / 10000.0
             AS chars_per_token
    FROM documents
"""


@register("token_count_bpe_regex", TOKEN_BPE_SQL)
def token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    bpe = F.expr(
        f"regexp_extract_all(' ' || trim(text), '{BPE_PATTERN}', 0)"
    )
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        round_ratio_half_up(F.length(trimmed), F.size(bpe), 4).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash winnowing fingerprints (Schleimer et al.): polynomial
# Rabin-Karp hash over 8-char windows of the normalized text, one
# fingerprint per 4-hash guarantee window (its min), summarized per doc
# (the checksum pins the whole distinct set). Integer-exact in both
# engines — powers precomputed mod M, every partial fits int64.
# ---------------------------------------------------------------------------
def _winnow_sql() -> str:
    from pyrecount_spark.operators.text import (
        WINNOW_G,
        WINNOW_M,
        WINNOW_W,
        _winnow_pows,
    )

    pows = list(reversed(_winnow_pows()))  # B^{W-1} .. B^0
    pow_lit = "[" + ", ".join(str(p) for p in pows) + "]"
    return f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 '\\s+', ' ', 'g')) AS s
      FROM documents
    ),
    h AS (
      SELECT doc_id,
        CASE WHEN length(s) >= {WINNOW_W} THEN
          list_transform(generate_series(1, length(s) - {WINNOW_W - 1}),
            i -> list_sum(list_transform(generate_series(0, {WINNOW_W - 1}),
                  j -> CAST(({pow_lit})[j + 1] AS BIGINT)
                       * ascii(substring(s, i + j, 1))))
                 % {WINNOW_M})
        ELSE CAST([] AS BIGINT[]) END AS hs
      FROM n
    ),
    f AS (
      SELECT doc_id,
        CASE WHEN len(hs) >= {WINNOW_G} THEN
          list_distinct(list_transform(generate_series(1, len(hs) - {WINNOW_G - 1}),
            k -> list_min(hs[k : k + {WINNOW_G - 1}])))
        ELSE CAST([] AS BIGINT[]) END AS fp
      FROM h
    )
    SELECT doc_id,
           CAST(len(fp) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(list_sum(fp), 0) AS BIGINT) AS fp_checksum,
           CAST(list_min(fp) AS BIGINT) AS fp_min,
           CAST(list_max(fp) AS BIGINT) AS fp_max
    FROM f
    """


@register("winnowing_fingerprints_rolling", _winnow_sql())
def winnowing_fingerprints_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.skew import widen_narrow_scan
    from pyrecount_spark.operators.text import winnowing_fingerprints

    # pure narrow map whose per-row rolling-hash cost dwarfs its bytes:
    # over an under-split local file the whole fingerprint pass ran on 2
    # tasks (2.3 task-s serialized at sf0.1); identity at scale
    return winnowing_fingerprints(
        widen_narrow_scan(_t(spark, sf_dir, "documents"), "doc_id"),
        "text",
        "doc_id",
    )


# ---------------------------------------------------------------------------
# Vocabulary dictionary-encoding: build the top-1000 vocab (total order:
# tf desc, token asc -> contiguous ids), broadcast it, and encode every
# document. At 100 TB the vocab is exactly the broadcast-dim pattern — the
# token explode is the only wide side, and it reduces straight back to one
# row per doc. The position-weighted id sum is an order-sensitive checksum
# that proves the whole encoded sequence matches without comparing arrays.
# ---------------------------------------------------------------------------
_VOCAB_SQL = """
    WITH tok AS (
      SELECT doc_id, i AS pos1, toks[i] AS token
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents) d,
           UNNEST(generate_series(1, len(toks))) AS t(i)
    ), vocab AS (
      SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) - 1 AS tok_id
      FROM tok GROUP BY token
      ORDER BY COUNT(*) DESC, token LIMIT 1000
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (v.tok_id IS NULL) AS BIGINT) AS n_oov,
           CAST(COALESCE(SUM(t.pos1 * v.tok_id), 0) AS BIGINT) AS ids_checksum
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    ORDER BY t.doc_id
"""


@register("vocab_encode_tokens", _VOCAB_SQL)
def vocab_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "token"),
    ).select("doc_id", (F.col("pos") + 1).alias("pos1"), "token")
    from pyspark.sql import Window

    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "token")
        .limit(1000)
        .select(
            "token",
            (
                F.row_number().over(Window.orderBy(F.desc("tf"), "token")) - 1
            ).cast("long").alias("tok_id"),
        )
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("tok_id").isNull(), 1)).alias("n_oov"),
            F.coalesce(F.sum(F.col("pos1") * F.col("tok_id")), F.lit(0))
            .cast("long")
            .alias("ids_checksum"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Trigram language-model counts: per-doc token trigrams built with a
# zero-shuffle transform() over the token array (the repetition-gate
# pattern — no explode until the global count), then one aggregation.
# sequence(1, n) counts DOWN when n < 1, so short docs are guarded.
# ---------------------------------------------------------------------------
_TRIGRAM_SQL = """
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
    ), tri AS (
      SELECT unnest(CASE WHEN len(t) >= 3 THEN
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END) AS trigram
      FROM toks
    )
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 25
"""


@register("token_trigrams_topk", _TRIGRAM_SQL)
def token_trigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # tokenize ONCE into a materialized column: Catalyst does not
    # common-subexpression-eliminate inside HOF lambdas, so the previous
    # form re-ran the regex split of the WHOLE text 3× per trigram
    # position (~255 full-text splits per document — the round-8 decade
    # audit measured the constant at 1.2 ms/doc). CollapseProject keeps
    # the non-cheap multi-referenced split as its own projection.
    base = d.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("_t")
    )
    tri = base.select(
        F.explode(
            F.when(
                F.size("_t") >= 3,
                F.expr(
                    "transform(sequence(1, size(_t) - 2),"
                    " i -> concat_ws(' ', _t[i-1], _t[i], _t[i+1]))"
                ),
            ).otherwise(F.array())
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: the stopword heuristic's prediction against
# the labeled lang column — the model-evaluation aggregation every corpus
# pipeline runs after a classifier pass. Reuses the exact text_lang_id
# scoring; one extra groupBy.
# ---------------------------------------------------------------------------
_CONFUSION_SQL = f"""
    WITH scored AS ({_lang_sql()})
    SELECT d.lang AS true_lang, s.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@register("lang_id_confusion", _CONFUSION_SQL)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = text_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    return (
        scored.join(d.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Token-distribution entropy per source: H = (ln N - Σ c·ln c / N) / ln 2.
# The Σ c·ln c term is quantized to integer micro-nats per token BEFORE the
# sum, so the cross-token summation is exact int64 arithmetic in any order
# and any engine; only the final closed-form combination is floating point
# (identical IEEE op sequence both sides). The corpus-health diagnostic for
# mode collapse / boilerplate domination.
# ---------------------------------------------------------------------------
_ENTROPY_SQL = """
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    ), s AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
             CAST(SUM(CAST(ROUND(c * ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
                  AS BIGINT) AS s_clnc_micro
      FROM cnt GROUP BY source
    )
    SELECT source, n_tokens, n_distinct_tokens,
           ROUND((ln(CAST(n_tokens AS DOUBLE))
                  - (CAST(s_clnc_micro AS DOUBLE) / 1000000.0)
                    / CAST(n_tokens AS DOUBLE)) / ln(2.0), 6) AS entropy_bits
    FROM s ORDER BY source
"""


@register("token_entropy_by_source", _ENTROPY_SQL)
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    cnt = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    s = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")) * 1000000).cast("long")
        ).alias("s_clnc_micro"),
    )
    nt = F.col("n_tokens").cast("double")
    return s.select(
        "source",
        "n_tokens",
        "n_distinct_tokens",
        F.round(
            (F.log(nt) - (F.col("s_clnc_micro").cast("double") / 1000000.0) / nt)
            / F.log(F.lit(2.0)),
            6,
        ).alias("entropy_bits"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Unigram log-probability quality scores: each doc's mean token logprob
# under the corpus unigram LM — the classic perplexity-proxy quality
# filter. Per-token log p = ln(c) - ln(N) is quantized to integer
# micro-nats per TOKEN TYPE (one value per vocab entry), so the per-doc
# sum over occurrences is exact int64 in any order; the final mean is one
# identical IEEE division. The frequency table is the broadcast side.
# ---------------------------------------------------------------------------
_LOGPROB_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    q AS (
      SELECT f.token,
             CAST(ROUND((ln(CAST(f.c AS DOUBLE)) - ln(CAST(n.n AS DOUBLE)))
                        * 1000000) AS BIGINT) AS lp_micro
      FROM freq f CROSS JOIN n
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(SUM(q.lp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS avg_logprob_micro
    FROM tok t JOIN q ON t.token = q.token
    GROUP BY t.doc_id
    ORDER BY t.doc_id
"""


@register("unigram_logprob_scores", _LOGPROB_SQL)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.joins import broadcast_if_small

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # ONE bounded (1-row) collect measures the corpus token total AND the
    # unigram-table size: N becomes a plan literal (eliminating a 1-row
    # cross join) and rows × avg-token-width feeds the MEASURED broadcast
    # gate. The LM table scales with VOCABULARY — Heap's-law sublinear is
    # NOT bounded (10^8-10^9 types at 10^13 tokens): above the session
    # threshold the token join falls back to a shuffle join, and AQE still
    # upgrades it at runtime if actual bytes turn out small.
    stats = freq.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.avg(F.length("token")).alias("w"),
    ).first()
    n_total = int(stats["n"] or 0)
    est_bytes = int(stats["v"] * ((stats["w"] or 0.0) + 28))
    q = freq.select(
        "token",
        F.round(
            (
                F.log(F.col("c").cast("double"))
                - F.log(F.lit(n_total).cast("double"))
            )
            * 1000000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        tok.join(broadcast_if_small(q, est_bytes), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # mean micro-nats per token, FLOOR'd in exact integer space:
            # the double ratio rounded at 6 dp lands EXACTLY on decimal
            # halves whenever sum % n == n/2 (three docs on the round-8
            # adversarial corpus) and ROUND then diverges across engines;
            # floor of an int/int double division is unambiguous (exact
            # when n | sum, else >= 1/n from an integer)
            F.floor(F.col("_s").cast("double") / F.col("n_tokens"))
            .cast("long")
            .alias("avg_logprob_micro"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram collocations by PMI: ln(c_xy·N / (c_x·c_y)) over bigrams seen ≥ 5
# times — the collocation-mining primitive (and the BPE-merge scoring
# cousin). PMI is computed per bigram TYPE (no cross-type summation), so
# like TF-IDF a single round(6) makes it engine-exact; the integer products
# inside the log are exact int64 (c·N ≤ 1e5·1e7 at sf0.1).
# ---------------------------------------------------------------------------
_PMI_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), ucnt AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ucnt),
    bi AS (
      SELECT unnest(CASE WHEN len(t) >= 2 THEN
               list_transform(generate_series(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1])
             ELSE [] END) AS bigram
      FROM toks
    ), bcnt AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY bigram HAVING COUNT(*) >= 5
    )
    SELECT b.bigram, b.c_xy,
           ROUND(ln(CAST(b.c_xy AS DOUBLE) * n.n
                    / (CAST(ua.c AS BIGINT) * ub.c)), 6) AS pmi
    FROM bcnt b
    JOIN ucnt ua ON ua.w = split_part(b.bigram, ' ', 1)
    JOIN ucnt ub ON ub.w = split_part(b.bigram, ' ', 2)
    CROSS JOIN n
    ORDER BY pmi DESC, b.bigram LIMIT 20
"""


@register("bigram_pmi_collocations", _PMI_SQL)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.joins import broadcast_if_small

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    uni = d.select(F.explode(toks).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # Same measured gate as unigram_logprob_scores: the unigram tables
    # ua/ub scale with vocabulary (not bounded); one 1-row collect yields
    # the N literal plus the size estimate for broadcast_if_small, with a
    # shuffle-join fallback past the threshold.
    stats = ucnt.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.avg(F.length("w")).alias("l"),
    ).first()
    n_total = int(stats["n"] or 0)
    est_bytes = int(stats["v"] * ((stats["l"] or 0.0) + 28))
    # tokenize ONCE into a materialized column — Catalyst does not CSE
    # inside HOF lambdas, so the inline form re-split the whole text 2×
    # per bigram position (see token_trigrams_topk)
    bi = d.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("_t")
    ).select(
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " i -> concat_ws(' ', _t[i-1], _t[i]))"
                ),
            ).otherwise(F.array())
        ).alias("bigram")
    )
    bcnt = (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    ua = ucnt.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    return (
        bcnt.withColumn("wa", F.split("bigram", " ")[0])
        .withColumn("wb", F.split("bigram", " ")[1])
        .join(broadcast_if_small(ua, est_bytes), "wa")
        .join(broadcast_if_small(ub, est_bytes), "wb")
        .select(
            "bigram",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy").cast("double") * F.lit(n_total).cast("bigint")
                    / (F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PII scrub report: per-document email/phone/IPv4/denylist match counts plus
# the md5+length of the fully redacted text (pins the whole transform).
# Patterns are interpolated from operators.text.PII_PATTERNS so both engines
# compile the identical RE2/Java-compatible regex; DuckDB regexp_replace
# needs the explicit 'g' flag to match Spark's replace-all default.
# ---------------------------------------------------------------------------
def _pii_sql() -> str:
    from pyrecount_spark.operators.text import PII_PATTERNS, denylist_pattern

    terms = ["customer", "stream", "secret"]
    dpat = denylist_pattern(terms)
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    red = f"regexp_replace({red}, '{dpat}', '[TERM]', 'g')"
    return f"""
    SELECT doc_id,
           {counts},
           CAST(len(regexp_extract_all(text, '{dpat}')) AS BIGINT) AS n_denylist,
           CAST(length({red}) AS BIGINT) AS redacted_len,
           md5({red}) AS redacted_md5
    FROM documents
    """


@register("pii_redaction_report", _pii_sql())
def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import pii_redact

    return pii_redact(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        denylist=["customer", "stream", "secret"],
    )


# ---------------------------------------------------------------------------
# Feature-hashing (hashing-trick) TF vectors in long form: token -> bucket
# by the first 32 bits of md5 — stateless (no vocabulary fit/broadcast),
# so the transform is a pure explode + one map-side-combined groupBy at any
# corpus size, and bit-identical across engines. Spark's conv(hex,16,10)
# equals DuckDB's CAST('0x'||hex AS UBIGINT) on the 8-hex-char slice.
# ---------------------------------------------------------------------------
@register(
    "feature_hash_tf_vectors",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 64
                AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, bucket
    """,
)
def feature_hash_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import feature_hash_tf

    d = _t(spark, sf_dir, "documents")
    return feature_hash_tf(d, "text", "doc_id", dim=64)


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson-Sparck Jones; k1=1.2, b=0.75): score every
# document against doc 0's token set from exact integer tf/df/len stats.
# Per-(doc,term) scores are quantized to integer MICRO-units before the
# per-doc sum (the token_entropy trick) — integer addition is order-free,
# so cross-engine float summation order can't flip the ranking. One
# explode + three hash aggregates + broadcastable stat joins; the
# (doc,term) join is an equi-join on the term, fanout bounded by df of
# the query's terms.
# ---------------------------------------------------------------------------
@register(
    "bm25_retrieval_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
             FROM toks GROUP BY doc_id),
    avgl AS (SELECT SUM(len) * 1.0 / COUNT(*) AS avglen FROM lens),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    q AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
    terms AS (
      SELECT t.doc_id,
             CAST(ROUND(
               ln(1 + (n.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.len / a.avglen))
               * 1000000) AS BIGINT) AS s_u
      FROM tf t JOIN q USING (tok) JOIN df d USING (tok)
      JOIN lens l ON l.doc_id = t.doc_id
      CROSS JOIN avgl a CROSS JOIN n
      WHERE t.doc_id <> 0
    )
    SELECT doc_id, FLOOR((CAST(SUM(s_u) AS DOUBLE) + 50) / 100.0) / 10000.0 AS bm25
    FROM terms GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    avgl = lens.agg(
        (F.sum("len") * 1.0 / F.count(F.lit(1))).alias("avglen")
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    q = toks.filter(F.col("doc_id") == 0).select("tok").distinct()
    # df is needed ONLY for the query's terms: semi-restrict tf by the
    # (one-document-bounded) query token set FIRST, then aggregate df over
    # the restricted frame — identical global df values for exactly those
    # terms. The previous shape broadcast the FULL per-term df table,
    # which scales with vocabulary; df_q is bounded by the query
    # document's distinct-token count at any corpus size.
    tfq = tf.join(F.broadcast(q), on="tok")
    df_q = tfq.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    score_u = F.round(
        F.log(
            1
            + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2 * (1 - 0.75 + 0.75 * F.col("len") / F.col("avglen"))
        )
        * 1000000
    ).cast("long")
    terms = (
        tfq.join(F.broadcast(df_q), on="tok")
        .join(lens, on="doc_id")
        .crossJoin(F.broadcast(avgl))
        .crossJoin(F.broadcast(n))
        .filter(F.col("doc_id") != 0)
        .select("doc_id", score_u.alias("s_u"))
    )
    return (
        terms.groupBy("doc_id")
        .agg((F.floor((F.sum("s_u").cast("double") + 50) / 100.0) / 10000.0).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
