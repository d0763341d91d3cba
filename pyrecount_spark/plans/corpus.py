"""Training-corpus construction queries (decontamination, repetition
filtering, sequence packing, weighted mixing) with DuckDB oracles.

These compose the §2.10 text/dedup machinery into the corpus-prep surface
an LLM data pipeline runs end-to-end; each query is the registry twin of an
operator in ``operators.corpus``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.corpus import (
    ngram_decontaminate,
    pack_sequences,
    repetition_ratio,
    weighted_mix,
)
from pyrecount_spark.functions.scalars import round_ratio_half_up
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


def _split_bucket_sql(col: str = "doc_id", salt: str = "") -> str:
    """The content-addressed 0..99 md5 bucket, as SQL (mirrors
    plans/text.py hash_split_assign / operators.corpus._mix_bucket)."""
    key = f"'{salt}' || CAST({col} AS VARCHAR)" if salt else f"CAST({col} AS VARCHAR)"
    return (
        f"((strpos('0123456789abcdef', substr(md5({key}), 1, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(md5({key}), 2, 1)) - 1) % 100"
    )


# ---------------------------------------------------------------------------
# Eval-set n-gram decontamination: for every train-split document, the
# fraction of its distinct 3-gram shingles that appear anywhere in the
# test split. The eval shingle set is broadcast (eval corpora are tiny);
# the train side only shuffles for its per-doc count. Zero-overlap train
# docs are reported with 0 / 0.0 / false (left join).
# ---------------------------------------------------------------------------
DECON_THRESHOLD = 0.5

DECON_SQL = f"""
    WITH labeled AS (
      SELECT doc_id, text, {_split_bucket_sql()} AS b FROM documents
    ),
    ttoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM labeled WHERE b < 80
    ),
    tsh AS (
      SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      FROM (SELECT doc_id, l, generate_subscripts(l, 1) AS i, unnest(l) AS _t
            FROM ttoks)
      WHERE i <= len(l) - 2
    ),
    etoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM labeled WHERE b >= 90
    ),
    esh AS (
      SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      FROM (SELECT doc_id, l, generate_subscripts(l, 1) AS i, unnest(l) AS _t
            FROM etoks)
      WHERE i <= len(l) - 2
    ),
    tot AS (
      SELECT l.doc_id, COALESCE(c.n_shingles, 0) AS n_shingles
      FROM (SELECT doc_id FROM labeled WHERE b < 80) l
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_shingles
                 FROM tsh GROUP BY doc_id) c
        ON l.doc_id = c.doc_id
    ),
    shared AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM tsh t JOIN esh USING (shingle) GROUP BY t.doc_id
    )
    SELECT tot.doc_id,
           CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(shared.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(FLOOR(((shared.n_shared) * 20000.0 + (tot.n_shingles)) / (2.0 * (tot.n_shingles))) / 10000.0, 0.0)
             AS contamination_ratio,
           COALESCE(FLOOR(((shared.n_shared) * 20000.0 + (tot.n_shingles)) / (2.0 * (tot.n_shingles))) / 10000.0, 0.0)
             >= {DECON_THRESHOLD} AS flagged
    FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id
"""


@register("decontaminate_train_eval", DECON_SQL)
def decontaminate_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")

    def nib(i: int):
        return F.expr(
            f"locate(substr(md5(cast(doc_id as string)), {i}, 1),"
            f" '0123456789abcdef') - 1"
        )

    b = (nib(1) * 16 + nib(2)) % 100
    labeled = d.withColumn("_b", b)
    train = labeled.filter(F.col("_b") < 80)
    eval_docs = labeled.filter(F.col("_b") >= 90)
    return ngram_decontaminate(
        train, eval_docs, "text", "doc_id", n=3, threshold=DECON_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Within-document repetition (the Gopher duplicate-n-gram rule):
# dup_fraction = 1 - distinct/total 3-gram shingles, keep iff under the
# threshold (0.02 here — the synthetic corpus is only mildly repetitive, so
# the gate is calibrated to actually split it).
# Pure narrow map — per-row `transform` arrays, no explode, no shuffle:
# quality gates run over every document, so they must be shuffle-free.
# ---------------------------------------------------------------------------
MAX_DUP_FRACTION = 0.02

REPETITION_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(l) >= 3
                  THEN list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct_shingles,
           CASE WHEN len(s) > 0
                THEN FLOOR(((len(s) - len(list_distinct(s))) * 20000.0 + (len(s))) / (2.0 * (len(s)))) / 10000.0
                ELSE 0.0 END AS dup_fraction,
           CASE WHEN len(s) > 0
                THEN FLOOR(((len(s) - len(list_distinct(s))) * 20000.0 + (len(s))) / (2.0 * (len(s)))) / 10000.0
                ELSE 0.0 END <= {MAX_DUP_FRACTION} AS keep
    FROM sh
"""


@register("doc_repetition_ratio", REPETITION_SQL)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_ratio(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, max_dup_fraction=MAX_DUP_FRACTION,
    )


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing into 512-token context windows, one
# token stream per source shard (shards pack in parallel — the window is
# PARTITIONED BY source, never a global sort).
# ---------------------------------------------------------------------------
PACK_WINDOW = 512

PACK_SQL = f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM t
    )
    SELECT source, doc_id, n_tokens,
           CAST((cum - n_tokens) % {PACK_WINDOW} AS BIGINT) AS start_offset,
           CAST((cum - n_tokens) // {PACK_WINDOW} AS BIGINT) AS start_window,
           CAST((cum - 1) // {PACK_WINDOW} AS BIGINT) AS end_window,
           CAST((cum - 1) // {PACK_WINDOW}
                - (cum - n_tokens) // {PACK_WINDOW} + 1 AS BIGINT) AS n_windows
    FROM c
"""


@register("sequence_pack_512", PACK_SQL)
def sequence_pack_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    from pyrecount_spark.operators.text import tokens

    counted = d.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        counted, "n_tokens", "doc_id", "source", window=PACK_WINDOW
    )


# ---------------------------------------------------------------------------
# Weighted source mixing: per-source target weights (derived here from the
# source index mod 4 → 2.5 / 1.0 / 0.5 / 1.5); weight w = floor(w) copies
# plus one more iff the doc's salted md5 bucket < frac(w)*100. Upsampling
# is a bounded sequence-explode, downsampling a bucket filter — RNG-free,
# cluster-size-independent, and re-runs make identical choices.
# ---------------------------------------------------------------------------
MIX_SQL = f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(CASE CAST(substr(source, 4) AS INT) % 4
                    WHEN 0 THEN 2.5 WHEN 1 THEN 1.0
                    WHEN 2 THEN 0.5 ELSE 1.5 END AS DOUBLE) AS wt,
             {_split_bucket_sql("doc_id", "mix:")} AS b
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, ROUND(wt, 2) AS weight,
             CAST(FLOOR(wt) AS BIGINT)
               + CASE WHEN b < CAST(ROUND((wt - FLOOR(wt)) * 100) AS BIGINT)
                      THEN 1 ELSE 0 END AS copies
      FROM w
    )
    SELECT doc_id, source, weight, CAST(copies AS BIGINT) AS copies,
           CAST(copy_id AS BIGINT) AS copy_id,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy_id AS VARCHAR))
             AS shuffle_key
    FROM (SELECT c.*, unnest(generate_series(1, copies)) AS copy_id
          FROM c WHERE copies >= 1)
"""


@register("training_mix_weighted", MIX_SQL)
def training_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    idx = F.expr("CAST(substring(source, 4) AS INT) % 4")
    wt = (
        F.when(idx == 0, 2.5)
        .when(idx == 1, 1.0)
        .when(idx == 2, 0.5)
        .otherwise(1.5)
    )
    return weighted_mix(d, "doc_id", "source", wt)


# ---------------------------------------------------------------------------
# RAG chunking: overlapping 32-token windows, stride 24 (overlap 8). Chunk
# k = tokens [1+24k, 24k+32]; tail chunks shorter; short docs yield one
# chunk. Narrow map — chunking is a scan, never a shuffle.
# ---------------------------------------------------------------------------
CHUNK_SIZE, CHUNK_STRIDE = 32, 24

CHUNK_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    sized AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) > 0),
    ks AS (
      SELECT doc_id, l,
             unnest(generate_series(0,
               (greatest(n - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
             )) AS k
      FROM sized
    )
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           CAST(len(l[1 + k * {CHUNK_STRIDE} : k * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS BIGINT)
             AS chunk_tokens,
           array_to_string(l[1 + k * {CHUNK_STRIDE} : k * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
             AS chunk_text
    FROM ks
"""


@register("chunk_documents_rag", CHUNK_SQL)
def chunk_documents_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        size=CHUNK_SIZE, overlap=CHUNK_SIZE - CHUNK_STRIDE,
    )


# ---------------------------------------------------------------------------
# BPE tokenizer-training prep: corpus-wide adjacent character-pair
# frequencies within words (the statistic the first BPE merge maximizes).
# Word-level pre-aggregation (word -> count) shrinks the pair explode by
# the word-frequency factor — the standard BPE-training trick; with the
# synthetic corpus's tiny vocabulary the reduction is ~1000×, on real text
# it is still the difference between corpus-sized and vocab-sized work.
# ---------------------------------------------------------------------------
BPE_PAIRS_SQL = """
    WITH words AS (
      SELECT tok, COUNT(*) AS wc FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents) GROUP BY tok
    ),
    pairs AS (
      SELECT substring(tok, i, 2) AS pair, wc
      FROM (SELECT tok, wc, unnest(generate_series(1, length(tok) - 1)) AS i
            FROM words WHERE length(tok) >= 2)
    )
    SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 50
"""


@register("bpe_pair_frequencies", BPE_PAIRS_SQL)
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = (
        words.filter(F.length("tok") >= 2)
        .select(
            "wc",
            F.explode(
                F.expr("transform(sequence(1, length(tok) - 1),"
                       " i -> substring(tok, i, 2))")
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Corpus card: the per-source summary a dataset release ships — doc/token
# counts, length distribution, quality aggregates, dedup pressure. One
# scan, one groupBy(source); every statistic is a decomposable aggregate,
# so the card of a 100 TB corpus costs one shuffle of per-source partials.
# ---------------------------------------------------------------------------
CORPUS_CARD_SQL = """
    WITH d AS (
      SELECT source,
             len(string_split_regex(trim(text), '\\s+')) AS n_toks,
             length(text) AS n_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
           CAST(MAX(n_toks) AS BIGINT) AS max_tokens,
           FLOOR(((SUM(n_toks)) * 20000.0 + (COUNT(*))) / (2.0 * (COUNT(*)))) / 10000.0 AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_fingerprints,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs
    FROM d GROUP BY source
"""


@register("corpus_card_by_source", CORPUS_CARD_SQL)
def corpus_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import normalized_fingerprint, tokens

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.length("text").alias("n_chars"),
        normalized_fingerprint(F.col("text")).alias("fp"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.min("n_toks").cast("long").alias("min_tokens"),
        F.max("n_toks").cast("long").alias("max_tokens"),
        round_ratio_half_up(F.sum("n_toks"), F.count(F.lit(1)), 4).alias("avg_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("fp").alias("n_unique_fingerprints"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs"),
    )


# ---------------------------------------------------------------------------
# Source quota capping: keep at most K docs per source, preferring longer
# documents (id tiebreak) — the standard guard against one crawl dominating
# the mix. One window per source partition; rank boundary is a total
# order, engine-stable.
# ---------------------------------------------------------------------------
QUOTA_K = 10

QUOTA_SQL = f"""
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT source, doc_id, length(text) AS n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY length(text) DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= {QUOTA_K}
"""


@register("source_quota_topk", QUOTA_SQL)
def source_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    return (
        d.select(
            "source", "doc_id", F.length("text").cast("long").alias("n_chars"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= QUOTA_K)
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling: k pseudo-random negatives per anchor doc
# from a multiplicative hash ring over the dense doc_id space — RNG-free,
# reproducible, and pure arithmetic (no shuffle until the text-equality
# guard join). Accidental positives are rejected by exact text equality
# (identity + exact-dup guard); near-dup rejection would anti-join the
# verified-pairs graph the same way. The 1-row corpus-count side rides a
# broadcast cross join.
# ---------------------------------------------------------------------------
_NEG_SQL = """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents),
    anchors AS (
      SELECT doc_id AS anchor_id, text AS atext FROM documents WHERE doc_id % 50 = 0
    ),
    cand AS (
      SELECT a.anchor_id, a.atext, CAST(j AS BIGINT) AS slot,
             (a.anchor_id * 2654435761 + (j + 1) * 40503) % n.c AS neg_id
      FROM anchors a, n, UNNEST(generate_series(0, 3)) AS t(j)
    )
    SELECT c.anchor_id, c.slot, c.neg_id
    FROM cand c JOIN documents d ON c.neg_id = d.doc_id
    WHERE c.neg_id <> c.anchor_id AND d.text <> c.atext
    ORDER BY c.anchor_id, c.slot
"""


@register("contrastive_negative_pairs", _NEG_SQL)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.agg(F.count(F.lit(1)).cast("long").alias("c"))
    anchors = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("anchor_id"), F.col("text").alias("atext")
    )
    cand = (
        anchors.crossJoin(F.broadcast(cnt))
        .select(
            "anchor_id",
            "atext",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("slot0"),
            "c",
        )
        .withColumn("slot", F.col("slot0").cast("long"))
        .withColumn(
            "neg_id",
            (F.col("anchor_id") * F.lit(2654435761) + (F.col("slot") + 1) * 40503)
            % F.col("c"),
        )
    )
    return (
        cand.join(
            docs.select(F.col("doc_id").alias("neg_id"), F.col("text").alias("ntext")),
            "neg_id",
        )
        .filter((F.col("neg_id") != F.col("anchor_id")) & (F.col("ntext") != F.col("atext")))
        .select("anchor_id", "slot", "neg_id")
        .orderBy("anchor_id", "slot")
    )


# ---------------------------------------------------------------------------
# Length-proportional deterministic sampling: P(keep) = n_chars/max_chars,
# decided by a content-addressed md5 bucket (4 hex nibbles = 16-bit
# resolution) compared in integer cross-multiplication —
# bucket·max < len·65536. RNG-free and cluster-size-independent like the
# stratified sampler, but with importance weighting (longer docs
# proportionally more likely) — the shape curriculum/length-balanced
# sampling uses. The global max is a 1-row broadcast.
# ---------------------------------------------------------------------------
_LENGTH_SAMPLE_SQL = """
    WITH mx AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS m FROM documents),
    bucketed AS (
      SELECT d.doc_id, d.n_chars, mx.m,
             CAST((strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1)
              AS BIGINT) AS bucket
      FROM documents d CROSS JOIN mx
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM bucketed WHERE bucket * m < n_chars * 65536
    ORDER BY doc_id
"""


@register("length_weighted_sample", _LENGTH_SAMPLE_SQL)
def length_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").cast("long").alias("m"))

    def nib(i: int):
        return F.expr(
            f"locate(substr(md5(cast(doc_id as string)), {i}, 1),"
            f" '0123456789abcdef') - 1"
        )

    bucket = (nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)).cast("long")
    return (
        d.crossJoin(F.broadcast(mx))
        .filter(bucket * F.col("m") < F.col("n_chars") * 65536)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement, exact size k (Efraimidis-Spirakis
# A-ES): each doc draws u from its content-addressed md5 (seedless), gets
# key = ln(u)/weight, and the k LARGEST keys are the sample — provably a
# weighted sample without replacement. Complements length_weighted_sample
# (expected-rate Bernoulli, no size guarantee): A-ES guarantees exactly k.
# Scale: narrow key map + TakeOrderedAndProject (per-partition top-k, then
# k·partitions rows to one reducer) — no global sort, no shuffle of the
# corpus. Keys rounded to 9 decimals (magnitudes 1e-4..1, ln ulp noise
# ~1e-16 — astronomically inside the rounding) with doc_id tiebreak, so
# the engine boundary is deterministic.
# ---------------------------------------------------------------------------
@register(
    "weighted_sample_aes_topk",
    """
    WITH keyed AS (
      SELECT doc_id,
             ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS UBIGINT) + 0.5) / 4294967296.0)
                   / n_chars, 9) AS sample_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, sample_key FROM keyed
    ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
)
def weighted_sample_aes_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "doc_id",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("sample_key"),
    )
    return keyed.orderBy(F.desc("sample_key"), F.asc("doc_id")).limit(100)


# ---------------------------------------------------------------------------
# Global dense-id assignment WITHOUT a global sort — the distributed
# surrogate-key pattern: per-group windows run in parallel (partitioned by
# source), per-group counts form a tiny ordered offset table (|sources|
# rows) broadcast back, and global_id = group offset + in-group rank.
# A naive ROW_NUMBER() OVER (ORDER BY ...) with no PARTITION BY collapses
# the corpus onto ONE task; this shape never does. The oracle IS that
# naive global window — same ids, different physics.
# ---------------------------------------------------------------------------
@register(
    "global_dense_ids",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
             AS global_id
    FROM documents
    """,
)
def global_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("source", "_off")
    w_in = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.withColumn("_rk", F.row_number().over(w_in) - 1)
    return ranked.join(F.broadcast(offsets), on="source").select(
        "doc_id", (F.col("_off") + F.col("_rk")).cast("long").alias("global_id")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: tokens-per-word and chars-per-token under
# the whitespace+punct regex tokenizer — the per-language cost metric a
# multilingual training mix is budgeted with. Integer counts aggregated
# exactly; the two ratios are the only floats, rounded 4.
# ---------------------------------------------------------------------------
@register(
    "tokenizer_fertility_by_lang",
    """
    WITH t AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(list_filter(
                 string_split_regex(lower(text),
                                    '[^a-z0-9]+'), x -> x <> '')) AS n_toks,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           FLOOR(((SUM(n_toks)) * 20000.0 + (SUM(n_words))) / (2.0 * (SUM(n_words)))) / 10000.0 AS tokens_per_word,
           FLOOR(((SUM(n_bytes)) * 20000.0 + (SUM(n_toks))) / (2.0 * (SUM(n_toks)))) / 10000.0 AS bytes_per_token
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
            lambda x: x != "",
        )
    )
    t = d.select(
        "lang",
        words.cast("long").alias("n_words"),
        toks.cast("long").alias("n_toks"),
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
    )
    return t.groupBy("lang").agg(
        F.sum("n_words").alias("total_words"),
        F.sum("n_toks").alias("total_tokens"),
        round_ratio_half_up(F.sum("n_toks"), F.sum("n_words"), 4).alias("tokens_per_word"),
        round_ratio_half_up(F.sum("n_bytes"), F.sum("n_toks"), 4).alias("bytes_per_token"),
    )


# ---------------------------------------------------------------------------
# Stratified A-ES: exactly k weighted samples PER LANGUAGE (the per-stratum
# form of weighted_sample_aes_topk — a multilingual training mix wants a
# guaranteed per-language quota, not a corpus-global one). Same seedless
# md5-uniform keys; the per-stratum top-k is ONE rank window partitioned
# by lang — parallel across strata, no global sort anywhere.
# ---------------------------------------------------------------------------
@register(
    "stratified_weighted_sample_by_lang",
    """
    WITH keyed AS (
      SELECT lang, doc_id,
             ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS UBIGINT) + 0.5) / 4294967296.0)
                   / n_chars, 9) AS sample_key
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT lang, doc_id, sample_key,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY sample_key DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, sample_key FROM ranked WHERE rk <= 20
    """,
)
def stratified_weighted_sample_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "lang",
        "doc_id",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("sample_key"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("sample_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", "sample_key")
    )
