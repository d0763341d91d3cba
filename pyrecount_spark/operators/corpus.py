"""Training-corpus construction operators: eval-set decontamination,
repetition filtering, sequence packing, and weighted source mixing.

These are the operations a large-scale LLM training-data pipeline runs
between "raw documents" and "token stream" (the reference engine stops at
relational analytics; this module extends SURVEY.md §2.10's dedup/quality
family to the full corpus-prep surface).

Scale design
------------
- Decontamination joins the (small) eval-side shingle set broadcast against
  the (huge) train side — the train shingles never shuffle; the only wide
  operation is the per-doc count aggregation.
- Repetition scoring is a pure narrow map (shingle arrays built per row with
  ``transform``; no explode, no shuffle) — embarrassingly parallel at any
  corpus size.
- Sequence packing runs per shard (``part_col``): the running token sum is
  a window per shard, not a global sort — shards pack in parallel, which is
  how real pipelines pack (one stream per output file). A single global
  stream would serialize on one task at 100 TB.
- Weighted mixing is hash-gated (content-addressed md5 buckets, no RNG):
  upsampling explodes a bounded ``sequence(1, copies)``, downsampling is a
  bucket filter. Deterministic on any cluster size, resumable, and the
  shuffle key is the content hash so a sorted write gives a reproducible
  global training order without a driver-side shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyrecount_spark.functions.scalars import round_ratio_half_up
from pyrecount_spark.operators.text import tokens, word_shingles


def ngram_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Eval-set n-gram decontamination (the pre-training leakage audit).

    For every train document: how many of its distinct word ``n``-grams
    appear anywhere in the eval corpus. Returns
    (id, n_shingles, n_shared, contamination_ratio, flagged) for ALL train
    docs — zero-overlap docs report 0/0.0/false, and documents shorter
    than ``n`` tokens (no shingles at all) report 0/0/0.0/false via a
    left join from the train doc set onto the shingle totals.

    The eval shingle set is distinct-reduced and broadcast (eval corpora
    are tiny next to train corpora); train shingles meet it map-side, so
    the only shuffle is the final per-doc aggregation.
    """
    tr = word_shingles(train, text_col, n, id_col)
    ev = word_shingles(eval_docs, text_col, n, id_col).select("shingle").distinct()
    totals = (
        train.select(id_col)
        .join(tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles")),
              on=id_col, how="left")
        .withColumn("n_shingles", F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long"))
    )
    shared = (
        tr.join(F.broadcast(ev), on="shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # integer-exact half-up (engine-portable at decimal halves)
    ratio = round_ratio_half_up(F.col("n_shared"), F.col("n_shingles"), 4)
    return (
        totals.join(shared, on=id_col, how="left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .withColumn("contamination_ratio", F.coalesce(ratio, F.lit(0.0)))
        .withColumn("flagged", F.col("contamination_ratio") >= threshold)
    )


def repetition_ratio(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, max_dup_fraction: float = 0.2
) -> DataFrame:
    """Within-document repetition score (the Gopher duplicate-n-gram rule).

    dup_fraction = 1 - distinct_ngrams / total_ngrams per document; docs
    above ``max_dup_fraction`` are marked for drop. Built entirely with
    per-row array expressions (``transform`` over start positions) — a
    narrow map with NO explode and NO shuffle, unlike the groupBy-shaped
    shingle pipeline dedup needs: quality filters run on every document of
    a 100 TB corpus, so they must not cost a shuffle.
    """
    toks = tokens(F.col(text_col))
    base = df.select(id_col, toks.alias("_toks"))
    sz = F.size(F.col("_toks"))
    parts = ", ".join(f"element_at(_toks, CAST(i + {j} AS INT))" for j in range(n))
    sh = F.when(
        sz >= n,
        F.expr(f"transform(sequence(1, size(_toks) - {n - 1}), i -> concat_ws(' ', {parts}))"),
    ).otherwise(F.expr("array()").cast("array<string>"))
    out = base.select(
        id_col,
        F.size(sh).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_distinct_shingles"),
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        # 1 - d/n == (n-d)/n: integer-exact half-up (engine-portable)
        round_ratio_half_up(
            F.col("n_shingles") - F.col("n_distinct_shingles"),
            F.col("n_shingles"),
            4,
        ),
    ).otherwise(F.lit(0.0))
    return out.withColumn("dup_fraction", frac).withColumn(
        "keep", F.col("dup_fraction") <= max_dup_fraction
    )


def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    id_col: str,
    part_col: str,
    window: int = 512,
) -> DataFrame:
    """Concat-and-chunk sequence packing into fixed context windows.

    The GPT-style pack: within each shard (``part_col``), documents are
    concatenated in ``id_col`` order into one token stream that is cut into
    windows of ``window`` tokens. Each doc gets its placement:
    (start_window, start_offset, end_window, n_windows) — a doc straddles
    ``n_windows`` consecutive windows when it crosses a cut.

    The running sum is a window function PARTITIONED BY shard: shards pack
    independently and in parallel (one output stream per shard file, the
    layout real packers emit). A global single-stream pack would put the
    whole corpus through one task — deliberately not offered.
    """
    tc = F.col(token_count_col).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tc).over(w)
    return (
        df.select(part_col, id_col, tc.alias("n_tokens"))
        .withColumn("_cum", cum)
        .select(
            part_col,
            id_col,
            "n_tokens",
            (F.col("_cum") - F.col("n_tokens")).alias("_start"),
            F.col("_cum"),
        )
        .select(
            part_col,
            id_col,
            "n_tokens",
            (F.col("_start") % window).alias("start_offset"),
            F.floor(F.col("_start") / window).alias("start_window"),
            F.floor((F.col("_cum") - 1) / window).alias("end_window"),
        )
        .withColumn(
            "n_windows", F.col("end_window") - F.col("start_window") + F.lit(1)
        )
    )


def _mix_bucket(id_col: str) -> Column:
    """Content-addressed 0..99 bucket: two md5 nibbles of 'mix:'||id.

    Salted differently from the train/val/test hash split so mixing and
    splitting stay independent samples."""
    key = F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
    # First two hex chars of the md5 = one byte (0..255); identical to the
    # per-nibble (n1*16 + n2) derivation but built from the single `key`
    # Column so the salt logic lives in one place.
    return F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("long") % 100


def weighted_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weight_expr: Column,
) -> DataFrame:
    """Weighted source mixing: up/down-sample each document by its source's
    target weight, deterministically.

    weight w ⇒ ``floor(w)`` guaranteed copies plus one more iff the doc's
    content-hash bucket falls under the fractional part — e.g. w=2.5 emits
    2 or 3 copies (expected 2.5), w=0.5 keeps half the docs. No RNG: the
    md5 bucket makes the sample identical across runs, engines, and cluster
    sizes, and an incremental re-run makes the same choice for old docs.

    Emits one row per (doc, copy_id) with a ``shuffle_key`` (md5 of
    doc:copy) — writing sorted by it yields a reproducible interleaved
    training order without any driver-side pass.
    """
    b = _mix_bucket(id_col)
    base = F.floor(weight_expr).cast("long")
    frac_pct = F.round((weight_expr - F.floor(weight_expr)) * 100).cast("long")
    copies = base + F.when(b < frac_pct, 1).otherwise(0)
    keyed = df.select(
        id_col,
        F.col(source_col).alias("source"),
        F.round(weight_expr, 2).alias("weight"),
        copies.alias("copies"),
    ).filter(F.col("copies") >= 1)
    return keyed.select(
        id_col,
        "source",
        "weight",
        "copies",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("copies"))).alias("copy_id"),
    ).withColumn(
        "shuffle_key",
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("copy_id").cast("string"))),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window prep).

    Chunk k covers tokens [1 + k·stride, 1 + k·stride + size) with
    stride = size − overlap; the final chunk may be shorter (tail), and a
    document shorter than ``size`` yields exactly one chunk. Pure narrow
    map (sequence explode + per-row slice) — chunking a 100 TB corpus is
    a scan, not a shuffle.
    """
    stride = size - overlap
    base = df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    n_chunks = F.lit(1) + F.expr(
        f"(greatest(size(_toks) - {size}, 0) + {stride - 1}) div {stride}"
    )
    ks = base.filter(n > 0).select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))).alias(
            "chunk_id"
        ),
    )
    chunk = F.expr(f"slice(_toks, CAST(1 + chunk_id * {stride} AS INT), {size})")
    return ks.select(
        id_col,
        "chunk_id",
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
