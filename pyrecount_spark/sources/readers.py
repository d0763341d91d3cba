"""File readers (SURVEY.md §2.1 S7-S13), Spark-native.

All readers return lazy DataFrames; gzip inputs decompress transparently
(S13 — but .gz is non-splittable, so the ingest layer re-lands everything as
partitioned Parquet; see sources/ingest.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def read_tsv_strings(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S7 (accessor.py:326, 480): tab-separated, header, **no inference** —
    every column lands as string; numeric semantics applied by explicit casts
    at use sites, exactly the reference's string-first metadata discipline
    (SURVEY §1.2). At scale this dodges schema-drift union failures across
    thousands of drifting metadata files."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    return spark.read.options(sep="\t", header=True, inferSchema=False).csv(paths)


def read_tsv_counts(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S8 (accessor.py:261-265): counts TSV, ``#`` comment rows skipped.
    String-first like ``read_tsv_strings`` (no inference scan): callers cast
    the count column after the melt."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    return spark.read.options(sep="\t", header=True, inferSchema=False, comment="#").csv(paths)


GTF_SCHEMA = StructType(
    [
        StructField("seqname", StringType()),
        StructField("source", StringType()),
        StructField("feature", StringType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("score", StringType()),
        StructField("strand", StringType()),
        StructField("frame", StringType()),
        StructField("attribute", StringType()),
    ]
)


def read_gtf(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S9 (accessor.py:210-225): 9 fixed positional columns, ``#`` comments
    skipped, explicit schema (never inferred). Attribute expansion is a
    separate projection — ``functions.gtf.with_gtf_attributes``."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    return (
        spark.read.options(sep="\t", comment="#", header=False)
        .schema(GTF_SCHEMA)
        .csv(paths)
    )


COO_SCHEMA = StructType(
    [
        StructField("row_idx", LongType()),
        StructField("col_idx", LongType()),
        StructField("value", DoubleType()),
    ]
)


def read_matrix_market_coo(spark: SparkSession, path: str) -> DataFrame:
    """S10 rebuilt sparse (accessor.py:431-432 densifies via scipy ``mmread``
    — the known blow-up, SURVEY §1.3): parse the MatrixMarket coordinate
    body into a long COO table ``(row_idx, col_idx, value)`` and **stay
    sparse**. 1-based MM indices are kept as-is (dim tables use the same
    base); ``%``-prefixed comment lines and the dims line are dropped.

    Distributed parse: ``spark.read.text`` splits the file across tasks; the
    dims line is identified as the first non-comment line and removed by an
    anti-condition on its exact content (cheap: one ``limit(1)`` driver
    lookup), so no single-node bottleneck."""
    lines = spark.read.text(path).filter(~F.col("value").startswith("%"))
    dims_line = lines.limit(1).collect()[0][0]
    body = lines.filter(F.col("value") != dims_line)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return body.select(
        parts.getItem(0).cast("long").alias("row_idx"),
        parts.getItem(1).cast("long").alias("col_idx"),
        # pattern matrices have no value field; get() yields NULL where an
        # index read would raise under ANSI mode
        F.coalesce(F.get(parts, 2).cast("double"), F.lit(1.0)).alias("value"),
    )


def matrix_market_dims(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """Header dims of an MM file: (n_rows, n_cols, nnz)."""
    first = (
        spark.read.text(path)
        .filter(~F.col("value").startswith("%"))
        .limit(1)
        .collect()[0][0]
    )
    r, c, n = first.split()
    return int(r), int(c), int(n)


def read_id_list(spark: SparkSession, path: str, col: str = "rail_id") -> DataFrame:
    """S11 (accessor.py:419): sample-id dimension table, ids cast to string.
    Stays a DataFrame (joined to COO col_idx) — never a driver list unless
    genuinely tiny."""
    df = spark.read.options(header=True, inferSchema=False).csv(path)
    return df.select(F.col(col).cast("string").alias(col))
