"""File readers (SURVEY.md §2.1 S7-S13), Spark-native.

All readers return lazy DataFrames; gzip inputs decompress transparently
(S13 — but .gz is non-splittable, so the ingest layer re-lands everything as
partitioned Parquet; see sources/ingest.py).

Header lines are read on the driver, which already globs these paths, so no
reader starts a Spark job to learn a TSV header or a MatrixMarket dims line.
"""

from __future__ import annotations

import csv
import gzip
from functools import reduce
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _lines(path: str, comment: str) -> Iterator[str]:
    """Lines of ``path`` that are neither blank nor start with ``comment``
    — the lines Spark's CSV reader parses, header first. ``.gz`` is
    decompressed by suffix, Spark's own codec rule."""
    with (gzip.open if path.endswith(".gz") else open)(path, "rt", encoding="utf-8") as fh:
        for line in fh:
            if line.strip() and not line.startswith(comment):
                yield line.rstrip("\r\n")


def _first_line(path: str, comment: str) -> str:
    """The header line of ``path`` as Spark's CSV reader takes it."""
    for line in _lines(path, comment):
        return line
    raise ValueError(f"no header line in {path}")


def _string_schema(header: str) -> StructType:
    """All-string schema named as Spark names a CSV header: blank names
    become ``_c<i>``, case-insensitive duplicates get their index appended."""
    names = next(csv.reader([header], delimiter="\t"))
    lower = [n.lower() for n in names]
    return StructType([
        StructField(n if n and lower.count(n.lower()) == 1 else f"{n or '_c'}{i}", StringType())
        for i, n in enumerate(names)
    ])


def read_tsv_strings(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S7/S8 (accessor.py:261-265, 326, 480) — the one TSV reader: tab-
    separated, header, ``#`` comment rows skipped, **no inference**: every
    column is a string, cast at use sites (SURVEY §1.2). Files are grouped
    by header line, each group read with its header as the schema (no
    header job), and the groups unioned by name, so drifting columns line
    up by name with nulls. An empty file raises ``ValueError`` naming it."""
    groups: dict[str, list[str]] = {}
    for p in [paths] if isinstance(paths, str) else paths:
        groups.setdefault(_first_line(p, "#"), []).append(p)
    frames = [
        spark.read.options(sep="\t", header=True, comment="#")
        .schema(_string_schema(header))
        .csv(group)
        for header, group in groups.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


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

    Distributed parse: Spark's CSV reader splits the file across tasks with
    ``%`` as the comment prefix and the dims line as the header, so the dims
    line is dropped by position (the first non-comment line of the file,
    the one ``_first_line`` reads) — a body entry with the same text stays.
    Pattern matrices have no value field; their entries read as 1.0."""
    coo = (
        spark.read.options(sep=" ", header=True, comment="%")
        .schema(COO_SCHEMA)
        .csv(path)
    )
    return coo.withColumn("value", F.coalesce("value", F.lit(1.0)))


def matrix_market_dims(path: str) -> tuple[int, int, int]:
    """Header dims of an MM file: (n_rows, n_cols, nnz), read on the driver."""
    r, c, n = _first_line(path, "%").split()
    return int(r), int(c), int(n)


def id_list_length(path: str) -> int:
    """Data rows of the ID list TSV at ``path``, counted on the driver."""
    n = sum(1 for _ in _lines(path, "#"))
    if not n:
        raise ValueError(f"no header line in {path}")
    return n - 1
