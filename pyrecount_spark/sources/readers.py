"""File readers (SURVEY.md §2.1 S7-S13), Spark-native.

All readers return lazy DataFrames; gzip inputs decompress transparently
(S13). A .gz file is not splittable, so each one is a single task, and the
facade reads the fetched gzip files on every load; landing them as Parquet
is ROADMAP item 7.

Readers take explicit file paths (the facade's lake layout gives them) and
read header lines on the driver, so no reader starts a Spark job to learn a
TSV header or a MatrixMarket dims line.
"""

from __future__ import annotations

import csv
import gzip
import json
from functools import reduce
from pathlib import Path
from typing import Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyrecount_spark.session import local_frame

_TSV = {"sep": "\t", "header": True, "comment": "#"}  # how every TSV reader parses


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


def tsv_header(path: str) -> list[str]:
    """Column names :func:`read_tsv_strings` gives the TSV at ``path``."""
    return _string_schema(_first_line(path, "#")).names


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
        spark.read.options(**_TSV)
        .schema(_string_schema(header))
        .csv(group)
        for header, group in groups.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def input_file_part(i: int) -> Column:
    """Part ``i`` of the path of the file a row was read from (``-1`` is its
    name, ``-2`` its folder), spelled as on disk: ``input_file_name()`` is a
    URI with ``%XX`` escapes but a bare ``+``, so ``+`` is escaped first."""
    part = F.element_at(F.split(F.input_file_name(), "/"), i)
    return F.url_decode(F.replace(part, F.lit("+"), F.lit("%2B")))


def read_tsv_cells(spark: SparkSession, columns: dict[str, dict[int, str]]) -> DataFrame:
    """Picked cells of many TSVs as long strings ``(key, name, value)``, in
    one scan. ``columns`` maps each path to ``{position: name}`` (from 1;
    ``key`` is field 0). Rows parse as in :func:`read_tsv_strings`, but only
    the key and the picked fields are read, by position. Each row joins to
    its file's broadcast picks (matched by folder and file name) and
    explodes into just those cells, so the work follows the picked cells."""
    used = sorted({pos for picked in columns.values() for pos in picked})
    slot = {pos: i + 1 for i, pos in enumerate(used)}  # element_at index into ``cells``
    picks = local_frame(spark, [
        (Path(p).parent.name, Path(p).name,
         json.dumps([slot[pos] for pos in picked]), json.dumps(list(picked.values())))
        for p, picked in columns.items()
    ], ["folder", "file", "slots", "names"]).select(
        "folder", "file", F.from_json("slots", "array<int>").alias("slots"),
        F.from_json("names", "array<string>").alias("names"))
    # a field past the last pick keeps the read fields a strict subset of the
    # schema, so CSV column pruning makes the parser take them by position and
    # a row of any width parses without the malformed-record path
    schema = StructType([StructField(f"_c{i}", StringType()) for i in range(used[-1] + 2)])
    rows = spark.read.options(**_TSV).schema(schema).csv(list(columns)).select(
        input_file_part(-2).alias("folder"), input_file_part(-1).alias("file"),
        F.col("_c0").alias("key"), F.array(*(f"_c{pos}" for pos in used)).alias("cells"))
    return (
        rows.join(F.broadcast(picks), ["folder", "file"])
        .select("key", "cells", "names", F.posexplode("slots").alias("i", "slot"))
        .select("key", F.col("names")[F.col("i")].alias("name"),
                F.element_at("cells", F.col("slot")).alias("value"))
    )


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


def read_matrix_market_coo(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """S10 rebuilt sparse (accessor.py:431-432 densifies via scipy ``mmread``
    — the known blow-up, SURVEY §1.3): parse the MatrixMarket coordinate
    body into a long COO table ``(row_idx, col_idx, value)`` and **stay
    sparse**. 1-based MM indices are kept as-is (dim tables use the same
    base); ``%``-prefixed comment lines and the dims line are dropped.

    Distributed parse: Spark's CSV reader splits each file across tasks with
    ``%`` as the comment prefix and the dims line as the header, so the dims
    line is dropped by position (the first non-comment line of the file,
    the one ``_first_line`` reads) — a body entry with the same text stays.
    Pattern matrices have no value field; their entries read as 1.0."""
    coo = (
        spark.read.options(sep=" ", header=True, comment="%")
        .schema(COO_SCHEMA)
        .csv(paths)
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
