"""Count-matrix semantics: wide<->long reshape and normalization operators.

The reference holds counts as a *wide* matrix — ``gene_id`` + one numeric
column per sample (accessor.py:342-388) — and scales it by collecting scale
factors into a Python dict and multiplying column-by-column
(accessor.py:146-153, 166-172). Neither survives 100 TB / 100k samples:
Spark's practical column limit and the driver round-trip both break.

Canonical design here (SURVEY.md §1.3): counts live **long**
``(feature_id, sample_id, count)``; scaling is a broadcast join against a
per-sample factor frame, fully in-plan; the wide matrix is a presentation
``pivot`` guarded by a cardinality check.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIVOT_COLUMNS = 10_000  # guard: wide views are presentation-only
# Sample key of the metadata tables, and the value column of a long count table.
_SAMPLE, _COUNT = "external_id", "count"


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "sample_id",
    value_name: str = "count",
) -> DataFrame:
    """Wide → long. Uses native ``unpivot`` (JVM-side, no shuffle: each input
    row expands to N output rows within its partition)."""
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)


def pivot_wide(
    df: DataFrame,
    id_col: str,
    var_col: str,
    value_col: str,
    var_values: Sequence[str] | None = None,
    agg: str = "sum",
) -> DataFrame:
    """Long → wide presentation view. Passing ``var_values`` explicitly skips
    the extra distinct-collect job Spark otherwise runs, and enforces the
    pivot-cardinality guard (SURVEY.md §7 hard part (b))."""
    if var_values is None:
        var_values = [r[0] for r in df.select(var_col).distinct().limit(MAX_PIVOT_COLUMNS + 1).collect()]
    if len(var_values) > MAX_PIVOT_COLUMNS:
        raise ValueError(
            f"pivot would create {len(var_values)}+ columns (> {MAX_PIVOT_COLUMNS}); "
            "use the long format for computation"
        )
    return df.groupBy(id_col).pivot(var_col, list(var_values)).agg(getattr(F, agg)(value_col))


def column_chunks(var_values: Sequence[str], chunk_size: int) -> list[list[str]]:
    """Deterministic column groups for the chunked wide view."""
    vals = list(var_values)
    return [vals[i : i + chunk_size] for i in range(0, len(vals), chunk_size)]


def pivot_wide_chunk(
    df: DataFrame,
    id_col: str,
    var_col: str,
    value_col: str,
    var_values: Sequence[str],
    chunk: int,
    chunk_size: int,
) -> DataFrame:
    """One column-group of a wide view too wide for a single pivot.

    The fallback the ``MAX_PIVOT_COLUMNS`` guard points at (SURVEY §7 hard
    part (b)): a 100k-sample matrix is presented as ``ceil(100k/chunk_size)``
    wide frames of bounded width instead of one impossible pivot. The isin
    filter on the chunk's columns reaches the parquet scan (PushedFilters).
    Rows absent from a chunk's columns are absent from that chunk
    (sparse column groups); reassembly is a full-outer join on the id,
    which is how the reference's align-concat composes disjoint-column
    frames.
    """
    vals = column_chunks(var_values, chunk_size)[chunk]
    filtered = df.filter(F.col(var_col).isin(vals))
    return pivot_wide(filtered, id_col, var_col, value_col, vals)


def scale_factors_mapped_reads(
    metadata: DataFrame,
    target_size: float,
    read_length: int,
) -> DataFrame:
    """Q7 factor computation (accessor.py:122-144), casts explicit because the
    metadata lake is string-typed (SURVEY §1.2). Paired-end detection F5:
    ``round(avg_mapped_len / avg_read_len) == 2`` → factor 2 else 1."""
    mapped_reads = F.col("`star.all_mapped_reads`").cast("double")
    mapped_len = F.col("`star.average_mapped_length`").cast("double")
    read_len = F.col("avg_len").cast("double")
    paired = F.when(F.round(mapped_len / read_len) == 2, F.lit(2.0)).otherwise(F.lit(1.0))
    sf = (F.lit(target_size) * F.lit(read_length) * paired) / (
        mapped_reads * F.pow(mapped_len, 2)
    )
    return metadata.select(F.col(_SAMPLE).alias("sample_id"), sf.alias("sf"))


def scale_factors_auc(metadata: DataFrame, target_size: float) -> DataFrame:
    """Q8 factor computation (accessor.py:155-164): ``target / auc``."""
    auc = F.col("`bc_auc.all_reads_all_bases`").cast("double")
    return metadata.select(
        F.col(_SAMPLE).alias("sample_id"), (F.lit(target_size) / auc).alias("sf")
    )


def scale_long(
    counts_long: DataFrame,
    factors: DataFrame,
    round_to_int: bool = False,
) -> DataFrame:
    """Apply per-sample scale factors to a long count table.

    Replaces the reference's engine-exit dict round-trip (accessor.py:146:
    ``dict(zip(...))`` then per-column multiply) with a broadcast hash join —
    no driver boundary, no shuffle of the fact table, scales to any sample
    count. ``round_to_int`` reproduces Q8's ``round(0).cast(Int64)``
    (accessor.py:170)."""
    scaled = F.col(_COUNT) * F.col("sf")
    if round_to_int:
        scaled = F.round(scaled, 0).cast("long")
    return (
        counts_long.join(F.broadcast(factors), on="sample_id", how="inner")
        .withColumn(_COUNT, scaled)
        .drop("sf")
    )


def coo_matmul(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sparse matrix multiply in COO form: C = A · B without densifying.

    A as (row_idx, col_idx, value), B as (row_idx, col_idx, value);
    C[i,k] = Σ_j A[i,j]·B[j,k] = equi-join on the inner dimension +
    grouped sum — the canonical distributed SpGEMM plan. Shuffle volume is
    the number of (i,j,k) partial products, bounded by the inner
    dimension's row/column nnz product (hot inner indices are the skew to
    salt, same discipline as hot shingles). The reference densifies via
    scipy before any algebra (accessor.py:431-432) — this is the
    never-densify replacement.
    """
    aa = a.select(
        F.col("row_idx").alias("_i"), F.col("col_idx").alias("_j"),
        F.col("value").alias("_av"),
    )
    bb = b.select(
        F.col("row_idx").alias("_j"), F.col("col_idx").alias("_k"),
        F.col("value").alias("_bv"),
    )
    return (
        aa.join(bb, on="_j")
        .groupBy("_i", "_k")
        .agg(F.sum(F.col("_av") * F.col("_bv")).alias("value"))
        .select(F.col("_i").alias("row_idx"), F.col("_k").alias("col_idx"), "value")
    )
