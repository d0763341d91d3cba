"""GTF attribute extraction as native expressions.

The reference's only Python UDF is a row-wise ``map_elements`` lambda running
``re.findall`` per field over GTF column 9 (accessor.py:227-256) — its CPU
hotspot (SURVEY §3.2). Here each field is a native ``regexp_extract``:
JVM-side, whole-stage-codegen'd, ~2 orders of magnitude faster per core and
trivially parallel. Same 12 fields, same `key "value"` grammar, absent keys
yield empty string → normalized to null (matching the reference's ""/null
yield at accessor.py:246-250).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# accessor.py:227-240 — the 12 extracted attribute fields.
GTF_ATTRIBUTE_FIELDS = [
    "gene_id",
    "transcript_id",
    "exon_number",
    "gene_name",
    "gene_source",
    "gene_biotype",
    "transcript_name",
    "transcript_source",
    "transcript_biotype",
    "protein_id",
    "exon_id",
    "tag",
]


def extract_attribute(attribute: Column, field: str) -> Column:
    """One `key "value"` pair → value, else null (accessor.py:242-256)."""
    extracted = F.regexp_extract(attribute, f'{field} "([^"]*)"', 1)
    return F.when(extracted == "", F.lit(None).cast("string")).otherwise(extracted)


def with_gtf_attributes(df: DataFrame) -> DataFrame:
    """Append all 12 fields of the ``attribute`` column as columns in one
    projection."""
    return df.select(
        "*",
        *[extract_attribute(F.col("attribute"), f).alias(f) for f in GTF_ATTRIBUTE_FIELDS],
    )
