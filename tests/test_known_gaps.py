"""Known-gap corpus (mirrors the reference's tests/test_known_failures.py,
47 LoC of xfails documenting intended-but-unbuilt surface): every deliberate
stub or engine-divergence in this repo, executable and visible — so a gap
closing shows up as an XPASS, not silence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.xfail(
    reason="approx_count_distinct is HLL-sketch-based: estimates are "
    "engine-specific by design; only the exact twin (count_distinct_agg) "
    "is oracle-checked",
    strict=True,
)
def test_approx_distinct_matches_exact(spark):
    df = spark.range(0, 10_000).select((F.col("id") % 2377).alias("k"))
    approx = df.agg(F.approx_count_distinct("k").alias("n")).collect()[0].n
    assert approx == 2377


@pytest.mark.xfail(
    reason="Spark CAST(double AS INT) truncates while DuckDB rounds — "
    "engine divergence the oracle conventions forbid relying on "
    "(use FLOOR/ROUND explicitly; see memory of round-1 debugging)",
    strict=True,
)
def test_double_to_int_cast_portability(spark):
    import duckdb

    spark_val = spark.sql("SELECT CAST(2.7 AS INT) AS v").collect()[0].v
    duck_val = duckdb.connect().sql("SELECT CAST(2.7 AS INT) AS v").fetchone()[0]
    assert spark_val == duck_val
