"""Sparse-COO matrix queries (SURVEY §2.8 Q5 semantics on driver data) and
composite pipelines (Q1/Q2 end-to-end shapes), plus distinct/approx
aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.functions.scalars import value_remap
from pyrecount_spark.operators.relational import align_union, multi_join
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# COO matrix aggregation (Q5 junction semantics: sparse counts stay long;
# row sums / nnz / matrix-vector product never densify — accessor.py:431's
# toarray() blow-up is the thing this design removes). The COO here is
# (user × props.k) event counts; the literal MatrixMarket reader is
# golden-tested in tests/test_coo.py.
# ---------------------------------------------------------------------------
@register(
    "coo_matrix_rowstats",
    """
    WITH coo AS (
      SELECT user_id AS row_idx,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS col_idx,
             COUNT(*) AS value
      FROM events GROUP BY 1, 2
    )
    SELECT row_idx,
           COUNT(*) AS nnz,
           CAST(SUM(value) AS BIGINT) AS row_sum,
           CAST(SUM(value * (col_idx + 1)) AS BIGINT) AS mv
    FROM coo GROUP BY row_idx
    """,
)
def coo_matrix_rowstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    coo = (
        e.select(
            F.col("user_id").alias("row_idx"),
            F.get_json_object("props", "$.k").cast("long").alias("col_idx"),
        )
        .groupBy("row_idx", "col_idx")
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return coo.groupBy("row_idx").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum("value").alias("row_sum"),
        F.sum(F.col("value") * (F.col("col_idx") + 1)).alias("mv"),
    )


# ---------------------------------------------------------------------------
# Composite Q2-shaped pipeline: per-tag frames joined on a composite key
# (J1) → two drifting-schema "projects" union-aligned (U2) → value remap
# (F3) → distinct (A2). The full MetadataLoader.load() trace
# (accessor.py:468-512) on TPC-H-shaped inputs.
# ---------------------------------------------------------------------------
@register(
    "metadata_pipeline_composite",
    """
    WITH tagged AS (
      SELECT a.c_custkey, a.c_name, b.c_mktsegment, c.c_acctbal, a.c_nationkey
      FROM (SELECT c_custkey, c_name, c_nationkey FROM customer) a
      JOIN (SELECT c_custkey, c_name, c_mktsegment FROM customer) b
        ON a.c_custkey = b.c_custkey AND a.c_name = b.c_name
      JOIN (SELECT c_custkey, c_name, c_acctbal FROM customer) c
        ON a.c_custkey = c.c_custkey AND a.c_name = c.c_name
    ), unioned AS (
      SELECT c_custkey, c_name, c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
      FROM tagged WHERE c_nationkey < 12
      UNION ALL
      SELECT c_custkey, c_name, CAST(NULL AS VARCHAR), c_acctbal
      FROM tagged WHERE c_nationkey >= 8
    )
    SELECT DISTINCT c_custkey, c_name,
           CASE c_mktsegment WHEN 'BUILDING' THEN 'building'
                             WHEN 'MACHINERY' THEN 'machinery'
                             ELSE c_mktsegment END AS segment,
           c_acctbal
    FROM unioned
    """,
)
def metadata_pipeline_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    key = ["c_custkey", "c_name"]
    tagged = multi_join(
        [
            c.select(*key, "c_nationkey"),
            c.select(*key, "c_mktsegment"),
            c.select(*key, "c_acctbal"),
        ],
        on=key,
        broadcast_right=False,
    )
    a = tagged.filter(F.col("c_nationkey") < 12).select(*key, "c_mktsegment")
    b = tagged.filter(F.col("c_nationkey") >= 8).select(*key, "c_acctbal")
    unioned = align_union([a, b])
    remap = {"BUILDING": "building", "MACHINERY": "machinery"}
    return unioned.select(
        *key,
        value_remap(F.col("c_mktsegment"), remap).alias("segment"),
        "c_acctbal",
    ).distinct()


# ---------------------------------------------------------------------------
# Distinct aggregate (exact, oracle-checked) + approx sketch (rows-only:
# HLL implementations differ across engines by design).
# ---------------------------------------------------------------------------
@register(
    "count_distinct_agg",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def count_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_count_distinct_sketch",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           TRUE AS sketch_within_tolerance
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_count_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch, made hash-checkable: the raw sketch value is
    engine-specific (no cross-engine oracle exists), so the query emits the
    exact twin column plus a boolean asserting the sketch landed within its
    configured 2% relative-error budget (2.5% asserted for slack). The
    oracle claims TRUE — if Spark's sketch ever drifts out of tolerance the
    value hash mismatches, so the sketch IS exercised and checked."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts_exact"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "n_parts_exact",
            (
                F.abs(F.col("_approx") - F.col("n_parts_exact"))
                <= 0.025 * F.col("n_parts_exact")
            ).alias("sketch_within_tolerance"),
        )
    )

# ---------------------------------------------------------------------------
# Sparse Gram matrix G = Aᵀ·A over the (user × event-kind) cent-count COO —
# SpGEMM as join + grouped sum, never densified. Aᵀ in COO is a column
# swap, so the whole thing is one equi-join on the shared row index and
# one aggregation. Integer cent values keep every partial product exact.
# ---------------------------------------------------------------------------
COO_GRAM_SQL = """
    WITH coo AS (
      SELECT user_id AS row_idx,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS col_idx,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT a.col_idx AS row_idx, b.col_idx AS col_idx,
           CAST(SUM(a.v * b.v) AS BIGINT) AS value
    FROM coo a JOIN coo b ON a.row_idx = b.row_idx
    GROUP BY 1, 2
"""


@register("coo_gram_matrix", COO_GRAM_SQL)
def coo_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.matrix import coo_matmul

    e = _t(spark, sf_dir, "events")
    coo = (
        e.select(
            F.col("user_id").alias("row_idx"),
            F.get_json_object("props", "$.k").cast("long").alias("col_idx"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cents").alias("value"))
    )
    # Aᵀ in COO = swap the index columns; G = Aᵀ·A
    at = coo.select(
        F.col("col_idx").alias("row_idx"),
        F.col("row_idx").alias("col_idx"),
        "value",
    )
    return coo_matmul(at, coo)
