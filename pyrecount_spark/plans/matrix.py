"""Count-matrix queries (SURVEY.md §2.8 Q3/Q7/Q8, §2.3 J2/J4) with oracles.

The recount-shaped semantics (wide gene matrices, per-sample scale factors)
are exercised on their TPC-H analogs so the DuckDB oracle can check them;
the literal recount pipelines run against golden fixtures in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators import matrix as M
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# Wide → long melt (the ingest step that makes the long format canonical;
# SURVEY §1.3 "wide count matrix → long"). Native unpivot, no shuffle.
# ---------------------------------------------------------------------------
@register(
    "melt_wide_to_long",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """,
)
def melt_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return M.melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        var_name="measure",
        value_name="val",
    )


# ---------------------------------------------------------------------------
# Long → wide pivot (presentation view of the canonical long format;
# analog of the reference's wide gene matrix, accessor.py:342-388).
# Explicit pivot values → single pass, no distinct pre-job. Values summed in
# exact cents.
# ---------------------------------------------------------------------------
@register(
    "pivot_long_to_wide",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type='click'    THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type='error'    THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type='signup'   THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type='view'     THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_long_to_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return M.pivot_wide(e, "user_id", "event_type", "cents", EVENT_TYPES, agg="sum")


# ---------------------------------------------------------------------------
# Chunked wide view: one column-group of a matrix too wide for a single
# pivot (the MAX_PIVOT_COLUMNS fallback, SURVEY §7 hard part (b)). Chunk 1
# of the event-type columns at chunk_size=2 → (purchase, signup). The isin
# filter lands in PushedFilters; rows with neither column are absent from the
# chunk — reassembly is the J2 align-merge below.
# ---------------------------------------------------------------------------
@register(
    "pivot_wide_chunk1",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type='signup'   THEN CAST(ROUND(value*100) AS BIGINT) END) AS BIGINT) AS signup
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY user_id
    """,
)
def pivot_wide_chunk1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return M.pivot_wide_chunk(
        e, "user_id", "event_type", "cents", EVENT_TYPES, chunk=1, chunk_size=2
    )


# ---------------------------------------------------------------------------
# J2 — align-merge (pl.concat(how="align"), accessor.py:388): two frames
# sharing a key with disjoint measure columns, merged by full-outer join.
# Analog: per-part quantity sums from two disjoint supplier shards.
# ---------------------------------------------------------------------------
@register(
    "align_merge_full_outer",
    """
    SELECT COALESCE(a.l_partkey, b.l_partkey) AS l_partkey,
           a.qty_even, b.qty_odd
    FROM (SELECT l_partkey, CAST(SUM(l_quantity) AS BIGINT) AS qty_even
          FROM lineitem WHERE l_suppkey % 2 = 0 GROUP BY l_partkey) a
    FULL JOIN
         (SELECT l_partkey, CAST(SUM(l_quantity) AS BIGINT) AS qty_odd
          FROM lineitem WHERE l_suppkey % 2 = 1 GROUP BY l_partkey) b
      ON a.l_partkey = b.l_partkey
    """,
)
def align_merge_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    even = (
        li.filter(F.col("l_suppkey") % 2 == 0)
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty_even"))
    )
    odd = (
        li.filter(F.col("l_suppkey") % 2 == 1)
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty_odd"))
    )
    joined = even.alias("a").join(odd.alias("b"), on="l_partkey", how="full")
    return joined.select("l_partkey", "qty_even", "qty_odd")


# ---------------------------------------------------------------------------
# Q7/Q8 + J4 — per-sample scale factors applied via broadcast join (replaces
# the reference's dict round-trip, accessor.py:146). Analog: normalize each
# order's price by its customer's total spend (factor frame is small →
# broadcast; fact table never shuffles).
# ---------------------------------------------------------------------------
@register(
    "scale_by_group_factor",
    """
    WITH sf AS (
      SELECT o_custkey,
             1e6 / SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sf
      FROM orders GROUP BY o_custkey
    )
    SELECT o.o_orderkey,
           CAST(ROUND(o.o_totalprice * sf.sf, 0) AS BIGINT) AS scaled
    FROM orders o JOIN sf ON o.o_custkey = sf.o_custkey
    """,
)
def scale_by_group_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    factors = o.groupBy("o_custkey").agg((F.lit(1e6) / F.sum(cents)).alias("sf"))
    scaled = (
        o.join(factors, on="o_custkey")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * F.col("sf"), 0).cast("long").alias("scaled"),
        )
    )
    return scaled
