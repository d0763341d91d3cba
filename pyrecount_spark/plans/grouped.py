"""Grouped-map (applyInPandas) queries — the Python custom-operator path,
oracle-checked because per-group standardization is window-SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.grouped import group_zscore
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Per-group z-score via applyInPandas. The reference's per-sample scaling
# (accessor.py scale_mapped_reads/scale_auc paths) is this shape: a factor
# derived from the whole group applied back to each row. dev_scaled is the
# exact-integer check (n*x - sum x); z is the float path rounded to 4.
# ---------------------------------------------------------------------------
@register(
    "grouped_zscore_pandas",
    """
    SELECT l_returnflag,
           l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity,
           CAST(CAST(COUNT(*) OVER w AS BIGINT) * CAST(l_quantity AS BIGINT)
                - CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
                AS BIGINT) AS dev_scaled,
           ROUND((l_quantity - AVG(l_quantity) OVER w)
                 / stddev_samp(l_quantity) OVER w, 4) AS z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)
def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_linenumber", F.col("l_linenumber").cast("long")
    )
    return group_zscore(
        li,
        group_cols=["l_returnflag"],
        value_col="l_quantity",
        keep_cols=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas: per-customer reconciliation of event spend vs
# order spend — both sides cogrouped into one task per key. Oracle = the
# same totals via two aggregates + full-outer join (what the cogroup
# computes, expressed relationally).
# ---------------------------------------------------------------------------
COGROUP_SQL = """
    WITH e AS (
      SELECT user_id AS key, COUNT(*) AS n_left,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS left_cents
      FROM events GROUP BY user_id
    ),
    o AS (
      SELECT o_custkey AS key, COUNT(*) AS n_right,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS right_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(e.key, o.key) AS key,
           CAST(COALESCE(e.n_left, 0) AS BIGINT) AS n_left,
           CAST(COALESCE(o.n_right, 0) AS BIGINT) AS n_right,
           CAST(COALESCE(e.left_cents, 0) AS BIGINT) AS left_cents,
           CAST(COALESCE(o.right_cents, 0) AS BIGINT) AS right_cents,
           CAST(COALESCE(e.left_cents, 0) - COALESCE(o.right_cents, 0) AS BIGINT)
             AS diff_cents
    FROM e FULL OUTER JOIN o ON e.key = o.key
"""


@register("cogrouped_reconcile_spend", COGROUP_SQL)
def cogrouped_reconcile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.grouped import cogroup_reconcile

    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    o = _t(spark, sf_dir, "orders").withColumn(
        "ocents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    return cogroup_reconcile(e, o, "user_id", "o_custkey", "cents", "ocents")
