"""Relational-core queries (SURVEY.md §2.2-§2.6) with DuckDB oracles.

Each query is the TPC-H-shaped analog of a reference pipeline, cited inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators import relational as R
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Flagship: the reference's canonical analysis (example.py:21-30) — group
# count, sort desc, filter to a key set — over customer ⋈ nation.
# A1 + O1 + P4 + broadcast J1.
# ---------------------------------------------------------------------------
@register(
    "flagship_group_sort_filter",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_1','NATION_5','NATION_12','NATION_19','NATION_23')
    GROUP BY n.n_name
    """,
)
def flagship_group_sort_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    keys = ["NATION_1", "NATION_5", "NATION_12", "NATION_19", "NATION_23"]
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    grouped = R.group_count(joined, ["n_name"], "n_customers").withColumnRenamed(
        "n_name", "nation"
    )
    # sort desc is presentation (hash is order-insensitive); isin is the gate
    return R.isin_filter(grouped, "nation", keys).orderBy(F.desc("n_customers"))


# ---------------------------------------------------------------------------
# J1 — fold N frames with an inner equi-join on a composite key
# (accessor.py:470: reduce(join on [rail_id, external_id, study])).
# Analog: three disjoint projections of lineitem re-joined on the composite
# primary key (l_orderkey, l_linenumber).
# ---------------------------------------------------------------------------
@register(
    "multi_join_composite_key",
    """
    SELECT a.l_orderkey, a.l_linenumber, a.l_quantity, b.l_extendedprice,
           c.l_returnflag
    FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem) a
    JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
    JOIN (SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem) c
      ON a.l_orderkey = c.l_orderkey AND a.l_linenumber = c.l_linenumber
    """,
)
def multi_join_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    key = ["l_orderkey", "l_linenumber"]
    frames = [
        li.select(*key, "l_quantity"),
        li.select(*key, "l_extendedprice"),
        li.select(*key, "l_returnflag"),
    ]
    # fact-sized sides: shuffle hash join on the composite key, no broadcast
    return R.multi_join(frames, on=key, broadcast_right=False)


# ---------------------------------------------------------------------------
# U2 + P9 + P3 — schema-aligning union (accessor.py:507-510, 181-207):
# two sources with overlapping-but-different columns, missing cols → typed
# nulls, then distinct (A2).
# ---------------------------------------------------------------------------
@register(
    "union_align_distinct",
    """
    SELECT DISTINCT * FROM (
      SELECT c_custkey, c_name, c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_nationkey < 12
      UNION ALL
      SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS c_mktsegment, c_acctbal
      FROM customer WHERE c_nationkey >= 8
    )
    """,
)
def union_align_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_nationkey") < 12).select("c_custkey", "c_name", "c_mktsegment")
    b = c.filter(F.col("c_nationkey") >= 8).select("c_custkey", "c_name", "c_acctbal")
    return R.distinct_rows(R.align_union([a, b]))


# ---------------------------------------------------------------------------
# P1 + P4 — keep-list projection & isin filter (accessor.py:267-278, 482-486).
# ---------------------------------------------------------------------------
@register(
    "keep_list_isin",
    """
    SELECT p_partkey, p_name, p_retailprice
    FROM part WHERE p_brand IN ('Brand#1','Brand#3')
    """,
)
def keep_list_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    filtered = R.isin_filter(p, "p_brand", ["Brand#1", "Brand#3"])
    return R.keep_list_project(filtered, "p_partkey", ["p_name", "p_retailprice"])


# ---------------------------------------------------------------------------
# A2/A3 — distinct over a composite subset (accessor.py:339, 512).
# ---------------------------------------------------------------------------
@register(
    "distinct_pairs",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.distinct_rows(_t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"])


# ---------------------------------------------------------------------------
# O1 — top-k with total order (TakeOrderedAndProject; no global sort).
# ---------------------------------------------------------------------------
@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.top_k(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        25,
    )


# ---------------------------------------------------------------------------
# A1 at TPC-H Q1 shape — the headline aggregate. Money math in exact integer
# cents so both engines sum identically; averages derived from exact sums.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT)                             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                                       AS sum_base_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                                                                       AS sum_disc_cents,
           COUNT(*)                                                    AS count_order,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) * 1.0
                 / (COUNT(*) * 100), 4)                                AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "sum_disc_cents"
        ),
        F.count(F.lit(1)).alias("count_order"),
        F.round(
            F.sum(cents(F.col("l_extendedprice"))) / (F.count(F.lit(1)) * 100), 4
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (SURVEY §2.3 gap list — Spark built-ins).
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 150000)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.anti_join(c, o, ["c_custkey"]).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.4 gap list): top-3 customers by balance per
# nation via row_number with a total order.
# ---------------------------------------------------------------------------
@register(
    "window_top3_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def window_top3_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Rollup (SURVEY §2.4 gap list — grouping sets).
# ---------------------------------------------------------------------------
@register(
    "rollup_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Cube (SURVEY §2.4 gap list — full grouping-set lattice).
# ---------------------------------------------------------------------------
@register(
    "cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Set ops intersect/except (SURVEY §2.6 gap list).
# ---------------------------------------------------------------------------
@register(
    "intersect_except_keys",
    """
    SELECT c_nationkey AS nationkey, 'both' AS src FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey, 'both' AS src FROM supplier
    UNION ALL
    SELECT * FROM (
      SELECT c_nationkey AS nationkey, 'cust_only' AS src FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey, 'cust_only' AS src FROM supplier
    )
    """,
)
def intersect_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("src", F.lit("both"))
    # subtract = EXCEPT DISTINCT (exceptAll would keep per-row multiplicity)
    cust_only = c.subtract(s).withColumn("src", F.lit("cust_only"))
    return both.unionByName(cust_only)


# ---------------------------------------------------------------------------
# MERGE/upsert without a table format: updates (modified + brand-new rows)
# merged into customer — updates win, survivors pass through, inserts land.
# The oracle replays it as CASE + UNION ALL of the insert set.
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_customers",
    """
    SELECT c_custkey,
           c_nationkey,
           CASE WHEN c_nationkey < 5 THEN ROUND(c_acctbal + 100.0, 2)
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    UNION ALL
    SELECT c_custkey + 10000000 AS c_custkey,
           c_nationkey,
           0.0 AS c_acctbal
    FROM customer WHERE c_nationkey = 0
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    modified = c.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    inserts = (
        c.filter(F.col("c_nationkey") == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 10000000)
        .withColumn("c_acctbal", F.lit(0.0))
    )
    updates = modified.unionByName(inserts)
    return R.merge_upsert(c, updates, key_cols=["c_custkey"])


# ---------------------------------------------------------------------------
# Null-semantics battery: NULLIF / COALESCE / null-safe equality (Spark
# `<=>` == SQL IS NOT DISTINCT FROM), booleans out as ints.
# ---------------------------------------------------------------------------
@register(
    "null_semantics_battery",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'none') AS seg_or_none,
           CAST(CASE WHEN c_mktsegment IS NOT DISTINCT FROM
                          nullif(c_mktsegment, 'BUILDING')
                     THEN 1 ELSE 0 END AS BIGINT) AS same_nullsafe,
           CAST(CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS was_building
    FROM customer
    """,
)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        F.coalesce(seg_null, F.lit("none")).alias("seg_or_none"),
        F.col("c_mktsegment").eqNullSafe(seg_null).cast("long").alias("same_nullsafe"),
        seg_null.isNull().cast("long").alias("was_building"),
    )


# ---------------------------------------------------------------------------
# Filtered aggregation (SQL FILTER clause ↔ count_if/sum(when)): multiple
# conditional counts in ONE pass — no per-predicate scans.
# ---------------------------------------------------------------------------
@register(
    "filtered_agg_counts",
    """
    SELECT c_nationkey,
           CAST(COUNT(*) FILTER (WHERE c_acctbal > 0) AS BIGINT) AS n_pos_bal,
           CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT)
             AS n_building,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                FILTER (WHERE c_acctbal > 0) AS BIGINT) AS pos_cents
    FROM customer GROUP BY c_nationkey
    """,
)
def filtered_agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = F.col("c_acctbal") > 0
    return c.groupBy("c_nationkey").agg(
        F.count_if(pos).alias("n_pos_bal"),
        F.count_if(F.col("c_mktsegment") == "BUILDING").alias("n_building"),
        F.sum(F.when(pos, cents)).alias("pos_cents"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (the general form rollup/cube specialize): disjoint
# groupings in one shuffle, ungrouped columns as typed NULLs.
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# One-pass table profile over orders: all per-column stats in a single
# scan/aggregate. The oracle is the UNION ALL of per-column stat rows.
# ---------------------------------------------------------------------------
def _profile_sql() -> str:
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    ]
    parts = [
        f"""
        SELECT '{c}' AS column,
               CAST(COUNT({c}) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_s,
               CAST(MAX({c}) AS VARCHAR) AS max_s
        FROM orders
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


@register("profile_orders_table", _profile_sql())
def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.skew import widen_narrow_scan

    # the exact-distinct expand (×5 columns) + partial aggregate run in the
    # scan's stage — one split locally (3.3 s on 5 tasks at sf0.1);
    # identity once the scan yields >= cores splits
    o = widen_narrow_scan(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        ),
        "o_orderkey",
    )
    return R.profile_table(o)


# ---------------------------------------------------------------------------
# Group-size histogram (aggregation of an aggregation): how many customers
# have k orders — the skew diagnostic run before choosing a join strategy.
# Two shuffles, both with map-side partials.
# ---------------------------------------------------------------------------
@register(
    "group_size_histogram",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ) t
    GROUP BY n_orders
    """,
)
def group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    sizes = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return sizes.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# Two-stage exact distinct count: pre-distinct on (key, value), then count
# per key. Same result as COUNT(DISTINCT) — but the first stage spreads a
# hot key's values across ALL partitions of the (key, value) hash space,
# so one viral key can't pin a single reducer the way a direct
# groupBy(key).agg(countDistinct) does at 100 TB. The oracle is the direct
# formulation; the hash match proves the decomposition.
# ---------------------------------------------------------------------------
@register(
    "two_stage_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def two_stage_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    pairs = e.select("event_type", "user_id").distinct()  # stage 1: (key, value) hash
    return (
        pairs.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))  # stage 2: count pre-deduped rows
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality expectation suite over orders: six constraints, ONE scan
# (single aggregate node feeding an explode). The oracle recomputes each
# constraint as a scalar subquery and stacks them with UNION ALL.
# ---------------------------------------------------------------------------
_DQ_SQL = """
    WITH m AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orderkey_not_null,
        CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)      AS orderkey_unique,
        CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)   AS totalprice_non_negative,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
          AS status_in_domain,
        CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT)
          AS priority_format,
        CAST(SUM(CASE WHEN o_orderdate > TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS BIGINT)
          AS orderdate_max_bound
      FROM orders
    )
    SELECT u."constraint", u."column", u.violations, u.violations = 0 AS passed
    FROM m, LATERAL (
      VALUES
        ('orderkey_not_null',      'o_orderkey',      m.orderkey_not_null),
        ('orderkey_unique',        'o_orderkey',      m.orderkey_unique),
        ('totalprice_non_negative','o_totalprice',    m.totalprice_non_negative),
        ('status_in_domain',       'o_orderstatus',   m.status_in_domain),
        ('priority_format',        'o_orderpriority', m.priority_format),
        ('orderdate_max_bound',    'o_orderdate',     m.orderdate_max_bound)
    ) AS u("constraint", "column", violations)
    ORDER BY u."constraint"
"""


@register("dq_expectations_orders", _DQ_SQL)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.quality import expectation_report

    orders = _t(spark, sf_dir, "orders")
    checks = [
        ("orderkey_not_null", "o_orderkey", "not_null", None),
        ("orderkey_unique", "o_orderkey", "unique", None),
        ("totalprice_non_negative", "o_totalprice", "min_ge", 0),
        ("status_in_domain", "o_orderstatus", "in_set", ["O", "F", "P"]),
        ("priority_format", "o_orderpriority", "matches", "^[1-5]-"),
        (
            "orderdate_max_bound",
            "o_orderdate",
            "max_le",
            F.lit("2002-01-01").cast("timestamp"),
        ),
    ]
    return expectation_report(orders, checks).orderBy("constraint")


# ---------------------------------------------------------------------------
# Snapshot reconciliation (data-diff): compare the orders table against a
# deterministically-drifted twin (keys %97 removed, %89 price-bumped, %83
# re-inserted under a shifted key) and classify every key as
# added/removed/changed/unchanged. Each side reduces to (key, row-hash)
# with a narrow scan; ONE full-outer equi-join decides the type; the
# report is a ≤4-row rollup. The hash is only compared within-engine, so
# no cross-engine hash contract is needed — the lakehouse audit shape
# that diffs two 100 TB snapshots with two scans and one key shuffle.
# ---------------------------------------------------------------------------
@register(
    "snapshot_diff_report",
    """
    WITH l AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
             o_orderstatus AS h
      FROM orders
    ),
    r AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END AS VARCHAR)
             || '|' || o_orderstatus AS h
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000 AS k,
             CAST(o_orderkey + 100000000 AS VARCHAR) || '|' ||
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
             o_orderstatus AS h
      FROM orders WHERE o_orderkey % 83 = 0
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys FROM (
      SELECT CASE WHEN l.h IS NULL THEN 'added'
                  WHEN r.h IS NULL THEN 'removed'
                  WHEN l.h <> r.h THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM l FULL OUTER JOIN r USING (k)
    ) GROUP BY change_type
    """,
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )
    left = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("cents"),
        "o_orderstatus",
    )
    right = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (
                F.col("cents")
                + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)
            ).alias("cents"),
            "o_orderstatus",
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 83 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("k"),
                F.col("cents"),
                "o_orderstatus",
            )
        )
    )
    diff = R.snapshot_diff(left, right, ["k"], ["k", "cents", "o_orderstatus"])
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


# ---------------------------------------------------------------------------
# CDC log compaction: the events table as an upsert changelog keyed on
# user_id, ordered by (ts, event_id); final state = each key's LAST record,
# tombstoned when that record is an 'error'. One struct-max groupBy — no
# window, no per-key log sort; map-side partials make the shuffle carry one
# candidate per key per task, the log-compaction shape at any scale.
# ---------------------------------------------------------------------------
@register(
    "cdc_compact_state",
    """
    WITH last AS (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           CAST(ROUND(value * 100) AS BIGINT) AS last_value_cents,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM last WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_compact_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    state = R.cdc_compact(
        e,
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
        payload_cols=["event_type", "value", "ts"],
        delete_predicate=F.col("event_type") == "error",
    )
    return state.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round(F.col("value") * 100).cast("long").alias("last_value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Set-operation surface: INTERSECT and EXCEPT (distinct semantics) over
# customer key sets — segment members who did/didn't order. Spark compiles
# both to aggregate-backed joins (one shuffle each); counts emitted so the
# oracle row is tiny and exact.
# ---------------------------------------------------------------------------
@register(
    "customer_set_ops",
    """
    WITH seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM seg INTERSECT SELECT * FROM buyers))
        AS building_buyers,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM seg EXCEPT SELECT * FROM buyers))
        AS building_never_ordered
    """,
)
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    buyers = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    both = seg.intersect(buyers).agg(
        F.count(F.lit(1)).alias("building_buyers")
    )
    never = seg.exceptAll(buyers).distinct().agg(
        F.count(F.lit(1)).alias("building_never_ordered")
    )
    return both.crossJoin(F.broadcast(never))
