"""Decision-support suite: TPC-H-shaped queries adapted to the testdata
schema (no partsupp/commitdate/receiptdate columns, synthetic nation names).

This covers the classic OLAP query class the rest of the registry doesn't:
correlated scalar subqueries, EXISTS / NOT EXISTS semi-joins, HAVING over a
subquery, and global-scalar thresholds. Spark has no correlated-subquery
DataFrame syntax, so each is re-expressed the way a 100 TB plan wants it
anyway:

- correlated scalar agg  -> pre-aggregate once, equi-join back (one shuffle
  on the correlation key instead of a per-row subquery),
- EXISTS / NOT EXISTS    -> leftsemi / leftanti hash joins,
- global scalar          -> one-row aggregate crossJoin(broadcast(...)),
- dimension lookups      -> broadcast hash joins (region/nation/supplier are
  tiny even at 100 TB fact scale; customer/part join on the shuffled side).

Every money aggregate goes through exact integer cents and every scalar
threshold is compared in cross-multiplied integer arithmetic (qty*2*cnt <
sum, cents*cnt > sum_cents, part_cents*10000 > total_cents*8) so both
engines compare the same integers — no float-boundary flakiness at any SF.

Reference parity: the reference engine (dfrll/pyrecount) has no
decision-support surface; this is §2.10-style extension coverage modeled on
the public TPC-H spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


def _cents(col):
    return F.round(col * 100).cast("long")


_REV_CENTS_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


def _rev_cents():
    return _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))


# ---------------------------------------------------------------------------
# Q3 shape — shipping priority: top unshipped orders by revenue for one
# market segment. Broadcast the filtered customer keys; the lineitem/orders
# join shuffles on orderkey only.
# ---------------------------------------------------------------------------
@register(
    "dss_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-07-01'
      AND l.l_shipdate > TIMESTAMP '1999-07-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, l.l_orderkey
    LIMIT 10
    """,
)
def dss_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-07-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-07-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4 shape — order priority with EXISTS: orders that had at least one item
# shipped >= 60 days after the order date. EXISTS -> leftsemi hash join on
# orderkey (the non-equi date bound rides along as a join residual).
# ---------------------------------------------------------------------------
@register(
    "dss_order_priority_exists",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def dss_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q5 shape — local supplier volume: revenue per nation for one region/year
# where the supplier and the customer share a nation. region/nation/supplier
# broadcast; the fact-side shuffle is orderkey-only.
# ---------------------------------------------------------------------------
@register(
    "dss_local_supplier_volume",
    f"""
    SELECT n.n_name,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC, n.n_name
    """,
)
def dss_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(asia_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share: fraction of a region's customer revenue supplied
# by one nation, per order year. Two integer-cent sums, ratio rounded in
# lockstep on both engines.
# ---------------------------------------------------------------------------
@register(
    "dss_market_share",
    f"""
    WITH base AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_REV_CENTS_SQL} AS rev_cents,
             CASE WHEN sn.n_name = 'NATION_7' THEN {_REV_CENTS_SQL} ELSE 0 END
               AS nat_cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'AMERICA'
    )
    SELECT o_year,
           CAST(SUM(nat_cents) AS BIGINT) AS nation_cents,
           CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
           ROUND(CAST(SUM(nat_cents) AS DOUBLE) / SUM(rev_cents), 6) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def dss_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    america = F.broadcast(
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            nation.n_regionkey == region.r_regionkey,
        ).select(F.col("n_nationkey").alias("cust_nk"))
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev = _rev_cents()
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(america, F.col("c_nationkey") == F.col("cust_nk"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev.alias("rev_cents"),
            F.when(F.col("supp_nation") == "NATION_7", rev)
            .otherwise(F.lit(0))
            .alias("nat_cents"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum("nat_cents").alias("nation_cents"),
            F.sum("rev_cents").alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            F.round(
                F.col("nation_cents").cast("double") / F.col("total_cents"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q10 shape — returned-item losses: customers ranked by revenue of returned
# lineitems in one quarter.
# ---------------------------------------------------------------------------
@register(
    "dss_returned_item_losses",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-10-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, c.c_custkey
    LIMIT 20
    """,
)
def dss_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 shape — important parts: parts whose revenue exceeds 1.5x the mean
# part revenue. The global scalar is a one-row aggregate crossJoin(broadcast)
# and the threshold compare is pure int64 cross-multiplication
# (cents*n_parts*2 > total*3) — scale-free, so it stays non-vacuous at
# every SF (a fixed fraction of the total goes empty as the part count
# grows).
# ---------------------------------------------------------------------------
@register(
    "dss_important_parts_scalar",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS part_cents
      FROM lineitem GROUP BY l_partkey
    ), total AS (
      SELECT CAST(SUM(part_cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM per_part
    )
    SELECT p.l_partkey AS p_partkey, p.part_cents
    FROM per_part p, total t
    WHERE p.part_cents * t.n_parts * 2 > t.total_cents * 3
    ORDER BY p.part_cents DESC, p.l_partkey
    LIMIT 100
    """,
)
def dss_important_parts_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_rev_cents()).alias("part_cents"))
    total = per_part.agg(
        F.sum("part_cents").alias("total_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_cents") * F.col("n_parts") * 2 > F.col("total_cents") * 3)
        .select(F.col("l_partkey").alias("p_partkey"), "part_cents")
        .orderBy(F.desc("part_cents"), "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution, INCLUDING zero-order
# customers (left outer, not the anti-join twin customers_without_orders).
# ---------------------------------------------------------------------------
@register(
    "dss_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def dss_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q14 shape — promotion revenue share per month: conditional aggregate ratio
# over one ship-year.
# ---------------------------------------------------------------------------
@register(
    "dss_promo_revenue_share",
    f"""
    SELECT CAST(EXTRACT(month FROM l.l_shipdate) AS BIGINT) AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_CENTS_SQL} ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS total_cents,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_CENTS_SQL}
                                  ELSE 0 END)
                 / SUM({_REV_CENTS_SQL}), 6) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY ship_month
    ORDER BY ship_month
    """,
)
def dss_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_cents()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
                "promo_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
        .select(
            "ship_month",
            "promo_cents",
            "total_cents",
            F.round(
                100.0 * F.col("promo_cents").cast("double") / F.col("total_cents"), 6
            ).alias("promo_share"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# Q17 shape — small-lot revenue: lineitems with quantity below half the
# part's average quantity. The correlated AVG becomes a per-part pre-agg
# joined back; the compare is cross-multiplied into exact integers:
# qty < 0.5 * (sum/cnt)  <=>  2*qty*cnt < sum.
# ---------------------------------------------------------------------------
@register(
    "dss_small_lot_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
             CAST(COUNT(*) AS BIGINT) AS qty_cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lots,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS small_lot_cents
    FROM lineitem l JOIN part_avg a ON l.l_partkey = a.l_partkey
    WHERE 2 * CAST(l.l_quantity AS BIGINT) * a.qty_cnt < a.qty_sum
    """,
)
def dss_small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    return (
        li.join(part_avg.withColumnRenamed("l_partkey", "pk"), F.col("l_partkey") == F.col("pk"))
        .filter(2 * F.col("l_quantity").cast("long") * F.col("qty_cnt") < F.col("qty_sum"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lots"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("small_lot_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 shape — large-volume customers: orders whose total quantity clears a
# threshold (HAVING over a grouped subquery), joined back to the customer.
# ---------------------------------------------------------------------------
@register(
    "dss_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY totalprice_cents DESC, o.o_orderkey
    """,
)
def dss_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice_cents"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q21 shape — suppliers who kept orders waiting: the sole late supplier on a
# finished multi-supplier order. The EXISTS / NOT EXISTS pair collapses into
# one per-order aggregation (n_supp > 1 AND n_late == 1) — same result, one
# shuffle; the oracle proves equivalence with literal EXISTS subqueries.
# ---------------------------------------------------------------------------
@register(
    "dss_suppliers_kept_waiting",
    """
    WITH pairs AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM pairs p
    JOIN supplier s ON p.l_suppkey = s.s_suppkey
    WHERE p.is_late = 1
      AND EXISTS (SELECT 1 FROM pairs q
                  WHERE q.l_orderkey = p.l_orderkey
                    AND q.l_suppkey <> p.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM pairs q
                      WHERE q.l_orderkey = p.l_orderkey
                        AND q.l_suppkey <> p.l_suppkey AND q.is_late = 1)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def dss_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pairs = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    waiting = (
        pairs.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q22 shape — sales opportunity: rich customers (balance above the positive-
# balance average — exact via cents*cnt > sum_cents) with no RECENT orders
# (NOT EXISTS -> leftanti; "no orders at all" is vacuous on this data — every
# SF has ≤1 such customer, so the lapsed-since-2000 variant keeps the
# anti-join load-bearing).
# ---------------------------------------------------------------------------
@register(
    "dss_global_sales_opportunity",
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
    FROM customer c, pos p
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * p.cnt > p.sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def dss_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    bal_cents = _cents(F.col("c_acctbal"))
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_cents).alias("sum_cents"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(bal_cents * F.col("cnt") > F.col("sum_cents"))
        .join(orders, cust.c_custkey == orders.o_custkey, "leftanti")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal_cents).alias("totacctbal_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q2 shape — cheapest supplier per part: the correlated MIN subquery becomes
# a per-part pre-agg equi-joined back. Unit price is exact int64 floor-
# division of cents by units; ties resolve to the lowest suppkey.
# ---------------------------------------------------------------------------
@register(
    "dss_min_cost_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS unit_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, MIN(unit_cents) AS min_unit_cents FROM unit GROUP BY l_partkey
    ), pick AS (
      SELECT u.l_partkey, MIN(u.l_suppkey) AS best_suppkey, b.min_unit_cents
      FROM unit u JOIN best b
        ON u.l_partkey = b.l_partkey AND u.unit_cents = b.min_unit_cents
      GROUP BY u.l_partkey, b.min_unit_cents
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, k.min_unit_cents
    FROM pick k
    JOIN part p ON k.l_partkey = p.p_partkey
    JOIN supplier s ON k.best_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size < 10
    ORDER BY k.min_unit_cents, p.p_partkey
    LIMIT 100
    """,
)
def dss_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10).select(
        "p_partkey", "p_brand"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
            " div SUM(CAST(l_quantity AS BIGINT))"
        ).alias("unit_cents")
    )
    best = unit.groupBy("l_partkey").agg(F.min("unit_cents").alias("min_unit_cents"))
    pick = (
        unit.join(
            best.withColumnRenamed("l_partkey", "bpk"),
            (F.col("l_partkey") == F.col("bpk"))
            & (F.col("unit_cents") == F.col("min_unit_cents")),
        )
        .groupBy("l_partkey", "min_unit_cents")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    return (
        pick.join(part, pick.l_partkey == part.p_partkey)
        .join(supp, F.col("best_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_brand", "s_name", "n_name", "min_unit_cents")
        .orderBy("min_unit_cents", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue: the scalar MAX over a
# derived view, joined back (ties all surface). The revenue view aggregates
# once; the max is a 1-row broadcast.
# ---------------------------------------------------------------------------
@register(
    "dss_top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    ), mx AS (SELECT MAX(total_cents) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    CROSS JOIN mx WHERE r.total_cents = mx.m
    ORDER BY s.s_suppkey
    """,
)
def dss_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_cents()).alias("total_cents"))
    mx = rev.agg(F.max("total_cents").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("m"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive predicate revenue: OR-of-ANDs across the join
# (brand × size-range × quantity-range alternatives). One broadcast join;
# the disjunction stays a single scan-level filter (no union of scans).
# ---------------------------------------------------------------------------
@register(
    "dss_disjunctive_predicates",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def dss_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_rev_cents()).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Daily revenue time series with 7-day moving average and day-over-day
# delta. The window runs over the POST-AGGREGATE daily frame (thousands of
# rows at any corpus size), so the unpartitioned total order is safe — the
# wide data already collapsed in the one groupBy.
# ---------------------------------------------------------------------------
@register(
    "daily_revenue_moving_avg",
    f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM orders GROUP BY 1
    )
    SELECT day, day_cents,
           CAST(FLOOR(CAST(SUM(day_cents) OVER w7 AS DOUBLE)
                      / COUNT(*) OVER w7) AS BIGINT) AS ma7_cents,
           CAST(day_cents - lag(day_cents) OVER (ORDER BY day) AS BIGINT)
             AS dod_delta_cents
    FROM daily
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("day_cents"))
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    wl = Window.orderBy("day")
    return daily.select(
        "day",
        "day_cents",
        # floor(sum/count), NOT cast(avg): DuckDB's double->int cast rounds
        # while Spark's truncates — floor of the exact windowed integer sum
        # is the same in both
        F.floor(
            F.sum("day_cents").over(w7).cast("double") / F.count(F.lit(1)).over(w7)
        ).cast("long").alias("ma7_cents"),
        (F.col("day_cents") - F.lag("day_cents").over(wl)).cast("long").alias(
            "dod_delta_cents"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Customer lifetime-value deciles: per-customer revenue -> decile buckets ->
# per-decile totals. The decile is computed from rank over the POST-
# AGGREGATE per-customer frame (one row per customer), with a formula both
# engines share exactly: decile = floor(10*(rank-1)/n), rank total-ordered
# by (revenue desc, custkey). NTILE is avoided — its remainder-distribution
# is engine-defined; this formula is pure integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "customer_ltv_deciles",
    """
    WITH ltv AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cust_cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, cust_cents,
             ROW_NUMBER() OVER (ORDER BY cust_cents DESC, o_custkey) AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM ltv
    )
    SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cust_cents) AS BIGINT) AS decile_cents,
           CAST(MIN(cust_cents) AS BIGINT) AS min_cents,
           CAST(MAX(cust_cents) AS BIGINT) AS max_cents
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.windows import bucketed_global_rank

    orders = _t(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cust_cents")
    )
    # global rank WITHOUT an unpartitioned window: bucket by cents range,
    # rank in-bucket, add broadcast carry-in offsets (bit-identical to the
    # oracle's ROW_NUMBER() OVER (ORDER BY cust_cents DESC, o_custkey))
    ranked = bucketed_global_rank(
        ltv, "cust_cents", "o_custkey", ascending=False, rank_col="rnk"
    )
    n_df = ltv.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranked.crossJoin(F.broadcast(n_df)).select("cust_cents", "rnk", "n")
    return (
        ranked.groupBy(
            F.expr("CAST((rnk - 1) * 10 div n AS BIGINT)").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cust_cents").alias("decile_cents"),
            F.min("cust_cents").alias("min_cents"),
            F.max("cust_cents").alias("max_cents"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Order-fulfillment lag histogram: days from order to FIRST shipment,
# bucketed. The per-order MIN is the one shuffle; day arithmetic is exact
# integer (both timestamps are midnight-aligned, so the µs difference
# divides evenly).
# ---------------------------------------------------------------------------
@register(
    "order_fulfillment_lag_histogram",
    """
    WITH first_ship AS (
      SELECT l_orderkey, MIN(l_shipdate) AS fs FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(date_diff('day', o.o_orderdate, f.fs) // 7 AS BIGINT) AS lag_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def order_fulfillment_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("fs"))
    return (
        orders.join(first_ship, orders.o_orderkey == first_ship.l_orderkey)
        .groupBy(
            F.expr("CAST(datediff(fs, o_orderdate) div 7 AS BIGINT)").alias("lag_weeks")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("lag_weeks")
    )


# ---------------------------------------------------------------------------
# Nation share of region: each nation's customer revenue as a fraction of
# its region's total — the windowed percent-of-total BI shape, computed
# over the POST-AGGREGATE per-nation frame (25 rows), where an
# unpartitioned-by-size window is free.
# ---------------------------------------------------------------------------
@register(
    "nation_share_of_region",
    """
    WITH per_nation AS (
      SELECT n.n_name, r.r_name,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS nation_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT r_name, n_name, nation_cents,
           CAST(SUM(nation_cents) OVER (PARTITION BY r_name) AS BIGINT)
             AS region_cents,
           ROUND(CAST(nation_cents AS DOUBLE)
                 / SUM(nation_cents) OVER (PARTITION BY r_name), 6) AS share
    FROM per_nation ORDER BY r_name, n_name
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("nation_cents"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "nation_cents",
        F.sum("nation_cents").over(w).alias("region_cents"),
        F.round(
            F.col("nation_cents").cast("double") / F.sum("nation_cents").over(w), 6
        ).alias("share"),
    ).orderBy("r_name", "n_name")


# ---------------------------------------------------------------------------
# Revenue concentration (Gini coefficient) over per-customer revenue:
# G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n with x rank-ordered ascending.
# Σ(rank·x) is an exact int64 sum (rank ≤ 1.5e4, cents ≤ 5e5 at sf0.1 —
# comfortably inside int64 at these SFs; a 100 TB run would fold the same
# sum in decimal(38)), so both engines divide identical integers.
# ---------------------------------------------------------------------------
@register(
    "customer_revenue_gini",
    """
    WITH ltv AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rnk
      FROM ltv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           ROUND(2.0 * CAST(SUM(rnk * cents) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.windows import bucketed_global_rank

    orders = _t(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    )
    # bucket+carry-in global rank (no unpartitioned window); identical ranks
    # to ROW_NUMBER() OVER (ORDER BY cents, o_custkey), so Σ(rnk·cents) is
    # the same exact int64 on both engines
    ranked = bucketed_global_rank(
        ltv, "cents", "o_custkey", ascending=True, rank_col="rnk"
    ).select("cents", "rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.round(
            2.0 * F.sum(F.col("rnk") * F.col("cents")).cast("double")
            / (F.count(F.lit(1)) * F.sum("cents").cast("double"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q6 shape — forecast revenue change: the pure scan-filter-aggregate
# (quantity/discount band over one ship-year). No join, no shuffle beyond
# the final 1-row combine; the predicate pushes to the parquet scan.
# Discount is stored at 2 decimals, so the band compares integer
# percent points.
# ---------------------------------------------------------------------------
@register(
    "dss_forecast_revenue_change",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS forecast_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
      AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def dss_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_pts = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & disc_pts.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
            ).alias("forecast_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations, both directions, by ship
# year: customer in one nation, supplier in the other. Both nation lookups
# broadcast; the fact side shuffles on orderkey only.
# ---------------------------------------------------------------------------
@register(
    "dss_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE (cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
       OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def dss_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = F.broadcast(nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    pair = (
        (F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7")
    ) | ((F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cn, F.col("c_nationkey") == F.col("cnk"))
        .join(sn, F.col("s_nationkey") == F.col("snk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q9 shape — product-type profit by supplier nation and year. No partsupp
# table exists, so supply cost is proxied as half the part's retail price
# (integer half-cents: ROUND(p_retailprice*50) — exact in both engines);
# profit = revenue − qty·cost. Filtered to one product family by name,
# like the original's p_name LIKE.
# ---------------------------------------------------------------------------
@register(
    "dss_product_profit",
    f"""
    SELECT n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({_REV_CENTS_SQL}
                    - CAST(l.l_quantity AS BIGINT)
                      * CAST(ROUND(p.p_retailprice * 50) AS BIGINT)) AS BIGINT)
             AS profit_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
)
def dss_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev_cents() - F.col("l_quantity").cast("long") * F.round(
        F.col("p_retailprice") * 50
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
        .orderBy("n_name", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q12 shape — late-shipment priority audit. The testdata has no l_shipmode /
# l_commitdate / l_receiptdate, so the mode dimension is l_returnflag and
# "late" is shipdate >= orderdate + 90 days, windowed to one ship year.
# The join shuffles on orderkey only; both priority counters are
# conditional sums that combine map-side in the same hash aggregate.
# ---------------------------------------------------------------------------
@register(
    "dss_late_shipment_priority",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1999-01-01'
      AND l.l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
)
def dss_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q16 shape — parts/supplier relationship. No partsupp table exists, so the
# observed DISTINCT (l_partkey, l_suppkey) pairs from lineitem stand in for
# it; "complaint" suppliers are proxied by s_acctbal < 1000. NOT IN →
# broadcast left-anti hash join (supplier is tiny at any SF); the part
# dimension filter is applied BEFORE its broadcast so only surviving parts
# ship to executors; COUNT(DISTINCT supplier) partials-aggregates per group.
# ---------------------------------------------------------------------------
@register(
    "dss_parts_supplier_relationship",
    """
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 9, 14, 19, 24, 29, 36, 45)
      AND ps.l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
)
def dss_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    complained = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & ~F.col("p_type").like("PROMO%")
            & F.col("p_size").isin(1, 9, 14, 19, 24, 29, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(
            complained,
            pairs.l_suppkey == complained.s_suppkey,
            "left_anti",
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20 shape — potential part promotion. No partsupp.availqty exists, so the
# "excess availability" predicate becomes: within the 1999 ship year, the
# supplier shipped MORE THAN 20% of a promo-family part's total volume
# (cross-multiplied integers: 5·pair_qty > total_qty — quantities are
# integral doubles, rounded to long, so both engines compare the same
# integers). The correlated subquery is re-expressed as: one (part, supp)
# aggregate, one per-part re-aggregate of those partials, an equi-join on
# partkey, then a semi-join into the tiny supplier dimension.
# ---------------------------------------------------------------------------
@register(
    "dss_potential_promotion",
    """
    WITH y AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS pair_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        AND l_shipdate < TIMESTAMP '2000-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS total_qty
      FROM y GROUP BY 1
    ),
    big AS (
      SELECT DISTINCT y.l_suppkey
      FROM y JOIN tot USING (l_partkey)
      WHERE 5 * y.pair_qty > tot.total_qty
    )
    SELECT s.s_name,
           CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM big)
      AND s.s_nationkey < 13
    ORDER BY s.s_name
    """,
)
def dss_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    promo = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("large%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    pair = (
        li.join(promo, li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("pair_qty"))
    )
    tot = pair.groupBy("l_partkey").agg(F.sum("pair_qty").alias("total_qty"))
    big = (
        pair.join(tot, on="l_partkey")
        .filter(F.lit(5) * F.col("pair_qty") > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 13)
    return (
        supp.join(big, supp.s_suppkey == big.l_suppkey, "left_semi")
        .select(
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .orderBy("s_name")
    )
