"""Range-join and as-of-join queries with DuckDB oracles (SURVEY §2.3 gap
list — the joins the reference lacks, built scale-first)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.joins import asof_join, range_join_binned
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Binned range join: parts against overlapping price bands. The naive plan
# is a nested-loop theta join; the operator turns it into an equi join on
# bin ids (hash-partitionable at any scale).
# ---------------------------------------------------------------------------
@register(
    "range_join_price_bands",
    """
    WITH bands AS (
      SELECT i AS band_id, 900 + i * 8.0 AS lo, 915 + i * 8.0 AS hi
      FROM range(12) t(i)
    )
    SELECT b.band_id, COUNT(*) AS n_parts
    FROM part p JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band_id
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.range(12).select(
        F.col("id").alias("band_id"),
        (900 + F.col("id") * 8.0).alias("lo"),
        (915 + F.col("id") * 8.0).alias("hi"),
    )
    joined = range_join_binned(part, bands, "p_retailprice", "lo", "hi", bin_width=16.0)
    return joined.groupBy("band_id").agg(F.count(F.lit(1)).alias("n_parts"))


# ---------------------------------------------------------------------------
# As-of join: for each lineitem shipment, the same customer's most recent
# order placed on/before the ship date (latest-by-date, ties -> highest
# orderkey). Union-merge plan: ONE shuffle on the key, no range join.
# The oracle replicates the identical merge with SQL window functions.
# ---------------------------------------------------------------------------
@register(
    "asof_join_latest_order",
    """
    WITH lf AS (
      SELECT o.o_custkey AS custkey, l.l_orderkey, l.l_linenumber, l.l_shipdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), merged AS (
      SELECT custkey, l_shipdate AS t, 1 AS side, l_orderkey, l_linenumber,
             CAST(NULL AS BIGINT) AS r_key, CAST(NULL AS TIMESTAMP) AS r_date
      FROM lf
      UNION ALL
      SELECT o_custkey, o_orderdate, 0, NULL, NULL, o_orderkey, o_orderdate
      FROM orders
    ), carried AS (
      SELECT *,
             last_value(r_key IGNORE NULLS) OVER w AS asof_o_orderkey,
             last_value(r_date IGNORE NULLS) OVER w AS asof_ts
      FROM merged
      WINDOW w AS (PARTITION BY custkey ORDER BY t, side, r_key
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT l_orderkey, l_linenumber, asof_o_orderkey,
           strftime(asof_ts, '%Y-%m-%d') AS asof_date
    FROM carried WHERE side = 1
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lf = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        F.col("o_custkey").alias("custkey"), "l_orderkey", "l_linenumber", "l_shipdate"
    )
    rt = orders.select(F.col("o_custkey").alias("custkey"), "o_orderdate", "o_orderkey")
    out = asof_join(
        lf,
        rt,
        on=["custkey"],
        left_time="l_shipdate",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "asof_o_orderkey",
        F.date_format("asof_o_orderdate", "yyyy-MM-dd").alias("asof_date"),
    )


# ---------------------------------------------------------------------------
# Salted join: identical output to the plain join (salting only changes
# partitioning), so the oracle is the unsalted SQL. Demonstrates the hot-key
# mitigation pattern for 100 TB fact-dimension joins.
# ---------------------------------------------------------------------------
@register(
    "salted_join_parts",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def salted_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, on=["p_partkey"], salt=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Q5-shaped six-table star join: fixed-size dims (region->nation) carry
# explicit broadcast hints; the SF-scaled sides (customer, supplier) carry
# NONE — the planner broadcasts them while their parquet stats fit
# autoBroadcastJoinThreshold and falls back to shuffle joins at scale
# (AQE re-checks at runtime). The date filter lands in the orders scan
# (PushedFilters) and the region filter prunes nation/supplier/customer
# before any join — at 100 TB the fact scan is the whole cost.
# ---------------------------------------------------------------------------
@register(
    "regional_revenue_star",
    """
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def regional_revenue_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = li.join(oc, F.col("l_orderkey") == F.col("o_orderkey")).join(
        s,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return joined.groupBy("n_name").agg(F.sum(rev).alias("revenue_cents"))


# ---------------------------------------------------------------------------
# Blocked fuzzy match: Levenshtein ≤ 3 pairs within p_brand. The round-7
# time-vs-scale audit flagged this at 27.8× time on 10× data — measured
# root cause: the OUTPUT grew 104× (4 820 → 503 800 pairs, sf0.01→sf0.1).
# TPC-H p_names draw 5 words from a FIXED 92-color vocabulary, so ed≤3
# pairs are quadratically dense (~6% of all in-block pairs qualify) and
# ANY exact algorithm is Ω(output) = Ω(N²) on this corpus; time growing
# 27.8× against 104× output is SUBLINEAR in the output. The in-block
# all-pairs shape was also measured ~1.9× faster here than PassJoin
# partition signatures (segment keys are vocabulary-bound on this corpus
# too, so candidates don't shrink — 13.5 s vs 7.1 s warm at sf0.1). On
# real corpora whose name vocabulary GROWS with the data — where in-block
# all-pairs is a true scale-killer while output stays sparse — use
# fuzzy_match_passjoin below (same oracle, byte-identical results,
# content-derived keys, constant per-row fan-out).
# ---------------------------------------------------------------------------
@register(
    "fuzzy_match_blocked",
    """
    SELECT a.p_brand,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.skew import widen_narrow_scan

    # the broadcast join + in-block pair explode + levenshtein verify all
    # run in the probe SCAN's stage — 3 tasks over an under-split local
    # file (5.5 task-s serialized at sf0.1); identity at scale
    p = widen_narrow_scan(
        _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand"),
        "p_partkey",
    )
    a = p.select(
        F.col("p_brand"), F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a")
    )
    b = p.select(
        F.col("p_brand"), F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b")
    )
    pairs = a.join(b, on="p_brand").filter(F.col("id_a") < F.col("id_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        pairs.withColumn("dist", dist.cast("long"))
        .filter(F.col("dist") <= 3)
        .select("p_brand", "id_a", "id_b", "dist")
    )


@register(
    "fuzzy_match_passjoin",
    """
    SELECT a.p_brand,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_match_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path twin of fuzzy_match_blocked: PassJoin partition
    signatures (operators/joins.py:edit_distance_pairs) instead of
    in-block all-pairs. The ORACLE is the plain quadratic formulation, so
    a pass proves the signature scheme's candidate set is complete (no
    false negatives) on the whole corpus at every scale factor. Preferred
    at 100 TB whenever the name vocabulary grows with the corpus: the
    blocked shape's fixed-cardinality key makes in-block pairs quadratic
    in data size, while segment-signature keys are content-derived and
    keep buckets small; on THIS fixed-vocabulary synthetic corpus both
    are output-bound (see fuzzy_match_blocked's header note)."""
    from pyrecount_spark.operators.joins import edit_distance_pairs

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return edit_distance_pairs(
        p, "p_name", "p_partkey", k=3, block_cols=("p_brand",)
    ).select("p_brand", "id_a", "id_b", "dist")


# ---------------------------------------------------------------------------
# Interval-overlap join: per-customer 30-day order activity windows that
# overlap each other. The customer key makes this an equi-join with the
# overlap condition as a join predicate (hash join + filter, never a
# nested-loop); for interval sets WITHOUT an equi key, bin the time axis
# exactly as range_join_binned does.
# ---------------------------------------------------------------------------
@register(
    "interval_overlap_orders",
    """
    WITH iv AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS e
      FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(date_diff('day',
                          greatest(a.s, b.s),
                          least(a.e, b.e)) + 1 AS BIGINT) AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    a = iv.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = iv.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    joined = a.join(
        b,
        on=[
            a.o_custkey == b.o_custkey,
            F.col("key_a") < F.col("key_b"),
            F.col("s_a") <= F.col("e_b"),
            F.col("s_b") <= F.col("e_a"),
        ],
    )
    return joined.select(
        a.o_custkey,
        "key_a",
        "key_b",
        (
            F.datediff(
                F.least(F.col("e_a"), F.col("e_b")),
                F.greatest(F.col("s_a"), F.col("s_b")),
            )
            + 1
        )
        .cast("long")
        .alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# Bloom semi-join reduction: prefilter lineitem on a deterministic Bloom
# filter of the selective orders subset's keys, then join. False positives
# are removed by the real join, so the result is EXACTLY the plain join —
# which is the oracle.
# ---------------------------------------------------------------------------
_BLOOM_SQL = f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 480000
    GROUP BY 1 ORDER BY 1
"""


@register("bloom_prefilter_revenue", _BLOOM_SQL)
def bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.joins import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    hot = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    joined = bloom_prefilter_join(
        li, hot.select("o_orderkey", "o_orderstatus"), "l_orderkey", "o_orderkey"
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_cents"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Entity-resolution blocking + edit-distance matching: candidate part-name
# pairs come from an EQUI-join on the blocking key (first name token +
# brand), then native levenshtein filters within the block — the classic
# ER shape. Scale caveat (round-7 audit): the blocking key is
# VOCABULARY-bound (~92 first words × 25 brands on this corpus), so block
# sizes grow with the data and in-block pairs grow quadratically — but at
# ed ≤ 10 on ~30-char names nearly every in-block pair QUALIFIES, so the
# query is output-bound regardless and signature schemes cannot prune it
# (k=10 PassJoin segments are ~3 chars — no selectivity). For small-k
# matching where pruning is possible, use fuzzy_match_passjoin /
# edit_distance_pairs. Both engines implement identical textbook
# Levenshtein, so the oracle is exact.
# ---------------------------------------------------------------------------
@register(
    "er_blocked_name_matches",
    """
    WITH p AS (
      SELECT p_partkey, p_name, p_brand,
             string_split(p_name, ' ')[1] AS blk
      FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_brand = b.p_brand
         AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 10
    """,
)
def er_blocked_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.skew import widen_narrow_scan

    # same under-split-scan serialization as fuzzy_match_blocked (the
    # in-block explode + levenshtein ran on 3 tasks at sf0.1); identity
    # once the scan yields >= cores splits
    p = widen_narrow_scan(
        _t(spark, sf_dir, "part").select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
        ),
        "p_partkey",
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("_na"),
        F.col("p_brand").alias("_ba"),
        "blk",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("_nb"),
        F.col("p_brand").alias("_bb"),
        F.col("blk").alias("_blkb"),
    )
    pairs = a.join(
        b,
        (F.col("blk") == F.col("_blkb"))
        & (F.col("_ba") == F.col("_bb"))
        & (F.col("key_a") < F.col("key_b")),
    )
    return (
        pairs.withColumn(
            "edit_dist", F.levenshtein(F.col("_na"), F.col("_nb")).cast("long")
        )
        .filter(F.col("edit_dist") <= 10)
        .select("key_a", "key_b", "edit_dist")
    )
