"""Scalar-function queries (SURVEY.md §2.7 F1-F9) with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.functions.scalars import split_to_columns, value_remap
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# F1 — regex field extraction (the reference's GTF attribute UDF,
# accessor.py:227-256, rebuilt as native regexp_extract). Exercised on
# part.p_brand / p_type, same `pattern -> capture group` shape.
# ---------------------------------------------------------------------------
@register(
    "regexp_extract_fields",
    """
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#(\\d+)', 1)  AS brand_num,
           regexp_extract(p_type,  '^(\\w+)', 1)       AS type_head
    FROM part
    """,
)
def regexp_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
    )


# ---------------------------------------------------------------------------
# F2 — split-to-struct/unnest (exon key split, accessor.py:548-560).
# p_brand 'Brand#NN' splits into 2 parts; the absent 3rd part exercises the
# reference's null-field behavior (typed null, accessor.py:246-250).
# ---------------------------------------------------------------------------
@register(
    "split_composite_key",
    """
    SELECT p_partkey,
           NULLIF(split_part(p_brand, '#', 1), '') AS brand_word,
           CAST(NULLIF(split_part(p_brand, '#', 2), '') AS BIGINT) AS brand_id,
           NULLIF(split_part(p_brand, '#', 3), '') AS missing_part
    FROM part
    """,
)
def split_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    out = split_to_columns(
        p,
        "p_brand",
        "#",
        ["brand_word", "brand_id", "missing_part"],
        casts={"brand_id": "long"},
    )
    return out.select("p_partkey", "brand_word", "brand_id", "missing_part")


# ---------------------------------------------------------------------------
# F3 — value remap (organism renaming, utils.py:6-9) on region names.
# ---------------------------------------------------------------------------
@register(
    "value_remap_region",
    """
    SELECT r_regionkey,
           CASE r_name WHEN 'AMERICA' THEN 'america'
                       WHEN 'ASIA' THEN 'asia'
                       ELSE r_name END AS region
    FROM region
    """,
)
def value_remap_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    mapping = {"AMERICA": "america", "ASIA": "asia"}
    return r.select("r_regionkey", value_remap(F.col("r_name"), mapping).alias("region"))


# ---------------------------------------------------------------------------
# F4-F7 — casts, conditional, arithmetic w/ pow, round-to-int: the scale-
# factor expression shape (accessor.py:127-144) on lineitem columns.
# sf = target * L * paired / (reads * len^2), then round(0)::long (F7).
# ---------------------------------------------------------------------------
@register(
    "arith_conditional_scale",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(
             1e9 * l_quantity *
             (CASE WHEN ROUND(l_extendedprice / (l_quantity * 1000)) = 2
                   THEN 2 ELSE 1 END)
             / (l_extendedprice * POW(l_quantity + 1, 2)), 0) AS BIGINT) AS sf
    FROM lineitem
    """,
)
def arith_conditional_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    paired = F.when(
        F.round(F.col("l_extendedprice") / (F.col("l_quantity") * 1000)) == 2, F.lit(2)
    ).otherwise(F.lit(1))
    sf = (
        F.lit(1e9)
        * F.col("l_quantity")
        * paired
        / (F.col("l_extendedprice") * F.pow(F.col("l_quantity") + 1, 2))
    )
    return li.select(
        "l_orderkey", "l_linenumber", F.round(sf, 0).cast("long").alias("sf")
    )


# ---------------------------------------------------------------------------
# JSON extraction (SURVEY §2.7 gap list → driver events.props).
# ---------------------------------------------------------------------------
@register(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Scalar function battery: date parts, math, string functions — the wider
# built-in surface (SURVEY §2.7 "not present" list) in one portable query.
# ---------------------------------------------------------------------------
@register(
    "scalar_function_battery",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)   AS yr,
           CAST(month(o_orderdate) AS BIGINT)  AS mo,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CAST(CEIL(o_totalprice) AS BIGINT)  AS price_ceil,
           CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 7 AS BIGINT) AS price_mod7,
           ABS(ROUND(o_totalprice - 1000.0, 2)) AS abs_delta,
           lower(o_orderpriority)              AS prio_lower,
           substr(o_orderpriority, 1, 3)       AS prio_head,
           replace(o_orderstatus, 'O', 'OPEN') AS status_long,
           lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
           concat(o_orderstatus, '|', o_orderpriority) AS status_prio
    FROM orders
    """,
)
def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        (F.floor("o_totalprice") % 7).alias("price_mod7"),
        F.abs(F.round(F.col("o_totalprice") - 1000.0, 2)).alias("abs_delta"),
        F.lower("o_orderpriority").alias("prio_lower"),
        F.substring("o_orderpriority", 1, 3).alias("prio_head"),
        F.replace(F.col("o_orderstatus"), F.lit("O"), F.lit("OPEN")).alias("status_long"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
    )


# ---------------------------------------------------------------------------
# Exact quantiles + moments per group (gap list: approx/percentile aggs).
# Spark `percentile` (exact, interpolated) == DuckDB `quantile_cont`.
# ---------------------------------------------------------------------------
@register(
    "quantile_stats",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4)  AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 4)  AS p90_qty,
           ROUND(stddev_samp(l_quantity), 4)         AS sd_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Array function battery over the embedding column: higher-order functions
# (transform/filter/aggregate) stay JVM-side — no UDF for any of this.
# Floats are rounded (or floored to ints) before leaving, so the fold-order
# difference between engines can't surface.
# ---------------------------------------------------------------------------
@register(
    "array_function_battery",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS BIGINT)
             AS n_pos,
           ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 4)
             AS sum_abs,
           list_aggregate(
             list_transform(array_slice(CAST(embedding AS DOUBLE[]), 1, 3),
                            x -> CAST(CAST(FLOOR(x * 1000) AS BIGINT) AS VARCHAR)),
             'string_agg', ',') AS head3,
           ROUND(list_max(CAST(embedding AS DOUBLE[])), 4) AS max_v
    FROM embeddings
    """,
)
def array_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + F.abs(x)), 4).alias("sum_abs"),
        F.array_join(
            F.transform(F.slice(v, 1, 3), lambda x: F.floor(x * 1000).cast("string")), ","
        ).alias("head3"),
        F.round(F.array_max(v), 4).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Datetime function battery. Timestamps leave as formatted strings (engine-
# neutral); Spark dayofweek is 1=Sunday vs DuckDB 0=Sunday, reconciled in
# the oracle. add_months and INTERVAL MONTH both clamp to month end.
# ---------------------------------------------------------------------------
@register(
    "datetime_function_battery",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-08-02 00:00:00') AS BIGINT)
             AS days_to_end,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
    FROM orders
    """,
)
def datetime_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("1998-08-02").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_end"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
    )


# ---------------------------------------------------------------------------
# arg-max per group without a window: max_by over a composite integer
# ordinal (cents * 10^7 + key — unique, so the pick is deterministic in any
# engine). One aggregation, no per-group sort; the window-free idiom for
# "top row per key" at scale.
# ---------------------------------------------------------------------------
@register(
    "argmax_customer_per_nation",
    """
    SELECT c_nationkey,
           arg_max(c_custkey,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey)
             AS top_custkey,
           ROUND(MAX(c_acctbal), 2) AS top_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ordinal = F.round(F.col("c_acctbal") * 100).cast("long") * 10000000 + F.col(
        "c_custkey"
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", ordinal).alias("top_custkey"),
        F.round(F.max("c_acctbal"), 2).alias("top_acctbal"),
    )


# ---------------------------------------------------------------------------
# Ordered list aggregation: engine-portable via sort-then-join (Spark
# collect_list has no intra-group order guarantee — array_sort imposes one).
# ---------------------------------------------------------------------------
@register(
    "collect_sorted_names",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def collect_sorted_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return j.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


# ---------------------------------------------------------------------------
# Scalar-subquery filter (rows above the global mean) in exact integer
# arithmetic: cents * n > sum_cents avoids the float-average boundary
# entirely. The scalar side is a broadcast cross join — no shuffle of the
# fact side.
# ---------------------------------------------------------------------------
@register(
    "above_average_customers",
    """
    WITH s AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_c,
             COUNT(*) AS n
      FROM customer
    )
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer, s
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * s.n > s.sum_c
    """,
)
def above_average_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    s = c.agg(
        F.sum(cents).alias("sum_c"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.crossJoin(F.broadcast(s))
        .filter(cents * F.col("n") > F.col("sum_c"))
        .select("c_custkey", F.round(F.col("c_acctbal"), 2).alias("acctbal"))
    )


# ---------------------------------------------------------------------------
# Positional explode (lateral view): embeddings to long (vec_id, pos, val)
# form — generate_subscripts/unnest zip on the DuckDB side, 1-based.
# ---------------------------------------------------------------------------
@register(
    "posexplode_embeddings",
    """
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
           CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS val_f
    FROM embeddings WHERE vec_id < 10
    """,
)
def posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    return ex.select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.floor(F.col("val").cast("double") * 1000).alias("val_f"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) key parity: bit-interleave (user_id, hour) — the layout
# key write_range_sorted uses for 2-D pruning (test_scale_patterns proves
# the file-skipping; this proves cross-engine bit-exactness).
# ---------------------------------------------------------------------------
def _zorder_sql(bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((((user_id >> {i}) & 1)) << {2 * i + 1})")
        terms.append(f"((((hour(ts)) >> {i}) & 1) << {2 * i})")
    return f"""
    SELECT event_id, CAST({' + '.join(terms)} AS BIGINT) AS zkey
    FROM events
    """


@register("zorder_key_events", _zorder_sql(8))
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.sources.bucketing import zorder_key

    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        zorder_key(F.col("user_id"), F.hour("ts"), bits=8).alias("zkey"),
    )
