"""Event-time windowing queries (SURVEY.md §2.10) with DuckDB oracles.

Window starts are emitted as formatted strings ('yyyy-MM-dd HH:mm:ss') so
results are timezone/engine representation independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyrecount_spark.operators.windows import sessionize, sliding_agg, tumbling_agg
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Tumbling hourly aggregate per event_type (stateless hash agg).
# ---------------------------------------------------------------------------
@register(
    "window_tumbling_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(_t(spark, sf_dir, "events"), "ts", ["event_type"], unit="hour")


# ---------------------------------------------------------------------------
# Sliding 30-minute window, 15-minute slide. Spark's F.window generates the
# two covering windows natively; the oracle reconstructs them as the two
# 15-minute-aligned starts <= ts.
# ---------------------------------------------------------------------------
@register(
    "window_sliding_30m_15m",
    """
    WITH slid AS (
      SELECT make_timestamp((CAST(FLOOR(epoch(ts) / 900) AS BIGINT) * 900
                             - offs.o) * 1000000) AS wstart,
             value
      FROM events, (SELECT unnest([0, 900]) AS o) offs
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM slid GROUP BY 1
    """,
)
def window_sliding_30m_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(
        _t(spark, sf_dir, "events"), "ts", window="30 minutes", slide="15 minutes"
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (30-minute inactivity gap) — lag + cumulative sum.
# ---------------------------------------------------------------------------
@register(
    "sessionize_30m_gap",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_30m_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_t(spark, sf_dir, "events"), "ts", "user_id", gap_minutes=30)


# ---------------------------------------------------------------------------
# Analytic window-function battery: per-customer order sequences. The order
# key (o_orderdate, o_orderkey) is total, so RANGE and ROWS frames coincide
# and every engine agrees on frame contents. One shuffle on o_custkey
# serves all eight functions (same window spec -> single Window exec).
# ---------------------------------------------------------------------------
@register(
    "window_function_battery",
    """
    SELECT o_orderkey,
           o_custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           lag(o_orderkey) OVER w AS prev_key,
           lead(o_orderkey) OVER w AS next_key,
           first_value(o_orderkey) OVER w AS first_key,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
             AS running_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.sum(cents).over(w).alias("running_cents"),
    )


# ---------------------------------------------------------------------------
# Rolling ROWS-frame aggregate: per-user trailing-3-event sum/count. The
# (ts, event_id) order is total, so the frame contents are engine-exact;
# sums run in integer cents. One shuffle on user_id, then a streaming
# frame scan inside each partition.
# ---------------------------------------------------------------------------
@register(
    "rolling_3_events_per_user",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS roll3_cents,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS roll3_n
    FROM events
    """,
)
def rolling_3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("roll3_cents"),
        F.count(F.lit(1)).over(w).alias("roll3_n"),
    )


# ---------------------------------------------------------------------------
# SCD2 interval construction: a change log (per-customer order events)
# becomes validity intervals [valid_from, valid_to) via lead() — the
# dimension-history builder. Current rows get NULL valid_to. One shuffle
# on the entity key serves the ordering and the interval derivation.
# ---------------------------------------------------------------------------
@register(
    "scd2_customer_order_history",
    """
    SELECT o_custkey,
           o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
           CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        nxt.isNull().cast("long").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) of orders on (minimize price, maximize recency):
# orders no other order beats on both axes (strictly cheaper AND at least
# as recent). Implemented as the DISTRIBUTED PREFIX-SCAN, not a global
# window: x-range buckets scanned in parallel, per-bucket running max, and
# a `buckets`-row carry-in prefix broadcast back — the single-partition
# sort a naive skyline window forces never happens. Dominance convention:
# s dominates r iff s.x < r.x AND s.y >= r.y (equal-x rows never dominate
# each other); the oracle's 1-pass window uses the identical rule.
# ---------------------------------------------------------------------------
@register(
    "pareto_price_recency_orders",
    """
    WITH c AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(date_diff('day', DATE '1990-01-01', o_orderdate) AS BIGINT)
               AS order_dayn
      FROM orders
    ),
    scanned AS (
      SELECT *,
             MAX(order_dayn) OVER (
               ORDER BY price_cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS pm
      FROM c
    )
    SELECT o_orderkey, price_cents, order_dayn
    FROM scanned WHERE pm IS NULL OR order_dayn > pm
    """,
)
def pareto_price_recency_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.windows import pareto_frontier_2d

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("order_dayn"),
    )
    return pareto_frontier_2d(
        o, "price_cents", "order_dayn", "o_orderkey", buckets=32
    )


# ---------------------------------------------------------------------------
# Time-weighted average value per user (the TimescaleDB/kdb `time_weight`
# shape): each observation holds until the next one (step interpolation),
# so TWAP = Σ value·Δt / Σ Δt with Δt from lead(ts) — one window over the
# user partition, µs-integer durations so the weighted sum is exact int64
# until the final division. The last observation of each user carries no
# interval and drops out, exactly as in the step-function definition.
# ---------------------------------------------------------------------------
@register(
    "twap_value_by_user",
    """
    WITH t AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(date_diff('microsecond', ts,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  AS BIGINT) AS dt_us
      FROM events
    )
    SELECT user_id,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           ROUND(SUM(cents * dt_us) * 1.0 / SUM(dt_us) / 100.0, 4)
             AS twap_value
    FROM t WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
)
def twap_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return t.groupBy("user_id").agg(
        F.sum("dt_us").alias("total_us"),
        F.round(
            F.sum(F.col("cents") * F.col("dt_us")) / F.sum("dt_us") / 100.0, 4
        ).alias("twap_value"),
    )


# ---------------------------------------------------------------------------
# Gap-filled daily series with LOCF (last-observation-carried-forward — the
# TimescaleDB time_bucket_gapfill + locf shape): a generated daily scaffold
# per user left-joins the observed daily totals, then a forward-fill window
# (last_value IGNORE NULLS) carries each user's most recent total across
# silent days. The scaffold explode is narrow (days-per-user bounded by the
# month span); the fill is ONE window over the user partition.
# ---------------------------------------------------------------------------
@register(
    "gapfill_daily_locf",
    """
    WITH bounds AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS d0,
             date_trunc('day', MAX(ts)) AS d1
      FROM events GROUP BY user_id
    ),
    scaffold AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT s.user_id,
           strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.cents,
                LAST_VALUE(d.cents IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             AS BIGINT) AS filled_cents,
           d.cents IS NULL AS was_gap
    FROM scaffold s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def gapfill_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    scaffold = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    joined = scaffold.join(daily, on=["user_id", "day"], how="left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(
            F.col("cents"), F.last("cents", ignorenulls=True).over(w)
        )
        .cast("long")
        .alias("filled_cents"),
        F.col("cents").isNull().alias("was_gap"),
    )
