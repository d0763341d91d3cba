"""Behavioral analytics over the events stream: marketing attribution
(first/last touch) and event-path mining — the product-analytics query class
(Amplitude/GA-style) a training-data platform also needs for telemetry.

Scale notes: every query here is ONE hash partition-by on user_id (window
or aggregate) — no self-joins, no driver loops. At 100 TB the user_id
partitioning is the natural key (high cardinality, mild skew); the
window/lag operators stream within each partition.

Cross-engine determinism: events carry no same-user microsecond ties
(verified at every SF), and all orderings still append event_id as a total
tiebreaker; purchase values aggregate as exact integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyrecount_spark.functions.scalars import round_ratio_half_up
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register

_TOUCHES = ("click", "view")


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase credits the user's most recent
# preceding touch (click/view). Same union-merge shape as the as-of join —
# one window over (user, time), last_value IGNORE NULLS carries the channel
# forward; a purchase with no prior touch lands in 'none'.
# ---------------------------------------------------------------------------
@register(
    "attribution_last_touch",
    """
    WITH merged AS (
      SELECT user_id, ts, event_id, 0 AS side, event_type AS channel,
             CAST(NULL AS DOUBLE) AS value
      FROM events WHERE event_type IN ('click', 'view')
      UNION ALL
      SELECT user_id, ts, event_id, 1, CAST(NULL AS VARCHAR), value
      FROM events WHERE event_type = 'purchase'
    ), carried AS (
      SELECT *,
             last_value(channel IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS UNBOUNDED PRECEDING) AS touch
      FROM merged
    )
    SELECT COALESCE(touch, 'none') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM carried WHERE side = 1
    GROUP BY 1 ORDER BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin(*_TOUCHES)).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("side"),
        F.col("event_type").alias("channel"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.lit(None).cast("string").alias("channel"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = touches.unionByName(purchases).withColumn(
        "touch", F.last("channel", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("side") == 1)
        .groupBy(F.coalesce("touch", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# First-touch attribution: a user's entire purchase revenue credits their
# first-ever touch channel. Two per-user aggregates joined on user_id — the
# pre-agg-then-join shape, never a window over the full history.
# ---------------------------------------------------------------------------
@register(
    "attribution_first_touch",
    """
    WITH first_touch AS (
      SELECT user_id, channel FROM (
        SELECT user_id, event_type AS channel,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type IN ('click', 'view')) t
      WHERE rn = 1
    ), spend AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(f.channel, 'none') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_buyers,
           CAST(SUM(s.n_purchases) AS BIGINT) AS n_purchases,
           CAST(SUM(s.cents) AS BIGINT) AS revenue_cents
    FROM spend s LEFT JOIN first_touch f ON s.user_id = f.user_id
    GROUP BY 1 ORDER BY 1
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_touch = (
        e.filter(F.col("event_type").isin(*_TOUCHES))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("channel"))
    )
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    return (
        spend.join(first_touch, "user_id", "left")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.sum("n_purchases").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Event-path bigrams: consecutive event-type transitions per user, ranked.
# lag() over the same (user, time) window — the path-mining primitive
# (trigrams/full paths are the same plan with one more lag).
# ---------------------------------------------------------------------------
@register(
    "event_path_bigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY n DESC, prev_type, next_type
    LIMIT 20
    """,
)
def event_path_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "prev_type", "next_type")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pre/post-purchase behavior: event counts in the day before vs the day
# after each user's FIRST purchase. One per-user scalar (first purchase)
# joined back to the stream — the pre-agg-then-join shape again; the
# windows are closed-open [t-24h, t) and (t, t+24h].
# ---------------------------------------------------------------------------
@register(
    "pre_post_purchase_behavior",
    """
    WITH first_p AS (
      SELECT user_id, MIN(ts) AS fp FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (e.ts >= f.fp - INTERVAL 24 HOUR AND e.ts < f.fp)
                AS BIGINT) AS n_before,
           CAST(COUNT(*) FILTER (e.ts > f.fp AND e.ts <= f.fp + INTERVAL 24 HOUR)
                AS BIGINT) AS n_after
    FROM events e JOIN first_p f ON e.user_id = f.user_id
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def pre_post_purchase_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    first_p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    j = e.join(first_p, "user_id")
    day = F.expr("INTERVAL 24 HOURS")
    return (
        j.groupBy("event_type")
        .agg(
            F.count(
                F.when((F.col("ts") >= F.col("fp") - day) & (F.col("ts") < F.col("fp")), 1)
            ).alias("n_before"),
            F.count(
                F.when((F.col("ts") > F.col("fp")) & (F.col("ts") <= F.col("fp") + day), 1)
            ).alias("n_after"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Session conversion by week: gap-sessionize, flag sessions containing a
# purchase, rate per ISO week of session start. Composite of the sessionizer
# and one aggregation — still a single user-key shuffle + one week shuffle.
# ---------------------------------------------------------------------------
@register(
    "session_conversion_by_week",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), per_session AS (
      SELECT user_id, sid, MIN(ts) AS s_start,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(date_trunc('week', s_start), '%Y-%m-%d') AS week,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converting,
           FLOOR(((SUM(converted)) * 2000000.0 + (COUNT(*))) / (2.0 * (COUNT(*)))) / 1000000.0 AS conversion_rate
    FROM per_session GROUP BY 1 ORDER BY 1
    """,
)
def session_conversion_by_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.windows import assign_sessions

    e = _t(spark, sf_dir, "events")
    rows = assign_sessions(e, "ts", "user_id", gap_minutes=30)
    per_session = rows.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        per_session.groupBy(
            F.date_format(F.date_trunc("week", "s_start"), "yyyy-MM-dd").alias("week")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converting"),
        )
        .select(
            "week",
            "n_sessions",
            "n_converting",
            round_ratio_half_up(
                F.col("n_converting"), F.col("n_sessions"), 6
            ).alias("conversion_rate"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# Monthly repeat-buyer rate: of the users purchasing in month m, how many
# also purchase in m+1. Distinct (user, month) pre-reduce, then an equi
# self-join on the adjacent month — the pre-reduced frame is tiny, so the
# join is on post-aggregate cardinality.
# ---------------------------------------------------------------------------
@register(
    "repeat_buyer_rate_monthly",
    """
    WITH um AS (
      SELECT DISTINCT user_id, date_trunc('month', ts) AS m
      FROM events WHERE event_type = 'purchase'
    ), base AS (
      SELECT a.m AS month, COUNT(*) AS n_buyers,
             COUNT(b.user_id) AS n_repeat
      FROM um a LEFT JOIN um b
        ON a.user_id = b.user_id AND b.m = a.m + INTERVAL 1 MONTH
      GROUP BY a.m
    )
    SELECT strftime(month, '%Y-%m-%d') AS month,
           CAST(n_buyers AS BIGINT) AS n_buyers,
           CAST(n_repeat AS BIGINT) AS n_repeat,
           FLOOR(((n_repeat) * 2000000.0 + (n_buyers)) / (2.0 * (n_buyers))) / 1000000.0 AS repeat_rate
    FROM base ORDER BY 1
    """,
)
def repeat_buyer_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    um = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("month", "ts").alias("m"))
        .distinct()
    )
    nxt = um.select(
        F.col("user_id").alias("u2"), F.col("m").alias("m2")
    )
    base = (
        um.join(
            nxt,
            (um.user_id == nxt.u2) & (nxt.m2 == F.col("m") + F.expr("INTERVAL 1 MONTH")),
            "left",
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.count("u2").alias("n_repeat"),
        )
    )
    return base.select(
        F.date_format("m", "yyyy-MM-dd").alias("month"),
        "n_buyers",
        "n_repeat",
        round_ratio_half_up(F.col("n_repeat"), F.col("n_buyers"), 6).alias(
            "repeat_rate"
        ),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al. 2013) for a hash-split A/B test:
# variant = md5(user_id) parity (seedless, assignment identical on any
# engine/cluster), metric y = purchase cents in the second half-month,
# covariate x = purchase cents in the first. theta = cov(x,y)/var(x) from
# EXACT int64 sufficient statistics (Σx, Σy, Σxy, Σx², n — one aggregate
# scan); adjusted metric y* = y − θ·(x − x̄) shrinks variance by the x↔y
# correlation without biasing the A/B delta. Everything until the final
# divisions is integer-exact; floats are rounded 4.
# ---------------------------------------------------------------------------
@register(
    "ab_cuped_adjusted_metric",
    """
    WITH u AS (
      SELECT user_id,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2)
               AS variant,
             CAST(SUM(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
                           THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM u
    ),
    theta AS (
      SELECT (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
             / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)) AS th,
             sx * 1.0 / n AS xbar
      FROM stats
    )
    SELECT u.variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(u.y) / 100.0, 4) AS mean_y,
           ROUND(AVG(u.y - t.th * (u.x - t.xbar)) / 100.0, 4) AS mean_y_cuped
    FROM u CROSS JOIN theta t
    GROUP BY u.variant
    """,
)
def ab_cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    nib1 = F.expr(
        "locate(substr(md5(cast(user_id as string)), 1, 1),"
        " '0123456789abcdef') - 1"
    )
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    is_p = F.col("event_type") == "purchase"
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(is_p & (F.col("ts") < cut), cents).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(is_p & (F.col("ts") >= cut), cents).otherwise(F.lit(0))
        ).alias("y"),
    ).withColumn("variant", (nib1 % 2).cast("long"))
    stats = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    cov = (F.col("sxy") * 1.0 / F.col("n")) - (
        F.col("sx") * 1.0 / F.col("n")
    ) * (F.col("sy") * 1.0 / F.col("n"))
    var = (F.col("sxx") * 1.0 / F.col("n")) - (
        F.col("sx") * 1.0 / F.col("n")
    ) * (F.col("sx") * 1.0 / F.col("n"))
    theta = stats.select(
        (cov / var).alias("th"),
        (F.col("sx") * 1.0 / F.col("n")).alias("xbar"),
    )
    adj = u.crossJoin(F.broadcast(theta))
    return adj.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("y") / 100.0, 4).alias("mean_y"),
        F.round(
            F.avg(F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))) / 100.0,
            4,
        ).alias("mean_y_cuped"),
    )


# ---------------------------------------------------------------------------
# Time-to-convert percentiles: per converting user, the lag from first
# click to the first purchase AFTER it; p50/p90 exact over integer-second
# lags (grouped percentile aggregate — no global sort). The product metric
# behind "how long does conversion take".
# ---------------------------------------------------------------------------
@register(
    "time_to_convert_percentiles",
    """
    WITH fc AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > fc.t0
      GROUP BY e.user_id
    ),
    lag AS (
      SELECT fc.user_id,
             CAST(date_diff('second', fc.t0, fp.t1) AS BIGINT) AS lag_s
      FROM fc JOIN fp ON fc.user_id = fp.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
           CAST(ROUND(quantile_cont(lag_s, 0.5)) AS BIGINT) AS p50_s,
           CAST(ROUND(quantile_cont(lag_s, 0.9)) AS BIGINT) AS p90_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_s
    FROM lag
    """,
)
def time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    fc = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    fp = (
        e.join(fc, on="user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    # second-BOUNDARY crossings (floor-epoch-second difference), matching
    # DuckDB date_diff('second') — a truncated µs-diff/1e6 is off by one
    # whenever t0's sub-second fraction exceeds t1's
    lag = fc.join(fp, on="user_id").select(
        (
            F.unix_seconds(F.col("t1").cast("timestamp"))
            - F.unix_seconds(F.col("t0").cast("timestamp"))
        ).alias("lag_s")
    )
    return lag.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.percentile(F.col("lag_s"), F.lit(0.5))).cast("long").alias("p50_s"),
        F.round(F.percentile(F.col("lag_s"), F.lit(0.9))).cast("long").alias("p90_s"),
        F.max("lag_s").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user. The
# classic trick — within each user's distinct active days, day_number −
# row_number is CONSTANT across a consecutive run, so one groupBy on that
# anchor collapses each island; everything is exact integer day arithmetic.
# One window + two aggregates, all partitioned by user.
# ---------------------------------------------------------------------------
@register(
    "longest_daily_streak_per_user",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS dayn
      FROM events
    ),
    anchored AS (
      SELECT user_id, dayn,
             dayn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dayn)
               AS anchor
      FROM days
    ),
    islands AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS streak_days,
             MIN(dayn) AS start_dayn
      FROM anchored GROUP BY user_id, anchor
    ),
    best AS (
      SELECT user_id, streak_days, start_dayn,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, start_dayn) AS rk
      FROM islands
    )
    SELECT user_id, streak_days,
           strftime(DATE '1990-01-01' + INTERVAL (start_dayn) DAY, '%Y-%m-%d')
             AS streak_start
    FROM best WHERE rk = 1
    """,
)
def longest_daily_streak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1990-01-01")).alias("dayn"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dayn")
    anchored = days.withColumn(
        "anchor", F.col("dayn") - F.row_number().over(w)
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("dayn").alias("start_dayn"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("start_dayn")
    )
    return (
        islands.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "streak_days",
            F.date_format(
                F.date_add(F.lit("1990-01-01").cast("date"), F.col("start_dayn").cast("int")),
                "yyyy-MM-dd",
            ).alias("streak_start"),
        )
    )
