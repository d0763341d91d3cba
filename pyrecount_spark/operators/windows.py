"""Event-time windowing & sessionization (SURVEY.md §2.10 extension ops).

Batch implementations here; the Structured Streaming variants (watermarked)
live in ``pyrecount_spark.streaming``. Window starts are emitted as
formatted strings so results are timezone- and engine-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def fmt_ts(col: Column) -> Column:
    return F.date_format(col, TS_FMT)


def tumbling_agg(
    df: DataFrame, ts_col: str, keys: list[str], unit: str = "hour"
) -> DataFrame:
    """Tumbling window via date_trunc — a plain hash aggregate (partial +
    final); at scale this is the cheapest possible windowing (no state)."""
    return (
        df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("_w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(fmt_ts(F.col("_w")).alias("window_start"), *keys, "n_events", "sum_cents")
    )


def sliding_agg(
    df: DataFrame, ts_col: str, window: str = "30 minutes", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding window via native ``F.window`` (each row lands in
    window/slide buckets — narrow expansion, then one aggregate)."""
    w = F.window(F.col(ts_col), window, slide)
    return (
        df.groupBy(w.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(fmt_ts(F.col("_w.start")).alias("window_start"), "n_events", "sum_cents")
    )


def assign_sessions(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Row-level gap-based session assignment: a new session starts when the
    time since the previous event of the same user exceeds the gap; session
    id = running count of session starts (classic lag + cumulative-sum
    assignment), with ``event_id`` breaking same-timestamp ties. Keeps the
    original columns alongside the session id, for composites that need
    them (conversion rates, per-session funnels).

    Scale: one shuffle on ``user_col``; within-partition sort feeds both
    window functions in a single exchange (same partitioning + ordering).
    """
    order = [F.col(ts_col).asc(), F.col("event_id").asc()]
    w_user = Window.partitionBy(user_col).orderBy(*order)
    gap_s = gap_minutes * 60
    prev_ts = F.lag(F.col(ts_col)).over(w_user)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)) > gap_s),
        1,
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-session aggregation of ``assign_sessions``: (user, session_id,
    n_events, session_start, session_end)."""
    return assign_sessions(df, ts_col, user_col, gap_minutes).groupBy(
        user_col, "session_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        fmt_ts(F.min(ts_col)).alias("session_start"),
        fmt_ts(F.max(ts_col)).alias("session_end"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    buckets: int = 32,
) -> DataFrame:
    """2-D Pareto frontier (skyline): keep row r unless some row s dominates
    it, where s dominates r iff ``s.x < r.x AND s.y >= r.y`` (strict on x,
    NON-strict on y — a row tied on y with a strictly cheaper row is
    dropped; this matches the oracle and test). Classic 1-pass form: sort by
    (x asc, y desc, id), keep a row iff its y exceeds the running max of y
    over all strictly-smaller-x prefixes.

    A naive global window is a single-partition sort — the anti-pattern at
    scale. This is the distributed PREFIX-SCAN shape instead:

    1. range-bucket on x (equi-width integer buckets; at 100 TB use the
       sort-sampled range partitioner the same way),
    2. per-bucket running max — windows partitioned BY BUCKET, parallel,
    3. per-bucket maxima (tiny: ``buckets`` rows) prefix-combined and
       broadcast back as each bucket's carry-in offset.

    Ties on x: a row is dominated only by STRICTLY smaller x, so the
    running max feeding row r must exclude r's own x value — the window
    uses a range frame bounded at x-1 within the bucket, and the carry-in
    covers earlier buckets entirely.
    """
    c = df.select(
        F.col(id_col), F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    mm = c.agg(F.min("_x").alias("_mn"), F.max("_x").alias("_mx"))
    b = c.crossJoin(F.broadcast(mm)).withColumn(
        "_w", (F.col("_mx") - F.col("_mn")) / buckets
    ).withColumn(
        "_bucket",
        F.least(
            F.lit(buckets - 1),
            F.expr("(_x - _mn) div (cast(floor(_w) as long) + 1)"),
        ).cast("long"),
    ).drop("_mn", "_mx", "_w")
    # (2) in-bucket prefix max over strictly-smaller x (range frame to x-1)
    w_prev = (
        Window.partitionBy("_bucket")
        .orderBy("_x")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("_prevmax", F.max("_y").over(w_prev))
    # (3) per-bucket maxima -> tiny frame; prefix-combine via a window over
    # `buckets` rows (bounded, not data-sized), broadcast back
    bmax = b.groupBy("_bucket").agg(F.max("_y").alias("_bm"))
    w_carry = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.withColumn("_carry", F.max("_bm").over(w_carry)).select(
        "_bucket", "_carry"
    )
    joined = local.join(F.broadcast(carry), on="_bucket")
    # greatest() skips NULLs, so a missing prefix on either side just defers
    # to the other; NULL overall = nothing precedes this x at all
    dominated_by = F.greatest(F.col("_prevmax"), F.col("_carry"))
    return (
        joined.filter(dominated_by.isNull() | (F.col("_y") > dominated_by))
        .select(
            F.col(id_col),
            F.col("_x").alias(x_col),
            F.col("_y").alias(y_col),
        )
    )


_RANK_BUCKETS = 64  # value-range buckets of ``bucketed_global_rank``


def bucketed_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    ascending: bool = True,
    rank_col: str = "rnk",
) -> DataFrame:
    """Global dense ROW_NUMBER over ``(value, tiebreak)`` WITHOUT an
    unpartitioned window — the distributed total-order-rank shape (same
    pattern as ``pareto_frontier_2d`` and ``plans/corpus.py``
    global_dense_ids):

    1. equi-width range-bucket on the integer ``value_col`` (min/max from a
       1-row broadcast aggregate; at 100 TB swap in a sort-sampled range
       partitioner the same way),
    2. row_number WITHIN each bucket — windows partitioned by bucket, so the
       sort parallelizes across 64 tasks instead of collapsing the
       whole frame onto one,
    3. per-bucket counts (tiny: 64 rows) prefix-summed in bucket
       order and broadcast back as carry-in offsets;
       global rank = offset + in-bucket rank.

    Correctness requires only that the bucket id be a monotone function of
    ``value_col`` in the rank direction — equal values always share a
    bucket, so the ``tiebreak_col`` order is resolved entirely in-bucket.
    The result is bit-identical to
    ``ROW_NUMBER() OVER (ORDER BY value [DESC], tiebreak)``.
    """
    v = F.col(value_col).cast("long")
    mm = df.agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"))
    b = (
        df.crossJoin(F.broadcast(mm))
        .withColumn(
            "_bucket",
            F.least(
                F.lit(_RANK_BUCKETS - 1),
                F.expr(
                    f"(cast({value_col} as long) - _mn)"
                    f" div (cast(floor((_mx - _mn) / {_RANK_BUCKETS}) as long) + 1)"
                ),
            ).cast("long"),
        )
        .drop("_mn", "_mx")
    )
    if ascending:
        order = [F.col(value_col).asc(), F.col(tiebreak_col).asc()]
        bucket_order = F.col("_bucket").asc()
    else:
        order = [F.col(value_col).desc(), F.col(tiebreak_col).asc()]
        bucket_order = F.col("_bucket").desc()
    w_in = Window.partitionBy("_bucket").orderBy(*order)
    ranked = b.withColumn("_rk", F.row_number().over(w_in))
    counts = b.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    # bounded window: 64 rows, not data-sized
    w_off = Window.orderBy(bucket_order).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_bucket", "_off")
    return (
        ranked.join(F.broadcast(offsets), on="_bucket")
        .withColumn(rank_col, (F.col("_off") + F.col("_rk")).cast("long"))
        .drop("_bucket", "_rk", "_off")
    )
