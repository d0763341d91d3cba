"""Streaming queries for the harness: batch/stream parity on the events
table, run as real Structured Streaming jobs (file source → watermarked
transformation → memory sink, availableNow trigger).

These carry FULL oracles: with ``complete`` output mode and an
``availableNow`` trigger over a finite source, the final materialized
result is deterministic and batch-equal (the watermark never evicts state
in complete mode), so DuckDB can check values, not just row counts.

Every query drains through `_run_event_time`, every events query reads
through `_read_events_stream`, and the windowed counts and sessions come
from ``streaming.pipeline``; the click→purchase sides and the keyed dedup
within the watermark are each written once below.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register

# events.parquet carries TIMESTAMP(NANOS); Spark 4 reads it natively as
# timestamp_ntz (microsecond-truncated, matching DuckDB/Arrow µs semantics).
# Do NOT force LongType + nanosAsLong here: under Spark 4.1 that path yields
# µs-valued longs and any `div 1000` collapses event times into 1970.
# tests/test_streaming_queries.py carries a year-2024 canary against drift.
_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@contextlib.contextmanager
def _utc_session(spark: SparkSession):
    """Pin the session timezone to UTC for the duration of a streaming
    build+run, restoring the prior value afterwards. The ntz→timestamp
    cast in `_read_events_stream` is only value-preserving under UTC, but
    a bare `conf.set` would be a lasting global side effect that silently
    changes later timezone-sensitive (non-ntz) plans in the same session —
    so the pin is scoped here, and every event-time query finalizes its
    timezone-sensitive work (date_format, instant comparisons) INSIDE the
    pinned region or in tz-insensitive integer-µs form."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def _source_bytes(sf_dir: str) -> int:
    """On-disk bytes of the corpus's streaming source: the events_stream/
    arrival-batch directory when present, else events.parquet (the
    documents stream is the same size class in every driver corpus, so one
    events-derived figure sizes all drains of a corpus)."""
    stream_dir = f"{sf_dir}/events_stream"
    try:
        if os.path.isdir(stream_dir):
            return sum(
                os.stat(os.path.join(stream_dir, f)).st_size
                for f in os.listdir(stream_dir)
                if not f.startswith((".", "_"))
            )
        return os.stat(f"{sf_dir}/events.parquet").st_size
    except OSError:
        return 0


@contextlib.contextmanager
def _stream_shuffle_parts(
    spark: SparkSession, sf_dir: str, bytes_per_part: int = 256 << 10
):
    """Scale-adaptive shuffle/state partitioning for one streaming drain
    (round-14 optimization; guide §2 "derive partitioning from input size,
    not a constant tuned for either local mode or the cluster").

    AQE never applies to streaming, so a stateful operator gets exactly
    ``spark.sql.shuffle.partitions`` state partitions — and EVERY state
    partition costs a fixed per-batch overhead (state-store open + commit +
    snapshot/WAL file per partition, plus a Python-worker launch per
    partition for transformWithState), independent of how many rows it
    holds. At the session default (32) a megabyte-scale drain pays 32× that
    constant for no parallelism benefit: measured at sf0.1, 32→8 partitions
    took streaming_tws_user_stats from [14.2, 5.0, 4.9] s to
    [6.2, 5.1, 5.0] s, stateful_totals [5.9, 2.2, 2.4]→[2.0, 1.8, 1.9],
    tumbling [4.7, 2.2, 1.9]→[1.4, 1.3, 1.2] (3 in-session passes each).

    Partition count derives from source bytes — ceil(bytes /
    ``bytes_per_part``) clamped to [4, session default] — so small corpora
    shed the fixed cost while decade/production-scale sources hit the
    session cap and behave exactly as before (the clamp means this can
    only ever LOWER the count for small sources).

    ``bytes_per_part`` is the drain's cost class, an operator property:
    the 256 KiB default fits JVM stateful aggregations (cost ∝ bytes);
    drains whose stateful operator is a PYTHON per-group processor
    (``applyInPandasWithState``) pass a much smaller divisor because
    their per-byte cost is orders of magnitude higher and parallel
    Python workers amortize the per-partition constant instead of
    compounding it — measured on streaming_timeout_sessions at sf0.1:
    parts 8 → [16.2, 13.4] s, 16 → [9.3, 8.4] s, 32 → [6.9, 6.2] s
    (the opposite slope of the JVM drains above).

    Values, not partitioning, determine every registered streaming result,
    so outputs are byte-identical — the oracle re-verifies that.
    """
    import math

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    try:
        session_parts = int(prior)
    except (TypeError, ValueError):
        session_parts = spark.sparkContext.defaultParallelism
    parts = min(session_parts, max(4, math.ceil(_source_bytes(sf_dir) / bytes_per_part)))
    spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def _read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    event_time: bool = False,
    arrival_batches: bool = False,
) -> DataFrame:
    """File-source stream over events.parquet (file streams need a dir, so
    glob-filter the sf dir down to the one file).

    ``event_time=True`` casts ``ts`` to TIMESTAMP: watermarks/windows reject
    TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). The cast is only
    value-preserving when the session timezone is UTC (same wall-clock µs
    both sides, same strings under date_format) — callers wrap the whole
    build+drain in `_utc_session`; fail loudly if they didn't, rather than
    silently producing shifted event times.

    ``arrival_batches=True`` (the late-data family, round-12) reads the
    corpus's ``events_stream/`` directory instead where it exists: one file
    per ARRIVAL batch (ascending mtimes — part-00000 on-time, part-00001
    late), taken with ``maxFilesPerTrigger=1`` so an availableNow drain
    processes them as separate micro-batches. The event-time watermark
    then ADVANCES between them and stateful operators actually exercise the
    late-row drop / state-eviction path (a single-batch drain is
    structurally unable to: the watermark only moves between batches).
    Corpora without the directory fall back to the single-file read — one
    batch, no drops — and the late-aware oracles degenerate to the plain
    aggregate (their drop filter keys on event_id < 0, which only late
    corpora contain).
    """
    if event_time:
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                "event-time streaming reads require the session timezone to "
                f"be UTC (got {tz!r}); wrap the build+drain in _utc_session"
            )
    reader = spark.readStream.schema(_EVENTS_SCHEMA)
    if arrival_batches and os.path.isdir(f"{sf_dir}/events_stream"):
        stream = reader.option("maxFilesPerTrigger", "1").parquet(
            f"{sf_dir}/events_stream"
        )
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if event_time:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain(q, timeout_s: int) -> None:
    """Block until the availableNow query finishes; raise LOUDLY on timeout.

    A silent timeout would surface the memory sink's PARTIAL state as the
    query result — a wrong-answer mode strictly worse than failing.
    Successful drains publish their state-store metrics (see
    ``streaming.pipeline.LAST_STATE_METRICS``)."""
    from pyrecount_spark.streaming.pipeline import capture_state_metrics

    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name} did not finish within {timeout_s}s"
        )
    capture_state_metrics(q)


def _run_event_time(
    spark, build, prefix: str, output_mode: str, timeout_s: int, sf_dir: str,
    bytes_per_part: int = 256 << 10,
):
    """Build a streaming DataFrame and drain it to a memory sink under a
    UTC-pinned session (restored afterwards) — the one drain every
    registered streaming query goes through. ``build`` runs inside the pin
    so analysis and runtime both see UTC; the drained memory table holds
    final row VALUES, so reading it after the restore is
    timezone-insensitive provided the query formatted / integer-encoded
    every timestamp it returns while still in-stream. Queries that read no
    event time are unaffected by the pin.

    Shuffle/state partitioning derives from ``sf_dir``'s source size
    (``_stream_shuffle_parts``); the conf stays pinned through the drain
    because MicroBatchExecution clones the session at start."""
    with _utc_session(spark), _stream_shuffle_parts(spark, sf_dir, bytes_per_part):
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        q = (
            build()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, timeout_s)
    return spark.table(name)


def _fmt(col: str, name: str):
    """In-stream (UTC-pinned) rendering of an event-time column."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(name)


def _hourly_counts(events: DataFrame, start_name: str) -> DataFrame:
    """``pipeline.streaming_tumbling_counts`` (1 h windows, 2 h watermark)
    with the window start formatted in-stream as ``start_name``."""
    from pyrecount_spark.streaming.pipeline import streaming_tumbling_counts

    return streaming_tumbling_counts(events).select(
        _fmt("window_start", start_name), "event_type", "n_events"
    )


def _dedup_within_watermark(events: DataFrame, delay: str) -> DataFrame:
    """Distinct (user_id, event_type) keys held only until the watermark
    passes (dropDuplicatesWithinWatermark)."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def _watermarked(events: DataFrame, event_type: str) -> DataFrame:
    """One side of the click/purchase joins: ``<type>_id``, ``<t>_user``
    and ``<t>_ts`` (t = the type's initial) under a 2 h watermark."""
    t = event_type[0]
    return (
        events.filter(F.col("event_type") == event_type)
        .select(
            F.col("event_id").alias(f"{event_type}_id"),
            F.col("user_id").alias(f"{t}_user"),
            F.col("ts").alias(f"{t}_ts"),
        )
        .withWatermark(f"{t}_ts", "2 hours")
    )


def _click_purchase_pairs(read) -> DataFrame:
    """Every purchase joined to the same user's clicks in the preceding
    hour; ``read()`` returns a fresh event-time stream for each side."""
    purchases = _watermarked(read(), "purchase")
    clicks = _watermarked(read(), "click")
    return purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        _fmt("p_ts", "purchase_ts"),
        _fmt("c_ts", "click_ts"),
    )


@register(
    "streaming_tumbling_events",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True)
        return _hourly_counts(stream, "window_start")

    return _run_event_time(spark, build, "stream_q", "complete", 120, sf_dir)


# ---------------------------------------------------------------------------
# Stream-static join: the events stream enriched against the customer
# dimension (static side re-read per micro-batch; broadcast by size), then a
# windowless running aggregate per (mktsegment, event_type). The canonical
# 100 TB layout: facts stream in, dims stay a slowly-changing broadcast.
# ---------------------------------------------------------------------------
@register(
    "streaming_dim_join_agg",
    """
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_dim_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir)
        dim = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        return (
            stream.join(dim, stream.user_id == dim.c_custkey)
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
            )
        )

    return _run_event_time(spark, build, "stream_j", "complete", 120, sf_dir)


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState): running
# event totals per user. A bounded file source processed in ONE availableNow
# batch emits exactly one update row per user — deterministic, so the
# oracle is the plain per-user count.
# ---------------------------------------------------------------------------
@register(
    "streaming_stateful_totals",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.streaming.pipeline import streaming_running_totals

    def build():
        return streaming_running_totals(_read_events_stream(spark, sf_dir))

    return _run_event_time(spark, build, "stream_s", "update", 120, sf_dir)


# ---------------------------------------------------------------------------
# Streaming exact dedup: distinct (user_id, event_type) pairs maintained as
# streaming state (dropDuplicates over a stream keeps first-seen keys and
# suppresses the rest — the online form of the batch dedup gate). Over a
# finite availableNow source the emitted key set equals batch DISTINCT, so
# the oracle checks values. At scale the state store is partitioned by the
# dedup key — the same hash-shuffle the batch groupBy pays, amortized over
# the stream's lifetime; with event-time bounds dropDuplicatesWithinWatermark
# caps the state instead of keeping it forever.
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_events",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        return (
            _read_events_stream(spark, sf_dir)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )

    return _run_event_time(spark, build, "stream_d", "append", 120, sf_dir)


# ---------------------------------------------------------------------------
# Stream-stream join: every purchase joined to the same user's clicks in the
# preceding hour. Both sides are watermarked and the join carries the
# event-time range constraint, so Spark can bound the state store (clicks
# older than watermark+1h are evicted); over a finite availableNow source
# the emitted pair set equals the batch time-range self-join, so the oracle
# checks values. At scale this is the canonical funnel/attribution join —
# state is partitioned by user_id (the equi-key), range condition prunes
# within partition.
# ---------------------------------------------------------------------------
@register(
    "streaming_click_purchase_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def read():
        return _read_events_stream(spark, sf_dir, event_time=True)

    # 420 s loud-timeout guard (round-14): the stream-stream joins are the
    # slowest drains in the suite and measured 142-169 s at the latesf1
    # decade on this gVisor host (2-4x slower on syscall-heavy streaming
    # than the r13 host) — the previous 180 s constant left a razor-thin
    # margin and tripped once under host load. The guard only bounds
    # how long a drain may take before failing LOUDLY; results are
    # byte-identical whenever the drain completes.
    return _run_event_time(
        spark, lambda: _click_purchase_pairs(read), "stream_ss", "append", 420, sf_dir
    )


# ---------------------------------------------------------------------------
# Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark keeps
# per-key state only until the watermark passes (unlike plain streaming
# dropDuplicates, whose state grows forever) — the production shape for
# at-least-once sources that can replay an event within a bounded delay.
# Projected to the key columns the emitted set over one availableNow batch
# equals batch DISTINCT, so the oracle checks values.
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True)
        return _dedup_within_watermark(stream, "1 hour")

    return _run_event_time(spark, build, "stream_w", "append", 120, sf_dir)


# ---------------------------------------------------------------------------
# NATIVE session windows (F.session_window): Spark merges events whose
# gap-extended windows overlap — new session iff gap >= 30 min, compared at
# FULL microsecond precision (session_window does exact event-time math,
# unlike the lag/cumsum sessionizer whose unix_timestamp comparison is
# second-floored). The oracle must therefore diff in MICROSECONDS:
# date_diff('second') counts second-boundary crossings, so a true 1799.5 s
# gap spanning 1800 boundaries would split in the oracle but merge in
# Spark (this exact off-by-one appeared at sf0.1). µs boundary crossings
# of the ns timestamps equal Spark's integer-µs difference — exact both
# sides. session end = last event + gap by definition. Watermarked
# streaming aggregation over an availableNow source: one batch, all state
# resident, result batch-equal.
# ---------------------------------------------------------------------------
@register(
    "streaming_session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts) OVER w, ts)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def streaming_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.streaming.pipeline import streaming_sessionize

    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True)
        return streaming_sessionize(stream, watermark="2 hours").select(
            "user_id",
            _fmt("session_start", "session_start"),
            _fmt("session_end", "session_end"),
            "n_events",
        )

    return _run_event_time(spark, build, "stream_sw", "complete", 180, sf_dir)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER click→purchase join: unmatched clicks surface
# with NULL purchase once the global watermark (the MIN of the two stream
# watermarks) passes the end of their match window — state-store eviction is
# what *produces* the outer rows. availableNow's final no-data batch
# advances the watermark and flushes them; rows younger than
# least(max_click, max_purchase) - watermark - range are still in flight
# when a finite run stops, so both engines restrict to the proven-final
# region (the same cutoff a production run would read from the commit log).
# ---------------------------------------------------------------------------
@register(
    "streaming_left_outer_attribution",
    """
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), cut AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 3 HOUR AS t
    )
    SELECT c.click_id, c.user_id, p.purchase_id,
           strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM c
    LEFT JOIN p ON c.user_id = p.p_user
               AND p.p_ts BETWEEN c.c_ts AND c.c_ts + INTERVAL 1 HOUR
    CROSS JOIN cut
    WHERE c.c_ts < cut.t
    """,
)
def streaming_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    def build():
        clicks = _watermarked(_read_events_stream(spark, sf_dir, event_time=True), "click")
        purchases = _watermarked(
            _read_events_stream(spark, sf_dir, event_time=True), "purchase"
        )
        # Finalize EVERY timestamp while still in-stream (UTC-pinned):
        # formatted strings for output, integer epoch-µs for the post-drain
        # proven-final cutoff — so reading the memory table after the
        # timezone restore is tz-insensitive.
        return clicks.join(
            purchases,
            F.expr("c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
            "leftOuter",
        ).select(
            "click_id",
            F.col("c_user").alias("user_id"),
            "purchase_id",
            _fmt("c_ts", "click_ts"),
            _fmt("p_ts", "purchase_ts"),
            F.unix_micros(F.col("c_ts")).alias("c_us"),
        )

    # 420 s: stream-stream join guard — see streaming_click_purchase_join
    result = _run_event_time(spark, build, "stream_lo", "append", 420, sf_dir)

    e = _t(spark, sf_dir, "events")
    mx = e.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).collect()[0]
    # exact integer µs (timedelta floor-division, no float round-trip);
    # under the in-stream UTC pin, epoch-µs == wall-clock-µs of the ntz ts
    cut = min(mx.mc, mx.mp) - datetime.timedelta(hours=3)
    cut_us = (cut - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
        microseconds=1
    )
    return result.filter(F.col("c_us") < F.lit(cut_us)).select(
        "click_id", "user_id", "purchase_id", "click_ts", "purchase_ts"
    )


# ---------------------------------------------------------------------------
# Timeout-driven stateful sessionization (applyInPandasWithState +
# EventTimeTimeout): sessions emit when a later event breaks the gap
# in-batch OR when the event-time watermark passes last_event + gap and the
# per-user state times out — the custom-stateful production shape
# session_window can't express (arbitrary per-session payloads, explicit
# eviction). Gap compares integer MICROSECONDS on both engines; closed
# sessions are exactly those whose end precedes max(ts) - gap, which is the
# oracle's WHERE region (watermark delay 0).
# ---------------------------------------------------------------------------
@register(
    "streaming_timeout_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM agg
    WHERE date_diff('microsecond', s_end, (SELECT max(ts) FROM events))
          > 1800000000
    """,
)
def streaming_timeout_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.streaming.pipeline import streaming_timeout_sessions

    def build():
        stream = (
            _read_events_stream(spark, sf_dir, event_time=True)
            .select("user_id", "ts")
            .withWatermark("ts", "0 seconds")
        )
        # format in-stream (UTC-pinned) so the memory table carries final
        # strings, not instants re-rendered under the restored timezone
        return streaming_timeout_sessions(stream, gap_minutes=30).select(
            "user_id",
            _fmt("session_start", "session_start"),
            _fmt("session_end", "session_end"),
            "n_events",
        )

    # Python per-group sessionizer: per-byte cost ~100× the JVM stateful
    # drains, so its partition derivation uses the python cost class
    # (8 KiB/part — 32 parts at sf0.1 measured 2.3× faster than the JVM
    # class's 8; still 4 at sf0.001, still capped at the session default)
    return _run_event_time(
        spark, build, "stream_to", "append", 300, sf_dir, bytes_per_part=8 << 10
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API): per-user running
# stats held in typed named state (ValueState totals + MapState per event
# type). One availableNow batch -> the update emission equals the batch
# aggregate, so the oracle checks full values.
#
# REGISTRATION IS GATED on protobuf availability: the TWS Python state
# server speaks protobuf to the JVM state store. Where pip protobuf is
# absent, streaming/proto_compat.py ships the machine's vendored
# pure-Python runtime to driver+workers via addPyFile (no installs); on a
# standard Spark 4 cluster the plain import succeeds and the shim never
# engages. TWS also requires a state store with column families, so the
# query scopes the RocksDB provider for its run and restores the prior
# provider afterwards.
# ---------------------------------------------------------------------------
def _has_protobuf() -> bool:
    from pyrecount_spark.streaming.proto_compat import protobuf_available

    return protobuf_available()


@contextlib.contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """TWS needs multiple column families, which HDFSBackedStateStoreProvider
    rejects — pin RocksDB for the query, restore the prior provider after
    (scoped for the same reason as _utc_session: no lasting session drift)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        spark.conf.set(key, prior)


_TWS_SQL = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """


def _register_tws():
    return register("streaming_tws_user_stats", _TWS_SQL)


@(_register_tws() if _has_protobuf() else (lambda f: f))
def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.streaming.pipeline import streaming_user_stats_tws
    from pyrecount_spark.streaming.proto_compat import ensure_protobuf

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf on driver and "
            "workers; neither an install nor the vendored runtime is available"
        )

    def build():
        return streaming_user_stats_tws(_read_events_stream(spark, sf_dir))

    with _rocksdb_state_store(spark):
        return _run_event_time(spark, build, "stream_tws", "update", 300, sf_dir)


# ---------------------------------------------------------------------------
# Streaming content-dedup with canonical pick: each document's normalized
# fingerprint (narrow per-row md5 — no tokenize/shuffle before the stateful
# op) keyed into ONE streaming aggregation that maintains min(doc_id) and
# count per fingerprint. Complete mode over an availableNow source emits
# the batch-equal final table, so the oracle checks values. This is the
# online form of dedup_exact_hash: at scale the state store is hash-
# partitioned on the fingerprint — the same single shuffle the batch
# groupBy pays, amortized over the stream.
# ---------------------------------------------------------------------------
_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


@register(
    "streaming_fingerprint_dedup",
    """
    SELECT md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def streaming_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.text import normalized_fingerprint

    def build():
        stream = (
            spark.readStream.schema(_DOCS_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        return (
            stream.select(
                normalized_fingerprint(F.col("text")).alias("fingerprint"), "doc_id"
            )
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )

    return _run_event_time(spark, build, "stream_fp", "complete", 120, sf_dir)


# ---------------------------------------------------------------------------
# Streaming trending top-k: running (event_type, hour-bucket) counts in ONE
# stateful aggregation, top-10 read from the complete-mode result table —
# the dashboard "what's hot now" shape. Sorting happens on the ≤ |types|·
# |hours| aggregate, never the stream; complete mode over availableNow is
# batch-equal so the oracle checks values.
# ---------------------------------------------------------------------------
@register(
    "streaming_trending_topk",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY n_events DESC, bucket_start, event_type
    LIMIT 10
    """,
)
def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True)
        return _hourly_counts(stream, "bucket_start")

    # post-drain sort/limit touches only strings and longs — tz-insensitive
    return (
        _run_event_time(spark, build, "stream_tk", "complete", 120, sf_dir)
        .orderBy(F.desc("n_events"), F.asc("bucket_start"), F.asc("event_type"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# LATE-DATA family (round-12, VERDICT r11 #2): the watermark-eviction path,
# exercised by data. These four read the multi-batch arrival stream
# (`_read_events_stream(..., arrival_batches=True)`) so on late-data corpora
# the watermark advances between micro-batches and rows arriving after
# their window / key-epoch expired are DROPPED (numRowsDroppedByWatermark >
# 0 — CI-gated in tests/test_artifacts.py on the latesf decade).
#
# Oracle design: late rows carry event_id < 0 (gen_corpus --late-events)
# and event times bounded 4 h under max(on-time ts) — strictly below every
# cut a 2 h watermark can draw after the on-time batch. The drop rule a
# multi-batch drain applies is therefore expressible as a pure filter on
# the watermark cut, `event_id >= 0 OR <survives the cut>`, which
# DEGENERATES to a no-op on corpora without late rows (all ids >= 0, one
# batch, nothing dropped) — one oracle string serves both corpus families.
# ---------------------------------------------------------------------------
# Watermarked tumbling aggregation, APPEND mode: only FINALIZED windows
# (window end <= final watermark = max ts - 2 h) are emitted; late rows'
# windows expired before they arrived, so they are dropped and never
# counted. The emission cutoff applies on any corpus (availableNow's final
# no-data batch advances the watermark and flushes finalized windows); the
# drop filter only bites where late rows exist.
@register(
    "streaming_late_tumbling_append",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, wm
    WHERE event_id >= 0
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
)
def streaming_late_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True, arrival_batches=True)
        return _hourly_counts(stream, "window_start")

    # 420 s: stream-stream join guard — see streaming_click_purchase_join
    return _run_event_time(spark, build, "stream_la", "append", 420, sf_dir)


# Same aggregation in UPDATE mode: every window updated in a batch emits
# its CURRENT cumulative row, and the memory sink accumulates one row per
# (batch, group) — so the query applies the upsert a real update-mode
# consumer applies, keeping the latest row per group (counts only grow,
# so max(n_events) IS the latest). Late rows drop (their windows expired
# before arrival) and update nothing; surviving groups show their full
# on-time totals with NO finalization cutoff — exactly what
# distinguishes update from append, pinned independently.
@register(
    "streaming_late_totals_update",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, wm
    WHERE event_id >= 0
      OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w
    GROUP BY 1, 2
    """,
)
def streaming_late_totals_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True, arrival_batches=True)
        return _hourly_counts(stream, "window_start")

    # upsert-by-key over the accumulated update rows (tz-insensitive:
    # strings and longs only)
    return (
        _run_event_time(spark, build, "stream_lu", "update", 180, sf_dir)
        .groupBy("window_start", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


# Watermark-bounded streaming dedup under late arrival: keys whose only
# occurrences are late rows never reach the state store (the rows are
# dropped at the watermark), so the emitted key set is DISTINCT over the
# surviving rows. Late rows sit 4 h under the cut, so no key straddles
# eviction (a key seen on-time, evicted, then re-arriving on-time could
# legitimately emit twice — the corpus construction excludes that case
# by making every late row droppable).
@register(
    "streaming_late_dedup_within_watermark",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT DISTINCT user_id, event_type
    FROM events, wm
    WHERE event_id >= 0 OR ts >= wm.w
    """,
)
def streaming_late_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def build():
        stream = _read_events_stream(spark, sf_dir, event_time=True, arrival_batches=True)
        return _dedup_within_watermark(stream, "2 hours")

    return _run_event_time(spark, build, "stream_ld", "append", 180, sf_dir)


# Stream-stream inner join under late arrival: the late batch's clicks and
# purchases are both below the join's state watermark (their match windows
# closed when the on-time batch advanced it), so they drop on input and
# the emitted pair set is the on-time self-join. Inner-join emission is
# not watermark-gated (pairs emit on match), so no finalization cutoff
# applies to the surviving rows.
@register(
    "streaming_late_click_purchase_join",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
    p AS (
      SELECT e.event_id, e.user_id, e.ts FROM events e, wm
      WHERE e.event_type = 'purchase' AND (e.event_id >= 0 OR e.ts >= wm.w)
    ),
    c AS (
      SELECT e.event_id, e.user_id, e.ts FROM events e, wm
      WHERE e.event_type = 'click' AND (e.event_id >= 0 OR e.ts >= wm.w)
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def streaming_late_click_purchase_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def read():
        return _read_events_stream(spark, sf_dir, event_time=True, arrival_batches=True)

    return _run_event_time(
        spark, lambda: _click_purchase_pairs(read), "stream_lj", "append", 240, sf_dir
    )
