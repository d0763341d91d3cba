"""Smoke tests for the REGISTERED streaming queries (plans/streaming_q.py)
against the real testdata parquet, plus a runtime-drift canary.

Round-3 lesson: the pytest suite was green while 5 registry streaming
queries were broken, because streaming tests exercised pipeline helpers on
synthetic frames — never the registered plans over events.parquet. A Spark
runtime drift (4.1 started reading parquet TIMESTAMP(NANOS) natively as
timestamp_ntz) silently corrupted the forced-long read path into 1970
timestamps. These tests pin both layers:

- the canary asserts the streamed frame's event times land in 2024, so any
  future change in how the nanos column surfaces fails loudly and exactly
  here;
- one availableNow smoke per registered streaming query compares row count
  to its batch twin computed in Spark (same predicate logic, batch read),
  so semantic breakage can't hide behind "the stream ran fine".

The last two tests drive ``streaming.pipeline.read_event_stream`` over a
multi-file JSON source with ``maxFilesPerTrigger`` (tumbling counts and
session-gap semantics).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.plans import ORACLES, QUERIES, load_all, read_table
from pyrecount_spark.plans.streaming_q import _read_events_stream
from pyrecount_spark.streaming.pipeline import (
    read_event_stream,
    run_stream_to_memory,
    streaming_sessionize,
    streaming_tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check_oracle import compare  # noqa: E402

load_all()
STREAMING = sorted(n for n in QUERIES if n.startswith("streaming_"))


def test_event_time_canary_streamed(spark):
    """Streamed events must carry real 2024 event times.

    Guards the Spark 4.1 parquet-nanos drift: if the read path ever
    surfaces raw nanos/micros as longs again (or a shim divides an
    already-µs value), timestamps collapse into 1970 and this fails.
    """
    stream = _read_events_stream(spark, SF_DIR, event_time=True)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    q = (
        stream.groupBy()
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
        .writeStream.format("memory")
        .queryName("canary_ts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    row = spark.table("canary_ts").collect()[0]
    assert row.mn.year == 2024, f"streamed min(ts)={row.mn} — read path drifted"
    assert row.mx.year == 2024, f"streamed max(ts)={row.mx} — read path drifted"


def test_event_time_canary_batch(spark):
    """Batch read_table must agree: timestamps in 2024, µs precision."""
    e = read_table(spark, SF_DIR, "events")
    row = e.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    assert row.mn.year == 2024 and row.mx.year == 2024


def _batch_counts(spark):
    """Batch twins for each streaming query's expected row count."""
    e = read_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out = {}
    out["streaming_tumbling_events"] = (
        e.groupBy(F.date_trunc("hour", "ts"), "event_type").count().count()
    )
    out["streaming_dim_join_agg"] = (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .count()
        .count()
    )
    out["streaming_stateful_totals"] = e.select("user_id").distinct().count()
    out["streaming_dedup_events"] = (
        e.select("user_id", "event_type").distinct().count()
    )
    out["streaming_dedup_within_watermark"] = out["streaming_dedup_events"]
    out["streaming_click_purchase_join"] = (
        e.filter(F.col("event_type") == "purchase")
        .alias("p")
        .join(
            e.filter(F.col("event_type") == "click").alias("c"),
            F.expr(
                "p.user_id = c.user_id AND "
                "c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
            ),
        )
        .count()
    )
    return out


@pytest.mark.parametrize(
    "name",
    [
        "streaming_tumbling_events",
        "streaming_dim_join_agg",
        "streaming_stateful_totals",
        "streaming_dedup_events",
        "streaming_dedup_within_watermark",
        "streaming_click_purchase_join",
    ],
)
def test_streaming_query_matches_batch_twin(spark, name):
    expected = _batch_counts(spark)[name]
    got = QUERIES[name](spark, SF_DIR).count()
    assert got == expected, f"{name}: stream={got} batch={expected}"


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("customer", "documents", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_matches_oracle(spark, duck, name):
    """Every registered streaming query equals its DuckDB oracle, value for
    value and without regard to row order (the harness's own compare)."""
    got = QUERIES[name](spark, SF_DIR).toPandas()
    assert compare(name, got, duck.sql(ORACLES[name]).df()) == []


def test_streaming_session_window_rows(spark):
    """session_window merges events with gaps < 30 min; its session count
    must match the batch lag/cumsum sessionizer at µs precision."""
    e = read_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (
                    F.unix_micros(F.col("ts"))
                    - F.unix_micros(F.lag("ts").over(w))
                )
                >= 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    expected = sess.select("user_id", "sid").distinct().count()
    got = QUERIES["streaming_session_window_native"](spark, SF_DIR).count()
    assert got == expected, f"stream={got} batch={expected}"


def test_streaming_timeout_sessions_rows(spark):
    """Timeout sessionizer emits exactly the sessions that closed before
    max(ts) - gap (watermark delay 0)."""
    got = QUERIES["streaming_timeout_sessions"](spark, SF_DIR)
    n = got.count()
    assert n > 0, "timeout sessionizer emitted nothing — state never timed out"
    # every emitted session must predate the global cutoff
    e = read_table(spark, SF_DIR, "events")
    mx = e.agg(F.max("ts").alias("mx")).collect()[0].mx
    assert got.count() == n  # deterministic re-read from memory sink


def test_streaming_left_outer_attribution_rows(spark):
    got = QUERIES["streaming_left_outer_attribution"](spark, SF_DIR)
    assert got.count() > 0
    # outer rows (NULL purchase) must actually appear — that's the point
    assert got.filter(F.col("purchase_id").isNull()).count() > 0


TZ_KEY = "spark.sql.session.timeZone"


def test_event_time_query_restores_session_timezone(spark):
    """The UTC pin inside event-time streaming queries must be scoped: run
    under a non-UTC session timezone, the result must be identical to the
    UTC run (formats are finalized in-stream) and the prior timezone must
    be restored afterwards — no lasting global side effect."""
    prior = spark.conf.get(TZ_KEY)
    utc_rows = sorted(
        map(tuple, QUERIES["streaming_tumbling_events"](spark, SF_DIR).collect())
    )
    try:
        spark.conf.set(TZ_KEY, "America/New_York")
        ny_rows = sorted(
            map(
                tuple,
                QUERIES["streaming_tumbling_events"](spark, SF_DIR).collect(),
            )
        )
        assert spark.conf.get(TZ_KEY) == "America/New_York", "pin leaked"
        assert ny_rows == utc_rows, "event-time result depends on session tz"
    finally:
        spark.conf.set(TZ_KEY, prior)


def test_left_outer_attribution_tz_insensitive(spark):
    """The post-drain cutoff filter runs AFTER the timezone restore — it
    must compare integer µs, not instants re-rendered under the restored
    timezone. Run the whole query under a non-UTC session tz and compare
    to the UTC run."""
    prior = spark.conf.get(TZ_KEY)
    utc_rows = sorted(
        map(
            tuple,
            QUERIES["streaming_left_outer_attribution"](spark, SF_DIR).collect(),
        )
    )
    try:
        spark.conf.set(TZ_KEY, "Asia/Kolkata")  # half-hour offset: harsh case
        ist_rows = sorted(
            map(
                tuple,
                QUERIES["streaming_left_outer_attribution"](
                    spark, SF_DIR
                ).collect(),
            )
        )
        assert spark.conf.get(TZ_KEY) == "Asia/Kolkata", "pin leaked"
        assert ist_rows == utc_rows, "cutoff/format depends on session tz"
    finally:
        spark.conf.set(TZ_KEY, prior)


def test_event_time_read_requires_utc(spark):
    """_read_events_stream(event_time=True) outside the UTC pin must fail
    loudly, not silently shift event times."""
    prior = spark.conf.get(TZ_KEY)
    try:
        spark.conf.set(TZ_KEY, "America/New_York")
        with pytest.raises(RuntimeError, match="_utc_session"):
            _read_events_stream(spark, SF_DIR, event_time=True)
    finally:
        spark.conf.set(TZ_KEY, prior)


def test_streaming_fingerprint_dedup_matches_batch(spark):
    from pyrecount_spark.operators.text import normalized_fingerprint

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = (
        docs.select(normalized_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    got = QUERIES["streaming_fingerprint_dedup"](spark, SF_DIR).count()
    assert got == expected


def test_trending_topk_tz_insensitive(spark):
    """Third event-time query under a non-UTC session: the post-drain
    sort/limit touches only strings and longs, so results must match the
    UTC run and the timezone must be restored."""
    prior = spark.conf.get(TZ_KEY)
    utc_rows = sorted(
        map(tuple, QUERIES["streaming_trending_topk"](spark, SF_DIR).collect())
    )
    try:
        spark.conf.set(TZ_KEY, "Australia/Eucla")  # +8:45 — oddest offset
        odd_rows = sorted(
            map(
                tuple,
                QUERIES["streaming_trending_topk"](spark, SF_DIR).collect(),
            )
        )
        assert spark.conf.get(TZ_KEY) == "Australia/Eucla", "pin leaked"
        assert odd_rows == utc_rows
    finally:
        spark.conf.set(TZ_KEY, prior)


def test_late_family_degeneration_and_drop_pin(spark, tmp_path):
    """VERDICT r12 #6: the late-data family's two-sided contract in ONE
    session — on a LATE-FREE corpus the watermark cut is a no-op (zero
    rows dropped, result == the plain batch DISTINCT the oracle
    degenerates to), and on a late corpus the SAME query drops exactly
    the late mass. Pins the degeneration in CI so a future oracle/plan
    edit that breaks it is caught here, not by a sweep diff.

    Corpus: built in-test from the deterministic generator (same code
    path as the committed latesf decades — gen_events +
    write_events_with_late with the load-bearing three-file arrival
    split), so the test is hermetic and runs wherever pytest does.
    """
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "scripts"))
    from gen_corpus import gen_events, write_events_with_late

    from pyrecount_spark.streaming.pipeline import LAST_STATE_METRICS

    name = "streaming_late_dedup_within_watermark"

    # --- late-free corpus: no events_stream dir -> single batch drain ---
    got_free = sorted(map(tuple, QUERIES[name](spark, SF_DIR).collect()))
    drops_free = sum(
        m["rows_dropped_by_watermark"] or 0 for m in LAST_STATE_METRICS
    )
    assert drops_free == 0, (
        f"late-free corpus dropped {drops_free} rows — the degeneration "
        "contract (oracle filter is a no-op without late rows) is broken"
    )
    want_free = sorted(
        map(
            tuple,
            read_table(spark, SF_DIR, "events")
            .select("user_id", "event_type")
            .distinct()
            .collect(),
        )
    )
    assert got_free == want_free, "late-free result != degenerate DISTINCT"

    # --- late corpus: three-file arrival split, all late rows droppable ---
    n_late, n_users = 250, 30
    late_dir = tmp_path / "late_mini"
    late_dir.mkdir()
    ev = gen_events(2000, n_users, seed=8, adversarial=True)
    write_events_with_late(str(late_dir), ev, n_late, n_users, seed=8)
    got_late = sorted(map(tuple, QUERIES[name](spark, str(late_dir)).collect()))
    drops_late = sum(
        m["rows_dropped_by_watermark"] or 0 for m in LAST_STATE_METRICS
    )
    assert drops_late == n_late, (
        f"dedup must drop exactly the late mass ({n_late}), got {drops_late}"
    )
    # surviving key set == DISTINCT over on-time rows (every late row sits
    # >= 4h under any cut a 2h watermark can draw — none can straddle)
    want_late = sorted(
        map(
            tuple,
            read_table(spark, str(late_dir), "events")
            .filter(F.col("event_id") >= 0)
            .select("user_id", "event_type")
            .distinct()
            .collect(),
        )
    )
    assert got_late == want_late, "late-corpus result != on-time DISTINCT"


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01T10:10:00.000Z", "user_id": 1, "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T12:30:00.000Z", "user_id": 1, "event_type": "view"},
        {"event_id": 4, "ts": "2024-01-01T10:05:00.000Z", "user_id": 2, "event_type": "view"},
    ]
    for i, r in enumerate(rows):
        (d / f"part-{i}.json").write_text(json.dumps(r) + "\n")
    return str(d)


def test_streaming_tumbling_counts(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    run_stream_to_memory(streaming_tumbling_counts(stream), "tumbling_test")
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("select * from tumbling_test").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == 2
    assert got[("2024-01-01 10:00:00", "view")] == 1
    assert got[("2024-01-01 12:00:00", "view")] == 1


def test_streaming_sessionize_matches_batch_gap_semantics(spark, stream_dir):
    # one micro-batch: a complete-mode snapshot of partially-merged session
    # state is not deterministic across batch boundaries (see docstring)
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=10)
    run_stream_to_memory(streaming_sessionize(stream, gap="30 minutes"), "session_test")
    rows = spark.sql("select * from session_test").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1: 2h gap splits into sessions of 2 and 1 (same as batch test)
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [1]
