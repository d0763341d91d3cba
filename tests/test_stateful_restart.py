"""Checkpoint-restart resilience for the timeout sessionizer: per-user
state written by run 1 must be restored by run 2 (same checkpoint), so a
session spanning both runs merges, a gap break emits it, and the watermark
pushed by late traffic times out the remainder. This is the property that
makes the operator production-viable — a restarted job must not re-open or
double-emit sessions.
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from pyrecount_spark.streaming.pipeline import streaming_timeout_sessions

T0 = datetime.datetime(2024, 3, 1, 12, 0, 0)


def _mins(m: float) -> datetime.datetime:
    return T0 + datetime.timedelta(minutes=m)


SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("ts", TimestampType())]
)


def _run(spark, src: str, ckpt: str, out: str) -> None:
    stream = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        streaming_timeout_sessions(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_session_state_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # run 1: user 1 has an OPEN session (two events 10 min apart)
    spark.createDataFrame(
        [(1, _mins(0)), (1, _mins(10))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, ckpt, out)
    assert spark.read.schema(
        streaming_timeout_sessions(
            spark.readStream.schema(SCHEMA).parquet(src).withWatermark("ts", "0 seconds")
        ).schema
    ).parquet(out).count() == 0  # nothing closed yet

    # run 2: +15 min continues the session (state restored!), +60 breaks it,
    # and a far-future event pushes the watermark past the remainder's gap
    spark.createDataFrame(
        [(1, _mins(15)), (1, _mins(60)), (2, _mins(600))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, ckpt, out)

    rows = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # the cross-restart session merged to 3 events and closed on the gap
    # break; the 1-event remainder closed on watermark timeout; user 2's
    # session is still open (no emission)
    assert rows == {
        (1, _mins(0), _mins(15), 3),
        (1, _mins(60), _mins(60), 1),
    }, rows


def _tws_available() -> bool:
    from pyrecount_spark.streaming.proto_compat import protobuf_available

    return protobuf_available()


@pytest.mark.skipif(
    not _tws_available(),
    reason="transformWithStateInPandas needs protobuf (installed or vendored)"
    " for its state server",
)
def test_tws_user_stats_batch_parity(spark, tmp_path):
    """transformWithStateInPandas totals over one availableNow batch equal
    the batch aggregate. Runs with an installed protobuf OR via the
    proto_compat vendored-runtime shim (addPyFile to workers); TWS needs
    the RocksDB state store for its column families."""
    import pandas as pd

    from pyrecount_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_user_stats_tws,
    )
    from pyrecount_spark.streaming.proto_compat import ensure_protobuf

    assert ensure_protobuf(spark), "protobuf probe passed but ensure failed"
    src = tmp_path / "ev"
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 2, 2],
            "event_type": ["view", "purchase", "view", "view", "purchase"],
            "value": [1.25, 2.50, 0.10, 0.20, 5.00],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            "user_id BIGINT, event_type STRING, value DOUBLE"
        ).parquet(str(src))
        out = streaming_user_stats_tws(stream)
        run_stream_to_memory(out, "tws_parity", output_mode="update", timeout_s=180)
    finally:
        spark.conf.set(key, prior)
    got = {r.user_id: r for r in spark.table("tws_parity").collect()}
    assert got[1].n_events == 2 and got[1].n_purchases == 1
    assert got[1].value_cents == 375 and got[1].n_event_types == 2
    assert got[2].n_events == 3 and got[2].value_cents == 530


def test_tws_registered_query_matches_oracle(spark):
    """The REGISTERED streaming_tws_user_stats must equal the batch
    aggregate over events.parquet — the same oracle the driver runs."""
    if not _tws_available():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from pyrecount_spark.plans import QUERIES, load_all, read_table

    load_all()
    if "streaming_tws_user_stats" not in QUERIES:
        pytest.fail("protobuf available but TWS query not registered")
    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.n_event_types, r.n_purchases, r.value_cents)
        for r in QUERIES["streaming_tws_user_stats"](spark, sf).collect()
    }
    e = read_table(spark, sf, "events")
    exp = {
        r.user_id: (r.n_events, r.n_event_types, r.n_purchases, r.value_cents)
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .collect()
    }
    assert got == exp, f"{len(got)} users vs {len(exp)}"
