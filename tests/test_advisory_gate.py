"""CI pin for the round-13 advisory-gate finding (VERDICT r13 #1).

Spark applies the AQE SortMergeJoin -> ShuffledHashJoin conversion only
when ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`` is **not
smaller than** ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. Below
that gate the threshold is an OFF SWITCH, not a calibration: every runtime
SHJ silently reverts to SMJ — the external-sort shape behind round 10's
56.5 GB verify-join spill (SHJ_THRESHOLD_DIAG_r13.json measured exactly
this when VERDICT r12 #2's advised 16 MB value was tried: the probe
decontaminate census went 8 BHJ + 5 SHJ + 16 SMJ -> 8 BHJ + 21 SMJ).

Until round 14 that invariant lived only in prose (session.py:60-81) and a
diagnostic artifact; a future "tuning" of either knob would revert the
verify joins unnoticed. These tests make both halves mechanical:

1. the registered session's threshold >= advisory (the static relation);
2. the conversion actually FIRES under registered defaults on a live
   shuffle-join shape (finalized adaptive plan contains ShuffledHashJoin),
   and — positive control for the gate itself — the SAME shape under a
   16 MB threshold stays SortMergeJoin even though every shuffle partition
   is kilobytes (far below 16 MB): the reversion is the advisory gate, not
   partition size.

The last test pins the other session default sized for local mode: the
driver heap.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

_THRESHOLD_KEY = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
_ADVISORY_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _bytes(conf_value: str) -> int:
    """Parse Spark's byte-string conf format ("67108864", "64MB", "1g")."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", conf_value)
    assert m, f"unparseable byte conf value: {conf_value!r}"
    unit = m.group(2).lower()
    assert unit in _UNITS, f"unknown byte unit in conf value: {conf_value!r}"
    return int(m.group(1)) * _UNITS[unit]


def _final_plan_of_shuffle_join(spark) -> str:
    """Execute a canonical two-sided shuffle equi-join and return the
    finalized adaptive plan.

    Broadcast is disabled for the probe so the static choice is SMJ (the
    default ``preferSortMergeJoin``); whether AQE then converts it to SHJ
    is decided purely by the threshold/advisory gate under test. The probe
    mirrors the verify-join shape (wide payload on the streamed side) at a
    size that keeps every shuffle partition in the kilobyte range, so the
    "all partitions fit under the threshold" precondition holds at BOTH
    threshold values — only the gate differs.
    """
    left = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        F.repeat(F.lit("x"), 64).alias("payload"),
    )
    right = spark.range(0, 20000).select(
        (F.col("id") % 4096).alias("k"),
        (F.col("id") * 7).alias("v"),
    )
    df = left.join(right, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    # Execute THIS QueryExecution so AQE finalizes it in place (the
    # final_plans.py capture pattern), then re-explain.
    df._jdf.queryExecution().toRdd().count()
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_registered_threshold_not_below_advisory(spark):
    threshold = _bytes(spark.conf.get(_THRESHOLD_KEY))
    advisory = _bytes(spark.conf.get(_ADVISORY_KEY))
    assert threshold >= advisory, (
        f"{_THRESHOLD_KEY}={threshold} < {_ADVISORY_KEY}={advisory}: below "
        "the advisory gate Spark never applies the AQE SMJ->SHJ conversion "
        "— every runtime ShuffledHashJoin silently reverts to SortMergeJoin "
        "(the 56 GB-spill class; see SHJ_THRESHOLD_DIAG_r13.json and "
        "session.py:60-81 before changing either knob)"
    )


def test_smj_to_shj_conversion_fires_under_registered_defaults(spark):
    saved = {k: spark.conf.get(k) for k in (_THRESHOLD_KEY, _ADVISORY_KEY)}
    saved_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # Registered defaults: the conversion must fire.
        plan = _final_plan_of_shuffle_join(spark)
        assert "isFinalPlan=true" in plan
        assert "ShuffledHashJoin" in plan, (
            "AQE SMJ->SHJ conversion did not fire under registered session "
            "defaults — the verify-join protection is OFF (advisory-gate "
            "regression, VERDICT r13 #1); check "
            f"{_THRESHOLD_KEY} vs {_ADVISORY_KEY}"
        )

        # Positive control: 16 MB (< 64 MB advisory) disables the rule
        # outright even though every partition here is ~KB-sized. If this
        # half ever starts seeing ShuffledHashJoin, Spark changed the gate
        # semantics and the session comment needs rewriting.
        spark.conf.set(_THRESHOLD_KEY, str(16 * 1024 * 1024))
        plan16 = _final_plan_of_shuffle_join(spark)
        assert "ShuffledHashJoin" not in plan16 and "SortMergeJoin" in plan16, (
            "16 MB threshold (< advisory) unexpectedly still produced a "
            "ShuffledHashJoin — the advisory-gate semantics this pin "
            "encodes have changed; re-measure before trusting either config"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bcast)


def test_registered_session_factory_threshold_relation():
    """The relation must hold in the FACTORY's conf dict too, not just the
    live test session (a test session could mask a bad default if some
    fixture overrode the knob). Parse session.py's builder literally."""
    from pathlib import Path

    src = (Path(__file__).resolve().parent.parent
           / "pyrecount_spark" / "session.py").read_text()
    m = re.search(
        r'"spark\.sql\.adaptive\.maxShuffledHashJoinLocalMapThreshold",'
        r'\s*"(\d+)"', src,
    )
    assert m, "session.py no longer sets the SHJ threshold explicitly"
    threshold = int(m.group(1))
    adv = re.search(
        r'"spark\.sql\.adaptive\.advisoryPartitionSizeInBytes",\s*"([^"]+)"',
        src,
    )
    advisory = _bytes(adv.group(1)) if adv else 64 * 1024 * 1024
    assert threshold >= advisory, (
        f"session.py sets SHJ threshold {threshold} below the advisory "
        f"partition size {advisory} — see the round-13 finding in the "
        "session.py comment block before shipping this"
    )


def test_driver_memory_from_env_or_fifth_of_ram(spark):
    """The session's driver heap: ``SPARK_DRIVER_MEM`` when set, otherwise a
    fifth of RAM clamped to 1-8 GB (ARCHITECTURE.md, "Driver heap")."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    rule = f"{max(1, min(8, int(ram_gb // 5)))}g"
    expected = os.environ.get("SPARK_DRIVER_MEM") or rule
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
