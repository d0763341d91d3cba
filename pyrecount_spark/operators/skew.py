"""Skew mitigation: salted joins (SURVEY §2 scale notes; AQE's skew-join
split handles sort-merge skew at runtime, but salting is the explicit tool
when one side must be replicated — e.g. a hot key joining a broadcastable-
but-not-tiny dimension) and under-split-scan widening for CPU-bound
stages (``widen_narrow_scan``)."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def widen_narrow_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Numbered repartition for a CPU-bound pipeline fed by an under-split
    scan (round-14; guide §2 "derive partitioning from input size, not a
    constant tuned for either local mode or the cluster").

    Spark sizes everything by BYTES: a scan gets one task per
    ``maxPartitionBytes`` split, and AQE coalesces shuffle reads to the
    64 MB advisory. A stage whose per-row cost dwarfs its bytes —
    segment-signature explodes, per-pair ``levenshtein``, rolling-hash
    fingerprints, per-group pandas — inherits that byte-derived width, so
    over a small parquet file the whole explode/verify pipeline runs on
    1-3 tasks regardless of cores (measured at sf0.1: the PassJoin
    candidate join + partial distinct ran 7.1 s inside the ONE scan
    partition of a 2 MB file).

    The widen fires ONLY when the source's natural split count
    (file bytes / ``maxPartitionBytes``) is below the session's core
    count — exactly the small-corpus / local regime. At production scale
    the scan already yields ≥ cores splits and this function is the
    IDENTITY: no extra shuffle of heavy payloads is ever added, so it is
    corpus-derived, never a config knob. Sizes come from the resolved
    file index (driver-side metadata, no job); non-file or remote sources
    return unchanged. ``key_cols`` hash-partition the (narrow, pre-
    explode) rows — pass a unique id to spread evenly; keyless falls back
    to round-robin, whose sort-before-repartition cost is bounded by the
    same smallness the gate just proved.
    """
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    try:
        src_bytes = 0
        files = df.inputFiles()
        if not files:
            return df
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("file", ""):
                return df  # remote storage: sizes unknown; scans there are wide
            src_bytes += os.path.getsize(p.path)
    except Exception:  # noqa: BLE001 — widening is best-effort, never fatal
        return df
    try:
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except (TypeError, ValueError):
        max_pb = 128 << 20
    cores = spark.sparkContext.defaultParallelism
    natural_splits = -(-src_bytes // max_pb) if src_bytes else 1
    if natural_splits >= cores:
        return df
    if key_cols:
        return df.repartition(cores, *[F.col(c) for c in key_cols])
    return df.repartition(cores)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt: int = 8,
) -> DataFrame:
    """Equi-join with key salting: left rows scatter across ``salt``
    sub-partitions per key (deterministic row-hash salt — reproducible, no
    RNG state on executors); the right side replicates each row ``salt``
    times. Hot keys fan out over ``salt`` tasks instead of one straggler.

    Output is exactly the plain join's — salting only changes the
    partitioning, which is what makes it oracle-checkable against the
    unsalted SQL.
    """
    on = list(on)
    l_salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(salt))
    salted_left = left.withColumn("_salt", l_salt)
    salted_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_left.join(salted_right, on=on + ["_salt"]).drop("_salt")
