"""Sorted lake layouts whose parquet min/max stats let range and 2-D box
predicates skip whole files and row groups.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_cols: Sequence[str],
    num_partitions: int,
) -> None:
    """Range-partitioned, within-file-sorted layout: the scan-pruning layout
    for range predicates (time ranges, key ranges) when a hive-style
    ``partitionBy`` would create too many directories.

    ``repartitionByRange`` samples split points so files hold disjoint key
    ranges; ``sortWithinPartitions`` makes parquet row-group min/max stats
    tight, so a range filter skips whole files and row groups at planning
    and read time. This is the poor-man's z-order — exactly right for a
    single dominant range dimension (e.g. event time at 100 TB).
    """
    cols = list(range_cols)
    (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(a, b, bits: int = 16):
    """Morton (z-order) key: bit-interleave two non-negative int columns —
    ``a``'s bit i lands at position 2i+1, ``b``'s at 2i.

    Sorting/range-partitioning the lake by this single key keeps rows close
    in BOTH dimensions, so parquet min/max stats prune 2-D box predicates —
    the multi-dimension upgrade of ``write_range_sorted``. Pure native bit
    arithmetic (whole-stage codegen), zero Python.
    """
    from pyspark.sql import functions as F

    a = a.cast("long")
    b = b.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        # bit positions are disjoint, so addition == bitwise OR (and stays
        # a numeric expression — PySpark's `|` operator is logical)
        out = (
            out
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return out
