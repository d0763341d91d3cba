"""Grouped-map custom operators via ``applyInPandas`` (SURVEY §2.9: the
sanctioned Python escape hatch when built-in expressions can't say it).

The reference computes per-group normalizations imperatively
(pyrecount scale_mapped_reads-style per-sample factors,
/root/reference/README-snippets; accessor.py scale paths); here the same
shape is a single grouped-map: ONE shuffle on the group key, then
Arrow-batched pandas per group — never a driver-side loop.

Scale notes (100 TB): ``applyInPandas`` shuffles once on the group key and
materializes ONE GROUP AT A TIME per task in pandas. It is the right tool
when group count is large and each group is executor-memory-sized (here:
bounded enum keys × bounded rows). For giant single groups, pre-aggregate
the moments with built-ins and broadcast them back instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_zscore(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group standardization: z = (x - mean) / stddev_samp, plus the
    exact integer deviation ``dev_scaled = n*x - sum(x)`` (exact when x is
    integral — no float rounding ambiguity across engines). z is rounded to
    4 decimals.

    The pandas function is defined inline so cloudpickle serializes it BY
    VALUE — executors never need this module importable (vanilla-session
    safe).
    """
    import pandas as pd  # noqa: F401 — document the worker-side dep

    group_cols = list(group_cols)
    keep_cols = list(keep_cols)
    in_schema = df.select(
        *group_cols, *keep_cols, F.col(value_col).alias("_x")
    )
    out_fields = in_schema.schema.fields
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields[:-1])
        + ", _x double, dev_scaled long, z double"
    )

    def standardize(pdf):
        x = pdf["_x"].astype("float64")
        n = len(x)
        pdf = pdf.copy()
        # n*x and sum(x) are exact in float64 for integral x < 2^53/n
        pdf["dev_scaled"] = (n * x - x.sum()).round().astype("int64")
        sd = x.std(ddof=1)  # matches stddev_samp; NaN for n == 1
        if sd and sd == sd:
            pdf["z"] = ((x - x.mean()) / sd).round(4)
        else:
            pdf["z"] = None
        return pdf

    out = in_schema.groupBy(*group_cols).applyInPandas(standardize, schema=out_schema)
    return out.withColumnRenamed("_x", value_col)


def cogroup_reconcile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_cents: str,
    right_cents: str,
) -> DataFrame:
    """Cogrouped-map reconciliation: per key, both sides' rows arrive as two
    pandas frames in one task (``cogroup(...).applyInPandas`` — the
    FlatMapCoGroupsInPandas path, the only Pandas API surface the grouped
    z-score doesn't exercise).

    Emits per-key row counts and exact integer-cent totals for both sides
    plus their difference — the ledger-reconciliation shape (bank vs
    book). ONE co-shuffle on the key; each side materializes one group at
    a time. Keys present on a single side still emit (the other frame
    arrives empty).

    The pandas function is defined inline (cloudpickle by-value;
    vanilla-session safe).
    """
    import pandas as pd  # noqa: F401 — document the worker-side dep

    def reconcile(lk, ldf, rdf):
        import pandas as _pd

        return _pd.DataFrame(
            {
                "key": [lk[0]],
                "n_left": [len(ldf)],
                "n_right": [len(rdf)],
                "left_cents": [int(ldf["_c"].sum()) if len(ldf) else 0],
                "right_cents": [int(rdf["_c"].sum()) if len(rdf) else 0],
            }
        )

    from pyrecount_spark.operators.skew import widen_narrow_scan

    # the cogroup exchange is AQE-coalesced by its (tiny) byte size while
    # the cost is one pandas invocation PER KEY — at sf0.1 that serialized
    # ~20k python calls onto 2 tasks (23 task-s). A numbered repartition on
    # the key satisfies the cogroup's required ClusteredDistribution, so no
    # second exchange is added, AQE cannot coalesce it, and the per-group
    # python work spreads over the cores. Identity at production scale
    # (widen_narrow_scan gates on the source's natural split count).
    lsel = widen_narrow_scan(
        left.select(F.col(left_key).alias("k"), F.col(left_cents).alias("_c")), "k"
    )
    rsel = widen_narrow_scan(
        right.select(F.col(right_key).alias("k"), F.col(right_cents).alias("_c")), "k"
    )
    out = (
        lsel.groupBy("k")
        .cogroup(rsel.groupBy("k"))
        .applyInPandas(
            reconcile,
            schema="key long, n_left long, n_right long, "
                   "left_cents long, right_cents long",
        )
    )
    return out.withColumn("diff_cents", F.col("left_cents") - F.col("right_cents"))
