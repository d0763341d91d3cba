"""Query registry: every SURVEY.md §2 operator as a named (spark, sf_dir) →
DataFrame callable plus, where SQL-expressible, a DuckDB oracle twin.

Conventions that make the driver's order-insensitive value-hash match:

- Every computed/aggregate column is aliased identically in Spark and SQL.
- Money aggregates go through exact integer cents
  (``CAST(ROUND(x * 100) AS BIGINT)``) before summing — float summation
  order differs between engines, integer sums don't.
- Remaining double outputs are rounded to a fixed number of decimals on
  both sides.
- Every ``LIMIT`` is preceded by a *total* order (unique tiebreaker column).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Registry groups. "default" queries are pipeline-shaped (scale-safe plans);
# "eval_only" queries are documented O(N^2) evaluation yardsticks (exact
# all-pairs recall baselines) that must NEVER be wired into a pipeline or
# bench hot path — tests/test_plan_lint.py asserts this group exactly equals
# its BNLJ all-pairs whitelist and that no bench tier contains one.
GROUPS: dict[str, str] = {}


def register(name: str, oracle: str | None = None, group: str = "default"):
    """Decorator: add a query (and optional DuckDB oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        GROUPS[name] = group
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The lake table ``name``: ``<sf_dir>/<name>.parquet``.

    Spark 4 reads the events table's parquet TIMESTAMP(NANOS) natively as
    ``timestamp_ntz`` (microsecond-truncated — the same µs semantics
    DuckDB/Arrow surface for this column), so no conf or conversion is
    needed; the year-2024 canary in tests/test_streaming_queries.py pins
    that. Never set ``spark.sql.legacy.parquet.nanosAsLong``: under Spark
    4.1 that path yields µs-valued longs, and any div-1000 shim would
    collapse event times into 1970.
    """
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all() -> None:
    """Import every plan module for its registration side effects."""
    from pyrecount_spark.plans import (  # noqa: F401
        analytics,
        behavior,
        clustering,
        coo,
        corpus,
        dedup,
        grouped,
        joins,
        matrix,
        relational,
        scalars,
        similarity,
        streaming_q,
        text,
        tpch,
        windows,
    )
