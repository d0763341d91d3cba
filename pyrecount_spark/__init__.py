"""pyrecount_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``dfrll/pyrecount`` (see SURVEY.md), rebuilt
Spark-first for a 100 TB partitioned-Parquet lake.

Design stance (SURVEY.md §7):

- Lazy DataFrames over partitioned Parquet; Catalyst does pushdown/pruning.
- Long ("tidy") count tables ``(feature_id, sample_id, count)`` are the
  canonical form; wide matrices are a presentation-layer pivot.
- Sparse matrices stay COO — never densified.
- Zero row-at-a-time Python UDFs. Python runs on executors only in the
  ``applyInPandas`` grouped-map queries and the ``applyInPandasWithState`` /
  ``transformWithStateInPandas`` streaming operators.
- Small dimension sides are broadcast; big joins shuffle on explicit keys.
"""

from pyrecount_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
