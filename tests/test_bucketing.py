"""Partitioned lake reads must prune: a plan-shape assertion on the layout
``sources/ingest.land_parquet`` writes, checked against the physical plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyrecount_spark.sources.ingest import land_parquet


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_partition_pruning_on_lake_read(spark, tmp_path):
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(org, proj, i) for org in ("human", "mouse") for proj in ("P1", "P2") for i in range(10)],
        "organism string, project string, v int",
    )
    land_parquet(df, lake, partition_by=["organism", "project"])
    rd = spark.read.parquet(lake).filter(
        (F.col("organism") == "human") & (F.col("project") == "P1")
    )
    plan = _plan(rd)
    assert "PartitionFilters" in plan and "organism" in plan, plan
    assert rd.count() == 10
    # pruned read touches exactly the one matching partition directory
    files = [r[0] for r in rd.select(F.input_file_name()).distinct().collect()]
    assert all("organism=human" in f and "project=P1" in f for f in files)
