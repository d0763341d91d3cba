"""Relational operator semantics on tiny golden frames (SURVEY §2.2-2.6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.functions.scalars import ORGANISM_REMAP, value_remap
from pyrecount_spark.operators.relational import (
    align_union,
    anti_join,
    group_count,
    isin_filter,
    keep_list_project,
    multi_join,
    top_k,
)


def test_multi_join_composite_key_metadata_shape(spark):
    """Q2/J1 (accessor.py:470): fold per-tag frames on (rail_id,
    external_id, study)."""
    key = [("r1", "e1", "s1"), ("r2", "e2", "s1")]
    t1 = spark.createDataFrame([(k + ("a" + k[0],)) for k in key],
                               ["rail_id", "external_id", "study", "qc"])
    t2 = spark.createDataFrame([(k + ("b" + k[0],)) for k in key],
                               ["rail_id", "external_id", "study", "seq"])
    t3 = spark.createDataFrame([(k + ("c" + k[0],)) for k in key],
                               ["rail_id", "external_id", "study", "pred"])
    out = multi_join([t1, t2, t3], on=["rail_id", "external_id", "study"])
    assert out.count() == 2
    assert set(out.columns) == {"rail_id", "external_id", "study", "qc", "seq", "pred"}
    r = {x.rail_id: x for x in out.collect()}
    assert (r["r1"].qc, r["r1"].seq, r["r1"].pred) == ("ar1", "br1", "cr1")


def test_align_union_schema_drift(spark):
    """U2 (accessor.py:507-510): different projects carry different extra
    columns (FIXTURES.md F2); missing -> typed nulls."""
    a = spark.createDataFrame([("r1", "p1", 1.5)], ["rail_id", "project", "qc_a"])
    b = spark.createDataFrame([("r2", "p2", "x")], ["rail_id", "project", "qc_b"])
    out = align_union([a, b])
    assert set(out.columns) == {"rail_id", "project", "qc_a", "qc_b"}
    rows = {r.rail_id: r for r in out.collect()}
    assert rows["r1"].qc_b is None and rows["r2"].qc_a is None
    assert dict(out.dtypes)["qc_a"] == "double"  # type preserved, not string


def test_keep_list_raises_on_missing(spark):
    """P1 (accessor.py:267-278): missing requested column raises KeyError."""
    df = spark.createDataFrame([("g1", 1)], ["gene_id", "s1"])
    with pytest.raises(KeyError):
        keep_list_project(df, "gene_id", ["s1", "s_missing"])


def test_group_count_sort_filter_pipeline(spark):
    """The canonical example.py:21-30 pipeline shape."""
    md = spark.createDataFrame(
        [("p1", "e1"), ("p1", "e2"), ("p2", "e3")], ["project", "external_id"]
    )
    counts = group_count(md, ["project"], "len")
    top = top_k(counts, [F.desc("len"), F.asc("project")], 1).collect()
    assert top[0].project == "p1" and top[0].len == 2
    assert isin_filter(counts, "project", ["p2"]).collect()[0].len == 1


def test_organism_remap(spark):
    """F3 (utils.py:6-9) with pass-through for unmatched values."""
    df = spark.createDataFrame(
        [("Homo sapiens",), ("Mus musculus",), ("Danio rerio",)], ["organism"]
    )
    out = [r.o for r in df.select(
        value_remap(F.col("organism"), ORGANISM_REMAP).alias("o")).collect()]
    assert out == ["human", "mouse", "Danio rerio"]


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (3,)], ["k"])
    assert left.join(right, ["k"], "left_semi").count() == 2
    assert anti_join(left, right, ["k"]).count() == 1


def test_expectation_report_detects_violations(spark):
    from pyrecount_spark.operators.quality import expectation_report

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "1-URGENT"),
            (1, "O", -5.0, "9-BOGUS"),   # dup key, negative price, bad format
            (None, "X", 3.0, "2-HIGH"),  # null key, bad status
        ],
        ["k", "status", "price", "prio"],
    )
    checks = [
        ("k_not_null", "k", "not_null", None),
        ("k_unique", "k", "unique", None),
        ("price_non_negative", "price", "min_ge", 0),
        ("status_domain", "status", "in_set", ["O", "F", "P"]),
        ("prio_format", "prio", "matches", "^[1-5]-"),
    ]
    out = {r.constraint: r for r in expectation_report(df, checks).collect()}
    assert out["k_not_null"].violations == 1 and not out["k_not_null"].passed
    assert out["k_unique"].violations == 1          # two non-null 1s -> 1 surplus
    assert out["price_non_negative"].violations == 1
    assert out["status_domain"].violations == 1
    assert out["prio_format"].violations == 1

    # the whole suite reads its input ONCE (count_distinct legitimately
    # expands to a two-phase aggregate, but still over a single scan)
    plan = expectation_report(df, checks)._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan ExistingRDD") + plan.count("LocalTableScan")
    assert n_scans == 1, plan


def test_snapshot_diff_classifies_all_types(spark):
    from pyrecount_spark.operators.relational import snapshot_diff

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    right = spark.createDataFrame(
        [(1, "a"), (2, "CHANGED"), (4, "d")], "k long, v string"
    )
    out = {r.k: r.change_type for r in
           snapshot_diff(left, right, ["k"], ["v"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_and_delimiter_unambiguous(spark):
    """Row hashes must not collapse null-position swaps or delimiter-
    straddling values (the concat_ws('|') failure modes): (NULL,'b') vs
    ('b',NULL) and ('a|b','c') vs ('a','b|c') are CHANGED, not unchanged."""
    from pyrecount_spark.operators.relational import snapshot_diff

    left = spark.createDataFrame(
        [(1, None, "b"), (2, "a|b", "c"), (3, "same", "same")],
        "k long, x string, y string",
    )
    right = spark.createDataFrame(
        [(1, "b", None), (2, "a", "b|c"), (3, "same", "same")],
        "k long, x string, y string",
    )
    out = {r.k: r.change_type for r in
           snapshot_diff(left, right, ["k"], ["x", "y"]).collect()}
    assert out == {1: "changed", 2: "changed", 3: "unchanged"}


def test_cdc_compact_keeps_last_and_tombstones(spark):
    from pyspark.sql import functions as F

    from pyrecount_spark.operators.relational import cdc_compact

    log = spark.createDataFrame(
        [
            (1, 10, "upsert", 100.0),
            (1, 20, "upsert", 200.0),   # last for key 1
            (2, 10, "upsert", 50.0),
            (2, 30, "delete", 0.0),     # key 2 tombstoned
            (3, 5, "delete", 0.0),
            (3, 6, "upsert", 9.0),      # revived after delete
        ],
        "k long, seq long, op string, v double",
    )
    state = {
        r.k: r.v
        for r in cdc_compact(
            log, ["k"], ["seq"], ["op", "v"], F.col("op") == "delete"
        ).collect()
    }
    assert state == {1: 200.0, 3: 9.0}
