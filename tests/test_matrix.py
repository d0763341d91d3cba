"""Count-matrix semantics: melt/pivot round-trip, chunked wide view, Q7/Q8 scaling.

Golden fixtures per FIXTURES.md F2/F3; scaling semantics accessor.py:122-174.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.operators.matrix import (
    melt,
    pivot_wide,
    scale_factors_auc,
    scale_factors_mapped_reads,
    scale_long,
)


@pytest.fixture(scope="module")
def counts_wide(spark):
    # FIXTURES.md F3: gene_id + one numeric column per sample
    return spark.createDataFrame(
        [("g1", 10, 100), ("g2", 20, 200), ("g3", 0, 300)],
        ["gene_id", "s1", "s2"],
    )


@pytest.fixture(scope="module")
def metadata(spark):
    # FIXTURES.md F2: string-typed qc metadata, cast at use sites.
    # s1 paired-end (avg_mapped_len ~ 2x avg_len), s2 single-end.
    return spark.createDataFrame(
        [
            ("s1", "1000000", "200.0", "100.0", "50000000"),
            ("s2", "2000000", "100.0", "100.0", "25000000"),
        ],
        ["external_id", "star.all_mapped_reads", "star.average_mapped_length",
         "avg_len", "bc_auc.all_reads_all_bases"],
    )


def test_melt_pivot_roundtrip(spark, counts_wide):
    long = melt(counts_wide, ["gene_id"], ["s1", "s2"])
    assert long.count() == 6
    assert set(long.columns) == {"gene_id", "sample_id", "count"}
    wide = pivot_wide(long, "gene_id", "sample_id", "count", ["s1", "s2"])
    back = {r.gene_id: (r.s1, r.s2) for r in wide.collect()}
    assert back == {"g1": (10, 100), "g2": (20, 200), "g3": (0, 300)}


def test_pivot_cardinality_guard(spark, counts_wide):
    long = melt(counts_wide, ["gene_id"], ["s1", "s2"])
    import pyrecount_spark.operators.matrix as M

    orig = M.MAX_PIVOT_COLUMNS
    M.MAX_PIVOT_COLUMNS = 1
    try:
        with pytest.raises(ValueError, match="pivot would create"):
            pivot_wide(long, "gene_id", "sample_id", "count")
    finally:
        M.MAX_PIVOT_COLUMNS = orig


def test_scale_factors_mapped_reads_paired_end_detection(spark, metadata):
    # accessor.py:127-144: sf = target*L*paired / (reads * len^2)
    sf = {r.sample_id: r.sf for r in
          scale_factors_mapped_reads(metadata, 1e6, 100).collect()}
    # s1: paired (200/100=2): 1e6*100*2 / (1e6 * 200^2) = 0.005
    assert sf["s1"] == pytest.approx(0.005)
    # s2: single (100/100=1): 1e6*100*1 / (2e6 * 100^2) = 0.005
    assert sf["s2"] == pytest.approx(0.005)


def test_scale_auc_long_and_wide_agree(spark, counts_wide, metadata):
    # accessor.py:155-174: sf = target/auc, round, cast long, skip gene_id
    factors = scale_factors_auc(metadata, 1e8)  # s1: 2.0, s2: 4.0
    long = melt(counts_wide, ["gene_id"], ["s1", "s2"])
    scaled_long = scale_long(long, factors, round_to_int=True)
    got = {(r.gene_id, r.sample_id): r["count"] for r in scaled_long.collect()}
    assert got[("g1", "s1")] == 20 and got[("g1", "s2")] == 400
    assert got[("g3", "s1")] == 0 and got[("g3", "s2")] == 1200

    # the wide view of the scaled long table is the reference's wide result
    scaled_wide = pivot_wide(scaled_long, "gene_id", "sample_id", "count", ["s1", "s2"])
    wide_vals = {r.gene_id: (r.s1, r.s2) for r in scaled_wide.collect()}
    assert wide_vals == {"g1": (20, 400), "g2": (40, 800), "g3": (0, 1200)}
    assert dict(scaled_wide.dtypes)["s1"] == "bigint"


def test_chunked_wide_view_reassembles_and_prunes(spark, tmp_path):
    """The MAX_PIVOT_COLUMNS fallback: chunked column-group pivots over the
    landed long table reassemble (full-outer on the id) to the direct pivot,
    and each chunk's column filter is pushed into the parquet scan."""
    from pyrecount_spark.operators.matrix import column_chunks, pivot_wide_chunk

    samples = [f"s{i:02d}" for i in range(7)]  # 7 cols, chunk_size 3 → 3 chunks
    rows = [
        (f"g{g}", s, g * 10 + i)
        for g in range(5)
        for i, s in enumerate(samples)
        if (g + i) % 3 != 0  # sparse: some genes miss some samples
    ]
    long = spark.createDataFrame(rows, ["gene_id", "sample_id", "count"])
    direct = {
        (r.gene_id, s): r[s]
        for r in pivot_wide(long, "gene_id", "sample_id", "count", samples).collect()
        for s in samples
    }

    path = str(tmp_path / "long")
    long.write.parquet(path)
    landed = spark.read.parquet(path)

    chunks = column_chunks(samples, 3)
    assert [len(c) for c in chunks] == [3, 3, 1]
    merged = None
    for ci, cols in enumerate(chunks):
        wide = pivot_wide_chunk(
            landed, "gene_id", "sample_id", "count", samples, ci, 3
        )
        assert wide.columns == ["gene_id"] + cols
        # the chunk's columns reach the scan as a pushed filter
        plan = wide._sc._jvm.PythonSQLUtils.explainString(
            wide._jdf.queryExecution(), "formatted"
        )
        assert re.search(r"PushedFilters: \[.*(In|EqualTo)\(sample_id,", plan), plan
        merged = wide if merged is None else merged.join(wide, "gene_id", "full")

    got = {
        (r.gene_id, s): r[s] for r in merged.collect() for s in samples
    }
    assert got == direct
