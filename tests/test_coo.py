"""MatrixMarket → COO reader (S10 rebuilt sparse) + dim validation (Q5).

The reference densifies via scipy mmread (accessor.py:431-432); we stay COO.
Width validation (accessor.py:434-435) becomes a dim-table count check and
an anti-join orphan check.
"""

from __future__ import annotations

import gzip
import textwrap

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.operators.relational import anti_join
from pyrecount_spark.sources.readers import (
    matrix_market_dims,
    read_id_list,
    read_matrix_market_coo,
)

MM = textwrap.dedent(
    """\
    %%MatrixMarket matrix coordinate integer general
    % junction x sample counts
    4 3 5
    1 1 7
    2 1 3
    2 3 1
    4 2 9
    3 3 2
    """
)


@pytest.fixture(scope="module")
def mm_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("mm") / "counts.mtx"
    p.write_text(MM)
    return str(p)


@pytest.fixture(scope="module")
def ids_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("ids") / "ids.csv"
    p.write_text("rail_id\n101\n102\n103\n")
    return str(p)


def test_coo_parse(spark, mm_path):
    coo = read_matrix_market_coo(spark, mm_path)
    rows = {(r.row_idx, r.col_idx): r.value for r in coo.collect()}
    assert rows == {(1, 1): 7.0, (2, 1): 3.0, (2, 3): 1.0, (4, 2): 9.0, (3, 3): 2.0}


def test_coo_parse_gz_pattern(spark, tmp_path):
    """recount3 ships junction matrices as ``MM.gz``; pattern entries (no
    value column) read as 1.0."""
    p = tmp_path / "p.mtx.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("%%MatrixMarket matrix coordinate pattern general\n2 2 2\n1 2\n2 1\n")
    coo = read_matrix_market_coo(spark, str(p))
    assert {(r.row_idx, r.col_idx): r.value for r in coo.collect()} == {(1, 2): 1.0, (2, 1): 1.0}


def test_mm_dims(spark, mm_path):
    assert matrix_market_dims(spark, mm_path) == (4, 3, 5)


def test_width_validation_positive(spark, mm_path, ids_path):
    # accessor.py:434-435: MM column count must equal the id-list length
    _, n_cols, _ = matrix_market_dims(spark, mm_path)
    ids = read_id_list(spark, ids_path)
    assert ids.count() == n_cols


def test_orphan_check_anti_join(spark, mm_path, ids_path):
    """COO col indices not covered by the sample dim table (none here)."""
    coo = read_matrix_market_coo(spark, mm_path)
    ids = read_id_list(spark, ids_path)
    dim = ids.select(
        (F.row_number().over(__import__("pyspark").sql.window.Window.orderBy("rail_id")))
        .alias("col_idx")
        .cast("long")
    )
    orphans = anti_join(coo, dim, ["col_idx"])
    assert orphans.count() == 0


def test_width_validation_negative(spark, mm_path):
    """A mismatched id list (FIXTURES.md F6 negative case) is detected."""
    _, n_cols, _ = matrix_market_dims(spark, mm_path)
    assert n_cols != 2  # an id list of 2 would fail the check


def test_coo_matmul_matches_dense(spark):
    """SpGEMM against the dense product of small known matrices, including
    cancelling and absent (implicit-zero) cells."""
    from pyrecount_spark.operators.matrix import coo_matmul

    # A = [[1, 2], [0, 3]]  (2x2, A[1,0] absent), B = [[4, 0, 5], [-1, 6, 0]]
    a = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)],
        ["row_idx", "col_idx", "value"],
    )
    b = spark.createDataFrame(
        [(0, 0, 4.0), (0, 2, 5.0), (1, 0, -1.0), (1, 1, 6.0)],
        ["row_idx", "col_idx", "value"],
    )
    got = {(r.row_idx, r.col_idx): r.value for r in coo_matmul(a, b).collect()}
    # C = [[2, 12, 5], [-3, 18, 0]] — C[1,2] has no partial products at all
    assert got == {
        (0, 0): 2.0, (0, 1): 12.0, (0, 2): 5.0,
        (1, 0): -3.0, (1, 1): 18.0,
    }
