"""The one TSV reader (S7/S8): headers read on the driver, drift unioned by name."""

from __future__ import annotations

import gzip

from pyrecount_spark.sources.readers import read_tsv_strings


def test_header_drift_unions_by_name(spark, tmp_path):
    """Two files sharing a key but not their other columns (one plain, one
    gzipped, key in a different position) line up by name, not position:
    every value stays under its own column and the gaps are nulls."""
    plain = tmp_path / "a.MD"
    plain.write_text("rail_id\tplatform\n1\tIllumina\n2\tBGISEQ\n")
    packed = tmp_path / "b.MD.gz"
    with gzip.open(packed, "wt") as fh:
        fh.write("#comment\nlayout\trail_id\nPAIRED\t3\n")

    df = read_tsv_strings(spark, [str(plain), str(packed)])
    assert df.columns == ["rail_id", "platform", "layout"]
    assert sorted(map(tuple, df.collect()), key=lambda r: r[0]) == [
        ("1", "Illumina", None),
        ("2", "BGISEQ", None),
        ("3", None, "PAIRED"),
    ]
