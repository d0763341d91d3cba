"""Catalog URL synthesis, executor-parallel ingest, manifest (S1-S6, Q6)."""

from __future__ import annotations

import os

import pytest

from pyrecount_spark.sources.catalog import (
    Annotation,
    CatalogLocator,
    Dtype,
    ProjectLocator,
    discover_data_sources,
    normalize_organism,
    shard2,
)
from pyrecount_spark.sources.ingest import (
    build_manifest,
    fetch_manifest,
    land_parquet,
    mirror_path,
)


def _locator(**kw):
    defaults = dict(
        root="https://example.org/release",
        organism="human",
        dbase="sra",
        project_ids=["SRP009615"],
        annotation=Annotation.GENCODE_V29,
    )
    defaults.update(kw)
    return ProjectLocator(**defaults)


def test_shard2_is_last_two_chars():
    # locator.py:66-80
    assert shard2("SRP009615") == "15"
    assert shard2("CHOL") == "OL"


def test_metadata_urls_tags_and_sharding():
    urls = _locator().metadata_urls()
    # tags = dbase + 4 recount tags (locator.py:59-60) for sra
    assert len(urls) == 5
    assert all("/metadata/15/SRP009615/" in u for u in urls)
    assert any(u.endswith("sra.recount_qc.SRP009615.MD.gz") for u in urls)


def test_metadata_urls_tcga_drops_pred():
    urls = _locator(dbase="tcga", project_ids=["CHOL"]).metadata_urls()
    # accessor.py:288-289: gtex/tcga exclude recount_pred
    assert len(urls) == 4
    assert not any("recount_pred" in u for u in urls)


def test_gene_urls_require_annotation():
    with pytest.raises(ValueError, match="annotation"):
        _locator(annotation=None).counts_urls(Dtype.GENE)


def test_junction_urls_triplet():
    urls = _locator().junction_urls()
    assert len(urls) == 3
    assert [u.rsplit(".", 2)[-2] for u in urls] == ["ID", "MM", "RR"]


def test_catalog_locator_and_discovery():
    cat = CatalogLocator("https://example.org", "human", ["sra", "gtex"])
    assert len(cat.urls()) == 2
    srcs = discover_data_sources("data_sources/sra\ndata_sources/gtex\n\n")
    assert srcs == {"sra": "data_sources/sra", "gtex": "data_sources/gtex"}
    assert normalize_organism("Homo sapiens") == "human"


def test_fetch_manifest_idempotent(spark, tmp_path):
    """S5/S6 exists-skip semantics, executor-side, with an injected fetcher."""
    cache = str(tmp_path / "cache")
    urls = [f"https://example.org/f{i}.txt" for i in range(3)]
    manifest = build_manifest(spark, urls, cache)

    def fake_fetcher(url: str, dest: str) -> None:
        with open(dest, "w") as fh:
            fh.write(url)

    first = dict((u, s) for u, _, s in fetch_manifest(manifest, fake_fetcher))
    assert set(first.values()) == {"fetched"}
    second = dict((u, s) for u, _, s in fetch_manifest(manifest, fake_fetcher))
    assert set(second.values()) == {"cached"}  # idempotent re-run
    assert open(mirror_path(cache, urls[0])).read() == urls[0]


def test_fetch_manifest_per_file_errors(spark, tmp_path):
    """One bad URL doesn't fail the job (unlike accessor.py:327-329's
    silent None — the status row carries the error loudly)."""
    manifest = build_manifest(spark, ["https://x/ok", "https://x/bad"], str(tmp_path))

    def flaky(url: str, dest: str) -> None:
        if url.endswith("bad"):
            raise IOError("boom")
        open(dest, "w").write("ok")

    statuses = {u: s for u, _, s in fetch_manifest(manifest, flaky)}
    assert statuses["https://x/ok"] == "fetched"
    assert statuses["https://x/bad"].startswith("error")


def test_land_parquet_partitioned(spark, tmp_path):
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("human", "sra", "p1", 1), ("human", "sra", "p2", 2)],
        ["organism", "dbase", "project", "v"],
    )
    land_parquet(df, lake, partition_by=["organism", "dbase", "project"])
    assert os.path.isdir(f"{lake}/organism=human/dbase=sra/project=p1")
    back = spark.read.parquet(lake)
    assert back.count() == 2
    # partition pruning: only p1's directory is listed in the pruned plan
    plan = back.filter("project = 'p1'")._jdf.queryExecution().executedPlan().toString()
    assert "p1" in plan


def test_junction_urls_uppercase_format():
    """ADVICE fix: jxn_format 'all' must synthesize '.ALL.' in the stem
    (locator.py:110) or the URLs 404 against the real service."""
    urls = _locator(jxn_format="all").junction_urls()
    assert all(".ALL." in u for u in urls)
    assert not any(".all." in u for u in urls)


def test_bigwig_urls_reference_nesting():
    """ADVICE fix: BW path levels are
    base_sums/{shard2(pid)}/{pid}/{shard2(sample)}/{file} (locator.py:139-159)."""
    loc = _locator(samples_by_project={"SRP009615": ["SRR0551"]})
    [(pid, url)] = loc.bigwig_urls()
    assert url.endswith(
        "base_sums/15/SRP009615/51/sra.base_sums.SRP009615_SRR0551.ALL.bw"
    )


def test_fetch_is_atomic_on_failure(spark, tmp_path):
    """ADVICE fix: an interrupted fetch must not leave a partial file that a
    later run mistakes for 'cached' — bytes go to a temp path and are renamed
    into place only on success."""
    cache = str(tmp_path / "atomic")
    url = "https://example.org/big.bin"
    manifest = build_manifest(spark, [url], cache)
    dest = mirror_path(cache, url)

    def dies_midway(u: str, d: str) -> None:
        with open(d, "w") as fh:
            fh.write("partial bytes")
        raise IOError("connection reset")

    [( _, _, status )] = fetch_manifest(manifest, dies_midway)
    assert status.startswith("error")
    assert not os.path.exists(dest)  # no truncated file left behind
    assert os.listdir(os.path.dirname(dest)) == []  # temp cleaned up too

    def good(u: str, d: str) -> None:
        open(d, "w").write("complete")

    [( _, _, status2 )] = fetch_manifest(manifest, good)
    assert status2 == "fetched"  # NOT 'cached': the partial never counted
    assert open(dest).read() == "complete"


def test_fetch_manifest_df_is_distributed(spark, tmp_path):
    """Lake-scale form: statuses come back as a DataFrame (written next to
    the data at 10^7-file scale), not through the driver."""
    from pyrecount_spark.sources.ingest import fetch_manifest_df

    manifest = build_manifest(
        spark, [f"https://x/f{i}" for i in range(4)], str(tmp_path / "df")
    )

    def fake(u: str, d: str) -> None:
        open(d, "w").write(u)

    sdf = fetch_manifest_df(manifest, fake)
    assert sdf.columns == ["url", "path", "status"]
    out = str(tmp_path / "statuses")
    sdf.write.mode("overwrite").parquet(out)  # statuses land in the lake
    back = spark.read.parquet(out)
    assert back.filter("status = 'fetched'").count() == 4


def test_live_http_ingest_end_to_end(spark, tmp_path):
    """The reference's tests drive the full cache->load pipeline against the
    live recount3 service (test_accessor.py:14-353). Offline equivalent: a
    localhost http.server exercises the REAL default fetch (urllib) path
    through fetch_manifest -> read -> land_parquet, including a 404 error row."""
    import http.server
    import socketserver
    import threading

    from pyrecount_spark.sources.readers import read_tsv_strings

    docroot = tmp_path / "www"
    docroot.mkdir()
    (docroot / "sra.recount_project.MD").write_text(
        "rail_id\texternal_id\tstudy\nr1\ts1\tst1\nr2\ts2\tst1\n"
    )

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(docroot), **kw
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            cache = str(tmp_path / "http_cache")
            urls = [
                f"http://127.0.0.1:{port}/sra.recount_project.MD",
                f"http://127.0.0.1:{port}/missing.MD",  # 404 path
            ]
            manifest = build_manifest(spark, urls, cache)
            statuses = {u: s for u, _, s in fetch_manifest(manifest)}  # default urllib fetch
            assert statuses[urls[0]] == "fetched"
            assert statuses[urls[1]].startswith("error") and "404" in statuses[urls[1]]

            fetched = mirror_path(cache, urls[0])
            df = read_tsv_strings(spark, fetched)
            lake = str(tmp_path / "http_lake")
            land_parquet(df.withColumn("study", df["study"]), lake, partition_by=["study"])
            back = spark.read.parquet(lake)
            assert back.count() == 2
            assert {r.external_id for r in back.collect()} == {"s1", "s2"}
        finally:
            httpd.shutdown()
