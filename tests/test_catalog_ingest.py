"""Catalog URL synthesis, the bounded driver-pool fetch and its retry (S2-S6, Q6)."""

from __future__ import annotations

import os
import posixpath

import pytest

from pyrecount_spark.sources.catalog import (
    Annotation,
    Dtype,
    ProjectLocator,
    catalog_url,
    shard2,
)
from pyrecount_spark.sources.ingest import FetchError, fetch_manifest, land_parquet


def _dest(cache_dir, url):
    return os.path.join(cache_dir, posixpath.basename(url))


def _rows(urls, cache_dir):
    """The (url, path) rows ``fetch_manifest`` takes."""
    return [(u, _dest(cache_dir, u)) for u in urls]


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
    urls = [u for _, u in _locator().metadata_urls()]
    # tags = dbase + 4 recount tags (locator.py:59-60) for sra
    assert len(urls) == 5
    assert all("/metadata/15/SRP009615/" in u for u in urls)
    assert any(u.endswith("sra.recount_qc.SRP009615.MD.gz") for u in urls)


def test_metadata_urls_tcga_drops_pred():
    urls = [u for _, u in _locator(dbase="tcga", project_ids=["CHOL"]).metadata_urls()]
    # accessor.py:288-289: gtex/tcga exclude recount_pred
    assert len(urls) == 4
    assert not any("recount_pred" in u for u in urls)


def test_gene_urls_require_annotation():
    with pytest.raises(ValueError, match="annotation"):
        _locator(annotation=None).counts_urls(Dtype.GENE)


def test_junction_urls_triplet():
    urls = [u for _, u in _locator().junction_urls()]
    assert len(urls) == 3
    assert [u.rsplit(".", 2)[-2] for u in urls] == ["ID", "MM", "RR"]


def test_catalog_url_per_data_source():
    # S4: one recount_project MD file per data source (locator.py:167-187)
    assert catalog_url("https://example.org", "human", "gtex") == (
        "https://example.org/human/data_sources/gtex/metadata/gtex.recount_project.MD.gz"
    )


def test_fetch_manifest_idempotent(spark, tmp_path):
    """S5/S6 exists-skip semantics with an injected fetcher."""
    cache = str(tmp_path / "cache")
    urls = [f"https://example.org/f{i}.txt" for i in range(3)]
    rows = _rows(urls, cache)

    def fake_fetcher(url: str, dest: str) -> None:
        with open(dest, "w") as fh:
            fh.write(url)

    first = dict((u, s) for u, _, s in fetch_manifest(spark, rows, fake_fetcher))
    assert set(first.values()) == {"fetched"}
    second = dict((u, s) for u, _, s in fetch_manifest(spark, rows, fake_fetcher))
    assert set(second.values()) == {"cached"}  # idempotent re-run
    assert open(_dest(cache, urls[0])).read() == urls[0]


def test_fetch_manifest_per_file_errors(spark, tmp_path, fetch_sleeps):
    """One bad URL doesn't stop the others (unlike accessor.py:327-329's
    silent None): FetchError names it with its error status, the good file
    stays, and a rerun reports it "cached"."""
    rows = _rows(["https://x/ok", "https://x/bad"], str(tmp_path))

    def flaky(url: str, dest: str) -> None:
        if url.endswith("bad"):
            raise IOError("boom")
        open(dest, "w").write("ok")

    with pytest.raises(FetchError) as err:
        fetch_manifest(spark, rows, flaky)
    [(failed_url, status)] = err.value.errors.items()
    assert failed_url == "https://x/bad"
    assert status.startswith("error") and "boom" in status
    assert open(_dest(str(tmp_path), "https://x/ok")).read() == "ok"

    def good(url: str, dest: str) -> None:
        open(dest, "w").write("ok")

    statuses = {u: s for u, _, s in fetch_manifest(spark, rows, good)}
    assert statuses == {"https://x/ok": "cached", "https://x/bad": "fetched"}


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
    urls = [u for _, u in _locator(jxn_format="all").junction_urls()]
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


def test_fetch_is_atomic_on_failure(spark, tmp_path, fetch_sleeps):
    """ADVICE fix: an interrupted fetch must not leave a partial file that a
    later run mistakes for 'cached' — bytes go to a temp path and are renamed
    into place only on success."""
    cache = str(tmp_path / "atomic")
    url = "https://example.org/big.bin"
    rows = _rows([url], cache)
    dest = _dest(cache, url)

    def dies_midway(u: str, d: str) -> None:
        with open(d, "w") as fh:
            fh.write("partial bytes")
        raise IOError("connection reset")

    with pytest.raises(FetchError) as err:
        fetch_manifest(spark, rows, dies_midway)
    assert err.value.errors[url].startswith("error")
    assert not os.path.exists(dest)  # no truncated file left behind
    assert os.listdir(os.path.dirname(dest)) == []  # temp cleaned up too

    def good(u: str, d: str) -> None:
        open(d, "w").write("complete")

    [( _, _, status2 )] = fetch_manifest(spark, rows, good)
    assert status2 == "fetched"  # NOT 'cached': the partial never counted
    assert open(dest).read() == "complete"


def test_live_http_ingest_end_to_end(spark, tmp_path, fetch_sleeps):
    """The reference's tests drive the full cache->load pipeline against the
    live recount3 service (test_accessor.py:14-353). Offline equivalent: a
    localhost http.server exercises the REAL default fetch (urllib) path
    through fetch_manifest -> read -> land_parquet, including a 404 that
    FetchError names."""
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
            with pytest.raises(FetchError) as err:
                fetch_manifest(spark, _rows(urls, cache))  # default urllib fetch
            [(failed_url, status)] = err.value.errors.items()
            assert failed_url == urls[1]
            assert status.startswith("error") and "404" in status

            fetched = _dest(cache, urls[0])  # the good URL's file stays
            df = read_tsv_strings(spark, fetched)
            lake = str(tmp_path / "http_lake")
            land_parquet(df.withColumn("study", df["study"]), lake, partition_by=["study"])
            back = spark.read.parquet(lake)
            assert back.count() == 2
            assert {r.external_id for r in back.collect()} == {"s1", "s2"}
        finally:
            httpd.shutdown()


def test_fetch_starts_no_spark_job(spark, tmp_path, job_group):
    """The fetch runs on driver threads: a 1-URL and a 5-URL manifest each
    start no Spark job and no task."""
    def fake(u: str, d: str) -> None:
        open(d, "w").write(u)

    one = _rows(["https://x/one"], str(tmp_path / "one"))
    statuses, jobs, tasks = job_group(
        "test-ingest-one-url", lambda: fetch_manifest(spark, one, fake)
    )
    assert [s for _, _, s in statuses] == ["fetched"]
    assert (jobs, tasks) == ([], 0)

    five = _rows([f"https://x/f{i}" for i in range(5)], str(tmp_path / "five"))
    statuses, jobs, tasks = job_group(
        "test-ingest-five-urls", lambda: fetch_manifest(spark, five, fake)
    )
    assert [s for _, _, s in statuses] == ["fetched"] * 5
    assert (jobs, tasks) == ([], 0)


@pytest.mark.parametrize("per_cpu", [0.5, 2])
def test_fetch_concurrency_reaches_and_keeps_the_cpu_bound(spark, tmp_path, fetch_sleeps, per_cpu):
    """At most min(rows, CPUs) fetches are in flight, and that many are: a
    barrier of that size only trips when every one of them is waiting in
    it, and a broken barrier fails the fetch."""
    import threading

    cpus = len(os.sched_getaffinity(0))
    n = max(1, int(cpus * per_cpu))
    bound = min(n, cpus)
    barrier = threading.Barrier(bound, timeout=30)
    lock = threading.Lock()
    in_flight, peak = 0, 0

    def counting(u: str, d: str) -> None:
        nonlocal in_flight, peak
        with lock:
            in_flight += 1
            peak = max(peak, in_flight)
        try:
            barrier.wait()
            open(d, "w").write(u)
        finally:
            with lock:
                in_flight -= 1

    rows = _rows([f"https://x/f{i}" for i in range(n)], str(tmp_path))
    statuses = fetch_manifest(spark, rows, counting)
    assert [s for _, _, s in statuses] == ["fetched"] * n
    assert peak == bound
    assert fetch_sleeps == []


def test_fetch_retries_with_backoff_then_succeeds(spark, tmp_path, fetch_sleeps):
    """A fetcher that fails twice then succeeds reports "fetched" after 3
    calls, sleeping 1 s then 2 s (reference api.py:38-56); each failed
    attempt's temp file is gone."""
    url = "https://x/flaky"
    calls = []

    def twice(u: str, d: str) -> None:
        calls.append(d)
        open(d, "w").write("partial" if len(calls) < 3 else "complete")
        if len(calls) < 3:
            raise IOError(f"transient {len(calls)}")

    [(_, dest, status)] = fetch_manifest(spark, _rows([url], str(tmp_path)), twice)
    assert status == "fetched"
    assert len(calls) == 3 and len(set(calls)) == 3  # a fresh temp file each try
    assert fetch_sleeps == [1, 2]
    assert os.listdir(tmp_path) == ["flaky"]
    assert open(dest).read() == "complete"


def test_fetch_gives_up_after_three_attempts(spark, tmp_path, fetch_sleeps):
    """A fetcher that always fails is called exactly 3 times; FetchError
    names the URL with the last attempt's error and no temp file stays."""
    url = "https://x/down"
    calls = []

    def down(u: str, d: str) -> None:
        calls.append(u)
        raise IOError(f"503 attempt {len(calls)}")

    with pytest.raises(FetchError) as err:
        fetch_manifest(spark, _rows([url], str(tmp_path)), down)
    assert calls == [url] * 3
    assert fetch_sleeps == [1, 2]
    assert err.value.errors == {url: "error: 503 attempt 3"}
    assert os.listdir(tmp_path) == []


def test_empty_manifest(spark):
    """An empty URL list fetches nothing and raises nothing."""
    assert fetch_manifest(spark, []) == []
