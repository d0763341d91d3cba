"""Ingest: executor-parallel fetch of catalog URLs → partitioned Parquet lake.

Replaces the reference's download layer (SURVEY §2.1 S5/S6): an asyncio
event loop with *unbounded* concurrency on one machine (accessor.py:107-120,
the in-code TODO at :118) and a sequential ``urlretrieve`` loop
(accessor.py:302-312). Here the manifest is a DataFrame and the fetch runs
as a Spark job — concurrency is bounded by task slots, retries come from
``spark.task.maxFailures`` (S2's hand-rolled backoff, api.py:38-56, for
free), and idempotence is a per-file exists check (accessor.py:112-113
semantics) or Parquet partition overwrite.

100 TB stance: the lake is partitioned by the catalog coordinates
(organism/dbase/project) so Catalyst prunes partitions the way the
reference pre-filters URL lists (accessor.py:320-323 → SURVEY §4).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

# Fetcher signature: (url, dest_path) -> None. Injected so offline harnesses
# and tests use file copies; production uses urllib. No aiohttp dependency.
Fetcher = Callable[[str, str], None]


def mirror_path(cache_dir: str, url: str) -> str:
    """Local path mirroring the URL path (utils.py:12-20 layout).

    The URL tail is always relativized (leading '/' stripped) — an absolute
    tail would make ``os.path.join`` silently *discard* cache_dir and point
    the "cache" at the source itself."""
    tail = url.split("://", 1)[-1].lstrip("/")
    return os.path.join(cache_dir, tail)


def build_manifest(spark: SparkSession, urls: Sequence[str], cache_dir: str) -> DataFrame:
    """Manifest DataFrame (url, path) — the unit of ingest work."""
    rows = [(u, mirror_path(cache_dir, u)) for u in urls]
    return spark.createDataFrame(rows, ["url", "path"])


def fetch_manifest_df(
    manifest: DataFrame,
    fetcher: Fetcher | None = None,
    num_tasks: int | None = None,
) -> DataFrame:
    """Fetch every missing manifest entry on executors; statuses as a DataFrame.

    ``foreachPartition``-style via mapPartitions so each task reports
    (url, path, status); existing files are skipped (idempotent re-run,
    accessor.py:112-113). The status frame is returned *distributed* — at
    lake scale (10⁷ files) callers persist it next to the data instead of
    pulling it through the driver; only the convenience facade
    (``fetch_manifest`` / ``api.Project.cache``) collects.

    Fetches are atomic: bytes land in a same-directory temp file and are
    ``os.replace``d into place on success, so an interrupted fetch can never
    leave a partial file that a later run mistakes for "cached".

    The executor closure is self-contained (no module-level references):
    cloudpickle ships it by value, so the job runs even on executors that
    don't have this package on PYTHONPATH.
    """

    def fetch_partition(rows: Iterator) -> Iterator[tuple[str, str, str]]:
        import os as _os
        import tempfile as _tempfile

        def _default(url: str, dest: str) -> None:
            from urllib.request import urlretrieve

            urlretrieve(url, dest)  # noqa: S310

        fetch = fetcher or _default
        for r in rows:
            url, path = r["url"], r["path"]
            if _os.path.exists(path):
                yield (url, path, "cached")
                continue
            dirname = _os.path.dirname(path)
            _os.makedirs(dirname, exist_ok=True)
            fd, tmp = _tempfile.mkstemp(
                dir=dirname, prefix=_os.path.basename(path) + ".part."
            )
            _os.close(fd)
            try:
                fetch(url, tmp)
                _os.replace(tmp, path)  # atomic within the same directory
                yield (url, path, "fetched")
            except Exception as e:  # noqa: BLE001 - per-file status, job continues
                yield (url, path, f"error: {e}")
            finally:
                if _os.path.exists(tmp):
                    _os.remove(tmp)

    rdd = manifest.select("url", "path").rdd
    if num_tasks:
        rdd = rdd.repartition(num_tasks)
    spark = manifest.sparkSession
    return spark.createDataFrame(
        rdd.mapPartitions(fetch_partition), "url string, path string, status string"
    )


def fetch_manifest(
    manifest: DataFrame,
    fetcher: Fetcher | None = None,
    num_tasks: int | None = None,
) -> list[tuple[str, str, str]]:
    """Driver-side convenience over :func:`fetch_manifest_df` — collects the
    status frame. Bounded by catalog size; lake-scale pipelines use the
    DataFrame form and write statuses next to the data."""
    return [
        (r["url"], r["path"], r["status"])
        for r in fetch_manifest_df(manifest, fetcher=fetcher, num_tasks=num_tasks).collect()
    ]


def land_parquet(
    df: DataFrame,
    lake_path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Land a DataFrame as the partitioned Parquet lake table.

    With ``partitionOverwriteMode=dynamic`` (set here, scoped to the write)
    a re-ingest of one project replaces only that project's partitions —
    the Spark-native form of the reference's skip-if-cached semantics.
    """
    writer = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(lake_path)
