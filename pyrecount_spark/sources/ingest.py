"""Ingest: executor-parallel fetch of catalog URLs → partitioned Parquet lake.

Replaces the reference's download layer (SURVEY §2.1 S5/S6): an asyncio
event loop with *unbounded* concurrency on one machine (accessor.py:107-120,
the in-code TODO at :118) and a sequential ``urlretrieve`` loop
(accessor.py:302-312). Here the manifest is an Arrow-built DataFrame and the
fetch is one ``mapInArrow`` stage over it — concurrency is bounded by task
slots, retries come from ``spark.task.maxFailures`` (S2's hand-rolled
backoff, api.py:38-56, for free), and idempotence is a per-file exists
check (accessor.py:112-113 semantics) or Parquet partition overwrite.

100 TB stance: the lake is partitioned by the catalog coordinates
(organism/dbase/project) so Catalyst prunes partitions the way the
reference pre-filters URL lists (accessor.py:320-323 → SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Sequence

from pyspark.sql import DataFrame

# Fetcher signature: (url, dest_path) -> None. Injected so offline harnesses
# and tests use file copies; production uses urllib. No aiohttp dependency.
Fetcher = Callable[[str, str], None]


class FetchError(OSError):
    """Some manifest entries failed to fetch; ``errors`` maps each failed URL
    to its ``"error: ..."`` status. Files that did fetch stay in place."""

    def __init__(self, errors: dict[str, str]):
        self.errors = errors
        super().__init__(
            f"{len(errors)} file(s) failed to fetch: "
            + "; ".join(f"{url} ({status})" for url, status in errors.items())
        )


def fetch_manifest_df(
    manifest: DataFrame,
    fetcher: Fetcher | None = None,
    num_tasks: int | None = None,
) -> DataFrame:
    """Fetch every missing manifest entry on executors; statuses as a DataFrame.

    One ``mapInArrow`` stage over the manifest: each task fetches its rows
    and reports (url, path, status); existing files are skipped as
    "cached" (idempotent re-run, accessor.py:112-113) and a failed fetch is
    an ``"error: ..."`` status, not a failed job. ``num_tasks`` repartitions
    the manifest first; otherwise a small Arrow-built manifest runs one task
    per row up to the default parallelism. The status frame is returned
    *distributed* — at lake scale (10⁷ files) callers persist it next to the
    data instead of pulling it through the driver; only the convenience
    facade (``fetch_manifest`` / ``api.Project.cache``) collects.

    Fetches are atomic: bytes land in a same-directory temp file
    (``{name}.part.XXXX``) and are ``os.replace``d into place on success, so
    an interrupted fetch can never leave a partial file that a later run
    mistakes for "cached". A ``.part.`` file that a killed task leaves behind
    is never loaded either: the ``api`` loaders read only the paths
    ``cache`` fetches to.

    The executor closure is self-contained (no module-level references):
    cloudpickle ships it by value, so the job runs even on executors that
    don't have this package on PYTHONPATH.
    """

    def fetch_batches(batches):
        import os as _os
        import tempfile as _tempfile

        import pyarrow as _pa

        def _default(url: str, dest: str) -> None:
            from urllib.request import urlretrieve

            urlretrieve(url, dest)  # noqa: S310

        fetch = fetcher or _default

        def status(url: str, path: str) -> str:
            if _os.path.exists(path):
                return "cached"
            dirname = _os.path.dirname(path)
            _os.makedirs(dirname, exist_ok=True)
            fd, tmp = _tempfile.mkstemp(
                dir=dirname, prefix=_os.path.basename(path) + ".part."
            )
            _os.close(fd)
            try:
                fetch(url, tmp)
                _os.replace(tmp, path)  # atomic within the same directory
                return "fetched"
            except Exception as e:  # noqa: BLE001 - per-file status, job continues
                return f"error: {e}"
            finally:
                if _os.path.exists(tmp):
                    _os.remove(tmp)

        for batch in batches:
            urls, paths = batch.column(0), batch.column(1)
            statuses = [status(u, p) for u, p in zip(urls.to_pylist(), paths.to_pylist())]
            yield _pa.RecordBatch.from_arrays(
                [urls, paths, _pa.array(statuses, urls.type)], ["url", "path", "status"]
            )

    manifest = manifest.select("url", "path")
    if num_tasks:
        manifest = manifest.repartition(num_tasks)
    return manifest.mapInArrow(fetch_batches, "url string, path string, status string")


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
) -> None:
    """Land a DataFrame as the partitioned Parquet lake table.

    With ``partitionOverwriteMode=dynamic`` (set here, scoped to the write)
    a re-ingest of one project replaces only that project's partitions —
    the Spark-native form of the reference's skip-if-cached semantics.
    """
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(lake_path)
