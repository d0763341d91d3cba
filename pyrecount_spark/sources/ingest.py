"""Ingest: executor-parallel fetch of catalog URLs into the file lake.

Replaces the reference's download layer (SURVEY §2.1 S5/S6): an asyncio
event loop with *unbounded* concurrency on one machine (accessor.py:107-120,
the in-code TODO at :118) and a sequential ``urlretrieve`` loop
(accessor.py:302-312). :func:`fetch_manifest` is the one fetch: one
``mapInArrow`` stage, so concurrency is bounded by task slots. Each URL gets
one attempt per call: a failed fetch is a status, not a failed task, so
``spark.task.maxFailures`` never retries it, and the reference's backoff
retry (api.py:38-56) is not reproduced (ROADMAP item 5). The lake keeps the
fetched files as they are; the facade never calls :func:`land_parquet`
(ROADMAP item 7).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from pyrecount_spark.session import local_frame

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


def fetch_manifest(
    spark: SparkSession,
    rows: Sequence[tuple[str, str]],
    fetcher: Fetcher | None = None,
) -> list[tuple[str, str, str]]:
    """Fetch every ``(url, path)`` row whose file is missing; return
    ``(url, path, status)`` per row.

    The rows become an Arrow-built local relation, so a small manifest runs
    one task per row up to the default parallelism. An existing file is
    "cached" (idempotent rerun, accessor.py:112-113), a new one "fetched".
    A failed fetch does not stop the others: once every row ran,
    :class:`FetchError` names each failed URL; the fetched files stay, so a
    rerun fetches only the rest.

    Fetches are atomic: bytes land in a same-directory temp file
    (``{name}.part.XXXX``) and are ``os.replace``d into place on success, so
    an interrupted fetch can never leave a partial file that a later run
    mistakes for "cached". A worker killed mid-fetch never runs its cleanup,
    so before fetching a row the task removes that destination's leftover
    ``{name}.part.*`` files. This assumes one ``cache`` writes to a given
    lake at a time.

    The executor closure is self-contained (no module-level references):
    cloudpickle ships it by value, so the job runs even on executors that
    don't have this package on PYTHONPATH.
    """

    def fetch_batches(batches):
        import glob as _glob
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
            for stale in _glob.glob(_glob.escape(path) + ".part.*"):
                _os.remove(stale)
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

    fetched = local_frame(spark, rows, ["url", "path"]).mapInArrow(
        fetch_batches, "url string, path string, status string"
    )
    statuses = [tuple(r) for r in fetched.collect()]
    errors = {url: status for url, _, status in statuses if status.startswith("error")}
    if errors:
        raise FetchError(errors)
    return statuses


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
