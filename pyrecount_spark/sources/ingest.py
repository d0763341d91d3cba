"""Ingest: fetch catalog URLs into the file lake on a bounded driver thread pool.

Replaces the reference's download layer (SURVEY §2.1 S5/S6): an asyncio
event loop with *unbounded* concurrency on one machine (accessor.py:107-120,
the in-code TODO at :118) and a sequential ``urlretrieve`` loop
(accessor.py:302-312). :func:`fetch_manifest` is the one fetch. It runs on
the driver, which already reads every lake file's header, so the lake must be
driver-visible anyway, and it starts no Spark job: a few dozen file copies
are not data-parallel work. At most one thread per CPU this process may use
fetches at a time, the count ``session.get_spark`` sizes ``local[N]`` by.
Each URL gets up to ``ATTEMPTS`` tries with the reference's ``2**attempt``
second backoff between them (api.py:38-56). The lake keeps the fetched files
as they are; the facade never calls :func:`land_parquet` (ROADMAP item 7).
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from time import sleep
from typing import Sequence
from urllib.request import urlretrieve

from pyspark.sql import DataFrame, SparkSession

# Fetcher signature: (url, dest_path) -> None. Injected so offline harnesses
# and tests use file copies; production uses urllib. No aiohttp dependency.
Fetcher = Callable[[str, str], None]

ATTEMPTS = 3  # tries per URL and call (reference api.py:38-56)


class FetchError(OSError):
    """Some manifest entries failed to fetch; ``errors`` maps each failed URL
    to its ``"error: ..."`` status. Files that did fetch stay in place."""

    def __init__(self, errors: dict[str, str]):
        self.errors = errors
        super().__init__(
            f"{len(errors)} file(s) failed to fetch: "
            + "; ".join(f"{url} ({status})" for url, status in errors.items())
        )


def _status(fetch: Fetcher, url: str, path: str) -> str:
    """Fetch one file unless it exists; its status."""
    if os.path.exists(path):
        return "cached"
    for stale in glob.glob(glob.escape(path) + ".part.*"):
        os.remove(stale)
    dirname = os.path.dirname(path)
    os.makedirs(dirname, exist_ok=True)
    for attempt in range(ATTEMPTS):
        fd, tmp = tempfile.mkstemp(dir=dirname, prefix=os.path.basename(path) + ".part.")
        os.close(fd)
        try:
            fetch(url, tmp)
            os.replace(tmp, path)  # atomic within the same directory
            return "fetched"
        except Exception as e:  # noqa: BLE001 - per-file status, the others go on
            error = f"error: {e}"
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        if attempt + 1 < ATTEMPTS:
            sleep(2**attempt)
    return error


def fetch_manifest(
    spark: SparkSession,
    rows: Sequence[tuple[str, str]],
    fetcher: Fetcher | None = None,
) -> list[tuple[str, str, str]]:
    """Fetch every ``(url, path)`` row whose file is missing; return
    ``(url, path, status)`` per distinct row. ``spark`` is unused: the fetch
    runs on the driver and starts no Spark job.

    Rows are fetched on a thread pool of ``min(len(rows), CPUs)`` threads,
    so ``fetcher`` is called from several driver threads at once and must be
    thread-safe (``urlretrieve`` and a file copy both are). An existing file
    is "cached" (idempotent rerun, accessor.py:112-113), a new one
    "fetched". A failed attempt is retried after 1 s, then 2 s; a URL that
    fails all ``ATTEMPTS`` does not stop the others: once every row ran,
    :class:`FetchError` names each failed URL with its last error; the
    fetched files stay, so a rerun fetches only the rest.

    Fetches are atomic: each attempt's bytes land in a fresh same-directory
    temp file (``{name}.part.XXXX``) that is ``os.replace``d into place on
    success and removed on failure, so an interrupted fetch can never leave
    a partial file that a later run mistakes for "cached". A process killed
    mid-fetch never runs that cleanup, so before fetching a row its
    destination's leftover ``{name}.part.*`` files are removed. This assumes
    one ``cache`` writes to a given lake at a time.
    """
    rows = list(dict.fromkeys(rows))
    if not rows:
        return []
    fetch = fetcher or urlretrieve
    with ThreadPoolExecutor(min(len(rows), len(os.sched_getaffinity(0)))) as pool:
        statuses = list(pool.map(lambda row: (*row, _status(fetch, *row)), rows))
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
