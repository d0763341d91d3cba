"""User-facing facade mirroring the reference's API surface on Spark.

A user of ``dfrll/pyrecount`` drives it through ``Metadata`` and ``Project``
(accessor.py:37-91, 293-339): build the catalog, pick projects, cache, load
a dtype, scale. This module keeps that mental model — same class names,
same flow — while every operation underneath is a lazy Spark plan over a
file lake:

    md = Metadata(spark, lake_dir).load()
    proj = Project(spark, metadata=md.filter(...), lake_dir=lake_dir,
                   dbase="sra", annotation=Annotation.GENCODE_V29)
    anno, counts = proj.load(Dtype.GENE)          # counts: LONG format
    scaled = proj.scale_auc(counts, target_size=4e7)

Differences from the reference, by design (SURVEY §1.3):
- loads are lazy DataFrames (the reference's own TODO wanted lazyframes,
  tests/test_accessor.py:11);
- count matrices come back long ``(feature_id, sample_id, count)``;
  ``operators.matrix.pivot_wide`` produces the wide view on demand;
- every TSV is read string-first with its header taken on the driver, so
  loads start no Spark job; ``count`` is cast to long after the melt;
- a load reads each file kind in one scan across the selected projects:
  each counts row joins to its file's picked positions and samples, which
  the headers give, and explodes into only those cells; junction MM and RR
  files are one read each, and each metadata tag is read once (drift
  unions by name);
- a ``Project`` memoizes its project -> samples map (one collect) and its
  metadata frame, shared by every load and both scalers;
- junction matrices stay COO — ``(mm_coo, coords)``, never densified;
- a failed read raises; no silent ``None``/empty fallbacks
  (accessor.py:327-335 quirks intentionally not replicated); a load raises
  ``FileNotFoundError`` naming each project and file missing from the lake;
- ``cache`` is one ``ingest.fetch_manifest`` call over the URLs one
  locator builds for the whole selection: a bounded driver thread pool
  that starts no Spark job and tries each URL up to 3 times; it raises
  ``FetchError`` naming every URL that failed;
- driver-sized frames (the bigwig manifest) are built from Arrow as JVM
  local relations, so they start no Python worker task.

Lake layout (FIXTURES.md): ``_lake_path`` is the one rule for where a URL
lands, ``{lake}/{dbase}/{dtype}/{project}/{name}`` (catalogs and the shared
GTF have no project folder). ``Metadata._lake_files`` and
``Project._lake_files`` pair each URL with it; ``cache`` writes and the
loaders read exactly those paths, routed by name as the reference does, so
no other file, such as a killed fetch's ``.part.`` temp file, is ever read.
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.functions.gtf import with_gtf_attributes
from pyrecount_spark.functions.scalars import ORGANISM_REMAP, value_remap
from pyrecount_spark.operators import matrix as M
from pyrecount_spark.operators.relational import multi_join
from pyrecount_spark.session import local_frame
from pyrecount_spark.sources.catalog import Annotation, Dtype, ProjectLocator
from pyrecount_spark.sources.catalog import catalog_url, metadata_tags
from pyrecount_spark.sources.ingest import fetch_manifest
from pyrecount_spark.sources.readers import (
    id_list_length,
    input_file_part,
    matrix_market_dims,
    read_gtf,
    read_matrix_market_coo,
    read_tsv_cells,
    read_tsv_strings,
    tsv_header,
)

METADATA_JOIN_KEY = ["rail_id", "external_id", "study"]  # accessor.py:470


def _lake_path(lake_dir: str, dbase: str, dtype: Dtype, url: str, project: str = "") -> str:
    """The one rule for where a URL lands in the lake:
    ``{lake}/{dbase}/{dtype}/{project}/{name}``, ``name`` being the URL's
    file name, so the path does not depend on the root. A catalog and the
    shared annotation GTF have no project folder."""
    name = posixpath.basename(url)
    return os.path.join(lake_dir, dbase, dtype.value, "" if ".gtf" in name else project, name)


def _remap_distinct(frame: DataFrame) -> DataFrame:
    """Distinct rows, with the reference's organism names remapped
    (``Homo sapiens`` -> ``human``)."""
    if "organism" in frame.columns:
        frame = frame.withColumn("organism", value_remap(F.col("organism"), ORGANISM_REMAP))
    return frame.distinct()


class Metadata:
    """Catalog build (Q1, accessor.py:293-339): union every data source's
    recount_project TSV, remap organism names, dedup."""

    def __init__(
        self,
        spark: SparkSession,
        lake_dir: str,
        organism: str = "human",
        dbases: tuple[str, ...] = ("sra",),
    ):
        self.spark = spark
        self.lake_dir = lake_dir
        self.organism = organism
        self.dbases = dbases

    def _lake_files(self, root: str = "") -> list[tuple[str, str]]:
        """``(url, lake_path)`` of each data source's catalog: what ``cache``
        writes and ``load`` reads."""
        return [
            (url, _lake_path(self.lake_dir, db, Dtype.METADATA, url))
            for db in self.dbases
            for url in [catalog_url(root, self.organism, db)]
        ]

    def cache(self, root: str, fetcher=None) -> list[tuple[str, str, str]]:
        """Reference-parity ingest (``Metadata.cache()``, accessor.py:300-313):
        synthesize the per-data-source catalog URLs and fetch the missing
        files into the lake (idempotent — existing files report
        "cached"). Returns per-file (url, path, status); raises
        :class:`FetchError` if any fetch failed."""
        return fetch_manifest(self.spark, self._lake_files(root), fetcher)

    def load(self) -> DataFrame:
        paths = [path for _, path in self._lake_files()]
        return _remap_distinct(read_tsv_strings(self.spark, paths))


@dataclass
class Project:
    """Per-project data access (accessor.py:37-91): dtype-dispatched loads
    over the lake, Q7/Q8 scaling, memoized metadata (Q11)."""

    spark: SparkSession
    metadata: DataFrame
    lake_dir: str
    dbase: str
    annotation: Annotation | None = None
    jxn_format: str = "all"
    organism: str = "human"

    # ---- derived coordinates (A3, accessor.py:56-57) ----
    @cached_property
    def samples_by_project(self) -> dict[str, list[str]]:
        """Project -> sorted distinct samples: the one driver collect every
        per-project lookup below iterates."""
        grouped = self.metadata.groupBy("project").agg(F.sort_array(F.collect_set("external_id")))
        return dict(sorted((pid, list(samples)) for pid, samples in grouped.collect()))

    @property
    def project_ids(self) -> list[str]:
        return list(self.samples_by_project)

    @property
    def samples(self) -> list[str]:
        return sorted({s for ss in self.samples_by_project.values() for s in ss})

    # ---- reference-parity ingest (accessor.py:76-87) ----
    def cache(
        self,
        root: str,
        dtypes: tuple[Dtype, ...] = (Dtype.METADATA,),
        fetcher=None,
    ) -> list[tuple[str, str, str]]:
        """``Project.cache(dtypes)``: synthesize every project's URLs for
        the requested dtypes and fetch the missing files to their
        :meth:`_lake_files` paths. Idempotent; returns per-file
        (url, path, status); raises :class:`FetchError` if any fetch failed."""
        rows = [(url, path) for dtype in dtypes for _, url, path in self._lake_files(dtype, root)]
        return fetch_manifest(self.spark, rows, fetcher)  # which dedups the shared GTF

    # ---- loader registry (Q10, accessor.py:63-74) ----
    def load(self, dtype: Dtype):
        loader = {
            Dtype.METADATA: self.load_metadata,
            Dtype.GENE: self._load_counts,
            Dtype.EXON: self._load_exon,
            Dtype.JXN: self._load_junctions,
            Dtype.BW: self._load_bigwig_manifest,
        }[dtype]
        if dtype in (Dtype.GENE, Dtype.EXON):
            return loader(dtype)
        return loader()

    # ---- the lake layout: the one map from locator URLs to lake paths ----
    def _lake_files(self, dtype: Dtype, root: str = "") -> list[tuple[str, str, str]]:
        """``(project_id, url, lake_path)`` of every ``dtype`` file of the
        selection, each path given by :func:`_lake_path`."""
        loc = ProjectLocator(root, self.organism, self.dbase, self.project_ids, self.annotation,
                             self.jxn_format, self.samples_by_project)
        return [
            (pid, url, _lake_path(self.lake_dir, self.dbase, dtype, url, pid))
            for pid, url in loc.urls(dtype)
        ]

    def _lake_paths(self, dtype: Dtype) -> list[tuple[str, str]]:
        """``(project_id, lake_path)`` of every ``dtype`` file a load reads;
        raises naming each project and file missing from the lake, from one
        listing per folder."""
        rows = [(pid, path) for pid, _, path in self._lake_files(dtype)]
        present = {
            os.path.join(folder, name)
            for folder in {os.path.dirname(path) for _, path in rows}
            if os.path.isdir(folder)
            for name in os.listdir(folder)
        }
        missing = [(pid, os.path.basename(path)) for pid, path in rows if path not in present]
        if missing:
            pids, names = (sorted(set(col)) for col in zip(*missing))
            raise FileNotFoundError(f"no {dtype.value} files {names} in the lake for {pids}")
        return rows

    # ---- Q2 + Q11: one cross-project read per tag -> join, memoized ----
    def load_metadata(self) -> DataFrame:
        return self._project_metadata

    @cached_property
    def _project_metadata(self) -> DataFrame:
        names = [(os.path.basename(path), path) for _, path in self._lake_paths(Dtype.METADATA)]
        frames = [
            read_tsv_strings(
                self.spark, [p for n, p in names if n.startswith(f"{self.dbase}.{tag}.")]
            )
            for tag in metadata_tags(self.dbase)
        ]
        out = multi_join(frames, on=METADATA_JOIN_KEY, how="inner").filter(
            F.col("external_id").isin(self.samples)
        )
        return _remap_distinct(out).cache()

    # ---- Q3: shared GTF + per-project counts -> long union ----
    def _load_counts(self, dtype: Dtype) -> tuple[DataFrame, DataFrame]:
        # the locator raises ValueError for a counts dtype without an annotation
        files = self._lake_paths(dtype)
        gtf = next(path for _, path in files if ".gtf" in os.path.basename(path))
        annotation = with_gtf_attributes(read_gtf(self.spark, gtf))

        columns = {}
        for pid, path in files:
            if path == gtf:
                continue
            samples = set(self.samples_by_project[pid])
            names = tsv_header(path)
            missing = samples.difference(names)
            if missing:  # P1 raise semantics (accessor.py:276-278)
                raise KeyError(f"samples missing from counts for {pid}: {sorted(missing)}")
            columns[path] = {i: n for i, n in enumerate(names) if i and n in samples}
        # one scan melts every file; J2 align-merge is a union in long form (SURVEY §2.3)
        long = read_tsv_cells(self.spark, columns).select(
            F.col("key").alias("feature_id"),
            F.col("name").alias("sample_id"),
            F.col("value").cast("long").alias("count"),
        )
        return annotation, long

    # ---- Q4: exon = counts + composite-key split (F2) + reorder (P2) ----
    def _load_exon(self, dtype: Dtype) -> tuple[DataFrame, DataFrame]:
        annotation, long = self._load_counts(dtype)
        parts = F.split(F.col("feature_id"), r"\|")
        split = long.select(
            parts.getItem(0).alias("chrom"),
            parts.getItem(1).cast("long").alias("start"),
            parts.getItem(2).cast("long").alias("end"),
            parts.getItem(3).alias("strand"),
            "feature_id",
            "sample_id",
            "count",
        )
        return annotation, split

    # ---- Q5: junctions stay COO; width check vs the id dim table ----
    def _load_junctions(self) -> tuple[DataFrame, DataFrame]:
        files = self._lake_paths(Dtype.JXN)
        id_files, mm_files, rr_files = (
            {pid: path for pid, path in files if f".{kind}." in os.path.basename(path)}
            for kind in ("ID", "MM", "RR")
        )
        for pid in self.project_ids:
            _, n_cols, _ = matrix_market_dims(mm_files[pid])
            n_ids = id_list_length(id_files[pid])
            if n_cols != n_ids:  # accessor.py:434-435, loud
                raise ValueError(
                    f"junction width mismatch for {pid}: MM has {n_cols} cols, "
                    f"ID list has {n_ids}"
                )
        # P8 provenance: the lake layout puts each file in its project's folder
        project_id = input_file_part(-2).alias("project_id")
        coo = read_matrix_market_coo(self.spark, list(mm_files.values()))
        coords = read_tsv_strings(self.spark, list(rr_files.values()))
        return coo.select("*", project_id), coords.select("*", project_id)

    # ---- Q6: manifest only, payloads never parsed ----
    def _load_bigwig_manifest(self) -> DataFrame:
        rows = [(pid, "file://" + path, path) for pid, path in self._lake_paths(Dtype.BW)]
        return local_frame(self.spark, rows, ["project_id", "url", "path"])

    # ---- Q7/Q8: scaling as broadcast joins (no dict round-trip) ----
    def scale_mapped_reads(
        self, counts_long: DataFrame, target_size: float, read_length: int
    ) -> DataFrame:
        factors = M.scale_factors_mapped_reads(
            self.load_metadata(), target_size, read_length
        )
        return M.scale_long(counts_long, factors)

    def scale_auc(self, counts_long: DataFrame, target_size: float) -> DataFrame:
        factors = M.scale_factors_auc(self.load_metadata(), target_size)
        return M.scale_long(counts_long, factors, round_to_int=True)
