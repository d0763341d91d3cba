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
- each metadata tag is read once across projects (drift unions by name);
- a ``Project`` memoizes its project -> samples map (one collect) and its
  metadata frame, shared by every load and both scalers;
- junction matrices stay COO — ``(mm_coo, coords)``, never densified;
- a failed read raises; no silent ``None``/empty fallbacks
  (accessor.py:327-335 quirks intentionally not replicated); a missing
  metadata tag, counts or junction file raises naming its project.

File layout consumed (mirrors the reference's cache tree, FIXTURES.md):
``{lake}/{dbase}/{dtype}/{project}/<files>`` with the reference's file
naming (``{dbase}.{tag}.{project}.*`` for metadata tags, ``*.gtf*`` for
annotation, ``*ID*``/``*MM*``/``*RR*`` for junctions).
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.functions.gtf import with_gtf_attributes
from pyrecount_spark.functions.scalars import ORGANISM_REMAP, value_remap
from pyrecount_spark.operators import matrix as M
from pyrecount_spark.operators.relational import align_union, multi_join
from pyrecount_spark.sources.catalog import Annotation, Dtype, Tags
from pyrecount_spark.sources.readers import (
    matrix_market_dims,
    read_gtf,
    read_id_list,
    read_matrix_market_coo,
    read_tsv_strings,
)

METADATA_JOIN_KEY = ["rail_id", "external_id", "study"]  # accessor.py:470


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

    def cache(self, root: str, fetcher=None, num_tasks=None) -> list[tuple[str, str, str]]:
        """Reference-parity ingest (``Metadata.cache()``, accessor.py:300-313):
        synthesize the per-data-source catalog URLs and fetch the missing
        files into the lake layout ``{lake}/{dbase}/metadata/`` on executors
        (idempotent — existing files report "cached"). Returns per-file
        (url, path, status)."""
        from pyrecount_spark.sources.catalog import CatalogLocator
        from pyrecount_spark.sources.ingest import fetch_manifest

        loc = CatalogLocator(root=root, organism=self.organism, dbases=self.dbases)
        rows = [
            (url, os.path.join(self.lake_dir, db, "metadata", os.path.basename(url)))
            for db, url in zip(self.dbases, loc.urls())
        ]
        manifest = self.spark.createDataFrame(rows, ["url", "path"])
        return fetch_manifest(manifest, fetcher=fetcher, num_tasks=num_tasks)

    def load(self) -> DataFrame:
        paths = sorted(
            _glob.glob(os.path.join(self.lake_dir, "*", "metadata", "*recount_project*"))
        )
        if not paths:
            raise FileNotFoundError(
                f"no catalog files under {self.lake_dir}/*/metadata/"
            )
        out = read_tsv_strings(self.spark, paths)
        if "organism" in out.columns:
            out = out.withColumn(
                "organism", value_remap(F.col("organism"), ORGANISM_REMAP)
            )
        return out.distinct()


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
        dtypes: Dtype | tuple[Dtype, ...] = (Dtype.METADATA,),
        organism: str = "human",
        fetcher=None,
        num_tasks=None,
    ) -> list[tuple[str, str, str]]:
        """``Project.cache(dtypes)``: synthesize every project's URLs for
        the requested dtypes and fetch the missing files into
        ``{lake}/{dbase}/{dtype}/{project}/`` on executors. Idempotent;
        returns per-file (url, path, status)."""
        from pyrecount_spark.sources.catalog import ProjectLocator
        from pyrecount_spark.sources.ingest import fetch_manifest

        if isinstance(dtypes, Dtype):
            dtypes = (dtypes,)
        rows = []
        for pid, samples in self.samples_by_project.items():
            loc = ProjectLocator(
                root=root,
                organism=organism,
                dbase=self.dbase,
                project_ids=[pid],
                annotation=self.annotation,
                jxn_format=self.jxn_format,
                samples_by_project={pid: samples},
            )
            for dtype in dtypes:
                for url in loc.urls(dtype):
                    if ".gtf" in os.path.basename(url):
                        # Shared annotation: one copy per dtype at the level
                        # _load_counts globs ({lake}/{dbase}/{dtype}/*.gtf*),
                        # deduped across projects below.
                        dest = os.path.join(
                            self.lake_dir, self.dbase, dtype.value,
                            os.path.basename(url),
                        )
                    else:
                        dest = os.path.join(
                            self._project_dir(dtype, pid), os.path.basename(url)
                        )
                    rows.append((url, dest))
        rows = list(dict.fromkeys(rows))  # dedup shared-annotation fetches
        manifest = self.spark.createDataFrame(rows, ["url", "path"])
        return fetch_manifest(manifest, fetcher=fetcher, num_tasks=num_tasks)

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

    def _project_dir(self, dtype: Dtype, project_id: str) -> str:
        return os.path.join(self.lake_dir, self.dbase, dtype.value, project_id)

    def _project_files(self, dtype: Dtype, pattern: str) -> dict[str, list[str]]:
        """Project -> its sorted files matching ``pattern``; raises naming
        every selected project with no match."""
        hits = {
            pid: sorted(_glob.glob(os.path.join(self._project_dir(dtype, pid), pattern)))
            for pid in self.samples_by_project
        }
        missing = [pid for pid, files in hits.items() if not files]
        if missing:
            raise FileNotFoundError(f"no {dtype.value} files matching {pattern!r} for {missing}")
        return hits

    # ---- Q2 + Q11: one cross-project read per tag -> join, memoized ----
    def load_metadata(self) -> DataFrame:
        return self._project_metadata

    @cached_property
    def _project_metadata(self) -> DataFrame:
        tags = [self.dbase] + [t.value for t in Tags]
        if self.dbase in ("gtex", "tcga"):  # accessor.py:288-289
            tags.remove(Tags.RECOUNT_PRED.value)
        frames = [
            read_tsv_strings(
                self.spark, sum(self._project_files(Dtype.METADATA, f"*.{tag}.*").values(), [])
            )
            for tag in tags
        ]
        out = multi_join(frames, on=METADATA_JOIN_KEY, how="inner").filter(
            F.col("external_id").isin(self.samples)
        )
        if "organism" in out.columns:
            out = out.withColumn(
                "organism", value_remap(F.col("organism"), ORGANISM_REMAP)
            )
        return out.distinct().cache()

    # ---- Q3: shared GTF + per-project counts -> long union ----
    def _load_counts(self, dtype: Dtype) -> tuple[DataFrame, DataFrame]:
        if self.annotation is None:
            raise ValueError(f"{dtype.value} requires an annotation (locator.py:19-20)")
        anno_hits = sorted(
            _glob.glob(os.path.join(self.lake_dir, self.dbase, dtype.value, "*.gtf*"))
        )
        if not anno_hits:
            raise FileNotFoundError(f"no {dtype.value} GTF annotation in lake")
        annotation = with_gtf_attributes(read_gtf(self.spark, anno_hits[0]))

        longs = []
        for pid, files in self._project_files(dtype, f"*{self.annotation.value}*").items():
            samples = self.samples_by_project[pid]
            wide = read_tsv_strings(self.spark, files)
            feature_col = wide.columns[0]
            missing = set(samples) - set(wide.columns[1:])
            if missing:  # P1 raise semantics (accessor.py:276-278)
                raise KeyError(f"samples missing from counts for {pid}: {sorted(missing)}")
            long = M.melt(
                wide.select(feature_col, *samples),
                [feature_col],
                samples,
                var_name="sample_id",
                value_name="count",
            ).withColumnRenamed(feature_col, "feature_id")
            longs.append(long)
        # J2 align-merge degenerates to a union in long form (SURVEY §2.3)
        return annotation, align_union(longs).withColumn("count", F.col("count").cast("long"))

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
        id_files, mm_files, rr_files = (
            self._project_files(Dtype.JXN, pattern) for pattern in ("*ID*", "*MM*", "*RR*")
        )
        coos, coords = [], []
        for pid in self.project_ids:
            _, n_cols, _ = matrix_market_dims(self.spark, mm_files[pid][0])
            n_ids = read_id_list(self.spark, id_files[pid][0]).count()
            if n_cols != n_ids:  # accessor.py:434-435, loud
                raise ValueError(
                    f"junction width mismatch for {pid}: MM has {n_cols} cols, "
                    f"ID list has {n_ids}"
                )
            coo = read_matrix_market_coo(self.spark, mm_files[pid][0]).withColumn(
                "project_id", F.lit(pid)
            )
            coos.append(coo)
            coords.append(
                read_tsv_strings(self.spark, rr_files[pid][0]).withColumn(
                    "project_id", F.lit(pid)  # P8 provenance
                )
            )
        return align_union(coos), align_union(coords)

    # ---- Q6: manifest only, payloads never parsed ----
    def _load_bigwig_manifest(self) -> DataFrame:
        rows = []
        for pid in self.project_ids:
            for path in sorted(
                _glob.glob(os.path.join(self._project_dir(Dtype.BW, pid), "*"))
            ):
                rows.append((pid, "file://" + path, path))
        return self.spark.createDataFrame(rows, ["project_id", "url", "path"])

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
