"""Catalog layer: data coordinates and URL synthesis.

Reproduces the reference's addressing scheme (SURVEY.md §1.1, §2.1 S3-S4)
as a pure-Python driver-side catalog whose *output* is the URL list that
the fetch (sources/ingest.py) downloads. Semantics sources:
``/root/reference/src/pyrecount/models.py:7-40`` (enums),
``locator.py:7-187`` (URL synthesis). The reference's endpoint discovery
(``api.py:14-36``, a ``homes_index`` listing) is not reproduced: callers
name their data sources (``api.Metadata(dbases=...)``).

Nothing here touches executors: the catalog is small metadata. The 100 TB
design splits cleanly — catalog on the driver, bytes on the cluster.
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass, field
from enum import Enum
from typing import Sequence


class Annotation(str, Enum):
    """Annotation sources (models.py:7-14)."""

    GENCODE_V29 = "G029"
    GENCODE_V26 = "G026"
    FANTOM6 = "F006"
    REFSEQ = "R109"
    ERCC = "ERCC"
    SIRV = "SIRV"
    GENCODE_V23 = "M023"  # mouse


class Dtype(str, Enum):
    """Logical entity kinds (models.py:17-22)."""

    METADATA = "metadata"
    GENE = "gene_sums"
    EXON = "exon_sums"
    JXN = "junctions"
    BW = "base_sums"


class Tags(str, Enum):
    """Per-project metadata file tags (models.py:25-32)."""

    RECOUNT_PROJECT = "recount_project"
    RECOUNT_QC = "recount_qc"
    RECOUNT_SEQ_QC = "recount_seq_qc"
    RECOUNT_PRED = "recount_pred"


class Extensions(str, Enum):
    """File extensions (models.py:35-40); all gzip-transparent (S13)."""

    MD = "MD.gz"
    GZ = "gz"
    MM = "MM.gz"
    RR = "RR.gz"


def shard2(ident: str) -> str:
    """2-char sharding index = last two characters of the project/sample id
    (locator.py:66-80). Keeps any one directory's fan-out bounded — the same
    idea as hash-prefix partitioning in the parquet lake."""
    return ident[-2:]


def metadata_tags(dbase: str) -> list[str]:
    """Metadata file tags of a data source: ``dbase`` + the four recount tags
    (locator.py:59-60); gtex/tcga have no ``recount_pred`` (accessor.py:288-289)."""
    tags = [dbase] + [t.value for t in Tags]
    if dbase in ("gtex", "tcga"):
        tags.remove(Tags.RECOUNT_PRED.value)
    return tags


@dataclass
class ProjectLocator:
    """URL synthesis for per-project data files (locator.py:82-164).

    ``urls(dtype)`` produces the full cartesian tags × extensions fan-out the
    reference builds (locator.py:86), with per-dtype path templates, as
    ``(project_id, url)`` rows.
    """

    root: str
    organism: str
    dbase: str
    project_ids: Sequence[str]
    annotation: Annotation | None = None
    jxn_format: str = "all"
    samples_by_project: dict[str, Sequence[str]] = field(default_factory=dict)

    def _base(self) -> str:
        return posixpath.join(
            self.root, self.organism, "data_sources", self.dbase,
        )

    def metadata_urls(self) -> list[tuple[str, str]]:
        """S3 metadata variant: one file per :func:`metadata_tags` tag."""
        return [
            (pid, posixpath.join(self._base(), "metadata", shard2(pid), pid,
                                 f"{self.dbase}.{tag}.{pid}.{Extensions.MD.value}"))
            for pid in self.project_ids
            for tag in metadata_tags(self.dbase)
        ]

    def counts_urls(self, dtype: Dtype) -> list[tuple[str, str]]:
        """GENE/EXON: one annotated counts file + one shared annotation GTF
        per project (locator.py:96-108)."""
        if self.annotation is None:
            raise ValueError(f"{dtype.value} requires an annotation (locator.py:19-20)")
        ann = self.annotation.value
        gtf = posixpath.join(
            self.root, self.organism, "annotations", dtype.value,
            f"{self.organism}.{dtype.value}.{ann}.gtf.gz",
        )
        rows = []
        for pid in self.project_ids:
            counts = posixpath.join(
                self._base(), dtype.value, shard2(pid), pid,
                f"{self.dbase}.{dtype.value}.{pid}.{ann}.gz",
            )
            rows += [(pid, counts), (pid, gtf)]
        return rows

    def junction_urls(self) -> list[tuple[str, str]]:
        """JXN: ID + MM + RR triplet per project (locator.py:110-135)."""
        rows = []
        for pid in self.project_ids:
            base = posixpath.join(self._base(), Dtype.JXN.value, shard2(pid), pid)
            stem = f"{self.dbase}.junctions.{pid}.{self.jxn_format.upper()}"
            rows += [
                (pid, posixpath.join(base, f"{stem}.{ext}"))
                for ext in ("ID.gz", Extensions.MM.value, Extensions.RR.value)
            ]
        return rows

    def bigwig_urls(self) -> list[tuple[str, str]]:
        """BW: one BigWig per (project, sample) (locator.py:139-159). Path
        levels are {base_sums}/{shard2(pid)}/{pid}/{shard2(sample)}/{file},
        matching the reference's project_index/project_id/sample_index nesting."""
        return [
            (pid, posixpath.join(self._base(), Dtype.BW.value, shard2(pid), pid, shard2(sample),
                                 f"{self.dbase}.base_sums.{pid}_{sample}.ALL.bw"))
            for pid in self.project_ids
            for sample in self.samples_by_project.get(pid, [])
        ]

    def urls(self, dtype: Dtype) -> list[tuple[str, str]]:
        if dtype in (Dtype.GENE, Dtype.EXON):
            return self.counts_urls(dtype)
        return {Dtype.METADATA: self.metadata_urls, Dtype.JXN: self.junction_urls,
                Dtype.BW: self.bigwig_urls}[dtype]()


def catalog_url(root: str, organism: str, dbase: str) -> str:
    """S4 (locator.py:167-187): a data source's recount_project MD file."""
    return posixpath.join(
        root, organism, "data_sources", dbase, "metadata", f"{dbase}.recount_project.MD.gz"
    )
