"""Seeded recount3-shaped release mirror, its local-copy fetcher, and the
expected pipeline outputs computed from the generator's own arrays.

The mirror lays files out exactly where ``sources.catalog`` synthesizes
their URLs under ``ROOT``, so ``Metadata.cache`` / ``Project.cache`` fetch
them through the normal ingest path with :func:`make_fetcher` copying
instead of downloading. Every random stream is a PCG64 seeded from
sha256(seed, section), and gzip members carry no name or mtime, so the same
seed and shape give byte-identical files.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

ROOT = "mirror://recount3/release"
ORGANISM = "human"
DBASE = "sra"
ANNOTATION = "G029"
TAGS = ("sra", "recount_project", "recount_qc", "recount_seq_qc", "recount_pred")
# per-project optional columns of the ``sra`` tag: projects carry different
# subsets, so the cross-project union has to align schemas
SRA_EXTRA = ("sample_title", "library_layout", "platform_model", "submission_acc",
             "experiment_title", "sample_attributes")
AUC_TARGET = 4e7
MAPPED_TARGET = 4e7
READ_LENGTH = 100
BASE = f"{ORGANISM}/data_sources/{DBASE}"


@dataclass(frozen=True)
class Shape:
    projects: int
    samples: int  # samples per project, on average; the total is fixed
    genes: int
    exons_per_gene: int = 2
    junctions: int = 400


def _rng(seed: int, section: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{section}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "big")))


def _gz(text: str) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as fh:
        fh.write(text.encode())
    return buf.getvalue()


def _tsv(header: list[str], rows: list[list[str]]) -> str:
    return "\n".join(["\t".join(header)] + ["\t".join(r) for r in rows]) + "\n"


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """Spark ``round(double, 0)``: HALF_UP on the double's decimal string."""
    out = np.floor(x + 0.5)
    for i in np.flatnonzero(np.abs(x - np.floor(x) - 0.5) < 1e-6):
        out[i] = float(Decimal(repr(float(x[i]))).quantize(Decimal(1), ROUND_HALF_UP))
    return out.astype(np.int64)


def generate(out_dir: str, seed: int, shape: Shape) -> dict:
    """Write the mirror under ``out_dir`` and return the expected outputs."""
    files: dict[str, bytes] = {}
    r = _rng(seed, "projects")
    pids = sorted({f"SRP{int(x):06d}" for x in r.choice(900_000, shape.projects * 2, replace=False)})
    pids = pids[: shape.projects]
    # uneven projects, but always projects x samples samples in all
    lo = max(1, shape.samples // 2)
    n_total = shape.projects * shape.samples
    n_per = lo + r.multinomial(n_total - lo * len(pids), [1.0 / len(pids)] * len(pids))
    sample_ids = [f"SRR{int(x):07d}" for x in r.choice(9_000_000, n_total, replace=False)]
    rail_ids = [str(int(x)) for x in r.choice(5_000_000, n_total, replace=False) + 1]
    samples: dict[str, list[int]] = {}
    k = 0
    for pid, n in zip(pids, n_per):
        samples[pid] = list(range(k, k + int(n)))
        k += int(n)

    # ---- catalog (with exact duplicate rows the loader must drop) ----
    cat_rows = [[rail_ids[i], sample_ids[i], pid, pid, "Homo sapiens", "sra"]
                for pid in pids for i in samples[pid]]
    dups = [cat_rows[int(i)] for i in r.choice(len(cat_rows), max(1, len(cat_rows) // 10), replace=False)]
    files[f"{BASE}/metadata/{DBASE}.recount_project.MD.gz"] = _gz(
        _tsv(["rail_id", "external_id", "study", "project", "organism", "file_source"],
             cat_rows + dups)
    )

    # ---- per-sample QC drawn once; paired samples map ~2x the read length ----
    q = _rng(seed, "qc")
    paired = q.random(n_total) < 0.5
    avg_len = q.choice([50.0, 76.0, 100.0, 150.0], n_total)
    mapped_len = np.round(avg_len * np.where(paired, 2.0, 1.0) * q.uniform(0.9, 1.05, n_total), 2)
    mapped_reads = q.integers(5_000_000, 60_000_000, n_total)
    auc = q.integers(500_000_000, 9_000_000_000, n_total)

    # ---- genes: shared GTF + per-project wide count matrices ----
    g = _rng(seed, "genes")
    gene_ids = [f"ENSG{int(x):011d}.{int(v)}" for x, v in
                zip(g.choice(90_000_000, shape.genes, replace=False), g.integers(1, 20, shape.genes))]
    chroms = g.integers(1, 23, shape.genes)
    starts = g.integers(10_000, 200_000_000, shape.genes)
    lengths = g.integers(500, 90_000, shape.genes)
    strands = np.where(g.random(shape.genes) < 0.5, "+", "-")
    gtf = ["#description: synthetic recount3 gene annotation", "#provider: perfbench"]
    for j, gid in enumerate(gene_ids):
        gtf.append(
            f"chr{chroms[j]}\tHAVANA\tgene\t{starts[j]}\t{starts[j] + lengths[j]}\t.\t{strands[j]}\t.\t"
            f'gene_id "{gid}"; gene_type "protein_coding"; gene_name "GENE{j}"; level 2;'
        )
    files[f"{ORGANISM}/annotations/gene_sums/{ORGANISM}.gene_sums.{ANNOTATION}.gtf.gz"] = _gz(
        "\n".join(gtf) + "\n"
    )
    means = np.exp(g.normal(3.0, 2.0, shape.genes))

    # ---- exons: composite-key rows ----
    e = _rng(seed, "exons")
    n_ex = shape.genes * shape.exons_per_gene
    ex_gene = np.repeat(np.arange(shape.genes), shape.exons_per_gene)
    ex_start = starts[ex_gene] + e.integers(0, 400, n_ex) + np.tile(
        np.arange(shape.exons_per_gene) * 500, shape.genes)
    ex_end = ex_start + e.integers(50, 450, n_ex)
    ex_keys = [f"chr{chroms[ex_gene[j]]}|{ex_start[j]}|{ex_end[j]}|{strands[ex_gene[j]]}"
               for j in range(n_ex)]
    exon_gtf = [
        f"chr{chroms[ex_gene[j]]}\tHAVANA\texon\t{ex_start[j]}\t{ex_end[j]}\t.\t{strands[ex_gene[j]]}\t.\t"
        f'gene_id "{gene_ids[ex_gene[j]]}"; exon_id "ENSE{j:011d}"; exon_number "{j % shape.exons_per_gene + 1}";'
        for j in range(n_ex)
    ]
    files[f"{ORGANISM}/annotations/exon_sums/{ORGANISM}.exon_sums.{ANNOTATION}.gtf.gz"] = _gz(
        "\n".join(exon_gtf) + "\n"
    )

    gene_sum = np.zeros(n_total, np.int64)
    auc_sum = np.zeros(n_total, np.int64)
    mapped_sum = 0.0
    sf_auc = AUC_TARGET / auc.astype(np.float64)
    sf_mapped = (MAPPED_TARGET * READ_LENGTH * np.where(
        np.round(mapped_len / avg_len) == 2, 2.0, 1.0)) / (mapped_reads * mapped_len ** 2)
    columns: set[str] = set()
    for pid in pids:
        idx = samples[pid]
        ids = [sample_ids[i] for i in idx]
        keys = [[rail_ids[i], sample_ids[i], pid] for i in idx]
        pr = _rng(seed, f"project:{pid}")
        extra = sorted(pr.choice(SRA_EXTRA, int(pr.integers(1, len(SRA_EXTRA) + 1)), replace=False))
        tag_tables = {
            "sra": (list(extra), [[f"{c}_{i}" for c in extra] for i in idx]),
            "recount_project": (["project", "organism", "metadata_source", "date_processed"],
                                [[pid, "Homo sapiens", "sra", "2021-03-01"] for _ in idx]),
            "recount_qc": (["star.all_mapped_reads", "star.average_mapped_length", "avg_len",
                            "bc_auc.all_reads_all_bases", "star.number_of_input_reads"],
                           [[str(mapped_reads[i]), f"{mapped_len[i]:.2f}", f"{avg_len[i]:.1f}",
                             str(auc[i]), str(mapped_reads[i] + 1000)] for i in idx]),
            "recount_seq_qc": (["seq_qc.min_len", "seq_qc.max_len", "seq_qc.frac_n"],
                               [[str(int(avg_len[i]) - 1), str(int(avg_len[i])), "0.001"] for i in idx]),
            "recount_pred": (["pred.type", "pred.sample_type"],
                             [["rna-seq", "tissue" if i % 3 else "cell_line"] for i in idx]),
        }
        for tag in TAGS:
            cols, vals = tag_tables[tag]
            columns.update(cols)
            files[f"{BASE}/metadata/{pid[-2:]}/{pid}/{DBASE}.{tag}.{pid}.MD.gz"] = _gz(
                _tsv(["rail_id", "external_id", "study", *cols], [k + v for k, v in zip(keys, vals)])
            )

        counts = pr.poisson(means[:, None], (shape.genes, len(idx))).astype(np.int64)
        gene_sum[idx] = counts.sum(axis=0)
        auc_sum[idx] = _round_half_up(counts * sf_auc[idx][None, :]).sum(axis=0)
        mapped_sum += float((counts * sf_mapped[idx][None, :]).sum())
        body = [f"{gene_ids[j]}\t" + "\t".join(map(str, counts[j])) for j in range(shape.genes)]
        files[f"{BASE}/gene_sums/{pid[-2:]}/{pid}/{DBASE}.gene_sums.{pid}.{ANNOTATION}.gz"] = _gz(
            f"##annotation={ANNOTATION}\n##date.generated=2021-03-01\n"
            + "\t".join(["gene_id", *ids]) + "\n" + "\n".join(body) + "\n"
        )

        ecounts = pr.poisson(means[ex_gene][:, None] / shape.exons_per_gene, (n_ex, len(idx)))
        ebody = [f"{ex_keys[j]}\t" + "\t".join(map(str, ecounts[j])) for j in range(n_ex)]
        files[f"{BASE}/exon_sums/{pid[-2:]}/{pid}/{DBASE}.exon_sums.{pid}.{ANNOTATION}.gz"] = _gz(
            f"##annotation={ANNOTATION}\n"
            + "\t".join(["exon_key", *ids]) + "\n" + "\n".join(ebody) + "\n"
        )

        # junction triplet: sample-id list, MatrixMarket COO, coordinates
        nj = shape.junctions
        cells = pr.choice(nj * len(idx), max(1, nj * len(idx) // 5), replace=False)
        vals = pr.integers(1, 50, len(cells))
        jstem = f"{BASE}/junctions/{pid[-2:]}/{pid}/{DBASE}.junctions.{pid}.ALL"
        files[f"{jstem}.ID.gz"] = _gz("rail_id\n" + "\n".join(rail_ids[i] for i in idx) + "\n")
        mm = [f"%%MatrixMarket matrix coordinate integer general", "%synthetic",
              f"{nj} {len(idx)} {len(cells)}"]
        mm += [f"{c // len(idx) + 1} {c % len(idx) + 1} {v}" for c, v in zip(cells, vals)]
        files[f"{jstem}.MM.gz"] = _gz("\n".join(mm) + "\n")
        jstart = pr.integers(10_000, 200_000_000, nj)
        files[f"{jstem}.RR.gz"] = _gz(_tsv(
            ["chromosome", "start", "end", "strand"],
            [[f"chr{int(c)}", str(s), str(s + int(w)), "+"] for c, s, w in
             zip(pr.integers(1, 23, nj), jstart, pr.integers(50, 5000, nj))],
        ))

        for i in idx:
            files[f"{BASE}/base_sums/{pid[-2:]}/{pid}/{sample_ids[i][-2:]}/"
                  f"{DBASE}.base_sums.{pid}_{sample_ids[i]}.ALL.bw"] = pr.bytes(256)

    for rel, data in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)

    top = sorted(((len(samples[p]), p) for p in pids), key=lambda t: (-t[0], t[1]))[0]
    return {
        "projects": pids,
        "samples": {p: [sample_ids[i] for i in samples[p]] for p in pids},
        "top_project": [top[1], top[0]],
        "n_samples": n_total,
        "metadata_columns": sorted(columns | {"rail_id", "external_id", "study"}),
        "gene_rows": shape.genes * n_total,
        "gene_sum": {sample_ids[i]: int(gene_sum[i]) for i in range(n_total)},
        "auc_sum": {sample_ids[i]: int(auc_sum[i]) for i in range(n_total)},
        "mapped_sum": mapped_sum,
        "files": len(files),
        "bytes": sum(len(b) for b in files.values()),
        # rows of the files a pass parses: catalog, metadata tags, gene GTF, gene sums
        "input_rows": (len(cat_rows) + len(dups) + n_total * len(TAGS) + shape.genes
                       + shape.genes * len(pids)),
    }


def digest(out_dir: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, names in os.walk(out_dir):
        dirs.sort()
        for name in sorted(names):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make_fetcher(mirror_dir: str):
    """A fetcher ``(url, dest)`` that copies ``ROOT``-relative URLs out of
    ``mirror_dir``. Nested so cloudpickle ships it to executors by value."""
    root = ROOT

    def fetch(url: str, dest: str) -> None:
        import shutil

        if not url.startswith(root + "/"):
            raise ValueError(f"url outside the mirror: {url}")
        shutil.copyfile(mirror_dir + url[len(root):], dest)

    return fetch
