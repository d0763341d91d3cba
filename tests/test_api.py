"""End-to-end facade test: the reference's canonical flow (example.py:21-30
+ test_accessor.py golden-shape style) against a fixture lake.

Flow: Metadata().load() -> canonical group/sort/filter analysis ->
Project(...).load(dtype) for every Dtype -> scale_auc — value-exact.
"""

from __future__ import annotations

import gzip
import re
import shutil
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyrecount_spark.api import Metadata, Project
from pyrecount_spark.operators.matrix import pivot_wide
from pyrecount_spark.operators.relational import group_count, isin_filter, top_k
from pyrecount_spark.sources.catalog import Annotation, Dtype


def _tsv(*rows: str) -> str:
    return "\n".join(rows) + "\n"


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    sra = root / "sra"

    # catalog (gzipped: exercises S13 transparent decompression)
    meta = sra / "metadata"
    meta.mkdir(parents=True)
    catalog = _tsv(
        "rail_id\texternal_id\tstudy\tproject\torganism",
        "r1\ts1\tst1\tP1\tHomo sapiens",
        "r2\ts2\tst1\tP1\tHomo sapiens",
        "r3\ts3\tst2\tP2\tHomo sapiens",
        "r1\ts1\tst1\tP1\tHomo sapiens",  # exact dup -> distinct()
    )
    with gzip.open(meta / "sra.recount_project.MD.gz", "wt") as fh:
        fh.write(catalog)

    # per-project metadata tags (P1 only needs full tags for scaling test)
    for pid, samples in [("P1", ["s1", "s2"]), ("P2", ["s3"])]:
        pdir = meta / pid
        pdir.mkdir()
        key_rows = [f"r{s[1:]}\t{s}\tst{1 if pid == 'P1' else 2}" for s in samples]
        (pdir / f"sra.sra.{pid}.MD").write_text(
            _tsv("rail_id\texternal_id\tstudy", *key_rows)
        )
        (pdir / f"sra.recount_project.{pid}.MD").write_text(
            _tsv("rail_id\texternal_id\tstudy\tproject",
                 *[f"{r}\t{pid}" for r in key_rows])
        )
        qc_rows = {
            "s1": "1000000\t200.0\t100.0\t20000000",
            "s2": "2000000\t100.0\t100.0\t10000000",
            "s3": "1000000\t100.0\t100.0\t10000000",
        }
        (pdir / f"sra.recount_qc.{pid}.MD").write_text(
            _tsv(
                "rail_id\texternal_id\tstudy\tstar.all_mapped_reads\t"
                "star.average_mapped_length\tavg_len\tbc_auc.all_reads_all_bases",
                *[f"{r}\t{qc_rows[s]}" for r, s in zip(key_rows, samples)],
            )
        )
        (pdir / f"sra.recount_seq_qc.{pid}.MD").write_text(
            _tsv("rail_id\texternal_id\tstudy\tseq_stat", *[f"{r}\tok" for r in key_rows])
        )
        (pdir / f"sra.recount_pred.{pid}.MD").write_text(
            _tsv("rail_id\texternal_id\tstudy\tpred", *[f"{r}\tx" for r in key_rows])
        )

    # gene: shared GTF + per-project wide counts (overlapping gene sets, J2)
    gene = sra / "gene_sums"
    gene.mkdir()
    (gene / "human.gene_sums.G029.gtf").write_text(
        "#!genome\n"
        'chr1\tHAVANA\tgene\t1\t100\t.\t+\t.\tgene_id "g1"; gene_name "G_ONE";\n'
        'chr1\tHAVANA\tgene\t200\t300\t.\t-\t.\tgene_id "g2";\n'
    )
    g1 = gene / "P1"
    g1.mkdir()
    (g1 / "sra.gene_sums.P1.G029.tsv").write_text(
        _tsv("#comment", "gene_id\ts1\ts2", "g1\t10\t100", "g2\t20\t200")
    )
    g2 = gene / "P2"
    g2.mkdir()
    (g2 / "sra.gene_sums.P2.G029.tsv").write_text(
        _tsv("#comment", "gene_id\ts3", "g2\t7", "g3\t9")
    )

    # exon: composite-key counts for P1
    exon = sra / "exon_sums"
    exon.mkdir()
    (exon / "human.exon_sums.G029.gtf").write_text(
        'chr1\tHAVANA\texon\t1\t50\t.\t+\t.\tgene_id "g1"; exon_id "e1";\n'
    )
    e1 = exon / "P1"
    e1.mkdir()
    (e1 / "sra.exon_sums.P1.G029.tsv").write_text(
        _tsv("exon_key\ts1\ts2", "chr1|11869|12227|+\t5\t6", "chr2|100|200|-\t0\t3")
    )

    # junctions triplet for P1 (2 samples -> MM width 2)
    jxn = sra / "junctions" / "P1"
    jxn.mkdir(parents=True)
    (jxn / "sra.junctions.P1.all.ID.csv").write_text("rail_id\n1\n2\n")
    (jxn / "sra.junctions.P1.all.MM.mtx").write_text(
        textwrap.dedent(
            """\
            %%MatrixMarket matrix coordinate integer general
            3 2 3
            1 1 4
            2 2 5
            3 1 6
            """
        )
    )
    (jxn / "sra.junctions.P1.all.RR.tsv").write_text(
        _tsv("chromosome\tstart\tend", "chr1\t10\t20", "chr1\t30\t40", "chr2\t5\t9")
    )

    # bigwig payload files
    bw = sra / "base_sums" / "P1"
    bw.mkdir(parents=True)
    (bw / "sra.base_sums.P1_s1.ALL.bw").write_bytes(b"bw1")
    (bw / "sra.base_sums.P1_s2.ALL.bw").write_bytes(b"bw2")

    return str(root)


@pytest.fixture(scope="module")
def catalog_df(spark, lake):
    return Metadata(spark, lake).load()


@pytest.fixture(scope="module")
def project(spark, lake, catalog_df):
    md = catalog_df.filter(F.col("project").isin(["P1", "P2"]))
    return Project(
        spark, metadata=md, lake_dir=lake, dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )


def test_catalog_load_gz_union_remap_distinct(catalog_df):
    rows = catalog_df.collect()
    assert len(rows) == 3  # dup removed
    assert {r.organism for r in rows} == {"human"}  # F3 remap


def test_canonical_example_flow(catalog_df):
    """example.py:21-30: group-count, sort desc, filter to key set."""
    counts = group_count(catalog_df, ["project"], "len")
    top = top_k(counts, [F.desc("len"), F.asc("project")], 1).collect()
    assert (top[0].project, top[0].len) == ("P1", 2)
    assert isin_filter(counts, "project", ["P2"]).collect()[0].len == 1


def test_project_metadata_join_and_union(project):
    md = project.load(Dtype.METADATA)
    rows = {r.external_id: r for r in md.collect()}
    assert set(rows) == {"s1", "s2", "s3"}
    assert rows["s1"].pred == "x" and rows["s1"].seq_stat == "ok"
    assert rows["s1"].project == "P1" and rows["s3"].project == "P2"
    # one memoized path serves the loader registry and both scalers
    assert md is project.load_metadata()


def test_gene_load_long_and_wide_view(project):
    anno, counts = project.load(Dtype.GENE)
    assert anno.filter(F.col("gene_name") == "G_ONE").count() == 1
    assert counts.schema["count"].dataType == LongType()  # string-first, cast after melt
    got = {(r.feature_id, r.sample_id): r["count"] for r in counts.collect()}
    assert got[("g1", "s1")] == 10 and got[("g2", "s3")] == 7
    assert ("g3", "s3") in got and ("g3", "s1") not in got
    wide = pivot_wide(counts, "feature_id", "sample_id", "count", ["s1", "s2", "s3"])
    g2 = {r.feature_id: (r.s1, r.s2, r.s3) for r in wide.collect()}["g2"]
    assert g2 == (20, 200, 7)  # align-merge semantics in long form


def test_gene_load_sample_absent_from_counts_raises(spark, lake, catalog_df):
    """A catalog sample missing from the gene_sums header makes load() itself
    raise, so no counts frame with a silently dropped sample is returned."""
    extra = spark.createDataFrame([("r9", "s9", "st2", "P2", "human")], catalog_df.columns)
    proj = Project(
        spark,
        metadata=catalog_df.filter(F.col("project") == "P2").unionByName(extra),
        lake_dir=lake,
        dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )
    with pytest.raises(KeyError, match=r"P2.*s9"):
        proj.load(Dtype.GENE)


@pytest.fixture(scope="module")
def project_p1(spark, lake, catalog_df):
    """Single-project access — the reference's exon/junction test shape
    (SURVEY §5: exon tests are single-project)."""
    return Project(
        spark,
        metadata=catalog_df.filter(F.col("project") == "P1"),
        lake_dir=lake,
        dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )


def test_exon_split_composite_key(project_p1):
    _, exon = project_p1.load(Dtype.EXON)
    r = exon.filter(F.col("chrom") == "chr1").filter(F.col("sample_id") == "s1").collect()[0]
    assert (r.start, r.end, r.strand, r["count"]) == (11869, 12227, "+", 5)


def test_junctions_coo_and_coords(project_p1):
    coo, coords = project_p1.load(Dtype.JXN)
    vals = {(r.row_idx, r.col_idx): r.value for r in coo.collect()}
    assert vals == {(1, 1): 4.0, (2, 2): 5.0, (3, 1): 6.0}
    assert coords.count() == 3
    assert coords.select("project_id").distinct().collect()[0][0] == "P1"


def test_junction_width_mismatch_raises(spark, lake, catalog_df, project):
    bad = (  # truncate the ID list -> width check must fail loudly
        Project(
            spark,
            metadata=catalog_df.filter(F.col("project") == "P1"),
            lake_dir=lake,
            dbase="sra",
        )
    )
    import pathlib

    idf = pathlib.Path(lake) / "sra/junctions/P1/sra.junctions.P1.all.ID.csv"
    original = idf.read_text()
    idf.write_text("rail_id\n1\n")
    try:
        with pytest.raises(ValueError, match="width mismatch"):
            bad.load(Dtype.JXN)
    finally:
        idf.write_text(original)


def test_bigwig_manifest(project):
    mf = project.load(Dtype.BW)
    p1 = mf.filter(F.col("project_id") == "P1")
    assert p1.count() == 2  # one row per sample (test_accessor.py:313)
    assert all(r.url.startswith("file://") for r in p1.collect())


def test_scale_auc_end_to_end(project):
    """Q8 over the facade: sf = target/auc, broadcast join, round->long."""
    _, counts = project.load(Dtype.GENE)
    scaled = project.scale_auc(counts, target_size=4e7)
    got = {(r.feature_id, r.sample_id): r["count"] for r in scaled.collect()}
    # s1: 4e7/2e7 = 2.0 ; s2: 4e7/1e7 = 4.0 ; s3: 4.0
    assert got[("g1", "s1")] == 20 and got[("g1", "s2")] == 400
    assert got[("g2", "s3")] == 28
    # memoization (Q11): second call reuses the cached metadata plan
    assert project.load_metadata() is project.load_metadata()


def test_metadata_cache_lands_catalog_layout(spark, tmp_path):
    """Reference parity: Metadata.cache() fetches the catalog files into the
    {lake}/{dbase}/metadata/ layout the loaders read (accessor.py:300-313);
    a second run is a no-op ("cached")."""
    from pyrecount_spark.api import Metadata

    lake = str(tmp_path / "cache_lake")

    def fake_fetcher(url, dest):
        with open(dest, "w") as fh:
            fh.write(url)

    md = Metadata(spark, lake, organism="human", dbases=("sra", "gtex"))
    statuses = md.cache("https://example.org/release", fetcher=fake_fetcher)
    assert [s for _, _, s in statuses] == ["fetched", "fetched"]
    paths = sorted(p for _, p, _ in statuses)
    assert paths[0].endswith("cache_lake/gtex/metadata/gtex.recount_project.MD.gz")
    assert paths[1].endswith("cache_lake/sra/metadata/sra.recount_project.MD.gz")
    again = md.cache("https://example.org/release", fetcher=fake_fetcher)
    assert [s for _, _, s in again] == ["cached", "cached"]


def test_project_cache_lands_project_layout(spark, lake, catalog_df, tmp_path):
    """Project.cache(dtypes) mirrors accessor.py:76-87: per-project URL
    fan-out fetched into {lake}/{dbase}/{dtype}/{project}/."""
    from pyrecount_spark.api import Project
    from pyrecount_spark.sources.catalog import Dtype

    cache_lake = str(tmp_path / "proj_lake")
    proj = Project(
        spark,
        metadata=catalog_df.filter(F.col("project") == "P1"),
        lake_dir=cache_lake,
        dbase="sra",
    )

    def fake_fetcher(url, dest):
        with open(dest, "w") as fh:
            fh.write(url)

    statuses = proj.cache(
        "https://example.org/release", dtypes=(Dtype.METADATA,), fetcher=fake_fetcher
    )
    # sra metadata fan-out = 5 tags (dbase + 4 recount tags) for one project
    assert len(statuses) == 5
    assert all(s == "fetched" for _, _, s in statuses)
    assert all("/sra/metadata/P1/" in p for _, p, _ in statuses)


def test_project_cache_gene_roundtrip(spark, lake, catalog_df, tmp_path):
    """ADVICE fix: cache(GENE) must land the shared annotation GTF at the
    {lake}/{dbase}/{dtype}/ level that _load_counts globs — a fresh
    cache()+load() round-trip works, and the GTF is fetched ONCE across
    projects (deduped), not once per project."""
    from pyrecount_spark.api import Project
    from pyrecount_spark.sources.catalog import Dtype

    cache_lake = str(tmp_path / "gene_lake")
    proj = Project(
        spark,
        metadata=catalog_df.filter(F.col("project").isin(["P1", "P2"])),
        lake_dir=cache_lake,
        dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )

    counts_by_pid = {
        "P1": "gene_id\ts1\ts2\ng1\t10\t100\ng2\t20\t200\n",
        "P2": "gene_id\ts3\ng2\t7\ng3\t9\n",
    }

    def fake_fetcher(url, dest):
        import gzip as _gzip
        import os as _os

        name = _os.path.basename(url)
        if ".gtf" in name:
            body = (
                'chr1\tHAVANA\tgene\t1\t100\t.\t+\t.\tgene_id "g1"; gene_name "G_ONE";\n'
                'chr1\tHAVANA\tgene\t200\t300\t.\t-\t.\tgene_id "g2";\n'
            )
        else:
            pid = name.split(".")[2]
            body = counts_by_pid[pid]
        with _gzip.open(dest, "wt") as fh:
            fh.write(body)

    statuses = proj.cache(
        "https://example.org/release", dtypes=(Dtype.GENE,), fetcher=fake_fetcher
    )
    # 2 per-project counts files + ONE deduped shared GTF = 3 fetches
    assert len(statuses) == 3
    assert all(s == "fetched" for _, _, s in statuses)
    gtf_paths = [p for _, p, _ in statuses if ".gtf" in p]
    assert len(gtf_paths) == 1
    assert gtf_paths[0].endswith("gene_lake/sra/gene_sums/human.gene_sums.G029.gtf.gz")

    anno, counts = proj.load(Dtype.GENE)  # raised FileNotFoundError pre-fix
    assert anno.filter(F.col("gene_name") == "G_ONE").count() == 1
    got = {(r.feature_id, r.sample_id): r["count"] for r in counts.collect()}
    assert got[("g1", "s1")] == 10 and got[("g3", "s3")] == 9


@pytest.fixture
def lake_copy(lake, tmp_path):
    """A per-test copy of the fixture lake that a test may damage."""
    return Path(shutil.copytree(lake, tmp_path / "lake"))


def test_missing_tag_file_raises_naming_project(spark, lake_copy, catalog_df):
    """A project without one metadata tag file fails the load instead of
    returning that tag's columns as nulls."""
    (lake_copy / "sra/metadata/P2/sra.recount_seq_qc.P2.MD").unlink()
    proj = Project(spark, metadata=catalog_df, lake_dir=str(lake_copy), dbase="sra")
    with pytest.raises(FileNotFoundError, match=r"recount_seq_qc.*\['P2'\]"):
        proj.load(Dtype.METADATA)


def test_empty_tsv_raises_naming_file(spark, lake_copy, catalog_df):
    empty = lake_copy / "sra/metadata/P1/sra.recount_pred.P1.MD"
    empty.write_text("")
    proj = Project(spark, metadata=catalog_df, lake_dir=str(lake_copy), dbase="sra")
    with pytest.raises(ValueError, match=re.escape(str(empty))):
        proj.load(Dtype.METADATA)


def test_loads_start_no_spark_job(spark, lake, catalog_df):
    """Headers are read on the driver: once the project -> samples map is
    memoized, building the catalog, metadata and gene frames runs no job."""
    sc = spark.sparkContext
    proj = Project(
        spark, metadata=catalog_df, lake_dir=lake, dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )
    assert proj.samples_by_project  # the one driver collect, memoized
    loads = {
        "catalog": Metadata(spark, lake).load,
        "metadata": lambda: proj.load(Dtype.METADATA),
        "gene": lambda: proj.load(Dtype.GENE),
    }
    for name, load in loads.items():
        group = f"test-api-no-job-{name}"
        sc.setJobGroup(group, name)
        try:
            load()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are recorded
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
