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


def _gz(path: Path, text: str) -> None:
    """Write ``text`` gzipped: lake files carry the names and compression the
    catalog locator gives them, the paths ``cache`` writes."""
    path.write_bytes(gzip.compress(text.encode()))


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
    # another data source's catalog, which Metadata(dbases=("sra",)) never reads
    gtex_meta = root / "gtex" / "metadata"
    gtex_meta.mkdir(parents=True)
    _gz(gtex_meta / "gtex.recount_project.MD.gz", _tsv(
        "rail_id\texternal_id\tstudy\tproject\torganism",
        "r9\ts9\tst9\tGTEX1\tHomo sapiens",
    ))

    # per-project metadata tags (P1 only needs full tags for scaling test)
    for pid, samples in [("P1", ["s1", "s2"]), ("P2", ["s3"])]:
        pdir = meta / pid
        pdir.mkdir()
        key_rows = [f"r{s[1:]}\t{s}\tst{1 if pid == 'P1' else 2}" for s in samples]
        _gz(pdir / f"sra.sra.{pid}.MD.gz",
            _tsv("rail_id\texternal_id\tstudy", *key_rows)
        )
        _gz(pdir / f"sra.recount_project.{pid}.MD.gz",
            _tsv("rail_id\texternal_id\tstudy\tproject",
                 *[f"{r}\t{pid}" for r in key_rows])
        )
        qc_rows = {
            "s1": "1000000\t200.0\t100.0\t20000000",
            "s2": "2000000\t100.0\t100.0\t10000000",
            "s3": "1000000\t100.0\t100.0\t10000000",
        }
        _gz(pdir / f"sra.recount_qc.{pid}.MD.gz",
            _tsv(
                "rail_id\texternal_id\tstudy\tstar.all_mapped_reads\t"
                "star.average_mapped_length\tavg_len\tbc_auc.all_reads_all_bases",
                *[f"{r}\t{qc_rows[s]}" for r, s in zip(key_rows, samples)],
            )
        )
        _gz(pdir / f"sra.recount_seq_qc.{pid}.MD.gz",
            _tsv("rail_id\texternal_id\tstudy\tseq_stat", *[f"{r}\tok" for r in key_rows])
        )
        _gz(pdir / f"sra.recount_pred.{pid}.MD.gz",
            _tsv("rail_id\texternal_id\tstudy\tpred", *[f"{r}\tx" for r in key_rows])
        )

    # gene: shared GTF + per-project wide counts (overlapping gene sets, J2)
    gene = sra / "gene_sums"
    gene.mkdir()
    _gz(gene / "human.gene_sums.G029.gtf.gz",
        "#!genome\n"
        'chr1\tHAVANA\tgene\t1\t100\t.\t+\t.\tgene_id "g1"; gene_name "G_ONE";\n'
        'chr1\tHAVANA\tgene\t200\t300\t.\t-\t.\tgene_id "g2";\n'
    )
    g1 = gene / "P1"
    g1.mkdir()
    _gz(g1 / "sra.gene_sums.P1.G029.gz",
        _tsv("#comment", "gene_id\ts1\ts2", "g1\t10\t100", "g2\t20\t200")
    )
    # the temp file of a killed fetch (ingest writes {name}.part.XXXX next to
    # the file): no load may read it
    (g1 / "sra.gene_sums.P1.G029.gz.part.k3x9").write_text(
        _tsv("gene_id\ts1\ts2", "g1\t10\t100")
    )
    g2 = gene / "P2"
    g2.mkdir()
    _gz(g2 / "sra.gene_sums.P2.G029.gz",
        _tsv("#comment", "gene_id\ts3", "g2\t7", "g3\t9")
    )

    # exon: composite-key counts for P1
    exon = sra / "exon_sums"
    exon.mkdir()
    _gz(exon / "human.exon_sums.G029.gtf.gz",
        'chr1\tHAVANA\texon\t1\t50\t.\t+\t.\tgene_id "g1"; exon_id "e1";\n'
    )
    e1 = exon / "P1"
    e1.mkdir()
    _gz(e1 / "sra.exon_sums.P1.G029.gz",
        _tsv("exon_key\ts1\ts2", "chr1|11869|12227|+\t5\t6", "chr2|100|200|-\t0\t3")
    )

    # junctions triplet for P1 (2 samples -> MM width 2)
    jxn = sra / "junctions" / "P1"
    jxn.mkdir(parents=True)
    _gz(jxn / "sra.junctions.P1.ALL.ID.gz", "rail_id\n1\n2\n")
    _gz(
        jxn / "sra.junctions.P1.ALL.MM.gz",
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
    _gz(jxn / "sra.junctions.P1.ALL.RR.gz",
        _tsv("chromosome\tstart\tend", "chr1\t10\t20", "chr1\t30\t40", "chr2\t5\t9")
    )

    # bigwig payload files
    bw = sra / "base_sums" / "P1"
    bw.mkdir(parents=True)
    (bw / "sra.base_sums.P1_s1.ALL.bw").write_bytes(b"bw1")
    (bw / "sra.base_sums.P1_s2.ALL.bw").write_bytes(b"bw2")
    (bw / "sra.base_sums.P1_s1.ALL.bw.part.k3x9").write_bytes(b"bw")  # a killed fetch's temp file
    bw2 = sra / "base_sums" / "P2"
    bw2.mkdir(parents=True)
    (bw2 / "sra.base_sums.P2_s3.ALL.bw").write_bytes(b"bw3")

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
    assert len(rows) == 3  # dup removed, the lake's gtex catalog not read
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


def test_gene_load_long_and_wide_view(spark, lake, project, tmp_path):
    """Also from a copy of the lake under a folder whose name a file URI
    escapes (space, ``#``) or keeps (``=``, ``+``, ``@``): counts rows are
    matched to their files by folder and name, read from the file URI, and a
    key that missed would drop every row without an error. Then s2 alone: a file's unpicked samples stay out."""
    moved = shutil.copytree(lake, tmp_path / "lake dir#1=a+b@c")
    elsewhere = Project(
        spark, metadata=project.metadata, lake_dir=str(moved), dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )
    for proj in (project, elsewhere):
        anno, counts = proj.load(Dtype.GENE)
        assert anno.filter(F.col("gene_name") == "G_ONE").count() == 1
        assert counts.schema["count"].dataType == LongType()  # string-first, cast after melt
        got = {(r.feature_id, r.sample_id): r["count"] for r in counts.collect()}
        assert len(got) == 6
        assert got[("g1", "s1")] == 10 and got[("g2", "s3")] == 7
        assert ("g3", "s3") in got and ("g3", "s1") not in got
        sums = {r[0]: r[1] for r in counts.groupBy("sample_id").agg(F.sum("count")).collect()}
        assert sums == {"s1": 30, "s2": 300, "s3": 16}  # P1's .part. leftover unread
        wide = pivot_wide(counts, "feature_id", "sample_id", "count", ["s1", "s2", "s3"])
        g2 = {r.feature_id: (r.s1, r.s2, r.s3) for r in wide.collect()}["g2"]
        assert g2 == (20, 200, 7)  # align-merge semantics in long form
    only_s2 = Project(
        spark, metadata=project.metadata.filter(F.col("external_id") == "s2"), lake_dir=lake,
        dbase="sra", annotation=Annotation.GENCODE_V29,
    )
    got = {(r.feature_id, r.sample_id): r["count"] for r in only_s2.load(Dtype.GENE)[1].collect()}
    assert got == {("g1", "s2"): 100, ("g2", "s2"): 200}


def test_gene_load_sample_absent_from_counts_raises(spark, lake, catalog_df):
    """A catalog sample missing from its project's gene_sums header makes
    load() itself raise, so no counts frame with a silently dropped sample
    is returned. Two inputs: a sample absent from every header, and s1
    repeated under a conflicting project whose header lacks it."""
    cases = [
        (["P2"], ("r9", "s9", "st2", "P2", "human"), r"P2.*s9"),
        (["P1", "P2"], ("r1", "s1", "st1", "P2", "human"), r"P2.*\['s1'\]"),
    ]
    for projects, extra_row, match in cases:
        extra = spark.createDataFrame([extra_row], catalog_df.columns)
        proj = Project(
            spark,
            metadata=catalog_df.filter(F.col("project").isin(projects)).unionByName(extra),
            lake_dir=lake,
            dbase="sra",
            annotation=Annotation.GENCODE_V29,
        )
        with pytest.raises(KeyError, match=match):
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

    idf = pathlib.Path(lake) / "sra/junctions/P1/sra.junctions.P1.ALL.ID.gz"
    original = idf.read_bytes()
    _gz(idf, "rail_id\n1\n")
    try:
        with pytest.raises(ValueError, match="width mismatch"):
            bad.load(Dtype.JXN)
    finally:
        idf.write_bytes(original)


def test_bigwig_manifest(spark, lake, project):
    """One row per selected sample: not the .part. leftover next to P1's
    files, and for a one-sample selection only that sample's file."""
    mf = project.load(Dtype.BW)
    p1 = mf.filter(F.col("project_id") == "P1")
    assert p1.count() == 2  # one row per sample (test_accessor.py:313)
    assert all(r.url.startswith("file://") for r in p1.collect())
    only_s1 = Project(
        spark, metadata=project.metadata.filter(F.col("external_id") == "s1"), lake_dir=lake,
        dbase="sra",
    )
    assert [r.path for r in only_s1.load(Dtype.BW).collect()] == [
        f"{lake}/sra/base_sums/P1/sra.base_sums.P1_s1.ALL.bw"
    ]


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


def test_project_cache_clears_a_killed_fetchs_temp_file(spark, catalog_df, tmp_path):
    """A worker killed mid-fetch leaves its {name}.part.XXXX temp file; the
    next cache of that file removes it, and only its own."""
    gene = tmp_path / "killed_lake" / "sra" / "gene_sums"
    (gene / "P1").mkdir(parents=True)
    leftover = gene / "P1" / "sra.gene_sums.P1.G029.gz.part.abc"
    leftover.write_text("gene_id\ts1\n")
    other = gene / "human.gene_sums.G026.gtf.gz.part.xyz"  # another file's temp
    other.write_text("")
    proj = Project(
        spark,
        metadata=catalog_df.filter(F.col("project") == "P1"),
        lake_dir=str(tmp_path / "killed_lake"),
        dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )

    def fake_fetcher(url, dest):
        with open(dest, "w") as fh:
            fh.write(url)

    statuses = proj.cache(
        "https://example.org/release", dtypes=(Dtype.GENE,), fetcher=fake_fetcher
    )
    assert {s for _, _, s in statuses} == {"fetched"}
    assert not leftover.exists()
    assert other.exists()
    assert sorted(p.name for p in (gene / "P1").iterdir()) == ["sra.gene_sums.P1.G029.gz"]


def test_cache_starts_no_spark_job(spark, catalog_df, tmp_path, job_group):
    """Metadata.cache starts no Spark job, and Project.cache of every dtype
    none once its project -> samples map is memoized: the fetch runs on
    driver threads."""
    root = "https://example.org/release"

    def fake_fetcher(url, dest):
        with open(dest, "w") as fh:
            fh.write(url)

    md = Metadata(spark, str(tmp_path / "md_lake"), dbases=("sra", "gtex"))
    statuses, jobs, tasks = job_group(
        "test-api-metadata-cache", lambda: md.cache(root, fetcher=fake_fetcher)
    )
    assert [s for _, _, s in statuses] == ["fetched"] * 2
    assert (jobs, tasks) == ([], 0)

    proj = Project(spark, metadata=catalog_df, lake_dir=str(tmp_path / "proj_lake"),
                   dbase="sra", annotation=Annotation.GENCODE_V29)
    assert proj.samples_by_project == {"P1": ["s1", "s2"], "P2": ["s3"]}
    statuses, jobs, tasks = job_group(
        "test-api-project-cache",
        lambda: proj.cache(root, dtypes=tuple(Dtype), fetcher=fake_fetcher),
    )
    assert statuses and {s for _, _, s in statuses} == {"fetched"}
    assert (jobs, tasks) == ([], 0)


@pytest.fixture
def lake_copy(lake, tmp_path):
    """A per-test copy of the fixture lake that a test may damage."""
    return Path(shutil.copytree(lake, tmp_path / "lake"))


def test_loads_pick_the_requested_annotation_and_junction_format(spark, lake_copy, catalog_df):
    """With a second annotation's GTF and a UNIQUE junction triplet in the
    lake, each load reads the files of its own annotation and jxn_format,
    not whichever sorts first."""
    _gz(lake_copy / "sra/gene_sums/human.gene_sums.G026.gtf.gz",
        'chr1\tHAVANA\tgene\t1\t100\t.\t+\t.\tgene_id "g26";\n'
    )
    jxn = lake_copy / "sra/junctions/P1"
    _gz(jxn / "sra.junctions.P1.UNIQUE.ID.gz", "rail_id\n1\n2\n")
    _gz(jxn / "sra.junctions.P1.UNIQUE.MM.gz",
        "%%MatrixMarket matrix coordinate integer general\n1 2 1\n1 2 8\n"
    )
    _gz(jxn / "sra.junctions.P1.UNIQUE.RR.gz",
        _tsv("chromosome\tstart\tend", "chr3\t1\t2")
    )

    def project(**kw):
        return Project(
            spark, metadata=catalog_df.filter(F.col("project") == "P1"),
            lake_dir=str(lake_copy), dbase="sra", **kw,
        )

    anno, _ = project(annotation=Annotation.GENCODE_V29).load(Dtype.GENE)
    assert {r.gene_id for r in anno.collect()} == {"g1", "g2"}
    with pytest.raises(FileNotFoundError, match="F006"):
        project(annotation=Annotation.FANTOM6).load(Dtype.GENE)
    for fmt, want in [("all", {(1, 1): 4.0, (2, 2): 5.0, (3, 1): 6.0}),
                      ("unique", {(1, 2): 8.0})]:
        coo, _ = project(jxn_format=fmt).load(Dtype.JXN)
        assert {(r.row_idx, r.col_idx): r.value for r in coo.collect()} == want, fmt


def test_loads_scan_each_file_kind_once_whatever_the_project_count(
    spark, lake_copy, job_group
):
    """With P2 given a junction triplet and cloned to P3..P8 (renamed
    samples), the counts, junction COO and junction coords frames each plan
    one CSV scan at 2 and at 8 projects, and a counts action runs as many
    jobs at 8 projects as at 2."""
    jxn = lake_copy / "sra/junctions/P2"
    jxn.mkdir()
    _gz(jxn / "sra.junctions.P2.ALL.ID.gz", "rail_id\n3\n")
    _gz(jxn / "sra.junctions.P2.ALL.MM.gz",
        "%%MatrixMarket matrix coordinate integer general\n2 1 2\n1 1 7\n2 1 9\n"
    )
    _gz(jxn / "sra.junctions.P2.ALL.RR.gz",
        _tsv("chromosome\tstart\tend", "chr1\t10\t20", "chr2\t5\t9")
    )
    for k in range(3, 9):
        for dtype in ("gene_sums", "junctions"):
            clone = lake_copy / f"sra/{dtype}/P{k}"
            clone.mkdir()
            for f in (lake_copy / f"sra/{dtype}/P2").iterdir():
                text = gzip.decompress(f.read_bytes()).decode().replace("\ts3\n", f"\ts3_{k}\n")
                _gz(clone / f.name.replace(".P2.", f".P{k}."), text)

    def scans(df):
        return df._jdf.queryExecution().executedPlan().toString().count("FileScan csv")

    jobs = {}
    for n in (2, 8):
        samples = [("P1", "s1"), ("P1", "s2"), ("P2", "s3")]
        samples += [(f"P{k}", f"s3_{k}") for k in range(3, n + 1)]
        proj = Project(
            spark, metadata=spark.createDataFrame(samples, ["project", "external_id"]),
            lake_dir=str(lake_copy), dbase="sra", annotation=Annotation.GENCODE_V29,
        )
        _, counts = proj.load(Dtype.GENE)
        coo, coords = proj.load(Dtype.JXN)
        assert [scans(counts), scans(coo), scans(coords)] == [1, 1, 1], n
        assert coords.select("project_id").distinct().count() == n
        rows, jobs[n], _ = job_group(f"test-api-scans-{n}", counts.collect)
        assert len(rows) == 4 + 2 * (n - 1)
    assert len(jobs[2]) == len(jobs[8])


def test_missing_tag_file_raises_naming_project(spark, lake_copy, catalog_df):
    """A project without one metadata tag file fails the load instead of
    returning that tag's columns as nulls."""
    (lake_copy / "sra/metadata/P2/sra.recount_seq_qc.P2.MD.gz").unlink()
    proj = Project(spark, metadata=catalog_df, lake_dir=str(lake_copy), dbase="sra")
    with pytest.raises(FileNotFoundError, match=r"recount_seq_qc.*\['P2'\]"):
        proj.load(Dtype.METADATA)


def test_empty_tsv_raises_naming_file(spark, lake_copy, catalog_df):
    empty = lake_copy / "sra/metadata/P1/sra.recount_pred.P1.MD.gz"
    empty.write_text("")
    proj = Project(spark, metadata=catalog_df, lake_dir=str(lake_copy), dbase="sra")
    with pytest.raises(ValueError, match=re.escape(str(empty))):
        proj.load(Dtype.METADATA)


def test_truncated_gzip_fails_first_action_naming_file(spark, lake_copy, catalog_df):
    """A gene_sums .gz cut in half: load() returns (its header is read on the
    driver from the intact start), then the first action fails with Spark's
    FAILED_READ_FILE naming the file, so no partial rows come back."""
    cut = lake_copy / "sra/gene_sums/P1/sra.gene_sums.P1.G029.gz"
    body = _tsv("gene_id\ts1\ts2", *[f"g{i}\t{i}\t{2 * i}" for i in range(5000)])
    data = gzip.compress(body.encode())
    cut.write_bytes(data[: len(data) // 2])
    proj = Project(
        spark, metadata=catalog_df.filter(F.col("project") == "P1"),
        lake_dir=str(lake_copy), dbase="sra", annotation=Annotation.GENCODE_V29,
    )
    _, counts = proj.load(Dtype.GENE)
    with pytest.raises(Exception, match=r"FAILED_READ_FILE[\s\S]*" + re.escape(cut.name)):
        counts.collect()


def test_loads_start_no_spark_job(spark, lake, catalog_df, job_group):
    """Headers, MM dims and ID-list lengths are read on the driver and the
    bigwig manifest is a local relation: once the project -> samples map is
    memoized, building the catalog, metadata, gene, junction and bigwig
    frames runs no job."""
    proj = Project(
        spark, metadata=catalog_df, lake_dir=lake, dbase="sra",
        annotation=Annotation.GENCODE_V29,
    )
    p1 = Project(spark, metadata=catalog_df.filter(F.col("project") == "P1"),
                 lake_dir=lake, dbase="sra")
    assert proj.samples_by_project and p1.samples_by_project  # memoized collects
    loads = {
        "catalog": Metadata(spark, lake).load,
        "metadata": lambda: proj.load(Dtype.METADATA),
        "gene": lambda: proj.load(Dtype.GENE),
        "junctions": lambda: p1.load(Dtype.JXN),
        "bigwig": lambda: proj.load(Dtype.BW),
    }
    for name, load in loads.items():
        _, jobs, _ = job_group(f"test-api-no-job-{name}", load)
        assert jobs == [], name


def test_bigwig_manifest_is_local_relation(project):
    """The manifest is built from Arrow: Spark plans a JVM LocalRelation,
    not an RDD scan that needs Python worker tasks."""
    plan = project.load(Dtype.BW)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"


def test_bigwig_missing_dir_raises_naming_project(spark, lake_copy, catalog_df):
    """A project without bigwig files fails the load instead of silently
    contributing no rows; with none anywhere it names every project."""
    shutil.rmtree(lake_copy / "sra/base_sums/P2")
    proj = Project(spark, metadata=catalog_df, lake_dir=str(lake_copy), dbase="sra")
    with pytest.raises(FileNotFoundError, match=r"base_sums.*\['P2'\]"):
        proj.load(Dtype.BW)
    shutil.rmtree(lake_copy / "sra/base_sums")
    with pytest.raises(FileNotFoundError, match=r"base_sums.*\['P1', 'P2'\]"):
        proj.load(Dtype.BW)


def test_project_cache_raises_on_failed_fetch_then_resumes(spark, catalog_df, tmp_path, fetch_sleeps):
    """Project.cache runs the whole manifest, then raises FetchError naming
    the failed URL; the files that did fetch stay, so a rerun reports them
    "cached" and fetches only the one that failed."""
    from pyrecount_spark.sources.ingest import FetchError

    proj = Project(
        spark,
        metadata=catalog_df.filter(F.col("project") == "P1"),
        lake_dir=str(tmp_path / "flaky_lake"),
        dbase="sra",
    )
    outage = tmp_path / "outage"  # the fetcher fails on recount_qc while this exists
    outage.touch()

    def flaky(url, dest):
        import os as _os

        if "recount_qc" in url and _os.path.exists(str(outage)):
            raise OSError("503 service unavailable")
        with open(dest, "w") as fh:
            fh.write(url)

    with pytest.raises(FetchError) as err:
        proj.cache("https://example.org/release", fetcher=flaky)
    assert isinstance(err.value, OSError)
    [(failed_url, status)] = err.value.errors.items()
    assert "recount_qc" in failed_url and status.startswith("error") and "503" in status
    assert failed_url in str(err.value)

    outage.unlink()
    statuses = {u: s for u, _, s in proj.cache("https://example.org/release", fetcher=flaky)}
    assert len(statuses) == 5
    assert statuses.pop(failed_url) == "fetched"
    assert set(statuses.values()) == {"cached"}
