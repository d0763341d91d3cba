"""The benchmark's workloads: inputs made from a seed, the operations of one
pass, and the correctness check of each operation's output.

A workload's ``run(spark, op)`` calls the program and returns the
operation's output. The driver forces it (``force``) in timed passes; in
the correctness pass it runs it with ``fetch`` and hands what that returns
to ``check``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import recount_mirror as rm

# Input sizes per shape; "tiny" is the smoke-test shape. recount_pipeline
# takes a mirror shape, registry_mix the gen_corpus.py arguments of its
# TPC-H tables ("tpch") and of its documents, embeddings and events
# ("corpus"), written into one lake.
SHAPES = {
    "recount_pipeline": {"default": rm.Shape(projects=2, samples=4, genes=1000),
                         "tiny": rm.Shape(projects=3, samples=4, genes=200, junctions=250)},
    "registry_mix": {
        "default": {"tpch": ["--flavor", "tpch_value", "--scale", "0.2"],
                    "corpus": ["--flavor", "adversarial", "--docs", "1000", "--embeddings", "400",
                               "--events", "10000", "--users", "500", "--vocab", "3000"]},
        "tiny": {"tpch": ["--flavor", "tpch_value", "--scale", "0.02"],
                 "corpus": ["--flavor", "adversarial", "--docs", "300", "--embeddings", "100",
                            "--events", "2000", "--users", "100", "--vocab", "1500"]},
    },
}


def force(out) -> None:
    """Run every batch DataFrame in an operation's output to completion."""
    from pyspark.sql import DataFrame

    for x in out if isinstance(out, tuple) else (out,):
        if isinstance(x, DataFrame):
            x.write.format("noop").mode("overwrite").save()


def _write_dims(base: str) -> None:
    """The fixed TPC-H dimension tables gen_corpus.py copies from --link-base."""
    os.makedirs(base, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(base, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(base, "nation.parquet"))


# ---------------------------------------------------------------------------
# registry workloads: plans.QUERIES[name](spark, dir), checked against the
# DuckDB oracles in plans.ORACLES
# ---------------------------------------------------------------------------
class RegistryWorkload:
    def __init__(self, name: str, ops: tuple[str, ...], tables: tuple[str, ...]):
        self.name = name
        self.ops = ops
        self._tables = tables  # the tables the operations read: the input size

    def prepare(self, root: str, work: str, seed: int, shape: str) -> dict:
        """TPC-H tables first, then the corpus tables next to links to them."""
        base = os.path.join(work, "dims")
        _write_dims(base)
        tpch = os.path.join(work, "tpch")
        self.dir = os.path.join(work, "lake")
        for out, args, link in ((tpch, "tpch", base), (self.dir, "corpus", tpch)):
            subprocess.run(
                [sys.executable, os.path.join(root, "scripts", "gen_corpus.py"), out,
                 *SHAPES[self.name][shape][args], "--seed", str(seed), "--link-base", link],
                check=True, stdout=subprocess.DEVNULL,
            )
        paths = [os.path.join(self.dir, f"{t}.parquet") for t in self._tables]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        size = sum(os.path.getsize(p) for p in paths)
        return {"input_rows": rows, "input_bytes": size}

    def layer_of(self, op: str) -> str:
        return "streaming" if op.startswith("streaming_") else "plans"

    def begin_pass(self, spark, pass_dir: str) -> None:
        pass

    def end_pass(self) -> int:
        return 0

    def run(self, spark, op: str):
        from pyrecount_spark import plans

        spark.catalog.clearCache()  # operators cache intra-query intermediates
        return plans.QUERIES[op](spark, self.dir)

    def fetch(self, out):
        return out.toPandas()

    def check(self, spark, op: str, got) -> list[str]:
        import duckdb

        from pyrecount_spark import plans

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.dir)):
                path = os.path.join(self.dir, f)
                if f.endswith(".parquet") and os.path.exists(path):
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            want = con.sql(plans.ORACLES[op]).df()
        finally:
            con.close()
        return compare_frames(got, want)


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
        elif str(s.dtype).startswith("datetime64"):
            df[c] = s.astype("datetime64[us]").astype(str)
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got, want) -> list[str]:
    """Order-insensitive exact comparison of two result frames."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    a, b = _normalize(got), _normalize(want)
    problems = []
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype("float64").to_numpy(), y.astype("float64").to_numpy()
            bad = int((~((x == y) | (np.isnan(x) & np.isnan(y)))).sum())
        else:
            bad = int((~((x == y) | (x.isna() & y.isna()))).sum())
        if bad:
            problems.append(f"column {c}: {bad} cells differ")
    return problems


# ---------------------------------------------------------------------------
# recount_pipeline: the api facade over a seeded release mirror
# ---------------------------------------------------------------------------
class RecountWorkload:
    name = "recount_pipeline"
    # Project.load of EXON and JXN is left out: with it a run did not fit the
    # run budget (see METRICS.md). project.cache still fetches their files.
    ops = ("metadata.cache", "metadata.load", "project.cache", "load.metadata", "load.gene",
           "load.bw", "scale.auc", "scale.mapped_reads", "ingest.land")

    def prepare(self, root: str, work: str, seed: int, shape: str) -> dict:
        self.mirror = os.path.join(work, "mirror")
        self.expect = rm.generate(self.mirror, seed, SHAPES[self.name][shape])
        self.fetcher = rm.make_fetcher(self.mirror)
        return {"input_rows": self.expect["input_rows"], "input_bytes": self.expect["bytes"]}

    def layer_of(self, op: str) -> str:
        return "api"

    def begin_pass(self, spark, pass_dir: str) -> None:
        """Every pass caches into a fresh lake, so fetches and landing really write."""
        self.lake = pass_dir
        self.state: dict = {}

    def end_pass(self) -> int:
        """Bytes the pass wrote (fetched copies plus landed Parquet); removes the lake."""
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(self.lake) for f in fs)
        shutil.rmtree(self.lake, ignore_errors=True)
        return written

    def run(self, spark, op: str):
        from pyspark.sql import functions as F

        from pyrecount_spark.api import Metadata, Project
        from pyrecount_spark.operators.relational import group_count, isin_filter, top_k
        from pyrecount_spark.sources.catalog import Annotation, Dtype
        from pyrecount_spark.sources.ingest import land_parquet

        st = self.state
        if op == "metadata.cache":
            st["md"] = Metadata(spark, self.lake)
            return st["md"].cache(rm.ROOT, fetcher=self.fetcher)
        if op == "metadata.load":
            # the reference's example flow: group-count, sort desc, filter to a key set
            catalog = st["md"].load()
            counts = group_count(catalog, ["project"], "len")
            top = top_k(counts, [F.desc("len"), F.asc("project")], 1).collect()
            st["catalog"] = catalog
            st["project"] = Project(
                spark, metadata=isin_filter(catalog, "project", self.expect["projects"]),
                lake_dir=self.lake, dbase=rm.DBASE, annotation=Annotation.GENCODE_V29)
            return top
        if op == "project.cache":
            return st["project"].cache(rm.ROOT, dtypes=tuple(Dtype), fetcher=self.fetcher)
        if op.startswith("load."):
            dtype = {"metadata": Dtype.METADATA, "gene": Dtype.GENE, "bw": Dtype.BW}[op[5:]]
            st[op] = st["project"].load(dtype)
            return st[op]
        counts = st["load.gene"][1]
        if op == "scale.auc":
            st[op] = st["project"].scale_auc(counts, target_size=rm.AUC_TARGET)
            return st[op]
        if op == "scale.mapped_reads":
            return st["project"].scale_mapped_reads(
                counts, target_size=rm.MAPPED_TARGET, read_length=rm.READ_LENGTH)
        if op == "ingest.land":
            land_parquet(st["scale.auc"], os.path.join(self.lake, "parquet", "gene_sums_scaled"))
            return None
        raise KeyError(op)

    def fetch(self, out):
        """Checkpointed outputs, so the checks' jobs do not read the sources again."""
        from pyspark.sql import DataFrame

        def run(x):
            return x.localCheckpoint(eager=True) if isinstance(x, DataFrame) else x

        return tuple(map(run, out)) if isinstance(out, tuple) else run(out)

    def check(self, spark, op: str, out) -> list[str]:
        from pyspark.sql import functions as F

        ex, st = self.expect, self.state
        bad: list[str] = []

        def want(label, got, expected):
            if got != expected:
                bad.append(f"{label}: {got!r} != {expected!r}")

        if op == "metadata.cache":
            want("statuses", [s for _, _, s in out], ["fetched"])
        elif op == "metadata.load":
            want("top project", [out[0]["project"], out[0]["len"]], ex["top_project"])
            want("catalog rows", st["catalog"].count(), ex["n_samples"])
        elif op == "project.cache":
            want("fetched files", sorted({s for _, _, s in out}), ["fetched"])
            want("file count", len(out), ex["files"] - 1)
        elif op == "load.metadata":
            want("rows", out.count(), ex["n_samples"])
            want("columns", sorted(out.columns), ex["metadata_columns"])
        elif op in ("load.gene", "scale.auc"):
            counts = out[1] if op == "load.gene" else out
            sums = {r[0]: r[1] for r in counts.groupBy("sample_id").agg(F.sum("count")).collect()}
            want("per-sample sums", sums, ex["gene_sum" if op == "load.gene" else "auc_sum"])
            if op == "load.gene":
                want("rows", counts.count(), ex["gene_rows"])
                want("annotated genes", out[0].filter(F.col("gene_name").isNotNull()).count(),
                     ex["gene_rows"] // ex["n_samples"])
        elif op == "load.bw":
            want("manifest rows", out.count(), ex["n_samples"])
        elif op == "scale.mapped_reads":
            got = out.agg(F.sum("count")).collect()[0][0]
            if abs(got - ex["mapped_sum"]) > 1e-9 * abs(ex["mapped_sum"]):
                bad.append(f"mapped-reads sum {got!r} != {ex['mapped_sum']!r}")
        elif op == "ingest.land":
            landed = spark.read.parquet(os.path.join(self.lake, "parquet", "gene_sums_scaled"))
            r = landed.agg(F.count("*"), F.sum("count")).collect()[0]
            want("landed rows/sum", list(r), [ex["gene_rows"], sum(ex["auc_sum"].values())])
        return bad


# Each workload stresses different layers (see METRICS.md).
WORKLOADS = {
    "recount_pipeline": RecountWorkload,
    "registry_mix": lambda: RegistryWorkload(
        "registry_mix",
        ("multi_join_composite_key",  # TPC-H joins (plans, relational)
         "text_fingerprint",  # text
         "dedup_minhash_lsh",  # dedup candidates
         "knn_brute_force_cosine",  # similarity
         "sequence_pack_512",  # corpus
         "window_tumbling_hourly", "streaming_tumbling_events"),  # windows, streaming
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "documents", "embeddings", "events")),
}
