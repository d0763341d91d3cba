"""Scale-pattern verifications: AQE skew-join splitting and the
range-sorted file layout. Synthetic skew/layout data built in-test —
these check the *mechanisms* the 100 TB design relies on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyrecount_spark.sources.bucketing import write_range_sorted


class _conf:
    def __init__(self, spark, **kv):
        self.spark = spark
        self.kv = {k.replace("__", "."): v for k, v in kv.items()}

    def __enter__(self):
        self.old = {k: self.spark.conf.get(k, None) for k in self.kv}
        for k, v in self.kv.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    # one hot key (0) carrying 200k rows vs 200 cold keys
    fact = spark.range(0, 220_000).select(
        F.when(F.col("id") < 200_000, 0).otherwise(F.col("id") % 200).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 200).select(F.col("id").alias("k"), F.lit("d").alias("tag"))
    with _conf(
        spark,
        **{
            "spark__sql__autoBroadcastJoinThreshold": "-1",
            "spark__sql__adaptive__skewJoin__enabled": "true",
            "spark__sql__adaptive__skewJoin__skewedPartitionFactor": "1.2",
            "spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes": "64KB",
            "spark__sql__adaptive__advisoryPartitionSizeInBytes": "64KB",
        },
    ):
        joined = fact.join(dim, on="k")
        # materialize THIS plan (count() would build a separate one), then
        # read back the finalized adaptive plan
        assert len(joined.collect()) == 220_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan


def test_range_sorted_layout_files_disjoint(spark, tmp_path):
    path = str(tmp_path / "range_lake")
    df = spark.range(0, 100_000).select(
        (F.col("id") * 37 % 100_000).alias("key"), F.col("id").alias("v")
    )
    write_range_sorted(df, path, ["key"], num_partitions=8)
    back = spark.read.parquet(path)
    assert back.count() == 100_000
    # per-file key ranges must be pairwise disjoint
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert len(spans) >= 2
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next
    # and a range filter must prune files at read time
    pruned = back.filter((F.col("key") >= 10) & (F.col("key") < 1000))
    n_files_touched = pruned.select(F.input_file_name()).distinct().count()
    assert n_files_touched < len(spans)


def test_zorder_key_locality_and_pruning(spark, tmp_path):
    from pyrecount_spark.sources.bucketing import write_range_sorted, zorder_key

    path = str(tmp_path / "z_lake")
    df = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    z = df.withColumn("z", zorder_key(F.col("x"), F.col("y"), bits=8))
    write_range_sorted(z, path, ["z"], num_partitions=16)
    back = spark.read.parquet(path)
    n_files = back.select(F.input_file_name()).distinct().count()
    # a 16x16 box in (x, y) must not touch every file: z-locality means the
    # box's z-range intersects only a few range-partitioned files
    box = back.filter((F.col("x") < 16) & (F.col("y") < 16))
    touched = box.select(F.input_file_name()).distinct().count()
    assert box.count() == 256
    assert touched < n_files / 2, (touched, n_files)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_round2_operator_plan_shapes(spark):
    """Enforced plan properties for the round-2 corpus/clustering/matrix
    operators — the scale arguments in their docstrings, as assertions."""
    import re

    from pyrecount_spark.operators.corpus import (
        chunk_documents,
        ngram_decontaminate,
        pack_sequences,
        weighted_mix,
    )
    from pyrecount_spark.operators.similarity import quantize_int8_stats

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 40, f"src{i % 3}") for i in range(30)],
        ["doc_id", "text", "source"],
    )

    # quality/chunk/mix passes: pure narrow maps — ZERO shuffles
    for df in (
        chunk_documents(docs, "text", "doc_id"),
        weighted_mix(docs, "doc_id", "source", F.lit(1.5)),
        quantize_int8_stats(
            spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
        ),
    ):
        assert _exchanges(_plan(df)) == 0, _plan(df)

    # sequence packing: exactly ONE exchange, and it is a HASH partitioning
    # on the shard column — never a global range sort
    counted = docs.withColumn("n_tokens", F.lit(40))
    packed = pack_sequences(counted, "n_tokens", "doc_id", "source")
    plan = _plan(packed)
    assert _exchanges(plan) == 1, plan
    assert "hashpartitioning(source" in plan and "rangepartitioning" not in plan, plan

    # decontamination: the eval shingle set reaches the train side as a
    # BROADCAST (train shingles never shuffle for the membership probe)
    eval_docs = spark.createDataFrame([(100, "w1 w2 w3 w4")], ["doc_id", "text"])
    decon = ngram_decontaminate(docs, eval_docs, "text", "doc_id")
    dplan = _plan(decon)
    assert "BroadcastHashJoin" in dplan, dplan

    # SpGEMM: equi-join only — a nested-loop/cartesian product here would
    # be the densify-by-accident failure mode
    from pyrecount_spark.operators.matrix import coo_matmul

    a = spark.createDataFrame([(0, 0, 1.0)], ["row_idx", "col_idx", "value"])
    gplan = _plan(coo_matmul(a, a))
    assert "CartesianProduct" not in gplan and "BroadcastNestedLoopJoin" not in gplan


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Runtime bloom-filter injection: a selective filter on the build side
    of a shuffle join should inject BloomFilterMightContain on the probe
    side — at 100 TB this is what keeps a fact scan from shuffling rows the
    dim filter would discard anyway. Thresholds lowered to fire on test-
    sized parquet."""
    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 300_000).select(
        (F.col("id") % 10_000).alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(fact_p)
    spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("tag")
    ).write.mode("overwrite").parquet(dim_p)
    with _conf(
        spark,
        **{
            "spark__sql__autoBroadcastJoinThreshold": "-1",
            "spark__sql__optimizer__runtime__bloomFilter__enabled": "true",
            "spark__sql__optimizer__runtime__bloomFilter__creationSideThreshold": "10MB",
            "spark__sql__optimizer__runtime__bloomFilter__applicationSideScanSizeThreshold": "1KB",
        },
    ):
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("tag") == 3)
        joined = fact.join(dim, "k")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "bloom" in plan.lower() or "might_contain" in plan.lower(), plan
        # and the result is still correct
        assert joined.count() == fact.filter((F.col("k") % 97) == 3).count()


def test_round5_similarity_join_plan_shapes(spark):
    """Enforced plan properties for the round-5 similarity-join rewrites —
    the physics the speedups depend on, as assertions."""
    import re

    from pyrecount_spark.operators.dedup import (
        prefix_filtered_jaccard,
        semantic_dedup,
    )

    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta " * 3) + f"tail{i % 4}") for i in range(12)],
        ["doc_id", "text"],
    )
    pplan = _plan(prefix_filtered_jaccard(docs, "text", "doc_id"))
    # verification attaches per-doc set rows via BROADCAST hash joins and
    # intersects natively — never a nested-loop / cartesian, and never a
    # re-explosion of candidates by full shingle sets. The intersect is
    # either the long-array hash intersect (general corpora) or the
    # round-15 bitset AND+bit_count fold (measured small-vocab gate).
    assert "CartesianProduct" not in pplan and "BroadcastNestedLoopJoin" not in pplan
    assert "array_intersect" in pplan or "bit_count" in pplan, pplan
    assert pplan.count("BroadcastHashJoin") >= 2, pplan

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, float(i % 2)]) for i in range(16)],
        ["vec_id", "embedding"],
    )
    splan = _plan(semantic_dedup(emb, k=2, iters=1, dim=4))
    assert "CartesianProduct" not in splan and "BroadcastNestedLoopJoin" not in splan
    # the pairwise dot product must be SCORED IN A PROJECTION, never folded
    # into a join condition (where it evaluates interpreted per candidate):
    # no Join node's line may reference the vector payload columns
    for line in splan.splitlines():
        if re.search(r"\b(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\b", line):
            assert "_va" not in line and "_vb" not in line, line
