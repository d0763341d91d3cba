"""Corpus-construction operator semantics: decontamination, repetition,
sequence packing, weighted mixing — tiny golden frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.operators.corpus import (
    ngram_decontaminate,
    pack_sequences,
    repetition_ratio,
    weighted_mix,
)


@pytest.fixture(scope="module")
def train(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # leaked into eval
            (2, "one two three four five six"),     # clean
            (3, "xy"),                              # too short for trigrams
        ],
        ["doc_id", "text"],
    )


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame(
        [(100, "alpha beta gamma delta zeta"), (101, "unrelated words entirely here")],
        ["doc_id", "text"],
    )


def test_decontaminate_flags_leaked_doc(spark, train, eval_docs):
    out = {
        r.doc_id: r
        for r in ngram_decontaminate(
            train, eval_docs, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    # doc 1: trigrams {abg, bgd, gde} vs eval's {abg, bgd, gdz} -> 2/3 shared
    assert out[1].n_shingles == 3 and out[1].n_shared == 2
    assert out[1].contamination_ratio == pytest.approx(0.6667)
    assert out[1].flagged
    # doc 2: zero overlap, still reported
    assert out[2].n_shared == 0 and out[2].contamination_ratio == 0.0
    assert not out[2].flagged
    # doc 3: no trigrams at all -> still reported, all-zero
    assert out[3].n_shingles == 0 and out[3].n_shared == 0
    assert out[3].contamination_ratio == 0.0 and not out[3].flagged


def test_repetition_ratio_no_shuffle(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # heavy 3-gram repetition
            (2, "a b c d e f g h i"),   # all distinct
            (3, "x"),                   # shorter than n
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_ratio(docs, "text", "doc_id", n=3).collect()}
    # doc 1: 7 trigrams, 3 distinct (abc, bca, cab) -> dup 1 - 3/7
    assert out[1].n_shingles == 7 and out[1].n_distinct_shingles == 3
    assert out[1].dup_fraction == pytest.approx(0.5714)
    assert not out[1].keep
    assert out[2].dup_fraction == 0.0 and out[2].keep
    assert out[3].n_shingles == 0 and out[3].dup_fraction == 0.0 and out[3].keep
    # quality gates must stay shuffle-free: no Exchange in the plan
    df = repetition_ratio(docs, "text", "doc_id", n=3)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_pack_sequences_placement(spark):
    # one shard, window 10: docs of 4, 8, 7, 10 tokens
    docs = spark.createDataFrame(
        [("s", 1, 4), ("s", 2, 8), ("s", 3, 7), ("s", 4, 10)],
        ["source", "doc_id", "n_tokens"],
    )
    out = {
        r.doc_id: r
        for r in pack_sequences(docs, "n_tokens", "doc_id", "source", window=10).collect()
    }
    # stream offsets: d1 [0,4) d2 [4,12) d3 [12,19) d4 [19,29)
    assert (out[1].start_window, out[1].start_offset, out[1].end_window) == (0, 0, 0)
    assert (out[2].start_window, out[2].start_offset, out[2].end_window) == (0, 4, 1)
    assert out[2].n_windows == 2  # straddles the first cut
    assert (out[3].start_window, out[3].start_offset, out[3].end_window) == (1, 2, 1)
    assert (out[4].start_window, out[4].start_offset, out[4].end_window) == (1, 9, 2)
    # shards pack independently: same ids in another shard, same placements
    two = docs.union(
        spark.createDataFrame(
            [("t", 1, 25)], ["source", "doc_id", "n_tokens"]
        )
    )
    got = {
        (r.source, r.doc_id): r.start_window
        for r in pack_sequences(two, "n_tokens", "doc_id", "source", window=10).collect()
    }
    assert got[("t", 1)] == 0 and got[("s", 4)] == 1


def test_weighted_mix_copies_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(200)], ["doc_id", "source"]
    )
    idx = F.expr("CAST(substring(source, 4) AS INT) % 4")
    wt = (
        F.when(idx == 0, 2.5).when(idx == 1, 1.0).when(idx == 2, 0.5).otherwise(1.5)
    )
    out = weighted_mix(docs, "doc_id", "source", wt)
    rows = out.collect()
    # integral weights are exact: every src1 doc exactly once
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert all(r.copies == 1 for r in by_src["src1"])
    assert len(by_src["src1"]) == 50
    # fractional weights: src0 docs get 2 or 3 copies, mean ~2.5
    c0 = {r.doc_id: r.copies for r in by_src["src0"]}
    assert set(c0.values()) <= {2, 3} and len(c0) == 50
    # src2 (w=0.5): only a subset survives, each once
    assert 0 < len({r.doc_id for r in by_src["src2"]}) < 50
    # copy_id enumerates 1..copies
    d0 = [r.copy_id for r in rows if r.source == "src0" and r.doc_id == 0]
    assert sorted(d0) == list(range(1, len(d0) + 1))
    # deterministic: a second run emits the identical multiset
    again = weighted_mix(docs, "doc_id", "source", wt).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bpe_regex_tokenization_semantics(spark):
    # GPT-2-style pretokenizer: letter runs, digit runs, punct runs, each
    # with an optional leading space; verified on text the synthetic corpus
    # doesn't exercise (punctuation, digits, mixed runs)
    from pyrecount_spark.plans.text import BPE_PATTERN
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hello world, it's 2024!"), (2, "abc123"), (3, "  padded  ")],
        ["doc_id", "text"],
    )
    toks = df.select(
        "doc_id",
        F.expr(f"regexp_extract_all(' ' || trim(text), '{BPE_PATTERN}', 0)").alias("t"),
    )
    got = {r.doc_id: r.t for r in toks.collect()}
    assert got[1] == [" hello", " world", ",", " it", "'", "s", " 2024", "!"]
    assert got[2] == [" abc", "123"]  # letter run then digit run split
    assert got[3] == [" padded"]      # trim kills padding


def test_write_training_shards_order_and_disjointness(spark, tmp_path):
    from pyrecount_spark.operators.corpus import weighted_mix
    from pyrecount_spark.sources.bucketing import write_range_sorted

    docs = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(400)], ["doc_id", "source"]
    )
    idx = F.expr("CAST(substring(source, 4) AS INT) % 4")
    wt = F.when(idx == 0, 2.5).when(idx == 1, 1.0).when(idx == 2, 0.5).otherwise(1.5)
    mixed = weighted_mix(docs, "doc_id", "source", wt)
    total = mixed.count()

    path = str(tmp_path / "shards")
    write_range_sorted(mixed, path, ["shuffle_key"], 4)

    import glob

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) == 4
    ranges, n_rows = [], 0
    for fp in files:
        rows = spark.read.parquet(fp).select("shuffle_key").collect()
        keys = [r.shuffle_key for r in rows]
        assert keys == sorted(keys)  # within-shard order is the sort key
        if keys:
            ranges.append((min(keys), max(keys)))
        n_rows += len(keys)
    assert n_rows == total  # nothing lost or duplicated
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # shards hold disjoint key ranges


def test_chunk_documents_overlap_and_tail(spark):
    from pyrecount_spark.operators.corpus import chunk_documents

    toks = [f"t{i}" for i in range(1, 58)]  # 57 tokens
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c"), (3, "")],
        ["doc_id", "text"],
    )
    out = {}
    for r in chunk_documents(docs, "text", "doc_id", size=32, overlap=8).collect():
        out.setdefault(r.doc_id, {})[r.chunk_id] = r
    # 57 tokens, size 32 stride 24 -> chunks at 1, 25, 49: 32, 32, 9 tokens
    assert sorted(out[1]) == [0, 1, 2]
    assert [out[1][k].chunk_tokens for k in (0, 1, 2)] == [32, 32, 9]
    assert out[1][0].chunk_text.startswith("t1 t2 ") and out[1][2].chunk_text == " ".join(toks[48:])
    # overlap: chunk 1 starts at token 25 (8-token overlap with chunk 0)
    assert out[1][1].chunk_text.split()[0] == "t25"
    # short doc -> exactly one (short) chunk
    assert list(out[2]) == [0] and out[2][0].chunk_tokens == 3
    # empty text: the engine-wide token convention is split('') = [''], so
    # an empty doc yields one chunk of one empty token (same in DuckDB)
    assert list(out[3]) == [0] and out[3][0].chunk_tokens == 1
    assert out[3][0].chunk_text == ""


def test_quantize_int8_bounds(spark):
    from pyrecount_spark.operators.similarity import quantize_int8_stats

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 127.0]), (2, [0.1, 0.1, 0.1, 0.1])],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in quantize_int8_stats(df).collect()}
    r = out[1]
    assert r.max_abs == 127.0
    # q = round(v / (127/127)) = [1, -2, 1, 127] (0.5 rounds away from zero)
    assert (r.q_sum, r.q_min, r.q_max) == (127, -2, 127)
    # uniform vector: every component quantizes to exactly 127
    assert (out[2].q_sum, out[2].q_min, out[2].q_max) == (508, 127, 127)
    assert out[2].max_dequant_err == 0.0
    # dequant error bounded by scale/2
    assert r.max_dequant_err <= 0.5 * r.max_abs / 127 + 1e-9
