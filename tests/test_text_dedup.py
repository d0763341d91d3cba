"""Text analysis + dedup operator semantics on tiny golden frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrecount_spark.operators.dedup import (
    exact_dedup_keys,
    jaccard_pairs,
    minhash_band_buckets,
    minhash_candidate_pairs,
    simhash_bits,
)
from pyrecount_spark.operators.text import quality_metrics, word_shingles


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, "short"),  # fewer tokens than shingle width
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(spark, docs):
    out = exact_dedup_keys(docs, "text", "doc_id")
    assert out.count() == 4  # 5 docs, one exact dup
    dups = {r.keep_id: r.n_dups for r in out.collect()}
    assert dups[1] == 2  # doc 4 collapsed into doc 1


def test_word_shingles_short_doc_empty(spark, docs):
    sh = word_shingles(docs, "text", 3, "doc_id")
    by_doc = {r[0] for r in sh.select("doc_id").distinct().collect()}
    assert 5 not in by_doc  # 1-token doc yields no 3-shingles
    n_doc1 = sh.filter(F.col("doc_id") == 1).count()
    assert n_doc1 == 7  # 9 tokens -> 7 trigrams, all distinct


def test_jaccard_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0  # near dup
    assert (1, 3) not in pairs  # disjoint


def test_minhash_lsh_finds_exact_dup(spark, docs):
    buckets = minhash_band_buckets(docs, "text", "doc_id")
    cands = {(r.id_a, r.id_b) for r in
             minhash_candidate_pairs(buckets, "doc_id").collect()}
    assert (1, 4) in cands  # identical docs share every band
    assert (1, 3) not in cands  # disjoint docs share none


def test_minhash_hot_bucket_guard_raises(spark):
    """A bucket past max_bucket_docs fails LOUDLY (naming the exact-dedup
    pre-collapse fix) instead of silently OOMing one task on the k²/2
    explode; healthy buckets are untouched."""
    text = "the same boilerplate text repeated in every single document"
    many = spark.createDataFrame(
        [(i, text) for i in range(1, 5)], ["doc_id", "text"]
    )
    buckets = minhash_band_buckets(many, "text", "doc_id")
    with pytest.raises(Exception, match="max_bucket_docs"):
        minhash_candidate_pairs(buckets, "doc_id", max_bucket_docs=3).collect()
    ok = minhash_candidate_pairs(buckets, "doc_id", max_bucket_docs=4)
    assert ok.count() == 6  # C(4,2) pairs, every band agrees


def test_simhash_properties(spark, docs):
    sigs = {r.doc_id: r.simhash for r in
            simhash_bits(docs, "text", "doc_id", bits=32).collect()}
    assert all(len(s) == 32 and set(s) <= {"0", "1"} for s in sigs.values())
    assert sigs[1] == sigs[4]  # identical text -> identical signature
    ham_12 = sum(a != b for a, b in zip(sigs[1], sigs[2]))
    ham_13 = sum(a != b for a, b in zip(sigs[1], sigs[3]))
    assert ham_12 < ham_13  # near-dup closer than disjoint


def test_quality_metrics_exact_counts(spark):
    df = spark.createDataFrame([(1, "ab 12, c!")], ["doc_id", "text"])
    r = quality_metrics(df, "text", "doc_id").collect()[0]
    assert (r.n_chars, r.n_spaces, r.n_digits, r.n_punct, r.n_tokens) == (9, 2, 2, 2, 3)


def test_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """A boilerplate shingle shared by all k docs fans out to k(k-1)/2
    candidate rows; with the df cap those shingles are dropped BEFORE the
    self-join, so candidate count stays bounded while informative-shingle
    pairs survive."""
    # 40 docs all sharing one boilerplate sentence; two docs also share a
    # distinctive tail.
    boiler = "click here to accept cookies and continue"
    rows = [(i, f"{boiler} item number {i} of the catalog") for i in range(38)]
    rows += [
        (100, f"{boiler} unique tail about sparkling graph engines"),
        (101, f"{boiler} unique tail about sparkling graph engines today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def candidate_rows(max_df):
        from pyrecount_spark.operators.text import word_shingles

        sh = word_shingles(docs, "text", 3, "doc_id")
        if max_df is not None:
            dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
            sh = sh.join(dfreq.filter(F.col("_df") <= max_df), on="shingle")
        a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
        return a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b")).count()

    uncapped = candidate_rows(None)
    capped = candidate_rows(10)
    # boilerplate shingles alone contribute >= C(40,2) * n_shingles rows
    assert uncapped > 4000
    assert capped < uncapped / 10  # fan-out collapsed by the cap

    # the informative near-dup pair still surfaces with the cap on
    pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3, max_shingle_df=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 101) in got
    # boilerplate-only docs do NOT pair up (their shared shingles are capped away)
    assert not any(a < 38 and b < 38 for a, b in got)


def test_verified_jaccard_edges_bucketed_and_exact(spark, docs):
    """MinHash-band candidates + exact Jaccard verify: every returned edge
    carries the TRUE Jaccard (matches the full jaccard_pairs graph value),
    and returned edges are a subset of the full graph (LSH recall <= 1)."""
    from pyrecount_spark.operators.dedup import verified_jaccard_edges

    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.2, max_shingle_df=None
        ).collect()
    }
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in verified_jaccard_edges(
            docs, "text", "doc_id", n=3, num_perm=16, band_size=2, threshold=0.2
        ).collect()
    }
    assert set(verified) <= set(full)
    for pair, j in verified.items():
        assert j == full[pair]  # verification is exact, not estimated
    # the exact dup (1,4) must always collide in every band
    assert (1, 4) in verified


def test_collapse_exact_dups_recovers_mega_bucket(spark):
    """A duplicate-heavy corpus that trips the mega-bucket guard at default
    settings completes with collapse_exact_dups=True, and the recovered
    edge set is byte-identical to the un-collapsed ground truth (guard
    raised out of the way). Zero-shingle identical docs must NOT gain
    edges they would never get from the bucketed pipeline."""
    from pyrecount_spark.operators.dedup import verified_jaccard_edges

    boiler = "the same boilerplate text repeated in every single document body"
    rows = [(i, boiler) for i in range(12)]
    rows += [
        (100, "a distinctive article about spark shuffle partitioning at scale"),
        (101, "a distinctive article about spark shuffle partitioning at scales"),
        (200, "entirely unrelated content regarding matrix market sparse readers"),
        (300, "tiny"),  # < n tokens: zero shingles
        (301, "tiny"),  # identical zero-shingle doc: no edge expected
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(n=3, num_perm=16, band_size=2, threshold=0.2)

    # the 12-identical-doc bucket trips the guard...
    with pytest.raises(Exception, match="max_bucket_docs"):
        verified_jaccard_edges(df, "text", "doc_id", max_bucket_docs=8, **kw).collect()
    # ...and the collapse flag recovers it at the SAME guard setting
    got = sorted(
        map(
            tuple,
            verified_jaccard_edges(
                df, "text", "doc_id", max_bucket_docs=8,
                collapse_exact_dups=True, **kw,
            ).collect(),
        )
    )
    truth = sorted(
        map(
            tuple,
            verified_jaccard_edges(
                df, "text", "doc_id", max_bucket_docs=4096, **kw
            ).collect(),
        )
    )
    assert got == truth
    ids_in_edges = {i for e in got for i in e[:2]}
    assert {300, 301}.isdisjoint(ids_in_edges)  # zero-shingle group: no edges
    assert all(j == 1.0 for a, b, j in got if a < 12 and b < 12)
    assert (100, 101) in {(a, b) for a, b, _ in got}  # near-dups survive

    # the incompatible-knob combination fails loudly
    with pytest.raises(ValueError, match="max_shingle_df"):
        verified_jaccard_edges(
            df, "text", "doc_id", collapse_exact_dups=True, max_shingle_df=5
        )


def test_winnowing_fingerprints_rolling_hash(spark):
    """Rolling-hash winnowing: hand-checked polynomial hash, short-doc
    guards, and the near-dup property (shared fingerprints for docs
    sharing long substrings)."""
    from pyrecount_spark.operators.text import (
        WINNOW_B,
        WINNOW_M,
        WINNOW_W,
        winnowing_fingerprints,
    )

    base = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " again"),   # near-dup: long shared prefix
            (3, "zzzz"),            # shorter than W -> no fingerprints
            (4, "abcdefgh"),        # exactly W chars -> 1 hash, < G -> none
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in winnowing_fingerprints(docs, "text", "doc_id").collect()}

    # python reference for doc 1
    def ref_fps(s):
        hs = [
            sum(ord(s[i + j]) * pow(WINNOW_B, WINNOW_W - 1 - j, WINNOW_M)
                for j in range(WINNOW_W)) % WINNOW_M
            for i in range(len(s) - WINNOW_W + 1)
        ]
        return sorted({min(hs[k:k + 4]) for k in range(len(hs) - 3)})

    fps1 = ref_fps(base)
    assert out[1].n_fingerprints == len(fps1)
    assert out[1].fp_checksum == sum(fps1)
    assert (out[1].fp_min, out[1].fp_max) == (min(fps1), max(fps1))
    # near-dups share most fingerprints: checksums differ but min agrees
    fps2 = ref_fps(base + " again")
    assert len(set(fps1) & set(fps2)) / len(fps1) > 0.7
    assert out[2].fp_checksum == sum(fps2)
    # short docs: empty fingerprint sets, no crashes, zero checksum
    assert out[3].n_fingerprints == 0 and out[3].fp_checksum == 0
    assert out[3].fp_min is None
    assert out[4].n_fingerprints == 0


def test_pii_redact_counts_and_hash(spark):
    from pyrecount_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co or c.d+x@e.org call 555-123-4567 ip 10.0.0.1"),
            (2, "Secret plans from the CUSTOMER stream"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in pii_redact(df, "text", "doc_id", denylist=["customer", "secret"]).collect()
    }
    assert out[1].n_email == 2 and out[1].n_phone == 1 and out[1].n_ipv4 == 1
    assert out[2].n_denylist == 2  # case-insensitive whole-word
    assert out[3].n_email == out[3].n_denylist == 0
    # redaction actually rewrote doc 1 and 2, left doc 3 byte-identical
    import hashlib

    assert out[3].redacted_md5 == hashlib.md5(b"nothing sensitive here").hexdigest()
    assert out[1].redacted_md5 != out[3].redacted_md5
    red1 = "mail [EMAIL] or [EMAIL] call [PHONE] ip [IP]"
    assert out[1].redacted_md5 == hashlib.md5(red1.encode()).hexdigest()
    assert out[1].redacted_len == len(red1)


def test_passage_dup_stats(spark):
    from pyrecount_spark.operators.dedup import passage_dup_stats

    shared = "one two three four five"  # 5-token passage shared verbatim
    df = spark.createDataFrame(
        [
            (1, shared + " tail-a only-a x y z"),      # 2 passages, 1 shared
            (2, shared + " tail-b only-b p q r"),      # 2 passages, 1 shared
            (3, "totally unrelated words here now ok"),  # 1 passage, unique
            (4, "tiny"),                                # < 5 tokens -> 0 passages
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r for r in passage_dup_stats(df, "text", "doc_id", 5).collect()
    }
    assert out[1].n_passages == 2 and out[1].n_dup_passages == 1
    assert out[1].dup_fraction == 0.5
    assert out[2].n_dup_passages == 1
    assert out[3].n_passages == 1 and out[3].n_dup_passages == 0
    # sub-passage doc still reported, all-zero
    assert out[4].n_passages == 0 and out[4].dup_fraction == 0.0


def test_prefix_filtered_jaccard_equals_full_join(spark, docs):
    """The prefix filter provably loses no pairs: output byte-equals the
    all-pairs jaccard at several thresholds."""
    from pyrecount_spark.operators.dedup import jaccard_pairs, prefix_filtered_jaccard

    # 0.2 / 0.4 / 0.8 hit sizes where ceil(2t/(1+t)·sz) rounds UP off an
    # exact integer without the 1e-9 guard (sz=9 at t=0.2, sz=7 at t=0.4)
    # — a too-short index prefix is a false-negative class
    for t in (0.2, 0.4, 0.5, 0.8):
        full = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(
                docs, "text", "doc_id", n=2, threshold=t, max_shingle_df=None
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filtered_jaccard(
                docs, "text", "doc_id", n=2, threshold=t
            ).collect()
        }
        assert pref == full, (t, pref, full)


def test_prefix_filtered_jaccard_array_path_equals_bitmap_path(spark, docs):
    """Both verify representations (round-15 bitset gate true/false) give
    identical results. A corpus of near-disjoint tiny docs drives the gate
    FALSE (V/64 > avg set length / 2: many distinct shingles, short sets);
    the shared-vocabulary ``docs`` corpus drives it TRUE. The executed plan
    pins which path ran; equality against the all-pairs yardstick pins its
    result."""
    from pyrecount_spark.operators.dedup import jaccard_pairs, prefix_filtered_jaccard

    # 300 docs x 4 bigrams, mostly unique vocabulary + a few duplicated
    # docs so the output is non-empty: V ~ 900, avg set ~ 4 -> gate false.
    rows = []
    for i in range(300):
        base = i - (i % 3) if i % 7 == 0 else i
        rows.append((i, f"w{base}a w{base}b w{base}c w{base}d w{base}e"))
    sparse = spark.createDataFrame(rows, ["doc_id", "text"])
    for corpus, bitmap in [(docs, True), (sparse, False)]:
        full = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(
                corpus, "text", "doc_id", n=2, threshold=0.4, max_shingle_df=None
            ).collect()
        }
        out = prefix_filtered_jaccard(corpus, "text", "doc_id", n=2, threshold=0.4)
        pref = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        assert pref == full and full, (bitmap, len(full), pref)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("bit_count" in plan, "array_intersect" in plan) == (bitmap, not bitmap), plan


def test_feature_hash_tf_deterministic_and_counted(spark):
    """Same token always lands in the same bucket; tf counts occurrences."""
    from pyspark.sql import functions as F

    from pyrecount_spark.operators.text import feature_hash_tf

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry")],
        "doc_id long, text string",
    )
    out = feature_hash_tf(df, "text", "doc_id", dim=64)
    rows = {(r.doc_id, r.bucket): r.tf for r in out.collect()}
    import hashlib

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64

    assert rows[(1, bucket("apple"))] == 2
    assert rows[(1, bucket("banana"))] == 1
    assert rows[(2, bucket("apple"))] == 1
    assert rows[(2, bucket("cherry"))] == 1
    # no Python UDF in the plan
    plan = out._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan
