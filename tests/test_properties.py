"""Property-based tests (hypothesis): algebraic invariants that must hold
for ANY input, not just the golden fixtures — mirroring the reference's
randomized-input test style (SURVEY.md §5) without its fixed seeds.

Spark round-trips are expensive, so examples are few but adversarial:
hypothesis shrinks failures to minimal cases.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pyrecount_spark.operators.dedup import connected_components
from pyrecount_spark.operators.relational import merge_upsert
from pyrecount_spark.operators.skew import salted_join

_settings = settings(max_examples=8, deadline=None)

keys = st.integers(min_value=0, max_value=9)


@_settings
@given(
    left=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=30),
    right=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=10),
    salt=st.sampled_from([1, 2, 5]),
)
def test_salted_join_equals_plain_join(spark, left, right, salt):
    l_df = spark.createDataFrame(left or [(None, None)], "k int, lv int").filter(
        F.col("k").isNotNull()
    )
    r_df = spark.createDataFrame(right or [(None, None)], "k int, rv int").filter(
        F.col("k").isNotNull()
    )
    plain = sorted(map(tuple, l_df.join(r_df, on=["k"]).collect()))
    salted = sorted(map(tuple, salted_join(l_df, r_df, on=["k"], salt=salt).collect()))
    assert salted == plain


@_settings
@given(
    target=st.dictionaries(keys, st.integers(0, 100), max_size=10),
    updates=st.dictionaries(keys, st.integers(200, 300), max_size=10),
)
def test_merge_upsert_invariants(spark, target, updates):
    t_df = spark.createDataFrame(
        list(target.items()) or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    u_df = spark.createDataFrame(
        list(updates.items()) or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    merged = {r.k: r.v for r in merge_upsert(t_df, u_df, ["k"]).collect()}
    expected = {**target, **updates}  # updates win; survivors pass; inserts land
    assert merged == expected


def _uf_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp = {}
    for n in nodes:
        root = find(n)
        comp.setdefault(root, []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@_settings
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    nodes = sorted(set(range(16)))
    n_df = spark.createDataFrame([(n,) for n in nodes], "id int")
    e_df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(None, None)], "id_a int, id_b int"
    ).filter(F.col("id_a").isNotNull())
    got = {
        r.node: r.label
        for r in connected_components(e_df, n_df, id_col="id").collect()
    }
    assert got == _uf_components(nodes, [(a, b) for a, b in edges])


@_settings
@given(
    token_counts=st.lists(st.integers(1, 40), min_size=1, max_size=25),
    window=st.sampled_from([7, 16, 512]),
)
def test_pack_sequences_invariants(spark, token_counts, window):
    """Packing is a partition of the concatenated token stream: placements
    are contiguous, within-window, and reconstruct the running sum."""
    from pyrecount_spark.operators.corpus import pack_sequences

    rows = [("s", i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    out = sorted(
        pack_sequences(df, "n_tokens", "doc_id", "source", window=window).collect(),
        key=lambda r: r.doc_id,
    )
    cum = 0
    for r in out:
        assert 0 <= r.start_offset < window
        assert r.start_window * window + r.start_offset == cum  # contiguous
        cum += r.n_tokens
        assert r.end_window == (cum - 1) // window
        assert r.n_windows == r.end_window - r.start_window + 1
    assert cum == sum(token_counts)


@_settings
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    whole=st.sampled_from([0, 1, 2]),
    frac_pct=st.sampled_from([0, 25, 50, 100]),
)
def test_weighted_mix_copy_bounds(spark, ids, whole, frac_pct):
    """Every surviving doc gets floor(w) or floor(w)+1 copies; integral
    weights are exact; copy_ids enumerate 1..copies."""
    from pyspark.sql import functions as F
    from pyrecount_spark.operators.corpus import weighted_mix

    w = whole + frac_pct / 100.0
    df = spark.createDataFrame([(i, "s") for i in ids], ["doc_id", "source"])
    out = weighted_mix(df, "doc_id", "source", F.lit(w)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.copy_id)
    for copies in by_doc.values():
        assert sorted(copies) == list(range(1, len(copies) + 1))
    if frac_pct == 0:
        # integral weight: exact copy count, all docs present iff w >= 1
        assert all(len(c) == whole for c in by_doc.values())
        assert len(by_doc) == (len(ids) if whole >= 1 else 0)
    elif frac_pct == 100:
        assert all(len(c) == whole + 1 for c in by_doc.values())
        assert len(by_doc) == len(ids)
    else:
        assert all(len(c) in (whole, whole + 1) for c in by_doc.values())


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b"]), st.text(max_size=5)),
        min_size=0, max_size=30, unique_by=lambda t: t[0],
    ),
)
def test_table_fingerprint_permutation_invariant(spark, rows):
    """Fingerprint is invariant under row order and partitioning, and both
    channels (count, xor) agree between any two equal multisets."""
    from pyspark.sql import functions as F
    from pyrecount_spark.operators.relational import table_fingerprint

    if not rows:
        return
    df = spark.createDataFrame(rows, ["id", "g", "s"])
    canon = [F.col("id").cast("string"), F.col("g"),
             F.coalesce(F.col("s"), F.lit("<NULL>"))]
    one = sorted(map(tuple, table_fingerprint(df, canon, group_col="g").collect()))
    other = sorted(map(tuple, table_fingerprint(
        df.orderBy(F.desc("id")).repartition(7), canon, group_col="g"
    ).collect()))
    assert one == other


@_settings
@given(
    n=st.integers(4, 24),
    k=st.sampled_from([1, 2, 3]),
)
def test_semantic_dedup_block_pairs_complete(spark, n, k):
    """The hash block-pair decomposition must enumerate every unordered
    in-cluster pair EXACTLY once: with threshold=-1 (cosine is always
    ≥ -1), the edge degree sum equals 2× the number of in-cluster pairs,
    and every doc's dup count equals (its cluster size - 1)."""
    from pyrecount_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) + 1.0 for d in range(4)]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    out = semantic_dedup(emb, k=k, iters=1, dim=4, threshold=-1.0).collect()
    by_cluster: dict[int, int] = {}
    for r in out:
        by_cluster[r.cluster] = by_cluster.get(r.cluster, 0) + 1
    for r in out:
        assert r.n_sem_dups == by_cluster[r.cluster] - 1, (
            f"vec {r.vec_id} in cluster {r.cluster} (size "
            f"{by_cluster[r.cluster]}) has degree {r.n_sem_dups} — a pair "
            "was missed or double-counted by the block decomposition"
        )
        # exactly one keeper per... no: keep=False iff a LOWER id exists in
        # the same cluster, so exactly one keep per cluster
    keeps = {}
    for r in out:
        keeps[r.cluster] = keeps.get(r.cluster, 0) + (1 if r.keep else 0)
    assert all(v == 1 for v in keeps.values()), keeps


@_settings
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("red blue fox dog run hop sky sea oak elm".split()),
            min_size=2,
            max_size=9,
        ).map(" ".join),
        min_size=3,
        max_size=8,
    ),
    thr=st.sampled_from([0.15, 0.3, 0.4, 4 / 7, 0.6, 0.75, 0.9]),
)
def test_prefix_filtered_jaccard_no_false_negatives(spark, texts, thr):
    """Asymmetric PPJoin prefixes (index 2t/(1+t) x probe t) must lose no
    pairs on ANY corpus/threshold — tiny docs and thresholds whose
    coefficient*size lands on exact integer boundaries are exactly where
    un-epsiloned ceils would silently shorten a prefix."""
    from pyrecount_spark.operators.dedup import jaccard_pairs, prefix_filtered_jaccard

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            docs, "text", "doc_id", n=2, threshold=thr, max_shingle_df=None
        ).collect()
    }
    pref = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filtered_jaccard(
            docs, "text", "doc_id", n=2, threshold=thr
        ).collect()
    }
    assert pref == full, (thr, texts)


# ---------------------------------------------------------------------------
# Unicode engine-agreement properties: the DuckDB oracles are only valid if
# Spark (JVM string semantics) and DuckDB (utf8proc/RE2) agree on the text
# primitives every text/dedup plan builds on — tokenization, code-point
# substring/length (BPE pairs), shingling, and the normalized fingerprint —
# over real multilingual text: NFC/NFD variants, astral-plane codepoints,
# zero-width joiners, combining marks, RTL scripts. A silent disagreement
# here is a latent oracle failure on any non-ASCII corpus.
#
# Probed divergence envelope (test_unicode_known_engine_divergences pins
# it): Java's lower() applies Unicode SpecialCasing (İ -> i+U+0307, final
# sigma -> ς) where DuckDB applies simple case folding; Java's regex \s
# includes \x0B where RE2's does not; and DuckDB's bare trim() strips
# Unicode spaces (nbsp, U+3000 -- utf8proc whitespace) where Spark's trim
# strips ASCII space only (hypothesis found this one: the divergence is
# edge-position-only, so coarse interior probes missed it; oracle-side
# `trim(text, ' ')` closes it on corpora where it matters). These inputs
# are excluded from the agreement alphabet and asserted divergent in the
# pin test; the fingerprint test deliberately INCLUDES the casing/\x0B
# ones because its strip-to-[a-z0-9 ] normalization makes both engines
# converge anyway.
# ---------------------------------------------------------------------------

_AGREE_ALPHABET = (
    "abcXYZ019 .,!\t\n"
    "é"            # NFC
    "é"      # NFD pair of the same text
    "‍‌​"  # ZWJ / ZWNJ / ZWSP
    "\U0001F469\U0001F467"  # astral emoji
    "\U0001D518"   # astral math alphanumeric
    "̣́"  # bare combining marks
    "漢字م한σςά"
)

_texts = st.lists(
    st.text(alphabet=_AGREE_ALPHABET, max_size=40), min_size=1, max_size=6
)


def _duck(texts):
    # NB: callers must bind the returned connection to a local for as long
    # as they use relations from it — duckdb relations don't keep the
    # connection alive, and a GC'd connection closes mid-fetch.
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts}),
    )
    return con


@_settings
@given(texts=_texts)
def test_unicode_tokens_and_bpe_pairs_engine_agreement(spark, texts):
    """Whitespace tokenization (after lower) and the BPE adjacent-pair
    statistic (code-point substring/length) must be byte-identical across
    engines for any text drawn from the agreement alphabet."""
    from pyrecount_spark.operators.text import tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    con = _duck(texts)
    sep = "␞"
    s_tok = sorted(
        (r.doc_id, r.t)
        for r in df.select(
            "doc_id", F.concat_ws(sep, tokens(F.lower(F.col("text")))).alias("t")
        ).collect()
    )
    d_tok = sorted(
        map(
            tuple,
            con.sql(
                "SELECT doc_id, array_to_string(string_split_regex("
                "trim(lower(text)), '\\s+'), chr(9246)) FROM documents"
            ).fetchall(),
        )
    )
    assert s_tok == d_tok

    words = (
        df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    s_pairs = sorted(
        (r.pair, r.n)
        for r in words.filter(F.length("tok") >= 2)
        .select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .collect()
    )
    d_pairs = sorted(
        map(
            tuple,
            con.sql(
                """
                WITH words AS (
                  SELECT tok, COUNT(*) AS wc FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
                    FROM documents) GROUP BY tok
                ),
                pairs AS (
                  SELECT substring(tok, i, 2) AS pair, wc
                  FROM (SELECT tok, wc, unnest(generate_series(1, length(tok) - 1)) AS i
                        FROM words WHERE length(tok) >= 2)
                )
                SELECT pair, CAST(SUM(wc) AS BIGINT) FROM pairs GROUP BY pair
                """
            ).fetchall(),
        )
    )
    assert s_pairs == d_pairs


@_settings
@given(texts=_texts)
def test_unicode_shingles_engine_agreement(spark, texts):
    """word_shingles (the MinHash/Jaccard substrate) matches the oracle's
    list_transform shingling for any agreement-alphabet text."""
    from pyrecount_spark.operators.text import word_shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = sorted(
        (r.doc_id, r.shingle)
        for r in word_shingles(df, "text", 2, "doc_id").collect()
    )
    con = _duck(texts)
    want = sorted(
        map(
            tuple,
            con.sql(
                """
                WITH toks AS (
                  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM documents)
                SELECT DISTINCT doc_id,
                       unnest(CASE WHEN len(t) >= 2 THEN
                                list_transform(generate_series(1, len(t) - 1),
                                               i -> t[i] || ' ' || t[i+1])
                              ELSE [] END) AS shingle
                FROM toks
                """
            )
            .fetchall(),
        )
    )
    assert got == want


@_settings
@given(
    texts=st.lists(
        st.text(alphabet=_AGREE_ALPHABET + "İΣ\x0b 　", max_size=40),
        min_size=1,
        max_size=6,
    )
)
def test_unicode_fingerprint_engine_agreement(spark, texts):
    """The normalized fingerprint strips to [a-z0-9 ] BEFORE hashing, which
    makes both engines converge even on the known lower()/\\s divergences
    (İ, final sigma, \\x0B) — so this alphabet deliberately includes them."""
    from pyrecount_spark.operators.text import normalized_fingerprint

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = sorted(
        (r.doc_id, r.f)
        for r in df.select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("f")
        ).collect()
    )
    con = _duck(texts)
    want = sorted(
        map(
            tuple,
            con.sql(
                "SELECT doc_id, md5(trim(regexp_replace(regexp_replace("
                "lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')))"
                " FROM documents"
            )
            .fetchall(),
        )
    )
    assert got == want


def test_unicode_known_engine_divergences(spark):
    """Pin the measured divergence envelope: Java SpecialCasing vs DuckDB
    simple folding (İ, word-final Σ), Java-\\s-includes-\\x0B, and DuckDB
    trim() stripping Unicode spaces at string edges where Spark strips
    ASCII space only. If an engine upgrade closes (or widens) any of
    these, this test fails and the agreement alphabet above must be
    revisited."""
    texts = ["İstanbul", "ΣΙΣΥΦΟΣ", "a\x0bb", "　x　", " y"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    s = {
        r.doc_id: (r.lo, r.toks)
        for r in df.select(
            "doc_id",
            F.lower("text").alias("lo"),
            F.concat_ws(
                "␞", F.split(F.trim(F.col("text")), r"\s+")
            ).alias("toks"),
        ).collect()
    }
    con = _duck(texts)
    d = {
        row[0]: (row[1], row[2])
        for row in con.sql(
            "SELECT doc_id, lower(text), array_to_string("
            "string_split_regex(trim(text), '\\s+'), chr(9246)) FROM documents"
        )
        .fetchall()
    }
    assert s[0][0] == "i̇stanbul" and d[0][0] == "istanbul"  # İ
    assert s[1][0].endswith("ς") and d[1][0].endswith("σ")  # final sigma
    assert s[2][1] == "a␞b" and d[2][1] == "a\x0bb"  # \x0B in \s
    assert s[3][1] == "　x　" and d[3][1] == "x"  # trim: U+3000
    assert s[4][1] == " y" and d[4][1] == "y"  # trim: nbsp


@_settings
@given(
    pool=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=1,
            max_size=7,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    assignment=st.lists(st.integers(0, 3), min_size=2, max_size=10),
)
def test_collapse_exact_dups_equals_plain_lsh(spark, pool, assignment):
    """collapse_exact_dups=True is pure algebra: for ANY corpus — duplicate
    groups of any multiplicity, near-dup texts, single-word (zero-shingle)
    texts — the collapsed pipeline's edge set must be byte-identical to
    plain verified_jaccard_edges. The registered oracle proves this on the
    driver corpus; this proves it on adversarial shapes (all-identical
    corpora, all-zero-shingle corpora, groups whose representatives tie at
    the Jaccard threshold)."""
    from pyrecount_spark.operators.dedup import verified_jaccard_edges

    docs = [(i, pool[a % len(pool)]) for i, a in enumerate(assignment)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kw = dict(n=2, num_perm=8, band_size=2, threshold=0.2)
    plain = sorted(
        map(tuple, verified_jaccard_edges(df, "text", "doc_id", **kw).collect())
    )
    collapsed = sorted(
        map(
            tuple,
            verified_jaccard_edges(
                df, "text", "doc_id", collapse_exact_dups=True, **kw
            ).collect(),
        )
    )
    assert collapsed == plain


@_settings
@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=12), min_size=2, max_size=12
    ),
    k=st.sampled_from([1, 2, 3]),
)
def test_edit_distance_pairs_equals_brute_force(spark, names, k):
    """PassJoin partition signatures must find EXACTLY the brute-force
    Levenshtein ≤ k pairs for any corpus — including strings shorter than
    the k+1 segments (the separate short path), empty strings, boundary
    lengths around k+1, and a 3-letter alphabet that forces heavy segment
    collisions."""
    from pyrecount_spark.operators.joins import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(names)], ["id", "name"]
    )
    got = sorted(
        map(tuple, edit_distance_pairs(df, "name", "id", k=k).collect())
    )
    a = df.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    b = df.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    brute = sorted(
        map(
            tuple,
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
            .filter(F.col("dist") <= k)
            .select("id_a", "id_b", "dist")
            .collect(),
        )
    )
    assert got == brute, (k, names)
