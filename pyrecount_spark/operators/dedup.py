"""Deduplication operators (SURVEY.md §2.10): exact, n-gram Jaccard,
MinHash-LSH, SimHash, embedding-cosine.

Scale design
------------
- Exact dedup: one hash-groupBy shuffle on the content hash — the minimum
  possible; at 100 TB pre-partition the lake by hash prefix and the shuffle
  becomes a local aggregation.
- Jaccard / MinHash: candidate generation is *bucket-join* shaped — only
  documents sharing a shingle (or an LSH band bucket) ever meet, never an
  all-pairs cross join. Band buckets bound the join fan-out; hot shingles
  (stopword-only) should be frequency-capped at scale.
- All hashing is content-derived (md5/sha2) — deterministic across engines
  and runs, no seed state to coordinate across executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrecount_spark.functions.scalars import round_ratio_half_up
from pyrecount_spark.operators.text import word_shingles


def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: sha256 content hash → keep min id per hash.
    Returns (content_hash, keep_id, n_dups)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 25,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs.

    shingle → (bucket-join on shared shingles) → |A∩B| → |A∪B| → filter.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4.

    ``max_shingle_df`` caps candidate fan-out: a shingle appearing in k
    documents yields k·(k-1)/2 candidate rows, so one boilerplate shingle
    shared by 10⁵ docs would produce 10¹⁰ pairs. Shingles with document
    frequency above the cap are dropped from BOTH the intersection and the
    set sizes (standard hot-shingle / stopword filtering — the Jaccard is
    then over the informative-shingle sets). One extra groupBy(shingle)
    whose output is reused by the self-join it gates.

    The per-document sizes table scales with the corpus, so it carries NO
    broadcast hint: the planner broadcasts it while its stats stay under
    ``autoBroadcastJoinThreshold`` and AQE converts at runtime when the
    shuffled bytes are small — at 100 TB it is a plain shuffle join, never
    a forced corpus-sized broadcast. The shingle table is EAGERLY
    ``localCheckpoint``ed (shared by sizes and both self-join sides — a
    lazy checkpoint lets those concurrent consumer stages race-recompute
    the explode, the 3× cost measured at verified_jaccard_edges) instead
    of ``.cache()``d, so blocks free when the result is dropped.
    """
    sh = word_shingles(df, text_col, n, id_col)
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.filter(F.col("_df") <= max_shingle_df), on="shingle")
            .select(id_col, "shingle")
        )
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            # integer-exact half-up: F.round of the double ratio flips at
            # exact decimal halves across engines (see round_ratio_half_up)
            round_ratio_half_up(
                F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter"), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_family_cols(shingle: Column | str, num_perm: int) -> list[Column]:
    """Seedless hash-family columns wide enough for ``num_perm`` 8-hex-char
    slices: family f is ``sha256(shingle)`` for f=0 and
    ``sha256('f:' || shingle)`` for f≥1 — prefix-derived families are
    independent (avalanche on the changed input) yet deterministic in any
    engine with sha256; no seed state, no per-permutation hash calls.
    ``ceil(num_perm/8)`` hash calls per shingle row total.

    Kept as SEPARATE 64-char columns rather than one concat: slices never
    straddle a family boundary, and min(substring) over the shorter strings
    measured 25% faster than over a 128-char concat at sf0.1 (the min-agg
    is the pipeline's dominant stage). The SQL oracle may still concat —
    substr(h, p*8+1, 8) of the concat equals the per-family slice.
    """
    col = F.col(shingle) if isinstance(shingle, str) else shingle
    families = (num_perm + 7) // 8
    return [F.sha2(col, 256)] + [
        F.sha2(F.concat(F.lit(f"{f}:"), col), 256) for f in range(1, families)
    ]


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_perm: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """MinHash signatures + LSH banding, engine-portable.

    "Permutation" p is the p-th 8-hex-char slice of the concatenated
    prefix-family sha256 strings (``minhash_family_cols``); the minhash is the
    lexicographic min per (doc, p) — deterministic, seedless, identical in
    any engine with sha256. Bands of ``band_size`` rows hash to a bucket
    id. Returns (doc id, band, bucket).

    Scale: ceil(num_perm/8) sha256 calls per shingle row (slicing is free)
    — the previous per-permutation ``md5(p || shingle)`` needed num_perm
    calls/row and measured 1.9× slower at sf0.1 — and ONE groupBy(doc)
    shuffle: all num_perm mins aggregate map-side in the same pass (an
    explode over perms would multiply shuffle volume num_perm× and add a
    second aggregation). 16–32 perms is the signature width real corpus
    dedup runs (8 was the round-1 cap); band math is unchanged.
    """
    # distinct=False: min() is duplicate-insensitive, so the dedup shuffle
    # word_shingles would add buys nothing here.
    sh = word_shingles(df, text_col, n, id_col, distinct=False)
    fams = minhash_family_cols("shingle", num_perm)
    hashed = sh.select(
        id_col, *[fam.alias(f"_h{f}") for f, fam in enumerate(fams)]
    )
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min(F.substring(f"_h{p // 8}", (p % 8) * 8 + 1, 8)).alias(f"mh_{p}")
            for p in range(num_perm)
        ]
    )
    # band bucket: md5 of ','-joined 'perm:minhash' entries in perm order —
    # byte-identical to the SQL oracle's ORDER BY perm string_agg.
    band_structs = []
    for band in range(num_perm // band_size):
        perms = range(band * band_size, (band + 1) * band_size)
        entry = F.concat_ws(
            ",", *[F.concat_ws(":", F.lit(str(p)), F.col(f"mh_{p}")) for p in perms]
        )
        band_structs.append(
            F.struct(F.lit(band).cast("int").alias("band"), F.md5(entry).alias("bucket"))
        )
    return mins.select(id_col, F.explode(F.array(*band_structs)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def minhash_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_docs: int = 4096
) -> DataFrame:
    """Distinct candidate pairs sharing any band bucket (id_a < id_b).

    One groupBy per (band, bucket) + an in-bucket combination explode —
    NOT a bucket self-join: the join shape computes the whole shingle→
    hash→min upstream twice (no exchange reuse across the aliased sides)
    and shuffles it twice. Per-bucket pair fan-out (k²/2 for a k-doc
    bucket) is identical either way — a hot bucket lands on one task in
    the join too — and bucket sizes are bounded by the LSH banding
    premise. Result set is byte-identical to the self-join, so the
    DuckDB oracle keeps the join formulation.

    The banding premise fails on real corpora in exactly one way: masses
    of IDENTICAL documents (boilerplate, empty text) share every minhash
    and land in one bucket, whose k²/2 explode then OOMs a single task
    with no diagnosis. ``max_bucket_docs`` (default 4096 ≈ 8.4M pairs —
    a single heavy-but-survivable task; realistic OOMs start well past
    it) converts that into a LOUD in-plan error naming the fix —
    collapse exact duplicates (``exact_dedup``) before near-dup LSH, or
    raise the cap deliberately. A when/raise_error filter, zero cost on
    the healthy path, never an extra job.
    """
    grouped = buckets.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set(id_col)).alias("ids")
    )
    pairs = F.flatten(
        F.expr(
            "transform(ids, (x, i) -> transform("
            "slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b)))"
        )
    )
    bucket_ok = F.when(
        F.size("ids") <= F.lit(max_bucket_docs), F.lit(True)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("LSH bucket holds "),
                F.size("ids").cast("string"),
                F.lit(
                    f" docs (> max_bucket_docs={max_bucket_docs}); the k²/2 "
                    "pair explode would OOM this task. Re-run with "
                    "collapse_exact_dups=True (verified_jaccard_edges), "
                    "collapse exact duplicates yourself (exact_dedup) before "
                    "near-dup LSH, or raise max_bucket_docs deliberately."
                ),
            )
        ).cast("boolean")
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .filter(bucket_ok)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def probe_restricted_candidate_pairs(
    buckets: DataFrame,
    id_col: str,
    max_bucket_docs: int = 4096,
) -> DataFrame:
    """Candidate pairs restricted to those touching a PROBE member — the
    pushed-down form of "find near-dups OF this subset" (decontamination:
    probe = eval split; incremental dedup: probe = new batch).

    Same (band, bucket) aggregation as ``minhash_candidate_pairs``, but the
    in-bucket explode enumerates probe × bucket-members instead of all
    k²/2 combinations, so per-bucket fan-out is p·k and — decisively at
    scale — buckets with NO probe member are dropped before any pair work.
    A whole-corpus self-match computes Ω(corpus²-shaped) candidate mass to
    keep the ~(2·|probe|/|corpus|) fraction that touches the probe set;
    this generates only that fraction. Emits exactly the pairs of the
    unrestricted output having >= 1 probe member (id_a < id_b, distinct;
    probe×probe pairs enumerate twice pre-distinct, which is why the
    normalize happens inside the explode).

    The mega-bucket guard bounds the ACTUAL per-bucket explode size —
    |probes| × (|ids| − 1) enumerated structs — against the pair budget
    the unrestricted guard permits (max_bucket_docs·(max_bucket_docs−1)/2,
    ≈ 8.4M pairs at the 4096 default), not bucket cardinality: one probe
    in a 100k-doc bucket enumerates 100k pairs (harmless, and exactly the
    incremental-dedup shape where a tiny batch probes a huge corpus),
    while a probe-DENSE mega bucket whose enumeration really would
    approach the k²/2 mass the unrestricted guard exists for still trips
    loudly. The un-probed-mega exemption is now intrinsic (0 probes → 0
    pairs ≤ budget) rather than a separate short-circuit clause, so no
    optimizer rewrite of filter order can re-introduce spurious aborts
    (tests/test_probe_restriction.py pins un-probed-mega, sparse-probed
    mega, and probe-dense trip cases). NULL probe flags count as
    non-probe.
    """
    pair_budget = max_bucket_docs * (max_bucket_docs - 1) // 2
    grouped = buckets.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set(id_col)).alias("ids"),
        F.sort_array(
            F.collect_set(F.when(F.col("_probe"), F.col(id_col)))
        ).alias("probes"),
    )
    pairs = F.flatten(
        F.expr(
            "transform(probes, p -> transform("
            "filter(ids, x -> x != p), x -> "
            "struct(least(p, x) AS id_a, greatest(p, x) AS id_b)))"
        )
    )
    explode_size = F.size("probes").cast("long") * (F.size("ids").cast("long") - 1)
    bucket_ok = F.when(
        explode_size <= F.lit(pair_budget),
        F.lit(True),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("LSH bucket explode of "),
                F.size("probes").cast("string"),
                F.lit(" probes x "),
                F.size("ids").cast("string"),
                F.lit(
                    f" docs exceeds the pair budget {pair_budget} "
                    f"(= max_bucket_docs={max_bucket_docs} choose 2); this "
                    "task would OOM. Re-run with collapse_exact_dups=True, "
                    "collapse exact duplicates yourself before near-dup "
                    "LSH, or raise max_bucket_docs deliberately."
                ),
            )
        ).cast("boolean")
    )
    return (
        grouped.filter((F.size("probes") >= 1) & (F.size("ids") >= 2))
        .filter(bucket_ok)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def verified_jaccard_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_perm: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    max_bucket_docs: int = 4096,
    collapse_exact_dups: bool = False,
    probe_predicate: Column | None = None,
) -> DataFrame:
    """Near-dup edges: MinHash-band candidates, exact-Jaccard verified.

    The standard corpus-dedup pipeline (MinHash LSH → verify): candidate
    pairs come from the *bucketed* band join (never all-pairs — fan-out is
    bounded by band-bucket sizes), then the exact n-gram Jaccard is computed
    ONLY for those candidates by routing each pair back through its two
    shingle sets with equi-joins. Pairs the bands miss are missed — that is
    the documented LSH recall trade-off every at-scale dedup accepts; the
    full-graph twin (``jaccard_pairs``) is the correctness yardstick
    **when called with the same ``max_shingle_df``** — the hot-shingle cap
    changes both the intersection and the set sizes, so comparing a capped
    yardstick to uncapped verified edges (or vice versa) is apples/oranges.
    Default here is ``None`` (exact Jaccard over full shingle sets).

    Every join is an equi-join: cand×shingles(id_a) fans out by shingles-
    per-doc (bounded), then the (id_b, shingle) equi-join keeps only shared
    shingles. Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``collapse_exact_dups=True`` is the recovery path for the one way the
    banding premise fails on real corpora — masses of byte-identical
    documents sharing every bucket, whose k²/2 in-task explode the
    ``max_bucket_docs`` guard turns into a loud error. The pipeline then
    runs over one sha256-representative per identical-text group and the
    edge set is re-expanded afterwards (identical texts have identical
    shingle sets, so every member inherits its representative's buckets
    and Jaccard values exactly): rep-level edges fan out to all member
    cross pairs via two equi-joins on the membership map, and each
    non-empty-shingle group contributes its internal pairs at Jaccard
    1.0 — byte-identical to the un-collapsed result, but the candidate
    explode only ever sees distinct texts. The intra-group pair fan-out
    is distributed (an equi-join on the group key), not a single-task
    explode; if even the *output* edge list of a duplicate group is
    infeasible (10^6 identical docs = 5·10^11 edges), the fix is
    upstream exact dedup, not edge enumeration. Incompatible with
    ``max_shingle_df`` (document frequencies change under collapse).

    ``probe_predicate`` (a boolean Column over the input's columns)
    pushes a "near-dups OF this subset" restriction into candidate
    generation — the incremental-dedup / decontamination shape (probe =
    the new document batch, or the eval split). Band buckets with no
    probe member never enter the pair explode; in-bucket enumeration is
    probe × members. Same contract as the vector twin
    (operators/similarity.py::lsh_verified_pairs): exact probe-touching
    subset of the unrestricted edge set without collapse; bracketed
    between that subset and the full set under ``collapse_exact_dups``
    (group-granular restriction: a sha-group is probe iff any member
    is; NULL = non-probe) — so a caller keeping only probe-touching
    edges gets results identical to filtering the unrestricted graph,
    and the unrestricted oracle stays valid.
    """
    if collapse_exact_dups:
        if max_shingle_df is not None:
            raise ValueError(
                "collapse_exact_dups is incompatible with max_shingle_df: "
                "shingle document frequencies are corpus-level counts and "
                "change when identical documents collapse to one "
                "representative. Apply the df cap without collapsing, or "
                "pre-collapse the corpus yourself before capping."
            )
        cols = [F.col(id_col), F.col(text_col), F.sha2(F.col(text_col), 256).alias("_sha")]
        if probe_predicate is not None:
            cols.append(probe_predicate.cast("boolean").alias("_mprobe"))
        keyed = df.select(*cols)
        # group-granular probe flag inside the existing rep aggregation
        # (see the vector twin: a separate groupBy + join-back would add
        # two more shuffles for the same bit)
        aggs = [F.min(id_col).alias("_rep")]
        if probe_predicate is not None:
            aggs.append(
                F.max(F.coalesce(F.col("_mprobe"), F.lit(False))).alias("_gprobe")
            )
        rep = keyed.groupBy("_sha").agg(*aggs)
        members = keyed.join(rep, "_sha").select(
            id_col, "_rep", text_col,
            *(["_gprobe"] if probe_predicate is not None else []),
        )
        rep_cols = [id_col, text_col] + (
            ["_gprobe"] if probe_predicate is not None else []
        )
        reps_df = members.filter(F.col(id_col) == F.col("_rep")).select(*rep_cols)
        rep_edges = verified_jaccard_edges(
            reps_df, text_col, id_col, n, num_perm, band_size, threshold,
            max_shingle_df=None, max_bucket_docs=max_bucket_docs,
            probe_predicate=F.col("_gprobe") if probe_predicate is not None else None,
        )
        m = members.select("_rep", id_col)
        ma = m.select(F.col("_rep").alias("id_a"), F.col(id_col).alias("_xa"))
        mb = m.select(F.col("_rep").alias("id_b"), F.col(id_col).alias("_xb"))
        cross = (
            rep_edges.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("_xa", "_xb").alias("id_a"),
                F.greatest("_xa", "_xb").alias("id_b"),
                "jaccard",
            )
        )
        if threshold > 1.0:
            return cross
        # groups whose text yields >=1 shingle: zero-shingle documents
        # never enter a bucket in the un-collapsed pipeline, so identical
        # empty/short texts must NOT produce intra-group edges here either.
        # Under a probe restriction, probe-free groups can never yield a
        # probe-touching intra pair — skip their fan-out entirely.
        intra_src = (
            reps_df.filter(F.col("_gprobe"))
            if probe_predicate is not None
            else reps_df
        )
        nonempty = (
            word_shingles(intra_src, text_col, n, id_col)
            .select(F.col(id_col).alias("_rep"))
            .distinct()
        )
        grp = m.join(nonempty, "_rep")
        # Salted self-join: one mega duplicate group is one hot `_rep` key —
        # the pair emission is Ω(output) regardless, but unsalted it lands
        # on a single task; salting spreads each group's emission across
        # `salt` tasks for the price of replicating the (tiny) member map.
        # Output identical to the plain join (property-tested), so the
        # un-collapsed oracle stays valid.
        from pyrecount_spark.operators.skew import salted_join

        intra = (
            salted_join(
                grp.select("_rep", F.col(id_col).alias("_xa")),
                grp.select("_rep", F.col(id_col).alias("_xb")),
                on=["_rep"],
                salt=16,
            )
            .filter(F.col("_xa") < F.col("_xb"))
            .select(
                F.col("_xa").alias("id_a"),
                F.col("_xb").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return cross.union(intra)
    from pyrecount_spark.operators.skew import widen_narrow_scan

    # round-15: the shingle explode + sha256 family hashes + minhash
    # partial aggregation all execute inside the SCAN stage, which a small
    # parquet corpus sizes at 1-3 splits — measured serialized on one core
    # at sf0.1 inside the edge feeder (interleaved A/B: 1.1-1.6 s vs
    # 1.8-1.9 s wall). Identity once the corpus reaches >= cores natural
    # splits (guide §2, corpus-derived). Applied on this non-collapse path
    # only: the collapse branch pre-shrinks to distinct texts first and
    # measured a wash.
    df = widen_narrow_scan(df, id_col)
    buckets = minhash_band_buckets(df, text_col, id_col, n, num_perm, band_size)
    if probe_predicate is not None:
        # the per-doc probe bit joins onto the bucket rows: the bucket side
        # exits minhash_band_buckets already hash-partitioned on id (its
        # groupBy), so only the tiny (id, flag) side shuffles
        flags = df.select(
            F.col(id_col), probe_predicate.cast("boolean").alias("_probe")
        )
        cand = probe_restricted_candidate_pairs(
            buckets.join(flags, id_col), id_col, max_bucket_docs=max_bucket_docs
        )
    else:
        cand = minhash_candidate_pairs(buckets, id_col, max_bucket_docs)
    sh = word_shingles(df, text_col, n, id_col)
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.filter(F.col("_df") <= max_shingle_df), on="shingle")
            .select(id_col, "shingle")
        )
    # eager localCheckpoint, not .cache(): three consumers (sizes, both join
    # sides) reuse the shingle explode, but cache blocks outlive the call —
    # library consumers leaked storage across invocations. Checkpoint blocks
    # are RDD storage the ContextCleaner frees on GC; eager avoids the
    # lazy-checkpoint race when consumer stages run concurrently.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(a, on="id_a")
        .join(b, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            # integer-exact half-up: F.round of the double ratio flips at
            # exact decimal halves across engines (see round_ratio_half_up)
            round_ratio_half_up(
                F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter"), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_bits(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash signature as a bit string, engine-portable.

    Per token, take the first ``bits/4`` hex chars of md5(token); each hex
    char contributes 4 bits. Bit b votes +1/-1; the signature bit is 1 iff
    the vote sum is >= 0. Hex→int via ``instr('0123456789abcdef', c) - 1``
    (pure string/integer ops → identical in DuckDB). Returns (id, simhash)
    with simhash a '0'/'1' string of length ``bits``.
    """
    hexdigits = bits // 4
    toks = (
        df.select(id_col, F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"))
        .withColumn("h", F.md5(F.col("tok")))
    )
    agg_exprs = []
    for d in range(hexdigits):
        hv = F.expr(f"instr('0123456789abcdef', substring(h, {d + 1}, 1)) - 1")
        for b in range(4):
            bit = F.floor(hv / (2**b)) % 2
            agg_exprs.append(F.sum(bit * 2 - 1).alias(f"v_{d * 4 + b}"))
    summed = toks.groupBy(id_col).agg(*agg_exprs)
    sig = F.concat(
        *[
            F.when(F.col(f"v_{i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return summed.select(id_col, sig.alias("simhash"))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Duplicate-cluster resolution: min-label propagation over the
    candidate-pair graph. Every node converges to the smallest id reachable
    from it — the cluster's canonical representative.

    Each iteration is one distributed join + one min-aggregation (both on
    the node key, so a shared partitioning is reused across stages);
    convergence is reached in graph-diameter iterations — near-dup clusters
    are shallow (diameter ≲ 5), so this terminates fast at any corpus size.
    ``localCheckpoint`` truncates the lineage each round, or the plan would
    double per iteration. The alternating large-star/small-star scheme
    (Kiveris et al., "Connected Components in MapReduce") halves rounds on
    adversarial graphs; plain propagation is the clearer fit here.

    Unmatched nodes stay singletons (component = own id).
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(25):
        nbr = sym.join(
            labels.withColumnRenamed("node", "dst"), on="dst"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.withColumnRenamed("label", "new")
            .join(labels, on="node")
            .filter(F.col("new") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def passage_dup_stats(
    df: DataFrame, text_col: str, id_col: str, passage_tokens: int = 10
) -> DataFrame:
    """Cross-document passage-level exact dedup (the passage-granular form
    of exact-substring training-data dedup, à la Lee et al., "Deduplicating
    Training Data Makes Language Models Better").

    Tokenize, cut into NON-overlapping ``passage_tokens``-token chunks
    (incomplete tails dropped), md5 each chunk, reduce to DISTINCT
    (doc, passage-hash), then mark a passage duplicated iff it occurs in
    ≥2 distinct documents. Returns one row per input document —
    (id, n_passages, n_dup_passages, dup_fraction) — docs shorter than one
    passage report 0/0/0.0 via a left join from the doc set.

    Scale: chunking is a narrow map (explode of n/P positions per doc —
    ~10× fewer rows than shingling); the corpus-wide passage-frequency
    count and the per-doc rollup are the only shuffles, both on bounded
    keys. The distinct pre-reduce keeps within-doc repeats from inflating
    cross-doc counts.
    """
    P = passage_tokens
    base = df.select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    k = F.floor(F.size("_toks") / P).cast("int")
    positions = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    passages = (
        base.select(id_col, "_toks", F.explode(positions).alias("i"))
        .select(
            id_col,
            F.md5(
                F.concat_ws(" ", F.slice("_toks", F.col("i") * P + 1, F.lit(P)))
            ).alias("ph"),
        )
        .distinct()
    )
    ndocs = passages.groupBy("ph").agg(F.count_distinct(id_col).alias("_nd"))
    per_doc = (
        passages.join(ndocs, on="ph")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).alias("n_dup_passages"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_passages"), F.lit(0)).cast("long").alias("n_passages"),
            F.coalesce(F.col("n_dup_passages"), F.lit(0))
            .cast("long")
            .alias("n_dup_passages"),
            F.coalesce(
                round_ratio_half_up(
                    F.col("n_dup_passages"), F.col("n_passages"), 4
                ),
                F.lit(0.0),
            ).alias("dup_fraction"),
        )
    )


def prefix_filtered_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the PPJoin
    family: Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection") — no all-pairs scan, no hot-shingle cap, no LSH recall
    loss.

    Shingles are globally ordered by (document frequency asc, shingle);
    a document's prefix is a head of its shingles in that order. Prefixes
    are ASYMMETRIC (the PPJoin indexing refinement): ordering each pair
    by (|S|, id), the smaller doc contributes its INDEX prefix
    ``|A| - ceil(2t/(1+t)·|A|) + 1`` and the larger doc its probe prefix
    ``|B| - ceil(t·|B|) + 1`` — if J(A,B) ≥ t the pair MUST share a
    shingle lying in both heads (combined prefix lemma), so pairs are
    generated only from index×probe shingle matches (provably no false
    negatives), then exact-verified over the full shingle sets.

    Scale: the prefix keeps only each document's RAREST shingles, so the
    candidate join fans out by rare-shingle df (self-limiting — a shingle
    shared by many docs is by definition not rare and never enters a
    prefix at high thresholds). Candidates are further pruned by the
    PPJoin LENGTH filter (J ≥ t forces t·|A| ≤ |B| ≤ |A|/t) and the
    PPJoin POSITIONAL filter: a common prefix shingle at 1-based rank
    (i, j) of its documents' shared global order bounds the overlap at
    ``min(i-1, j-1) + 1 + min(|A|-i, |B|-j)`` — valid for EVERY common
    prefix shingle, so pairs whose minimum bound over all prefix matches
    misses the required overlap ``t·(|A|+|B|)/(1+t)`` are dropped before
    verification (same shuffle the plain de-dup of candidates already
    paid). Verification never re-explodes candidates by their full shingle
    sets (candidates × |S| rows through a shuffle — on a small-vocabulary
    corpus where prefixes prune little, that shape was ~4× this one);
    instead every shingle gets an INJECTIVE integer id (in-hash-bucket
    row_number · n_buckets + bucket — equi-partitioned windows only, no
    global sort, no offset table since density is not needed), each doc
    becomes one bounded long-array row, and candidates verify through a
    narrow codegen'd ``array_intersect``. The per-document set table is
    attached via a SIZE-GATED broadcast (``broadcast_if_small`` — ~12
    bytes per shingle instance, measured with one count over the
    checkpointed shingle table): small corpora keep the zero-shuffle
    broadcast verify, corpus-sized tables fall back to plain shuffle
    joins that AQE may still broadcast at runtime. Long arrays keep the
    broadcast copy + intersect memcpy-cheap where string arrays pay
    per-element hashing. A second measured negative (round 7) pins this
    shape against the other obvious rewrite: on the small-vocabulary
    corpus (931 distinct shingles ⇒ 26-word bitsets) verifying via
    fixed-width bitmaps — unrolled ``bit_count(element_at(a,i) &
    element_at(b,i))`` sums, an unrolled fixed-width fold — ran ~4x SLOWER
    than ``array_intersect`` over the same checkpointed 6.15M candidates
    (12.7-22.8 s vs 2.8-3.2 s warm at sf0.1): the 26-term chained
    element_at tree does not beat the codegen'd hash-set intersect even
    at half the per-row data, so the win the bitmap promises on paper
    never materializes. Intermediates are ``localCheckpoint``ed (lazy),
    not ``.cache()``d: blocks are freed by the ContextCleaner when the
    result goes out of scope instead of pinning storage memory for the
    session's lifetime.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 4 —
    byte-identical to ``jaccard_pairs(n, threshold, max_shingle_df=None)``.
    """
    from pyspark.sql.window import Window

    from pyrecount_spark.operators.joins import broadcast_if_small

    n_buckets = 64
    broadcast_limit_bytes = 64 << 20
    spark = df.sparkSession
    try:
        wide_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        wide_parts = spark.sparkContext.defaultParallelism
    sh = word_shingles(df, text_col, n, id_col)
    # one row per distinct shingle: df for the global rarity order, sid as
    # an injective long (intersection only needs distinctness, not density)
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .withColumn("_bkt", F.pmod(F.xxhash64("shingle"), F.lit(n_buckets)))
        .withColumn(
            "_sid",
            F.row_number().over(Window.partitionBy("_bkt").orderBy("shingle"))
            * n_buckets
            + F.col("_bkt"),
        )
        .select("shingle", "_df", "_sid")
    )
    # explicit numbered repartition: the window needs doc partitioning, and
    # a planner-inserted exchange here would be AQE-coalesced by its small
    # BYTE size even though the window + downstream work is CPU-bound.
    # The shingle STRING is projected away before that exchange (round-15,
    # guide §2.3 "project before the exchange"): the rank order uses the
    # injective _sid as the tiebreak instead of the raw shingle — (_df asc,
    # _sid asc) is just as much a single global total order as (_df asc,
    # shingle asc), which is all the combined prefix lemma needs, and the
    # exact verify is order-independent — so the per-doc window shuffle,
    # its sort, and the checkpointed shingle table all move 3 narrow
    # numeric columns instead of dragging an n-gram string per row.
    ranked = (
        sh.join(dfreq, on="shingle")
        .select(id_col, "_df", "_sid")
        .repartition(wide_parts, id_col)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "_sid")
            ),
        )
        .select(id_col, "_sid", "_rn")
    )
    sized = ranked.withColumn(
        "_sz", F.max("_rn").over(Window.partitionBy(id_col))
    )
    # lazy localCheckpoint: materialized once (the gate aggregate below),
    # reused by prefix + doc_sets, blocks reclaimed when result is dropped
    sized = sized.localCheckpoint(eager=False)
    # size gate, measured not guessed: the verify-side table is one long per
    # (doc, shingle) row (~8 B payload + per-doc row overhead ≈ 12 B/row).
    # The same single 1-row aggregate also measures the id-domain bounds
    # that gate the packed-pair dedup key below (round-15) — integral ids
    # only; non-numeric id columns keep the plain count and the unpacked
    # aggregate.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = sized.schema[id_col].dataType
    id_integral = isinstance(
        id_type, (ByteType, ShortType, IntegerType, LongType)
    )
    gate_aggs = [
        F.count(F.lit(1)).alias("n"),
        # approximate distincts (one HLL pass, same scan): they gate only
        # the PERFORMANCE choice of verify representation below — output
        # correctness never depends on them, so ±2% HLL error is fine.
        F.approx_count_distinct("_sid").alias("v_est"),
        F.approx_count_distinct(id_col).alias("d_est"),
    ]
    if id_integral:
        gate_aggs += [F.min(id_col).alias("lo"), F.max(id_col).alias("hi")]
    gate = sized.agg(*gate_aggs).collect()[0]
    n_shingle_rows = int(gate["n"])
    pack_pairs = (
        id_integral
        and gate["lo"] is not None
        and int(gate["lo"]) >= 0
        and int(gate["hi"]) <= (1 << 31) - 1
    )
    # Bitmap-verify gate (round-15): candidates verify through fixed-width
    # bitsets instead of per-pair hash-set intersection when the MEASURED
    # vocabulary is small — V/64 words per doc at most half the average
    # set length (so a bitset row is strictly narrower than the long-array
    # row it replaces) and V bounded so the dense-id window is a trivial
    # single-task sort. On Heaps-law corpora V grows with the corpus and
    # the gate stays false — the general array_intersect path is unchanged.
    avg_set = n_shingle_rows / max(1, int(gate["d_est"]))
    use_bitmap = (
        0 < int(gate["v_est"]) <= (1 << 20)
        and int(gate["v_est"]) / 64.0 <= 0.5 * avg_set
    )
    est_bytes = 12 * n_shingle_rows
    # Narrow the injective shingle id to INT when the measured corpus
    # provably fits (distinct sids <= shingle rows < 2^31): array_intersect
    # then runs on the int-specialized OpenHashSet with half the per-row
    # allocation — measured 2x on the verify stage at sf0.1 (pass-matched
    # 29.5 s -> 14.8 s wall; output equality property-checked at sf0.01).
    # Corpora past 2^31 shingle rows keep the long id — the cast is gated
    # on the same measured count the broadcast gate already takes, so the
    # decision is corpus-deterministic, never a config knob.
    if n_shingle_rows < (1 << 31):
        sized = sized.withColumn("_sid", F.col("_sid").cast("int"))
    # Every ceil(coeff·sz) below subtracts a 1e-9 epsilon first: coeff is a
    # binary-inexact double (e.g. 2t/(1+t) = 0.5714.. at t=0.4), and an
    # upward rounding at an exact-integer boundary (0.5714..·7 -> 4.0000..01,
    # ceil 5 instead of 4) would SHORTEN a prefix / TIGHTEN the length
    # filter — a false-negative class the exact-Jaccard verify can't
    # recover. The epsilon only ever loosens (extra candidates), and the
    # verify filters those exactly.
    def _eceil(x: Column) -> Column:
        return F.ceil(x - F.lit(1e-9))

    # ASYMMETRIC prefixes (the PPJoin indexing refinement, Xiao et al. §3):
    # order documents by (|S|, id); for a qualifying pair the SMALLER doc A
    # needs a common shingle only inside its INDEX prefix
    # |A| - ceil(2t/(1+t)·|A|) + 1  (overlap >= t/(1+t)(|A|+|B|) >=
    # 2t/(1+t)·|A| since |B| >= |A|), while the LARGER doc B probes with
    # the standard t-prefix |B| - ceil(t·|B|) + 1 (overlap >= t·|B| needs
    # |A| >= t·|B|, exactly the surviving length filter). Both prefixes cut
    # from the SAME global (df asc, shingle) order, so the combined prefix
    # lemma applies; at t=0.4 the index side keeps ~30% fewer rows than the
    # symmetric form, and candidates shrink proportionally.
    #
    # numbered repartition on the join key: the prefix table is KBs (AQE
    # would coalesce its shuffle to ~1 task) but the self-join below
    # explodes it to millions of candidate rows — partition by bytes-in
    # would serialize that CPU (measured 7 s -> 2.2 s at sf0.1)
    idx_coeff = 2.0 * threshold / (1.0 + threshold)
    index_pref = (
        sized.filter(
            F.col("_rn")
            <= F.col("_sz") - _eceil(F.lit(idx_coeff) * F.col("_sz")) + 1
        )
        .select(id_col, "_sid", "_sz", "_rn")
        .repartition(wide_parts, "_sid")
    )
    probe_pref = (
        sized.filter(
            F.col("_rn")
            <= F.col("_sz") - _eceil(F.lit(threshold) * F.col("_sz")) + 1
        )
        .select(id_col, "_sid", "_sz", "_rn")
        .repartition(wide_parts, "_sid")
    )
    # required overlap: J >= t  <=>  inter >= t·(|A|+|B|)/(1+t)
    raw_cand = (
        index_pref.select(
            F.col(id_col).alias("id_a"), "_sid",
            F.col("_sz").alias("_pa"), F.col("_rn").alias("_ra"),
        )
        .join(
            probe_pref.select(
                F.col(id_col).alias("id_b"), "_sid",
                F.col("_sz").alias("_pb"), F.col("_rn").alias("_rb"),
            ),
            on="_sid",
        )
        # (|A|, id) < (|B|, id): the index side is the pair's smaller doc
        .filter(
            (F.col("_pa") < F.col("_pb"))
            | ((F.col("_pa") == F.col("_pb")) & (F.col("id_a") < F.col("id_b")))
        )
        # length filter: |A| >= ceil(t·|B|)  (t·|A| <= |B| holds trivially
        # under the ordering)
        .filter(F.col("_pa") >= _eceil(F.lit(threshold) * F.col("_pb")))
        # positional upper bound on the overlap for THIS common shingle
        .withColumn(
            "_ub",
            F.least(F.col("_ra") - 1, F.col("_rb") - 1)
            + 1
            + F.least(F.col("_pa") - F.col("_ra"), F.col("_pb") - F.col("_rb")),
        )
    )
    # the bound holds for every common prefix shingle -> the pair's
    # tightest bound must still clear the required overlap (replaces the
    # plain .distinct(): same single shuffle, more pruning). The candidate
    # stream has multiplicity ~2 (one row per common prefix shingle), so
    # this dedup aggregate is the pipeline's widest shuffle; when the id
    # domain provably fits (gate above: 0 <= id < 2^31, measured, never a
    # config knob) the 4-column group key (id_a, id_b, |A|, |B|) packs
    # into TWO longs — one 8-byte key the hash aggregate probes with a
    # single compare, and the size pair riding as a min() buffer (it is
    # constant within a pair, so min() just carries it) — 3 UnsafeRow
    # fields instead of 5 through both partial and final aggregation
    # (guide §2.3 "narrower types"). The overlap filter then runs on the
    # unpacked halves with arithmetic identical to the unpacked branch.
    alpha_coeff = threshold / (1.0 + threshold)
    if pack_pairs:
        _p32 = F.lit(1 << 32)
        packed = (
            raw_cand.select(
                (F.col("id_a").cast("long") * _p32 + F.col("id_b")).alias("_pk"),
                (F.col("_pa").cast("long") * _p32 + F.col("_pb")).alias("_szp"),
                "_ub",
            )
            .groupBy("_pk")
            .agg(F.min("_ub").alias("_min_ub"), F.min("_szp").alias("_szp"))
        )
        _pa_u = F.shiftright("_szp", 32)
        _pb_u = F.col("_szp").bitwiseAND(F.lit((1 << 32) - 1))
        cand = (
            packed.filter(
                F.col("_min_ub") + F.lit(1e-9)
                >= F.lit(alpha_coeff) * (_pa_u + _pb_u)
            )
            .select(
                F.shiftright("_pk", 32).cast(id_type).alias("id_a"),
                F.col("_pk").bitwiseAND(F.lit((1 << 32) - 1))
                .cast(id_type)
                .alias("id_b"),
            )
        )
    else:
        alpha = F.lit(alpha_coeff) * (F.col("_pa") + F.col("_pb"))
        cand = (
            raw_cand.groupBy("id_a", "id_b", "_pa", "_pb")
            .agg(F.min("_ub").alias("_min_ub"))
            .filter(F.col("_min_ub") + F.lit(1e-9) >= alpha)
            .select("id_a", "id_b")
        )
    # Verify representation. Small-vocabulary corpora (measured gate
    # above) verify through FIXED-WIDTH BITSETS: each doc is ceil(V/64)
    # longs over a dense shingle index, and the intersection size is a
    # zip_with AND + bit_count fold — 25-55x faster than the per-pair
    # OpenHashSet build of array_intersect on the fixed-vocab corpus
    # (13-40 vs 539-1528 task-s over the same checkpointed 6.15M
    # candidates, interleaved passes, outputs collect-identical). The
    # round-7 "bitmaps 4x slower" negative measured the UNROLLED
    # bit_count(element_at..) chain, which (like the unrolled dot, see
    # semantic_dedup) ran interpreted after codegen bailout; the compact
    # fold has no such cliff. General corpora keep the long-array +
    # array_intersect shape below, unchanged.
    if use_bitmap:
        dense = (
            sized.select("_sid")
            .distinct()
            .withColumn(
                "_d", F.row_number().over(Window.orderBy("_sid")) - 1
            )
            .localCheckpoint(eager=False)
        )
        v_max = dense.agg(F.max("_d")).collect()[0][0]
    else:
        v_max = None
    if use_bitmap and v_max is not None:
        nw = (int(v_max) + 64) // 64
        doc_sets = (
            sized.join(F.broadcast(dense), "_sid")
            .groupBy(id_col)
            .agg(
                F.collect_list("_d").alias("_ds"),
                F.count(F.lit(1)).alias("sz"),
            )
            .select(
                id_col,
                "sz",
                F.expr(
                    f"transform(sequence(0, {nw - 1}), w -> "
                    "aggregate(filter(_ds, d -> CAST(d / 64 AS INT) = w), "
                    "0L, (s, d) -> s | shiftleft(1L, CAST(d % 64 AS INT))))"
                ).alias("_set"),
            )
        )
        inter_expr = F.expr(
            "aggregate(zip_with(_sa, _sb, (x, y) -> bit_count(x & y)), "
            "0, (s, c) -> s + c)"
        )
    else:
        # One long-array row per document, bounded by doc length
        doc_sets = sized.groupBy(id_col).agg(
            F.collect_list("_sid").alias("_set"),
            F.count(F.lit(1)).alias("sz"),
        )
        inter_expr = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(
            broadcast_if_small(
                doc_sets.select(
                    F.col(id_col).alias("id_a"),
                    F.col("_set").alias("_sa"),
                    F.col("sz").alias("sz_a"),
                ),
                est_bytes,
                broadcast_limit_bytes,
            ),
            "id_a",
        )
        .join(
            broadcast_if_small(
                doc_sets.select(
                    F.col(id_col).alias("id_b"),
                    F.col("_set").alias("_sb"),
                    F.col("sz").alias("sz_b"),
                ),
                est_bytes,
                broadcast_limit_bytes,
            ),
            "id_b",
        )
        .withColumn("inter", inter_expr)
        .withColumn(
            "jaccard",
            # integer-exact half-up: F.round of the double ratio flips at
            # exact decimal halves across engines (see round_ratio_half_up)
            round_ratio_half_up(
                F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter"), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        # candidate sides are (smaller doc, larger doc) under the (|S|, id)
        # ordering — re-canonicalize to id_a < id_b for the output contract
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = 4,
    iters: int = 1,
    dim: int = 64,
    threshold: float = 0.4,
    target_per_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with k-means, then call two
    documents semantic duplicates iff they land in the SAME cluster and
    their cosine similarity clears ``threshold``. A doc is dropped when a
    lower-id near-duplicate exists in its cluster (the paper keeps one
    representative per tight semantic group; lowest id is the seedless
    deterministic pick).

    Scale: the clustering is the narrow-map + bounded-shuffle Lloyd of
    ``kmeans_lloyd``; the pairwise stage is an EQUI-join on the cluster id,
    so the quadratic blow-up is confined within clusters — the SemDeDup
    premise (k grows with corpus size, ~sqrt(N), keeping cluster sizes and
    per-task fan-out bounded). The self-join is further decomposed into
    BLOCK PAIRS (each vector hashes into one of ``pair_blocks`` blocks;
    the join key is (cluster, block-pair)), so per-task work is bounded by
    block size even when a cluster is huge or k is small — a single join
    key can't be split by AQE, this decomposition is what restores
    parallelism. Per-vector norms are computed ONCE before pairing and the
    per-pair dot product is the sequential ``dot`` fold (an unrolled form
    measured slower on this stage, see below). No all-pairs scan anywhere.
    Vector payloads re-attach to the enumerated pairs via SIZE-GATED
    broadcasts (``broadcast_if_small`` — rows measured with one count over
    the checkpointed assignment, bytes
    = rows × (8·dim + overhead)): corpus-sized vector tables fall back to
    plain shuffle joins instead of an unbounded forced broadcast.
    Intermediates are lazily ``localCheckpoint``ed, not ``.cache()``d, so
    repeated invocations don't pin storage memory for the session's life.

    ``dim`` must match the actual vector width: a shorter ``dim`` would
    silently truncate the dot product (norms run over the full array), a
    longer one would null it out — so the width is probed up front (inside
    the single corpus-stats aggregate, kept OUT of the scoring path where a
    per-row conditional would be inlined 64× into the dot by
    projection collapse) and mismatches raise instead of skewing cosines.
    ``target_per_cluster`` derives k = max(4, ceil(N / target)) from that
    same aggregate (the SemDeDup scaling contract) so callers don't pay a
    separate count job.

    Returns one row per vector: (id, cluster, n_sem_dups, keep).
    """
    from pyrecount_spark.operators.clustering import EMB_ID, EMB_VEC, kmeans_lloyd
    from pyrecount_spark.operators.joins import broadcast_if_small
    from pyrecount_spark.operators.similarity import dot, norm

    pair_blocks = 8
    broadcast_limit_bytes = 64 << 20
    # ONE bounded 1-row aggregate job replaces the former THREE full passes
    # (round-14, guide §1.2 "don't compute things you throw away"): corpus
    # count (the broadcast gates below need it and the caller previously
    # paid a separate count() to size k), loud dim validation (kmeans_lloyd
    # collects eagerly, so a post-hoc probe would surface a width mismatch
    # as a confusing array-index error from deep inside Lloyd), and the
    # derived-k input — all read from the same scan.
    stats = embeddings.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.when(F.size(F.col(EMB_VEC)) != dim, F.size(F.col(EMB_VEC)))
        ).alias("bad_w"),
    ).collect()[0]
    n_vec = int(stats["n"])
    if stats["bad_w"] is not None:
        raise ValueError(
            f"semantic_dedup: expected {dim}-dim vectors in {EMB_VEC!r}, "
            f"found width {stats['bad_w']}"
        )
    if target_per_cluster is not None:
        # SemDeDup's k-scales-with-corpus contract (k ≈ N / target keeps
        # within-cluster pair work linear in N) derived from the SAME scan
        # as the gates — the caller no longer pays its own count() job
        k = max(4, -(-n_vec // target_per_cluster))
    elif k is None:
        raise ValueError("semantic_dedup: pass k or target_per_cluster")
    # assigned feeds the pair join AND the final left-joins; edges feeds
    # deg AND dropped — checkpoint both so the Lloyd iterations and the
    # quadratic stage each execute once, not once per consumer. EAGER:
    # the materialization job replaces the former separate count() (n_vec
    # now comes from the stats aggregate above), and a lazy checkpoint
    # with two downstream consumers would race-recompute Lloyd.
    assigned = (
        kmeans_lloyd(embeddings, k=k, iters=iters, dim=dim)
        .select(EMB_ID, "cluster")
        .localCheckpoint(eager=True)
    )
    vec_est_bytes = n_vec * (8 * dim + 48)
    # the checkpointed assignment is a LogicalRDD with no size stats, so
    # the planner would pessimistically shuffle-join it everywhere; the
    # measured count restores the broadcast decision under the same gate
    v = (
        embeddings.select(EMB_ID, EMB_VEC)
        .join(
            broadcast_if_small(assigned, n_vec * 24, broadcast_limit_bytes),
            on=EMB_ID,
        )
        .withColumn("_nrm", norm(F.col(EMB_VEC)))
        .withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(EMB_ID)), F.lit(pair_blocks))
        )
    )
    # candidate ID pairs are enumerated over NARROW rows (ids + block only
    # — vectors never ride through the quadratic join), then the vectors
    # and precomputed norms are attached back via hash joins and scored in
    # a codegen'd projection. Keeping the score out of the pair join also
    # keeps Catalyst from folding the 64-term dot product into the
    # sort-merge join CONDITION, where it would run interpreted per pair.
    a = v.select(
        F.col(EMB_ID).alias("id_a"),
        "cluster",
        F.col("_blk").alias("_ba"),
    ).withColumn("_tb", F.explode(F.sequence(F.col("_ba"), F.lit(pair_blocks - 1))))
    b = v.select(
        F.col(EMB_ID).alias("id_b"),
        F.col("cluster").alias("_cb"),
        F.col("_blk").alias("_bb"),
    )
    # each unordered pair meets exactly once: a's block ≤ b's block by
    # construction of the explode; ties (same block) keep id_a < id_b, and
    # cross-block output ids are normalized with least/greatest (cosine is
    # symmetric, so side order is irrelevant to the score)
    pairs = (
        a.join(
            broadcast_if_small(b, n_vec * 28, broadcast_limit_bytes),
            (F.col("cluster") == F.col("_cb")) & (F.col("_tb") == F.col("_bb")),
        )
        .filter((F.col("_ba") != F.col("_bb")) | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
    )
    # AQE coalesces the pair-enumeration shuffle by BYTES — a few KB of
    # narrow ids — which would funnel the downstream scoring (explode ×
    # codegen dot per pair, the actual cost) onto one task. A numbered
    # repartition is exempt from AQE coalescing and keeps the scoring
    # stage wide (measured 13 s -> 5 s at sf0.1). HASH on the pair key,
    # not round-robin (round-14): a keyless repartition(n) first pays a
    # local sort of its input (spark.sql.execution.sortBeforeRepartition,
    # needed so retried tasks reproduce their row→partition assignment —
    # guide §2.5); hashing the deterministic pair id gets the same width
    # with no sort and no retry hazard.
    spark = embeddings.sparkSession
    try:
        score_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        score_parts = spark.sparkContext.defaultParallelism
    pairs = pairs.repartition(score_parts, "id_a", "id_b")
    vecs = v.select(EMB_ID, F.col(EMB_VEC).alias("_v"), "_nrm")
    edges = (
        pairs.join(
            broadcast_if_small(
                vecs.select(
                    F.col(EMB_ID).alias("id_a"),
                    F.col("_v").alias("_va"),
                    F.col("_nrm").alias("_na"),
                ),
                vec_est_bytes,
                broadcast_limit_bytes,
            ),
            "id_a",
        )
        .join(
            broadcast_if_small(
                vecs.select(
                    F.col(EMB_ID).alias("id_b"),
                    F.col("_v").alias("_vb"),
                    F.col("_nrm").alias("_nb"),
                ),
                vec_est_bytes,
                broadcast_limit_bytes,
            ),
            "id_b",
        )
        # round-15 (guide §1 re-measure): the 64-term unrolled dot now runs
        # 10x SLOWER than the interpreted fold on this stage shape (44.4 vs
        # 4.2 task-s at 500k pairs, interleaved same-session passes) — the
        # two broadcast joins + round + filter push the generated method
        # past the codegen bailout, so the "codegen'd" unroll actually runs
        # as a 128-node interpreted tree, while the fold is one compact
        # loop. Value-identical: same left-to-right double accumulation
        # from 0.0 (dot's fold order == the unroll's chain order).
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        # EAGER: a lazy checkpoint with three downstream consumers (deg ×2,
        # dropped) would race — concurrent stages each recompute unpersisted
        # partitions of the quadratic stage (measured 3×: ~9 s vs ~3 s)
        .localCheckpoint(eager=True)
    )
    # degree per doc (either side of an edge) and the drop set (appears as
    # the higher id of some edge -> a more-canonical duplicate exists) —
    # computed in ONE aggregation pass over the checkpointed edges
    # (round-15, guide §2.4): the former union+groupBy (degree) and
    # distinct (drop set) each paid their own shuffle and their own join
    # back to the assignment; exploding each edge into its two endpoint
    # rows tagged with which side they came from yields both facts from a
    # single groupBy and a single left join. keep = "never the higher id
    # of any edge" == NOT max(is_b) — identical to the old distinct set.
    endpoint_stats = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias(EMB_ID), F.lit(False).alias("_is_b")
                    ),
                    F.struct(
                        F.col("id_b").alias(EMB_ID), F.lit(True).alias("_is_b")
                    ),
                )
            ).alias("_e")
        )
        .select(F.col(f"_e.{EMB_ID}").alias(EMB_ID), F.col("_e._is_b").alias("_is_b"))
        .groupBy(EMB_ID)
        .agg(
            F.count(F.lit(1)).alias("n_sem_dups"),
            F.max("_is_b").alias("_drop"),
        )
    )
    return (
        assigned.join(endpoint_stats, on=EMB_ID, how="left")
        .select(
            EMB_ID,
            "cluster",
            F.coalesce(F.col("n_sem_dups"), F.lit(0)).cast("long").alias("n_sem_dups"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )
