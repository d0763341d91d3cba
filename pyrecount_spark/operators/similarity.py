"""Vector similarity search over an embedding column (SURVEY.md §2.10).

- ``cosine`` / ``dot``: native ``F.aggregate``/``F.zip_with`` fold — JVM-side,
  no UDF, sequential left fold (deterministic accumulation order).
- ``brute_force_topk``: baseline — broadcast the query vector, narrow map to
  scores, TakeOrderedAndProject for top-k. At 100 TB this is one full scan,
  embarrassingly parallel, zero shuffles.
- ``lsh_bucketed_topk``: scale path — deterministic random-hyperplane LSH.
  Hyperplane h's component for dimension d is ±1 derived from md5(h,d)
  parity (seedless, reproducible on any cluster). Candidates = vectors in
  the query's bucket (optionally multi-probe); only candidates are scored.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrecount_spark.operators.clustering import EMB_ID, EMB_VEC

# ``mean_pool_vectors`` sums components as integer multiples of 1/_QUANT.
_QUANT = 1_000_000


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k by cosine against a single-row query frame.

    The one-row query side is broadcast (a literal cross join would also
    work); scoring is a narrow projection; top-k avoids any global sort.
    Score is rounded before ranking so rank boundaries are engine-stable;
    ``vec_id`` breaks remaining ties totally.
    """
    q = query.select(F.col(EMB_VEC).alias("_qvec"))
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .select(
            EMB_ID,
            F.round(cosine(F.col(EMB_VEC), F.col("_qvec")), 4).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(EMB_ID)).limit(k)


def hyperplane_sign_bits(vec_col: Column | str, num_planes: int, dim: int) -> Column:
    """LSH bucket id: concatenated sign bits of <v, H_h> for each hyperplane.

    H_h[d] = +1 if md5("h:d") first hex digit is even else -1 — content-
    addressed pseudo-randomness, identical on every executor with no seed
    broadcast. Returns a '0'/'1' string of length ``num_planes``.

    Round-14: accepts the column NAME and builds one F.expr fragment —
    num_planes x (dim lits + 2 lambda HOFs) of py4j round-trips otherwise
    (~2 s of driver chatter at 32 planes; see operators/exprs.py). The
    Column form remains for expression-valued inputs.
    """
    import hashlib

    sign_vecs = [
        [
            1.0 if int(hashlib.md5(f"{h}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for h in range(num_planes)
    ]
    if isinstance(vec_col, str):
        from pyrecount_spark.operators.exprs import arr_sql, qcol

        vc = qcol(vec_col)
        bits = [
            "(CASE WHEN aggregate(zip_with("
            f"{vc}, {arr_sql(signs)}, (x, s) -> CAST(x AS DOUBLE) * s), "
            "0.0D, (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END)"
            for signs in sign_vecs
        ]
        return F.expr(f"concat({','.join(bits)})")
    bits = []
    for signs in sign_vecs:
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.lit(signs),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


#: ann_lsh auto-derivation: expected bucket size target (query cost is
#: O(bucket)); planes = max(6, ceil_log2(N) - 10) keeps buckets ~1024.
ANN_LSH_TARGET_BUCKET = 1024
#: Oracle plane-literal cap for the single-bucket ANN probe (32 planes
#: covers corpora to 1024 * 2^32 vectors).
ANN_LSH_MAX_PLANES = 32


def auto_ann_planes(n: int) -> int:
    """Corpus-scaled plane count for the single-bucket ANN probe
    (lsh_bucketed_topk). The registered constant 6 gives 64 buckets — at
    100× the driver corpus the query's bucket holds N/64 vectors and the
    probe degenerates toward a scan. Growing planes ~log2(N) pins the
    expected bucket at ≤ ANN_LSH_TARGET_BUCKET (recall falls as buckets
    narrow — the standard LSH trade, measured by lsh_recall_eval's
    machinery). Resolves to the historical 6 at every committed corpus
    (≤ 65536 vectors); integer-exact boundaries like auto_lsh_banding."""
    return min(
        max(6, ceil_log2(n) - ceil_log2(ANN_LSH_TARGET_BUCKET)), ANN_LSH_MAX_PLANES
    )


def auto_ivf_centroids(n: int) -> int:
    """Corpus-scaled IVF list count: nlist = max(8, ⌈√(N/1024)⌉).

    The registered constant 8 means each inverted list is N/8 vectors — at
    scale the probe degenerates toward a full scan (VERDICT r9 #2). The
    standard balance point is nlist ≈ √N (list size ≈ scan-the-centroids
    cost); the 1/1024 scaling keeps the derivation at the historical 8 for
    every committed corpus (≤ 65536: √(64) = 8) while restoring the √N
    asymptotic — list size = 32·√N = O(√N), never O(N). Assignment embeds
    nlist literal centroids, so build cost is N·nlist comparisons; the
    constant trades build cost against the floor where driver-SF results
    stay byte-identical to the registered history.

    Engine/oracle lockstep: the oracle computes the identical
    GREATEST(8, CEIL(SQRT(COUNT(*)/1024.0))) as a scalar-subquery LIMIT
    (the semdedup corpus-scaled-k pattern); both sides evaluate
    ceil(sqrt(n/1024)) in IEEE double — sqrt is correctly rounded, so
    perfect-square boundaries (n/1024 = k²) are exact in both engines."""
    import math

    return max(8, math.ceil(math.sqrt(n / 1024.0)))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    num_planes: int | None = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's LSH bucket.

    ``num_planes=None`` derives the plane count from the corpus size
    (``auto_ann_planes`` — one bounded eager count). At scale, write the
    lake bucketed/partitioned by this bucket id and the probe becomes a
    single-partition read instead of a full scan.
    """
    if num_planes is None:
        num_planes = auto_ann_planes(embeddings.count())
    bucket = hyperplane_sign_bits(EMB_VEC, num_planes, dim)
    emb_b = embeddings.withColumn("_bucket", bucket)
    q_b = query.select(F.col(EMB_VEC).alias("_qvec")).withColumn(
        "_bucket", hyperplane_sign_bits("_qvec", num_planes, dim)
    )
    candidates = emb_b.join(F.broadcast(q_b), on="_bucket")
    scored = candidates.select(
        EMB_ID, F.round(cosine(F.col(EMB_VEC), F.col("_qvec")), 4).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(EMB_ID)).limit(k)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold (id_a < id_b).

    ORACLE-BASELINE TWIN — deliberately brute-force all-pairs (O(N²)
    nested-loop self-join), kept ONLY as the correctness yardstick the
    approximate paths are measured against. Never feed a downstream
    operator from this at scale: use ``lsh_verified_pairs`` (bucketed
    candidates + exact verify) for embeddings, or the MinHash-band
    verified-Jaccard graph for text. tests/test_plan_lint.py enforces that
    no other registered plan scans embeddings through a nested-loop join.
    """
    a = embeddings.select(F.col(EMB_ID).alias("id_a"), F.col(EMB_VEC).alias("va"))
    b = embeddings.select(F.col(EMB_ID).alias("id_b"), F.col(EMB_VEC).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


#: Number of LSH bands the banded pipeline always uses (registered history:
#: 32 planes / band 4 = 8 bands). Auto-derivation grows BAND WIDTH with the
#: corpus and keeps the band count fixed, so the driver-SF constants resolve
#: to exactly the historical 32/4.
LSH_BANDS = 8
#: Expected-bucket-occupancy target the band width is derived from — HALF
#: the historical mega-bucket guard default: the guard floor then sits 2×
#: above expectation, and (decisively) the candidate pair mass per bucket
#: stays at the level the round-9 300k probe MEASURED completing (64/8
#: banding, 477 s). A 4096 target was tried first and resolved to 56/7 at
#: 300k — the ~2× coarser buckets roughly quadrupled per-bucket pair mass
#: and the verify join's spill overflowed local disk; parameterize for the
#: proven operating point, not the guard boundary.
LSH_TARGET_OCCUPANCY = 2048
#: The historical mega-bucket guard default — the auto-derived guard never
#: goes below it (4× the occupancy target: the floor region keeps the
#: registered 4096 exactly).
LSH_GUARD_FLOOR = 4096
#: Widest auto-derivable band (oracle plane literals are generated up to
#: LSH_BANDS * LSH_MAX_BAND_SIZE = 128 planes; 16-bit bands cover corpora to
#: 2048 * 2^16 ≈ 134M distinct vectors — past that, set the knobs
#: explicitly on both engine and oracle sides).
LSH_MAX_BAND_SIZE = 16


def ceil_log2(n: int) -> int:
    """⌈log2(n)⌉ computed in integers — no float log at power-of-two
    boundaries (log(65536)/log(2) can land either side of 16.0)."""
    return (max(n, 1) - 1).bit_length()


def auto_lsh_banding(n: int) -> tuple[int, int, int]:
    """Corpus-scaled banding for the verified-pairs LSH family
    (round-10, VERDICT r9 #1 — the vector analog of semdedup's
    k = max(4, ⌈N/512⌉) rule).

    The registered 32-plane / band-4 constants have a PROVEN corpus
    ceiling: with 2^4 = 16 buckets per band, expected occupancy N/16
    crosses the 4096 mega-bucket guard past ~65k distinct vectors (the
    round-9 300k probe tripped it at a 13 540-doc bucket). Band bits must
    grow ~log2(N):

      band_size  = max(4, ⌈log2(N)⌉ - 11)        # occupancy ≤ 2048
      num_planes = 8 * band_size                  # band COUNT stays 8
      guard      = max(4096, 4 * ⌈N / 2^band_size⌉)

    - At every committed corpus (driver SFs ≤ 2000 vectors, adversarial
      decade ≤ 30k) this resolves to exactly the historical (32, 4) with
      the 4096 guard floor, so all registered results and plan
      fingerprints are unchanged there (advsf1's guard rises to 7500 —
      value-only, never tripped).
    - At 300k it resolves to (64, 8, 4688) — byte-for-byte the banding
      the round-9 probe MEASURED completing — and the guard admits the
      probe corpus's genuine 4 413-vector near-dup cluster (whose ~9.7M
      true pairs are OUTPUT, i.e. Ω(output) work) while still tripping
      at 4× expected occupancy.
    - The guard is corpus-scaled ONLY here, where band_size is derived in
      the same breath — a corpus-scaled guard under CALLER-CHOSEN banding
      would self-excuse exactly the mis-parameterization it exists to
      catch (coarse bands inflate expected occupancy, which would inflate
      the guard past the blowup it should flag).

    The DuckDB oracle replays the identical derivation from count(*)
    (GREATEST(4, LENGTH(BIN(n-1)) - 11) — integer-exact like this
    bit_length form) over a static 128-plane literal list sliced to
    8 * band_size, so engine and oracle stay in lockstep at ANY corpus
    size up to the documented 16-bit-band cap.

    PAST THE CAP (> ~134M distinct vectors = 2048 · 2^16, where band_size
    saturates at LSH_MAX_BAND_SIZE and expected occupancy starts growing
    again): set the knobs explicitly on BOTH sides. The recipe —
    (1) pick band_size = ⌈log2(N)⌉ - 11 as this derivation would
    (e.g. 2^28 ≈ 268M vectors → band 17), num_planes = 8 × band_size;
    (2) regenerate the oracle's plane-literal list at 8 × band_size planes
    (``plans/similarity._plane_literals`` takes the count — the 128-plane
    literal is a registered-query convenience, not a generator limit) and
    pass the same banding to its GREATEST/LEAST clamp;
    (3) keep the guard at 4 × ⌈N / 2^band_size⌉ ≈ 8192 and budget the
    verify join for occupancy-2048-equivalent pair mass per bucket —
    the measured envelope this module's constants encode. Collapse
    exact dups first (always true, decisive here). Raising
    LSH_MAX_BAND_SIZE instead is equivalent and preferable when the size
    is permanent: every committed corpus still resolves below it.
    """
    band_size = min(
        max(4, ceil_log2(n) - ceil_log2(LSH_TARGET_OCCUPANCY)), LSH_MAX_BAND_SIZE
    )
    guard = max(LSH_GUARD_FLOOR, 4 * -(-n // (1 << band_size)))
    return LSH_BANDS * band_size, band_size, guard


def lsh_band_buckets(
    embeddings: DataFrame,
    num_planes: int = 32,
    band_size: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Banded random-hyperplane signatures: (id, band, bucket) rows.

    The ``num_planes``-bit signature (content-addressed ±1 hyperplanes, see
    ``hyperplane_sign_bits``) is split into ``num_planes/band_size`` bands;
    two vectors are candidates iff some band's bits match exactly. The
    band explode is a narrow map; candidate generation downstream is one
    equi-join on (band, bucket) — fan-out bounded by bucket sizes, never
    all-pairs. ``extra_cols`` ride through the explode unchanged (e.g. a
    probe flag for restricted candidate generation).
    """
    sig = hyperplane_sign_bits(vec_col, num_planes, dim)
    bands = num_planes // band_size
    structs = [
        F.struct(
            F.lit(band).cast("int").alias("band"),
            F.substring(F.col("_sig"), band * band_size + 1, band_size).alias("bucket"),
        )
        for band in range(bands)
    ]
    return (
        embeddings.withColumn("_sig", sig)
        .select(id_col, *extra_cols, F.explode(F.array(*structs)).alias("b"))
        .select(
            id_col,
            *extra_cols,
            F.col("b.band").alias("band"),
            F.col("b.bucket").alias("bucket"),
        )
    )


def lsh_verified_pairs(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int | None = 32,
    band_size: int | None = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact_dups: bool = False,
    probe_predicate: Column | None = None,
    max_bucket_docs: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates, exact-cosine verified.

    ``num_planes=None``/``band_size=None`` derives the banding from the
    corpus count via ``auto_lsh_banding`` (one bounded eager count() on
    the driver — the semdedup corpus-scaled-k pattern): resolves to the
    historical (32, 4) at every committed corpus, grows band bits
    ~log2(N) past ~65k vectors so expected bucket occupancy stays under
    the guard at any scale. When the banding is auto-derived and
    ``max_bucket_docs`` is None, the guard is corpus-scaled too
    (4× expected occupancy, floored at the historical 4096) — see
    ``auto_lsh_banding`` for why the scaled guard is ONLY coupled to
    derived banding. The count is taken on the RAW input; under collapse
    the banded pipeline runs over distinct-vector representatives
    (fewer), so the derived occupancy bound is conservative.

    ``max_bucket_docs`` is the per-bucket explode guard the error message
    tells callers to raise deliberately — exposed here (as on the text
    twin) because DENSE corpora legitimately exceed the default: a
    4 400-member near-dup cluster whose distinct vectors share a band
    bucket has ~9.7 M TRUE pairs in the output, so the explode is
    Ω(output), not waste; the knob is for saying "yes, I mean it". The
    collapse path threads it to the rep-level recursion.

    The scale path for embedding dedup: candidates come from the bucketed
    band equi-join (``lsh_band_buckets``), then the TRUE cosine is computed
    only for candidates by two equi-joins back to the vectors. Pairs whose
    signatures never band-collide are missed — the standard ANN recall
    trade-off (recall rises with more/narrower bands); ``cosine_pairs`` is
    the exact-recall yardstick. All joins are equi-joins.

    ``collapse_exact_dups=True`` is the recovery path for the vector
    analog of the text mega-bucket: masses of byte-identical embeddings
    (re-encoded boilerplate, exemplar duplicates) share EVERY hyperplane
    signature and land in one band bucket, whose k²/2 explode the
    ``max_bucket_docs`` guard turns into a loud error — the round-8
    adversarial corpus (25 % exact-duplicate vector mass) tripped it at
    150 k vectors. The pipeline then runs over one min-id representative
    per distinct vector and re-expands afterwards: identical vectors have
    identical signatures AND identical cosines against any third vector,
    so members inherit their representative's edges exactly, and each
    duplicate group contributes its internal pairs at the group's
    self-cosine (COMPUTED per representative, not a 1.0 literal — the
    un-collapsed pipeline computes round(cosine(v, v), 4) through the same
    sqrt/product arithmetic, so the expanded edge set stays byte-identical
    to it). The intra-group fan-out is a distributed equi-join on the
    group key, salted across tasks (one mega dup-group is one hot `_rep`
    key; emission is Ω(output) regardless, but salting spreads it).

    ``probe_predicate`` (a boolean Column over the input's columns) pushes
    a "near-dups OF this subset" restriction into candidate generation —
    the decontamination shape: probe = eval split. Only band buckets
    containing >= 1 probe member enter the pair explode, and in-bucket
    enumeration is probe × members instead of all-pairs, so the train×train
    pair mass (~(1-p)² of the whole for probe fraction p) is never
    computed, shuffled, or verified. Contract: output ⊇ {verified pairs
    with >= 1 probe member} and ⊆ the unrestricted output — exact equality
    without ``collapse_exact_dups``; under collapse the restriction applies
    at duplicate-group granularity (a group counts as probe iff ANY member
    satisfies the predicate; NULL = non-probe), so a probe-containing
    group's train members may contribute extra train×train pairs. Callers
    keeping only probe-touching pairs (as decontamination does) get
    identical results either way, which is why the unrestricted oracle
    stays valid.
    """
    from pyrecount_spark.operators.dedup import (
        minhash_candidate_pairs,
        probe_restricted_candidate_pairs,
    )

    if (num_planes is None) != (band_size is None):
        # A mixed specification is ambiguous: auto_lsh_banding derives BOTH
        # knobs together, so honoring it would silently overwrite the one
        # the caller pinned (e.g. band_size=8 with num_planes=None would
        # come back with a derived band_size).  Refuse loudly instead.
        raise ValueError(
            "lsh_verified_pairs: num_planes and band_size must be both set "
            f"or both None (got num_planes={num_planes}, band_size={band_size}); "
            "auto-derivation replaces both knobs together"
        )
    if num_planes is None:
        num_planes, band_size, auto_guard = auto_lsh_banding(embeddings.count())
        if max_bucket_docs is None:
            max_bucket_docs = auto_guard
    if max_bucket_docs is None:
        max_bucket_docs = 4096

    if collapse_exact_dups:
        cols = [F.col(id_col), F.col(vec_col)]
        if probe_predicate is not None:
            cols.append(probe_predicate.cast("boolean").alias("_mprobe"))
        keyed = embeddings.select(*cols)
        # group-granular probe flag computed INSIDE the existing rep
        # aggregation (a group is probe iff ANY member satisfies the
        # predicate) — a separate groupBy-over-members + join-back would
        # add two more shuffles of the vector-keyed pipeline for the same
        # information
        aggs = [F.min(id_col).alias("_rep")]
        if probe_predicate is not None:
            aggs.append(
                F.max(F.coalesce(F.col("_mprobe"), F.lit(False))).alias("_gprobe")
            )
        rep = keyed.groupBy(vec_col).agg(*aggs)
        members = keyed.join(rep, vec_col).select(
            id_col, "_rep", vec_col,
            *(["_gprobe"] if probe_predicate is not None else []),
        )
        rep_cols = [id_col, vec_col] + (
            ["_gprobe"] if probe_predicate is not None else []
        )
        reps_df = members.filter(F.col(id_col) == F.col("_rep")).select(*rep_cols)
        rep_edges = lsh_verified_pairs(
            reps_df, threshold, num_planes, band_size, dim, id_col, vec_col,
            probe_predicate=F.col("_gprobe") if probe_predicate is not None else None,
            max_bucket_docs=max_bucket_docs,
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
                "cos_sim",
            )
        )
        # train-only duplicate groups can never yield a probe-touching
        # pair — skip their intra fan-out entirely (filter on the group
        # flag already riding on the representative rows)
        selfcos_src = (
            reps_df.filter(F.col("_gprobe"))
            if probe_predicate is not None
            else reps_df
        )
        selfcos = selfcos_src.select(
            F.col(id_col).alias("_rep"),
            F.round(cosine(F.col(vec_col), F.col(vec_col)), 4).alias("cos_sim"),
        ).filter(F.col("cos_sim") >= threshold)
        grp = m.join(selfcos, "_rep")
        # Salted self-join: spread each dup group's Ω(output) pair emission
        # across `salt` tasks instead of one; identical output to the plain
        # equi-join (property-tested), so the un-collapsed oracle holds.
        from pyrecount_spark.operators.skew import salted_join

        intra = (
            salted_join(
                grp.select("_rep", "cos_sim", F.col(id_col).alias("_xa")),
                grp.select("_rep", F.col(id_col).alias("_xb")),
                on=["_rep"],
                salt=16,
            )
            .filter(F.col("_xa") < F.col("_xb"))
            .select(
                F.col("_xa").alias("id_a"),
                F.col("_xb").alias("id_b"),
                "cos_sim",
            )
        )
        return cross.union(intra)

    if probe_predicate is not None:
        src = embeddings.withColumn("_probe", probe_predicate.cast("boolean"))
        buckets = lsh_band_buckets(
            src, num_planes, band_size, dim, id_col, vec_col,
            extra_cols=("_probe",),
        )
        cand = probe_restricted_candidate_pairs(
            buckets, id_col, max_bucket_docs=max_bucket_docs
        )
    else:
        buckets = lsh_band_buckets(
            embeddings, num_planes, band_size, dim, id_col, vec_col
        )
        # Same (band, bucket) shape as MinHash banding — the in-bucket
        # combination explode computes the signature pipeline once instead
        # of twice (a self-join recomputes the aliased side; no exchange
        # reuse).
        cand = minhash_candidate_pairs(buckets, id_col, max_bucket_docs)
    # norms ride with the vector sides, computed ONCE per document instead
    # of once per candidate pair (round-15, guide §1.2): norm(v) is a pure
    # function of the array, so dot/(na*nb) is the identical double to
    # cosine()'s dot/(norm(a)*norm(b)) — two 64-element folds per pair
    # removed from the verify projection.
    ea = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def collect_centroids(
    corpus: DataFrame, num_centroids: int | None, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Driver-side (cid, vector) centroid list — bounded, broadcast-as-literal.

    ``num_centroids=None`` derives nlist from the corpus count
    (``auto_ivf_centroids`` — still bounded: O(√N) rows collected)."""
    if num_centroids is None:
        num_centroids = auto_ivf_centroids(corpus.count())
    rows = (
        corpus.orderBy(F.asc(id_col)).limit(num_centroids).select(id_col, vec_col).collect()
    )
    return [(row[id_col], [float(v) for v in row[vec_col]]) for row in rows]


def cell_expr(cents: list[tuple[int, list[float]]], vec_col: str) -> Column:
    """Nearest-centroid cell id as a pure projection over literal centroids.

    Round-14: one F.expr fragment (operators/exprs.py) — the per-centroid
    Column build was k x (dim lits + 4 lambda HOFs) of py4j round-trips,
    measured 4.9 s of pure driver chatter at k=8/dim=64 vs 0.46 s for the
    single-call string; values collect-identical."""
    from pyrecount_spark.operators.exprs import arr_sql, cosine_sql, qcol

    vc = qcol(vec_col)
    structs = [
        f"named_struct('s', round({cosine_sql(vc, arr_sql(cvec))}, "
        f"4), 't', CAST({-int(cid)} AS BIGINT), "
        f"'cid', CAST({int(cid)} AS BIGINT))"
        for cid, cvec in cents
    ]
    return F.expr(f"greatest({','.join(structs)}).cid")


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    num_centroids: int | None = 8,
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe: score only vectors in the query's ``nprobe`` nearest cells.

    At 100 TB: write the lake partitioned by ``_cell`` and the probe prunes
    to nprobe/num_centroids of the files before any compute (partition
    pruning on the literal cell ids); scoring stays a narrow map + top-k.
    """
    cents = collect_centroids(embeddings, num_centroids, EMB_ID, EMB_VEC)
    cell = cell_expr(cents, EMB_VEC)
    assigned = embeddings.withColumn("_cell", cell)
    # Multi-probe: rank ALL cells by the query→centroid cosine (the same
    # rounded score + cid tiebreak the assignment uses) and probe the top
    # ``nprobe`` — recovers neighbors that fall just across a cell boundary.
    # sort_array(desc) on (s, -cid, cid) structs == ORDER BY s DESC, cid ASC;
    # still a pure projection over literal centroids, zero extra shuffles.
    from pyrecount_spark.operators.exprs import arr_sql, cosine_sql, qcol

    _vc = qcol(EMB_VEC)
    ranked = F.expr(
        "sort_array(array("
        + ",".join(
            f"named_struct('s', round({cosine_sql(_vc, arr_sql(cvec))}, 4), "
            f"'t', CAST({-int(cid)} AS BIGINT), 'cid', CAST({int(cid)} AS BIGINT))"
            for cid, cvec in cents
        )
        + "), false)"
    )
    q_cells = (
        query.select(
            F.explode(F.slice(ranked, 1, nprobe)).alias("_probe"),
            F.col(EMB_VEC).alias("_qvec"),
        )
        .select(F.col("_probe.cid").alias("_qcell"), "_qvec")
    )
    candidates = assigned.join(
        F.broadcast(q_cells), on=assigned["_cell"] == q_cells["_qcell"]
    )
    scored = candidates.select(
        EMB_ID, F.round(cosine(F.col(EMB_VEC), F.col("_qvec")), 4).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(EMB_ID)).limit(k)


def quantize_int8_stats(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column, summarized.

    scale = max|component| / 127; q_i = round(v_i / scale) ∈ [-127, 127].
    Emits per-vector norm/scale stats, the quantized checksum (sum, min,
    max — proves the full int8 vector bit-matches without array-valued
    output), and the max dequantization error. All per-row array
    expressions — the ANN-index prep pass is a narrow scan at any scale;
    at 100 TB the int8 vectors cut index memory 4× before IVF/LSH builds.
    """
    v = F.transform(F.col(EMB_VEC), lambda x: x.cast("double"))
    l2 = norm(F.col(EMB_VEC))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = max_abs / F.lit(127.0)
    q = F.transform(v, lambda x: F.round(x / scale).cast("long"))
    err = F.array_max(
        F.zip_with(q, v, lambda qi, xi: F.abs(qi.cast("double") * scale - xi))
    )
    return embeddings.select(
        EMB_ID,
        F.round(l2, 6).alias("l2_norm"),
        F.round(max_abs, 6).alias("max_abs"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.round(err, 6).alias("max_dequant_err"),
    )


def mean_pool_vectors(df: DataFrame, vec_col: str, group_col: str) -> DataFrame:
    """Elementwise mean of an ``array<float>`` column per group, reassembled
    as an array — the class-centroid / chunk→document pooling primitive.

    Vectors are quantized to integer millionths before summing (exact
    integer partials — no float-order nondeterminism across partitions),
    averaged in one (group, dim) hash aggregate with map-side combine, then
    reassembled via sort_array(collect_list(struct(dim, val))): the struct
    sort pins dimension order, so the output array is deterministic.

    Two shuffles total — (group, dim) then group — both on bounded keys
    (n_groups × dim, then n_groups). Assumes equal-length vectors per
    group (embedding tables guarantee this by construction).

    Returns (group_col, n_vectors, centroid: array<double>).
    """
    dims = df.select(
        group_col,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"),
    ).select(
        group_col,
        "dim",
        F.round(F.col("v") * _QUANT).cast("long").alias("q"),
    )
    per_dim = dims.groupBy(group_col, "dim").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1)) / float(_QUANT)).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_dim.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): split each vector into m subspaces,
# k-means each subspace into a tiny codebook, store only the m code ids
# (m·log2(k) bits per vector instead of dim floats), and answer queries
# with ADC — the query's distance to each codebook centroid is a small
# lookup table, so the scan over compressed codes is a narrow projection.
# The memory-bound trick behind billion-vector ANN; composes with IVF
# (ivf_topk) as IVF-PQ.
# ---------------------------------------------------------------------------
def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    subdim: int = 16,
    k: int = 4,
    iters: int = 1,
) -> list[list[tuple[int, list[float]]]]:
    """Train one codebook per subspace: seedless init (k lowest-id
    sub-vectors) + ``iters`` Lloyd rounds, all rounded like kmeans_lloyd so
    the trajectory replays in SQL. Driver state: m·k·subdim floats.

    All m subspaces train FUSED: one collect seeds every codebook (the
    init rows are the same k lowest-id vectors for every subspace, sliced
    driver-side), and each Lloyd round is ONE whole-corpus aggregate with
    m·k·subdim conditional means (avg over when(cluster==c) — null rows
    ignored, empty clusters keep their centroid, exactly the
    ``lloyd_update`` semantics). Sequential per-subspace training scanned
    the corpus m times per round; at 100 TB the fused scan is the only
    acceptable shape. Round-6 quantization after every mean absorbs
    summation-order noise, the same contract that makes the trajectory
    engine-portable."""
    init_rows = (
        embeddings.orderBy(F.asc(EMB_ID)).limit(k).select(EMB_ID, EMB_VEC).collect()
    )
    books: list[list[tuple[int, list[float]]]] = [
        [
            (i, [float(v) for v in r[EMB_VEC][s * subdim : (s + 1) * subdim]])
            for i, r in enumerate(init_rows)
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        # one (subspace, cluster, sub-vector) row per vector per subspace —
        # assignment evaluated once per (row, s) in the projection, then
        # ONE groupBy(s, cl) with only `subdim` avg aggregates (a flat
        # m·k·subdim conditional-avg aggregate trips the whole-stage
        # codegen field limit and runs interpreted). Shuffle payload is
        # m·k·subdim partial sums per task — map-side combined, bounded.
        from pyrecount_spark.operators.exprs import qcol as _q

        structs = [
            F.struct(
                F.lit(s).cast("int").alias("s"),
                nearest_centroid_col(
                    books[s], f"slice({_q(EMB_VEC)}, {s * subdim + 1}, {subdim})"
                )
                .getField("cluster")
                .alias("cl"),
                F.slice(F.col(EMB_VEC), s * subdim + 1, subdim).alias("sub"),
            )
            for s in range(m)
        ]
        exploded = embeddings.select(
            F.explode(F.array(*structs)).alias("e")
        ).select("e.s", "e.cl", "e.sub")
        means = exploded.groupBy("s", "cl").agg(
            *[
                F.round(
                    F.avg(F.element_at(F.col("sub"), d + 1).cast("double")), 6
                ).alias(f"m{d}")
                for d in range(subdim)
            ]
        )
        got = {
            (int(r["s"]), int(r["cl"])): [float(r[f"m{d}"]) for d in range(subdim)]
            for r in means.collect()
        }
        books = [
            [(cid, got.get((s, cid), old)) for cid, old in books[s]]
            for s in range(m)
        ]
    return books


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    subdim: int = 16,
) -> DataFrame:
    """Encode every vector as m code ids — ONE narrow projection (codebook
    centroids are literals), zero shuffles at any corpus size."""
    from pyrecount_spark.operators.exprs import qcol as _q

    cols = [F.col(EMB_ID)]
    for s, cents in enumerate(books):
        sub_sql = f"slice({_q(EMB_VEC)}, {s * subdim + 1}, {subdim})"
        cols.append(
            nearest_centroid_col(cents, sub_sql).getField("cluster").alias(f"code_{s}")
        )
    return embeddings.select(*cols)


def nearest_centroid_col(cents: list[tuple[int, list[float]]], sub_sql: str) -> Column:
    """nearest_centroid over a SQL fragment (clustering.nearest_centroid
    takes a column NAME; slices pass their fragment, e.g.
    ``slice(`embedding`, 17, 16)``). Round-14: one F.expr call — see
    operators/exprs.py for the measured py4j-round-trip rationale."""
    from pyrecount_spark.operators.exprs import arr_sql, sq_dist_sql

    structs = [
        f"named_struct('dist', round({sq_dist_sql(sub_sql, arr_sql(cvec))}, "
        f"6), 'cluster', CAST({int(cid)} AS BIGINT))"
        for cid, cvec in cents
    ]
    # k=1: least() requires >= 2 args; the single struct IS the argmin
    return F.expr(structs[0] if len(structs) == 1 else f"least({','.join(structs)})")


def pq_adc_topk(
    embeddings: DataFrame,
    query: list[float],
    books: list[list[tuple[int, list[float]]]],
    k_results: int = 20,
    subdim: int = 16,
) -> DataFrame:
    """ADC top-k: per-subspace query→centroid distances form an m×k lookup
    table of LITERALS; the estimated distance of every vector is the sum of
    m table lookups selected by its codes — a pure narrow map over the
    encoded corpus followed by TakeOrderedAndProject. The corpus's float
    payload is never touched at query time (the PQ premise).
    """
    from pyrecount_spark.operators.exprs import arr_sql

    codes = pq_encode(embeddings, books, subdim)
    terms = []
    for s, cents in enumerate(books):
        q_sub = query[s * subdim : (s + 1) * subdim]
        lut = [
            round(
                sum((a - b) * (a - b) for a, b in zip(q_sub, cvec)), 6
            )
            for _, cvec in cents
        ]
        terms.append(
            f"element_at({arr_sql(lut)}, CAST((`code_{s}` + 1) AS INT))"
        )
    est = F.expr(" + ".join(terms))
    return (
        codes.select(EMB_ID, F.round(est, 6).alias("est_dist"))
        .orderBy(F.asc("est_dist"), F.asc(EMB_ID))
        .limit(k_results)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    books: list[list[tuple[int, list[float]]]],
    k_results: int = 10,
    num_centroids: int | None = 8,
    subdim: int = 16,
) -> DataFrame:
    """IVF-PQ: coarse IVF cell prune, then PQ-ADC ranking of the surviving
    candidates — the standard billion-scale layout (Jégou et al. 2011 §V):
    the inverted lists bound how much of the corpus is touched, the code
    lookups bound how much of each candidate is read. Everything up to the
    final top-k is a narrow projection over literal centroids/codebooks;
    at scale the cell filter is partition pruning on a `_cell`-partitioned
    lake, so non-probed cells are never even scanned.
    """
    cents = collect_centroids(embeddings, num_centroids, EMB_ID, EMB_VEC)
    cell = cell_expr(cents, EMB_VEC)
    assigned = embeddings.withColumn("_cell", cell)
    qrow = (
        embeddings.filter(F.col(EMB_ID) == query_vec_id)
        .select(cell.alias("_qc"), F.col(EMB_VEC).alias("_qv"))
        .collect()[0]
    )
    query = [float(v) for v in qrow["_qv"]]
    cand = assigned.filter(F.col("_cell") == F.lit(int(qrow["_qc"])))
    return pq_adc_topk(cand, query, books, k_results=k_results, subdim=subdim)
