"""Scale-path join operators absent from the reference (SURVEY §2.3 gap
list): binned range join and as-of join.

Both avoid the naive theta-join plan (BroadcastNestedLoop / cartesian) that
Catalyst falls back to for non-equi conditions — at 100 TB those are
non-starters.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_value: str,
    lo: str,
    hi: str,
    bin_width: float,
) -> DataFrame:
    """Join rows of ``left`` to every ``right`` interval containing
    ``left_value`` (lo <= v < hi), via bin bucketing.

    Each interval explodes to the bins it covers (narrow, bounded by
    interval_length/bin_width); each left row maps to exactly one bin; the
    join becomes an *equi* join on the bin id with a residual range filter.
    Shuffle is hash-partitioned by bin — the genomic-interval-overlap plan
    (SURVEY §2.3 note) and the standard Spark range-join strategy. Pick
    ``bin_width`` ≈ median interval length so fan-out stays O(1).
    """
    v = F.col(left_value)
    l_binned = left.withColumn("_bin", F.floor(v / bin_width).cast("long"))
    bins = F.sequence(
        F.floor(F.col(lo) / bin_width).cast("long"),
        F.floor((F.col(hi) - 1e-9) / bin_width).cast("long"),
    )
    r_binned = right.withColumn("_bin", F.explode(bins))
    joined = l_binned.join(r_binned, on="_bin").filter(
        (v >= F.col(lo)) & (v < F.col(hi))
    )
    return joined.drop("_bin")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with the same key
    and ``right_time <= left_time``.

    Union-merge implementation (no range join, no per-key collect): tag both
    sides, union, and carry the last-seen right values forward with
    ``last(..., ignorenulls)`` over a (key, time, side) window. ONE shuffle
    on the key — the plan a dedicated as-of operator (e.g. pandas
    ``merge_asof``, kdb ``aj``) would produce, expressed in pure DataFrame
    ops. Right rows sort *before* left rows at equal times ("at or before"
    semantics); ``tiebreak`` orders simultaneous right rows (latest wins).
    """
    on = list(on)
    tagged_left = left.withColumn("_t", F.col(left_time)).withColumn("_side", F.lit(1))
    tagged_right = (
        right.select(
            *on,
            F.col(right_time).alias("_t"),
            *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        ).withColumn("_side", F.lit(0))
    )
    # allowMissingColumns pads each side's absent columns with typed nulls
    merged = tagged_left.unionByName(tagged_right, allowMissingColumns=True)
    order = [F.col("_t").asc(), F.col("_side").asc()]
    if tiebreak:
        order.append(F.col(f"_r_{tiebreak}").asc_nulls_first())
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return (
        carried.filter(F.col("_side") == 1)
        .drop("_t", "_side", *[f"_r_{c}" for c in right_cols])
    )


# Size-gated broadcast ------------------------------------------------------

_SIZE_UNITS = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """All pairs (within ``block_cols`` groups) at Levenshtein distance
    ≤ ``k`` — via PassJoin partition signatures (Li, Deng, Feng, "PassJoin:
    A Partition-based Method for Similarity Joins", 2011), never an
    in-block all-pairs join.

    Why: blocking on a FIXED-cardinality key (a brand, a first letter)
    does NOT bound the fan-out — block sizes grow linearly with the
    corpus, so in-block pairs grow QUADRATICALLY (measured: 27.8× time on
    10× data for the brand-blocked shape at sf0.01→sf0.1). The partition
    signature is content-derived, so key cardinality grows WITH the
    corpus and per-key buckets stay small.

    Scheme: split each indexed string (length l ≥ k+1) into k+1
    contiguous segments (first ``l % (k+1)`` segments get the extra
    char). If ed(a, b) ≤ k, at most k segments of a can contain an edit
    position, so ≥ 1 segment survives VERBATIM in b, start-shifted by at
    most k (net insertions/deletions before it). Candidates are therefore
    an EQUI-join: index side emits (l, segment#, segment text) per
    string; probe side enumerates, for each hypothetical index length
    l ∈ [m-k, m+k] and segment#, the ≤ 2k+1 substrings in the shifted
    start window — a CONSTANT ≤ (2k+1)²(k+1) fan-out per row, all plain
    codegen expressions (static (Δl, seg#) combo array + a guarded
    ``sequence`` explode — no interpreted HOF lambdas). Pairs are
    canonicalized (least/greatest id, found from either direction — the
    lemma holds partitioning EITHER side), de-duplicated in the same
    shuffle, and exact-verified with ``levenshtein``. Strings shorter
    than k+1 chars (no non-empty segmentation) pair among themselves via
    a (block, length-window) equi-join — disjoint from the main path,
    which covers every pair whose LONGER side has ≥ k+1 chars.

    Returns (*block_cols, id_a, id_b, dist) with id_a < id_b, dist ≤ k.
    ``id_col`` must be unique per row.
    """
    nseg = k + 1
    blocks = list(block_cols)

    # the signature explodes + candidate join + partial distinct all run in
    # the SCAN's stage — over an under-split source that is 1-3 tasks for
    # the whole quadratic-ish pipeline (measured 7.1 s single-task at
    # sf0.1); widen_narrow_scan is the identity once the scan yields >=
    # cores splits (guide §2 scale-adaptive partitioning)
    from pyrecount_spark.operators.skew import widen_narrow_scan

    df = widen_narrow_scan(df, id_col)

    def _sides(tag: str):
        return df.select(
            *blocks,
            F.col(id_col).alias(f"_id{tag}"),
            F.col(text_col).alias(f"_n{tag}"),
        )

    # index: one row per (string, segment); segment arithmetic in integer
    # SQL (l div nseg / l % nseg) so probe enumeration reproduces it exactly
    idx = (
        _sides("a")
        .withColumn("_l", F.length("_na"))
        .filter(F.col("_l") >= nseg)
        .withColumn("_i", F.explode(F.array(*[F.lit(i) for i in range(nseg)])))
        .withColumn("_ln", F.expr(f"_l div {nseg} + if(_i < _l % {nseg}, 1, 0)"))
        .withColumn(
            "_p", F.expr(f"_i * (_l div {nseg}) + least(_i, _l % {nseg}) + 1")
        )
        .withColumn("_seg", F.expr("substring(_na, _p, _ln)"))
        .select(*blocks, "_ida", "_na", "_l", "_i", "_seg")
    )
    combos = F.array(
        *[
            F.struct(F.lit(dl).alias("dl"), F.lit(i).alias("i"))
            for dl in range(-k, k + 1)
            for i in range(nseg)
        ]
    )
    probe = (
        _sides("b")
        .withColumn("_m", F.length("_nb"))
        .withColumn("_c", F.explode(combos))
        .withColumn("_l", F.col("_m") + F.col("_c.dl"))
        .filter(F.col("_l") >= nseg)
        .withColumn("_i", F.col("_c.i"))
        .withColumn("_ln", F.expr(f"_l div {nseg} + if(_i < _l % {nseg}, 1, 0)"))
        .withColumn(
            "_p", F.expr(f"_i * (_l div {nseg}) + least(_i, _l % {nseg}) + 1")
        )
        .withColumn("_lo", F.greatest(F.lit(1), F.col("_p") - k))
        .withColumn("_hi", F.least(F.col("_m") - F.col("_ln") + 1, F.col("_p") + k))
        .filter(F.col("_lo") <= F.col("_hi"))
        .withColumn("_st", F.explode(F.sequence("_lo", "_hi")))
        .withColumn("_seg", F.expr("substring(_nb, _st, _ln)"))
        .select(*blocks, "_idb", "_nb", "_l", "_i", "_seg")
    )
    cand = idx.join(probe, on=blocks + ["_l", "_i", "_seg"]).filter(
        F.col("_ida") != F.col("_idb")
    )
    main = cand.select(
        *blocks,
        F.least("_ida", "_idb").alias("id_a"),
        F.greatest("_ida", "_idb").alias("id_b"),
        F.when(F.col("_ida") < F.col("_idb"), F.col("_na"))
        .otherwise(F.col("_nb"))
        .alias("_wa"),
        F.when(F.col("_ida") < F.col("_idb"), F.col("_nb"))
        .otherwise(F.col("_na"))
        .alias("_wb"),
    ).distinct()
    # strings with < k+1 chars: no non-empty segmentation exists, so pair
    # them among themselves (any pair with a >= k+1-char side is found by
    # the main path with that side as index). Length-window equi-key keeps
    # it off the cartesian path; the sub-corpus is strings shorter than
    # k+1 chars — degenerate for real identifier/name columns.
    shorts_a = (
        _sides("a")
        .withColumn("_l", F.length("_na"))
        .filter(F.col("_l") < nseg)
    )
    shorts_b = (
        _sides("b")
        .withColumn("_m", F.length("_nb"))
        .filter(F.col("_m") < nseg)
        .withColumn("_dl", F.explode(F.array(*[F.lit(d) for d in range(-k, k + 1)])))
        .withColumn("_l", F.col("_m") + F.col("_dl"))
        .filter(F.col("_l") >= 0)
    )
    short = (
        shorts_a.join(shorts_b, on=blocks + ["_l"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            *blocks,
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.col("_na").alias("_wa"),
            F.col("_nb").alias("_wb"),
        )
        .distinct()
    )
    return (
        main.unionByName(short)
        .withColumn("dist", F.levenshtein("_wa", "_wb").cast("long"))
        .filter(F.col("dist") <= k)
        .select(*blocks, "id_a", "id_b", "dist")
    )


def _parse_size_conf(v: str) -> int:
    """Spark byte-string conf value ("10MB", "10485760b", "-1") → bytes."""
    s = v.strip().lower()
    for u in sorted(_SIZE_UNITS, key=len, reverse=True):
        if s.endswith(u):
            return int(float(s[: -len(u)]) * _SIZE_UNITS[u])
    return int(s)


def broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (0 when disabled)."""
    v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    return max(_parse_size_conf(str(v)), 0)


def broadcast_if_small(
    df: DataFrame, est_bytes: int, threshold_bytes: int | None = None
) -> DataFrame:
    """Apply a broadcast hint only when a *measured* size estimate clears the
    threshold — the 100 TB guard for sides that scale with the corpus.

    An unconditional ``F.broadcast`` hint bypasses
    ``autoBroadcastJoinThreshold`` entirely: on a corpus-sized side it dies
    on the 8 GB broadcast-relation limit or driver OOM long before that.
    Callers pass ``est_bytes`` measured from the data (rows × row width via
    a cheap count over an already-materialized intermediate — measure,
    don't guess); above the threshold the frame is returned unhinted, the
    join falls back to a plain shuffle join, and AQE still converts it to a
    runtime broadcast whenever the actual shuffle bytes turn out small.
    Default threshold: the session's ``autoBroadcastJoinThreshold``.
    """
    if threshold_bytes is None:
        threshold_bytes = broadcast_threshold_bytes(df.sparkSession)
    if 0 <= est_bytes <= threshold_bytes:
        return F.broadcast(df)
    return df


# Bloom-filter semi-join reduction ----------------------------------------

BLOOM_K = 3  # hash functions per key
BLOOM_M_BITS = 1 << 16  # filter width


def _bloom_positions(key: Column, m_bits: int) -> list[Column]:
    """k bit positions for ``key``: the first 32 bits of prefix-salted md5,
    mod m. Content-derived — deterministic across engines and runs."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bf{i}:"), key.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % m_bits
        for i in range(BLOOM_K)
    ]


def bloom_filter_build(df: DataFrame, key_col: str, m_bits: int = BLOOM_M_BITS) -> list[int]:
    """Build a Bloom filter over ``df[key_col]`` as ``m_bits/64`` long words.

    Distributed build: each key contributes k (word, mask) pairs; ONE
    groupBy(word) with a bit_or aggregate (map-side combinable) reduces to
    at most m/64 rows, which are collected — the only driver transfer is
    the filter itself (8 KiB at m=2¹⁶), never the keys.
    """
    masks = []
    for pos in _bloom_positions(F.col(key_col), m_bits):
        masks.append(
            F.struct(
                (pos / 64).cast("long").alias("w"),
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                ).alias("m"),
            )
        )
    words = (
        df.select(F.explode(F.array(*masks)).alias("wm"))
        .groupBy(F.col("wm.w").alias("w"))
        .agg(F.bit_or("wm.m").alias("bits"))
        .collect()
    )
    filt = [0] * (m_bits // 64)
    for r in words:
        filt[r.w] = r.bits
    return filt


def bloom_might_contain(filt: list[int], key: Column | str, m_bits: int) -> Column:
    """Membership test against a driver-built filter, as a pure native
    expression: the filter words become an array LITERAL in the plan (the
    IVF-centroid trick), so the probe is a narrow map — no join, no
    broadcast variable, fully codegen'd.

    Round-14 (guide §7.3 driver diagnosis): pass ``key`` as a column NAME
    and the whole test renders as ONE SQL string handed to a single
    ``F.expr`` — the Column form built the m/64-word array literal with
    one py4j round-trip per word (1024 ``F.lit`` calls at m=2¹⁶, ~0.7 ms
    each) and re-referenced it per probe position, measured as 2.1 s of
    driver_s on a 2.48 s query. The fragment is the exact SQL spelling of
    the Column builder (double `/` division, int casts, shiftleft mask),
    so the analyzed plan — and the plan fingerprint — is identical; the
    Column path stays for callers holding a computed expression."""
    if isinstance(key, str):
        from pyrecount_spark.operators.exprs import qcol

        arr = "array(" + ",".join(f"{int(w)}L" for w in filt) + ")"
        kstr = f"CAST({qcol(key)} AS STRING)"
        conds = []
        for i in range(BLOOM_K):
            pos = (
                f"(CAST(conv(substring(md5(concat('bf{i}:', {kstr})), 1, 8), "
                f"16, 10) AS BIGINT) % {int(m_bits)})"
            )
            conds.append(
                f"((element_at({arr}, CAST(({pos} / 64) AS INT) + 1) & "
                f"shiftleft(1L, CAST(({pos} % 64) AS INT))) != 0)"
            )
        return F.expr(" AND ".join(conds))
    words = F.array(*[F.lit(w).cast("long") for w in filt])
    conds = []
    for pos in _bloom_positions(key, m_bits):
        word = F.element_at(words, (pos / 64).cast("int") + 1)
        conds.append(
            word.bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int"))
            )
            != 0
        )
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Equi-join with a Bloom semi-join reduction on the fact side.

    The classic 100 TB pattern for selective dim joins: build the filter
    over the dim keys (small), probe every fact row BEFORE the shuffle —
    rows failing the filter never enter the exchange, cutting shuffle
    volume by the dim's selectivity. False positives are eliminated by the
    real join that follows, so the result is EXACTLY the plain join (which
    is the oracle). Spark's own runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) does this adaptively;
    the explicit form is deterministic, engine-portable, and applies even
    where the optimizer declines.
    """
    filt = bloom_filter_build(dim, dim_key)
    pre = fact.filter(bloom_might_contain(filt, fact_key, BLOOM_M_BITS))
    return pre.join(dim, pre[fact_key] == dim[dim_key])
