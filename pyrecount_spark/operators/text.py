"""Text-analysis operators for training-data pipelines (SURVEY.md §2.10).

All native Catalyst expressions — tokenization, shingling, quality stats,
language ID, and fingerprinting run JVM-side inside whole-stage codegen.
At 100 TB the per-document work is embarrassingly parallel (narrow maps);
the only shuffles are the explicit groupBys/joins in dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(text), r"\s+")


def word_shingles(
    df: DataFrame, text_col: str, n: int, id_col: str, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document, as (id, shingle) rows (distinct by
    default).

    ``explode(sequence(...))`` generates start positions inside each row's
    task — a narrow transformation; no shuffle until the consumer aggregates.
    Documents shorter than ``n`` tokens yield no shingles (explicit empty
    branch — Spark's ``sequence(1, 0)`` would count *down*, not empty).
    ``distinct=False`` skips the dedup shuffle for consumers whose aggregate
    is duplicate-insensitive (min/max — e.g. MinHash).
    """
    base = df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    sz = F.size(F.col("_toks"))
    starts = F.when(sz >= n, F.sequence(F.lit(1), sz - (n - 1))).otherwise(
        F.expr("array()").cast("array<int>")
    )
    shingle = F.concat_ws(
        " ", *[F.element_at(F.col("_toks"), F.col("i") + j) for j in range(n)]
    )
    out_df = base.select(id_col, F.col("_toks"), F.explode(starts).alias("i")).select(
        id_col, shingle.alias("shingle")
    )
    return out_df.distinct() if distinct else out_df


def normalized_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of (lowercased, punctuation-stripped,
    whitespace-collapsed) text — the canonical exact-near-exact key."""
    norm = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm)


def quality_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / punctuation / digit / stopword ratios — integer counts first
    (exact), ratios derived and rounded by the caller."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_spaces = n_chars - F.length(F.regexp_replace(t, r" ", ""))
    n_digits = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^a-zA-Z0-9\s]", ""))
    n_tokens = F.size(tokens(t))
    return df.select(
        id_col,
        n_chars.cast("long").alias("n_chars"),
        n_spaces.cast("long").alias("n_spaces"),
        n_digits.cast("long").alias("n_digits"),
        n_punct.cast("long").alias("n_punct"),
        n_tokens.cast("long").alias("n_tokens"),
    )


# Rolling-hash (Rabin-Karp) winnowing parameters: character window W,
# guarantee window G, modulus M (fits every partial product in int64:
# terms < 256 * M < 2^39, sums of W terms < 2^42).
WINNOW_W = 8
WINNOW_G = 4
WINNOW_B = 256
WINNOW_M = (1 << 31) - 1


def _winnow_pows() -> list[int]:
    return [pow(WINNOW_B, k, WINNOW_M) for k in range(WINNOW_W)]


def winnowing_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et al.,
    "Winnowing: Local Algorithms for Document Fingerprinting").

    Over the normalized text: H(i) = Σ_j c_{i+j}·B^{W-1-j} mod M for every
    character window of width W (polynomial rolling hash), then one
    fingerprint per guarantee window of G consecutive hashes — its minimum
    (ties collapse via the distinct set). Integer-exact in any engine: no
    floats, powers precomputed mod M.

    Emits the per-document fingerprint-set summary (count / checksum /
    min / max) rather than the exploded set — same verification power
    (the checksum pins the whole set), bounded output. Pure narrow map:
    per-row array expressions only, no explode, no shuffle — like every
    quality pass, a 100 TB fingerprint run is a scan.
    """
    pows = _winnow_pows()
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]", ""), r"\s+", " "
        )
    )
    base = df.select(id_col, norm.alias("_s"))
    # Spark sequence(1, 0) counts DOWN — short inputs need explicit empty
    # branches (the word_shingles lesson, text.py:36-38).
    #
    # Shape: chars are decoded ONCE into an int array, then each window
    # hash is an UNROLLED 8-term polynomial over element_at — the previous
    # form evaluated aggregate(zip_with(array(...), transform(...))) per
    # window, i.e. two interpreted higher-order functions and two array
    # allocations × O(len) windows × O(W) steps; HOF lambdas never enter
    # codegen, and the round-8 decade measurement put that constant at
    # 2.2 ms/doc (335 s for 150k docs). The unrolled body is pure int64
    # arithmetic (max 8 terms × 122·2^31 < 2^41, one mod at the end —
    # identical values: (Σ t_j) mod M == stepwise (acc+t) mod M).
    # long literals: int32 pow × int32 ascii would overflow under ANSI.
    terms = " + ".join(
        f"element_at(_cs, i + {j}) * {pows[WINNOW_W - 1 - j]}L"
        for j in range(WINNOW_W)
    )
    chars = (
        "transform(sequence(1, length(_s)), i -> cast(ascii(substring(_s, i, 1)) as bigint))"
    )
    hashes = (
        f"CASE WHEN length(_s) >= {WINNOW_W} THEN"
        f" transform(sequence(1, length(_s) - {WINNOW_W - 1}),"
        f"  i -> ({terms}) % {WINNOW_M})"
        f" ELSE cast(array() as array<bigint>) END"
    )
    # guarantee-window minimum, likewise unrolled (least() over G=4 reads
    # instead of array_min(slice(...)) — slice allocates per window)
    g_least = ", ".join(f"element_at(_h, k + {g})" for g in range(WINNOW_G))
    mins = (
        f"CASE WHEN size(_h) >= {WINNOW_G} THEN"
        f" array_distinct(transform(sequence(1, size(_h) - {WINNOW_G - 1}),"
        f"  k -> least({g_least})))"
        f" ELSE cast(array() as array<bigint>) END"
    )
    withh = (
        base.withColumn("_cs", F.expr(chars))
        .withColumn("_h", F.expr(hashes))
        .withColumn("_fp", F.expr(mins))
    )
    return withh.select(
        id_col,
        F.size("_fp").cast("long").alias("n_fingerprints"),
        F.expr("aggregate(_fp, 0L, (a, x) -> a + x)").alias("fp_checksum"),
        F.array_min("_fp").alias("fp_min"),
        F.array_max("_fp").alias("fp_max"),
    )


# PII patterns (kind, regex, replacement) — RE2- and Java-regex compatible
# (no backreferences, no lookaround) so the Spark expression and the DuckDB
# oracle compile the IDENTICAL pattern. Order matters for redaction: emails
# before phones/IPs (an email's digits must not be phone-matched first).
PII_PATTERNS = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b", "[PHONE]"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
]


def denylist_pattern(terms: list[str]) -> str:
    """Case-insensitive whole-word alternation for a term denylist."""
    return "(?i)\\b(?:" + "|".join(terms) + ")\\b"


def pii_redact(
    df: DataFrame, text_col: str, id_col: str, denylist: list[str] | None = None
) -> DataFrame:
    """PII scrub for training corpora: count + redact emails, phones, IPv4
    addresses, and an optional case-insensitive term denylist.

    Counts are measured on the ORIGINAL text per pattern (independent, so a
    token matching two patterns counts in both); redaction chains the
    replacements in PII_PATTERNS order, then the denylist. The redacted
    text is pinned by md5 + length rather than returned (bounded output;
    the hash proves the whole transform byte-for-byte).

    Pure narrow map — regexp_count/regexp_replace are native codegen
    expressions; a 100 TB scrub is a scan with zero shuffles.
    """
    t = F.col(text_col)
    cols = [F.col(id_col)]
    for kind, pat, _ in PII_PATTERNS:
        cols.append(F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{kind}"))
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    if denylist:
        dpat = denylist_pattern(denylist)
        cols.append(F.regexp_count(t, F.lit(dpat)).cast("long").alias("n_denylist"))
        red = F.regexp_replace(red, dpat, "[TERM]")
    cols.append(F.length(red).cast("long").alias("redacted_len"))
    cols.append(F.md5(red).alias("redacted_md5"))
    return df.select(*cols)


def feature_hash_tf(
    df: DataFrame, text_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """Feature-hashing (hashing-trick) term-frequency vectors, long form.

    Each token is mapped to one of ``dim`` buckets by the first 32 bits of
    its md5 (content-addressed — no vocabulary broadcast, no fit pass, the
    point of the hashing trick at corpus scale: the "model" is stateless,
    so the transform is embarrassingly parallel and identical across
    engines/runs). Returns (id, bucket, tf): the sparse vector in long
    form, which downstream ops consume directly (a dense assembly is one
    ``sort_array(collect_list(struct(bucket, tf)))`` away).

    Scale: explode (narrow) + ONE groupBy(id, bucket) shuffle whose
    map-side combine collapses each partition's repeats before the
    exchange. No UDF, all whole-stage-codegen expressions.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % dim
    )
    return (
        tok.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
