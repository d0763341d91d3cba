"""Scalar layer: remaps, split-to-struct, conditional/arithmetic expressions.

SURVEY.md §2.7 F2-F9 as native Catalyst expressions (codegen-friendly).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# utils.py:6-9 — the reference's organism normalization (F3).
ORGANISM_REMAP = {"Homo sapiens": "human", "Mus musculus": "mouse"}


def value_remap(col: Column, mapping: Mapping[str, str]) -> Column:
    """F3: chained when/otherwise; unmatched values pass through (the
    reference's dict ``.get(x, x)`` semantics)."""
    out = col
    for k, v in mapping.items():
        out = F.when(col == k, F.lit(v)).otherwise(out)
    return out


def split_to_columns(
    df: DataFrame,
    col: str,
    sep: str,
    names: Sequence[str],
    casts: Mapping[str, str] | None = None,
) -> DataFrame:
    """F2 (accessor.py:548-560): split a composite key string (e.g. the exon
    key ``chrom|start|end|strand``) into typed columns. ``sep`` is a literal —
    regex-escaped internally. The source column is dropped."""
    import re as _re

    parts = F.split(F.col(col), _re.escape(sep))
    casts = casts or {}
    # F.get (not getItem): out-of-range positions yield typed NULL instead of
    # raising under ANSI mode — fields absent from the key stay null.
    exprs = [
        F.get(parts, i).cast(casts.get(name, "string")).alias(name)
        for i, name in enumerate(names)
    ]
    return df.select("*", *exprs).drop(col)


def round_ratio_half_up(num: Column, den: Column, digits: int) -> Column:
    """``ROUND(num / den, digits)`` for NONNEGATIVE integer numerator /
    denominator, computed in exact integer space — engine-portable where
    ``F.round`` of the double ratio is not.

    Why: ratios of counts land EXACTLY on decimal half-boundaries
    (round-8 adversarial finding: 3 docs had quantized-logprob sums with
    ``s % n == n/2``; jaccard = 33/160 = 0.20625 is the same shape), and
    there ``ROUND`` diverges across engines — Java's BigDecimal.valueOf
    rounds the SHORTEST decimal rendering ("-8.2092035" → half-up) while
    DuckDB rounds the binary double (…3499999… → down). The identity

        round_half_up(n/d, k) = floor((2·n·10^k + d) / (2·d)) / 10^k

    stays in integers: the numerator is exact in a double below 2^53
    (n ≤ 4.5·10^{15-k}), the quotient is either exact (when 2d divides)
    or ≥ 1/(2d) away from an integer — far beyond one ulp — so FLOOR is
    unambiguous in every IEEE-754 engine, and the final division by 10^k
    maps equal integers to bit-identical doubles. NULL when den = 0
    (``try_divide`` semantics). SQL twin:
    ``FLOOR((num * {2*10**k}.0 + den) / (2.0 * den)) / {10**k}.0``.

    The exactness envelope is ENFORCED, not assumed: the guarded quantity
    is the integer the FLOOR identity actually computes, 2·n·10^k + d —
    once IT exceeds 2^53 the half-up semantics silently degrade
    (cross-engine bit-identity still holds — both sides evaluate the same
    IEEE expression — but the result may no longer equal Decimal
    half-up). Bounding only the numerator is NOT enough: a corpus-scale
    DENOMINATOR alone can push the sum past 2^53 (e.g. digits=0,
    n=3.45e15, d=2.3e15: the sum 4d-1 rounds to 4d and the result comes
    out one whole unit high). Both n and d are corpus-wide counts at the
    100 TB design scale, so the guard bounds the sum at 9.0·10^15
    (conservatively under 2^53 = 9.007e15; the margin also absorbs the
    double-precision evaluation of the guard condition itself). With the
    sum bounded, FLOOR is provably unambiguous for every d (the quotient
    is exact, or ≥ 1/(2d) from an integer while the correctly-rounded
    division's error is below half the float spacing at q ≤ 4.5e15/d + 1).
    Beyond the bound a loud in-plan error names the fix (fewer digits, or
    pre-scale the units). Zero cost on the healthy path; the oracle twin
    needs no guard — it only ever runs where this side survived.

    Sign handling (round-11, was docstring-only): the FLOOR identity
    applied to a raw negative numerator rounds halves toward +inf — NOT
    Decimal ROUND_HALF_UP's away-from-zero — so the function folds the
    sign in itself: it runs the identity on |num|/|den| and multiplies by
    signum(num)·signum(den) (negate-and-flip; signum(0)=0 is harmless —
    the magnitude rounds to 0 there anyway). Every in-repo caller passes
    nonnegative counts, where this is the identical expression value; the
    negative domain is now correct rather than quietly wrong. With the
    magnitudes nonnegative the envelope guard is one-sided again
    (guarded_sum ≤ 9.0e15 — round-10's two-sided |sum| form existed only
    to catch raw negative sums, which can no longer occur).
    """
    scale = 10 ** digits
    n = F.abs(num.cast("double"))
    d = F.abs(den.cast("double"))
    sgn = F.signum(num.cast("double")) * F.signum(den.cast("double"))
    guarded_sum = n * float(2 * scale) + d
    r = F.floor(guarded_sum / (2.0 * d))
    val = F.when(den.cast("long") != 0, sgn * r / float(scale))
    return F.when(
        n.isNull() | d.isNull() | (guarded_sum <= F.lit(9.0e15)), val
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("round_ratio_half_up: 2*num*10^digits + den = "),
                guarded_sum.cast("string"),
                F.lit(
                    f" exceeds the digits={digits} exactness bound 9.0e15 "
                    "(2^53 envelope); half-up semantics would silently "
                    "degrade. Use fewer digits or pre-scale."
                ),
            )
        ).cast("double")
    )
