"""Relational core: projections, filters, joins, unions, aggregates.

Re-expresses SURVEY.md §2.2 (P1-P9), §2.3 (J1-J4), §2.4 (A1-A3), §2.5 (O1),
§2.6 (U1-U2) as idiomatic Spark. Reference citations point at
``/root/reference/src/pyrecount/accessor.py`` (semantics source only — the
implementation here is new, Spark-first).

Scale notes
-----------
- ``multi_join`` broadcasts every right side by default: the reference's J1
  join (accessor.py:470) folds *small per-project metadata files* — at
  cluster scale these are dimension tables and must not shuffle the fact side.
- ``align_union`` is ``unionByName(allowMissingColumns=True)`` — the exact
  built-in for the reference's hand-rolled ``_add_missing_columns`` + concat
  (accessor.py:181-207, 507-510). Union is shuffle-free in Spark.
- ``top_k`` relies on Catalyst planning ``TakeOrderedAndProject`` — per-
  partition heaps + a single driver merge, never a global sort.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keep_list_project(df: DataFrame, first: str, keep: Sequence[str]) -> DataFrame:
    """P1 (accessor.py:267-278): keep a leading id column plus a requested
    column list; raise on missing columns instead of silently dropping."""
    missing = [c for c in keep if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")
    return df.select(first, *[c for c in keep if c != first])


def isin_filter(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """P4 (accessor.py:482-486; example.py:28-30). Catalyst pushes the IN
    predicate into the parquet scan (row-group pruning on min/max stats)."""
    return df.filter(F.col(col).isin(list(values)))


def multi_join(
    dfs: Sequence[DataFrame],
    on: Sequence[str],
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """J1 (accessor.py:470, 491-499): fold N frames with an equi-join on a
    composite key. ``broadcast_right`` hints every non-first side small."""
    if not dfs:
        raise ValueError("multi_join needs >=1 frame")
    hint = (lambda d: F.broadcast(d)) if broadcast_right else (lambda d: d)
    return reduce(lambda left, right: left.join(hint(right), on=list(on), how=how), dfs)


def align_merge(
    left: DataFrame, right: DataFrame, on: Sequence[str], coalesce_cols: Sequence[str] = ()
) -> DataFrame:
    """J2 (accessor.py:388, ``pl.concat(how="align")``): full-outer join on a
    shared key where non-key columns are disjoint; shared non-key columns are
    coalesced left-first. In the long-format canonical design this operator
    disappears into ``align_union`` — kept for wide-format compatibility."""
    shared = [c for c in coalesce_cols if c in left.columns and c in right.columns]
    l, r = left.alias("l"), right.alias("r")
    out = l.join(r, on=list(on), how="full")
    for c in shared:
        out = out.withColumn(c, F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")))
    return out


def align_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """U2 (accessor.py:507-510 + 181-207): schema-aligning vertical union.
    Missing columns become typed nulls — subsumes P3 + P9 in one built-in."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def group_count(df: DataFrame, keys: Sequence[str], count_name: str = "cnt") -> DataFrame:
    """A1 (example.py:21-23): hash aggregate with map-side partial combine
    (Catalyst plans partial_count → exchange → final_count automatically)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))


def distinct_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """A2 (accessor.py:339, 512)."""
    return df.select(*subset).distinct() if subset else df.distinct()


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """O1 (example.py:22) + limit: planned as TakeOrderedAndProject.
    Callers must pass a *total* order (include a unique tiebreaker) or the
    returned row set is nondeterministic at ties."""
    return df.orderBy(*order).limit(k)


def semi_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], broadcast: bool = False
) -> DataFrame:
    """EXISTS — not in the reference (SURVEY §2.3 gap list). No hint by
    default: the planner broadcasts the build side when its stats fit the
    threshold (AQE re-checks at runtime); pass ``broadcast=True`` only for
    sides that are provably bounded regardless of data scale."""
    right = F.broadcast(right) if broadcast else right
    return left.join(right, on=list(on), how="left_semi")


def anti_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], broadcast: bool = False
) -> DataFrame:
    """NOT EXISTS — reference gap list; used for COO dim validation (Q5).
    Same broadcast policy as ``semi_join``."""
    right = F.broadcast(right) if broadcast else right
    return left.join(right, on=list(on), how="left_anti")


def merge_upsert(target: DataFrame, updates: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """MERGE semantics without a table format: updates win on key collision,
    unmatched target rows pass through, unmatched update rows insert.

    Plan shape: ONE left-anti join (target vs update keys) + union — the
    anti join's build side is just the update KEYS, so it broadcasts
    whenever the update batch is small relative to the target (the common
    CDC case at 100 TB). On a real lake this pairs with
    ``land_parquet(partition_by=...)`` dynamic overwrite to rewrite only
    touched partitions.
    """
    keys = list(key_cols)
    survivors = target.join(updates.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(survivors)


def profile_table(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One-pass column profile: per column a row of (count, nulls, distinct,
    min, max) — values stringified so heterogeneous columns stack.

    All stats for all columns aggregate in a SINGLE scan (one agg node, no
    shuffle beyond the final 1-row reduce); the per-column rows are a
    driver-side stack of that one row — profiling 100 TB costs exactly one
    pass. approx_count_distinct would make `distinct` sketch-cheap; exact
    kept here for oracle parity.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__count"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__count").alias("n"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def hex_to_long(hex_col_name: str, n_chars: int = 15) -> Column:
    """First ``n_chars`` hex nibbles of the named column as a positive long
    (Horner fold via ``locate`` — no conv(), so the identical expression
    runs in DuckDB). 15 nibbles = 60 bits, safely inside int64."""
    acc: Column = F.lit(0).cast("long")
    for i in range(1, n_chars + 1):
        nib = F.expr(
            f"locate(substring({hex_col_name}, {i}, 1), '0123456789abcdef') - 1"
        )
        acc = acc * 16 + nib
    return acc


def table_fingerprint(
    df: DataFrame,
    canon_cols: Sequence[Column],
    group_col: str | None = None,
) -> DataFrame:
    """Order-insensitive table checksum for replica/migration verification.

    Row hash = md5 of the '|'-joined canonicalized columns (callers
    canonicalize: NULL sentinels, money as integer cents, timestamps as
    fixed-format strings — otherwise two correct replicas hash apart).
    Rows combine with ``bit_xor`` (commutative, overflow-free at any row
    count — a SUM would overflow past ~2^63/hash) plus a row count: equal
    (n_rows, fingerprint) pairs mean equal row multisets up to xor-
    cancelling duplicate pairs, which the count catches in practice.

    Scale: one narrow hash pass, partial xor/count map-side, shuffle
    carries one (group, 2×long) row per task — the cheapest possible
    cross-replica audit of a 100 TB table.
    """
    row_hash = F.md5(F.concat_ws("|", *canon_cols)).alias("_fp_hex")
    base = df.select(*( [group_col] if group_col else [] ), row_hash)
    h = hex_to_long("_fp_hex").alias("_h")
    hashed = base.select(*( [group_col] if group_col else [] ), h)
    keys = [group_col] if group_col else []
    return hashed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(_h)").alias("fingerprint"),
    )


def snapshot_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Key-level reconciliation of two table snapshots: one row per key with
    ``change_type`` in {added, removed, changed, unchanged}.

    Each side reduces to (key, row_hash) — md5 over to_json of a STRUCT of
    the compare columns, so nulls and delimiter-looking values are encoded
    unambiguously: JSON carries field names and escapes content, where a
    concat_ws hash collapses (NULL,'b') with ('b',NULL) and ('a|b','c')
    with ('a','b|c') into "unchanged". (xxhash64(struct(...)) would NOT
    fix this: Spark's hash expressions treat null fields as a no-op on the
    seed chain, so null-position swaps still collide.) Then ONE full-outer
    equi-join on the key decides the type. The hash only has to be
    consistent WITHIN the engine (it is compared side-to-side, never
    exported), so no cross-engine hash contract is needed. Scale: two
    narrow scans + one key shuffle each — the cheapest way to diff two
    100 TB snapshots; at petabyte scale the same shape runs per
    partition-bucket to bound the join.
    """
    def hashed(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *key_cols,
            F.md5(
                F.to_json(F.struct(*[F.col(c).alias(c) for c in compare_cols]))
            ).alias(f"_h_{tag}"),
        )

    l = hashed(left, "l")
    r = hashed(right, "r")
    joined = l.join(r, on=list(key_cols), how="full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_h_l").isNull(), F.lit("added"))
        .when(F.col("_h_r").isNull(), F.lit("removed"))
        .when(F.col("_h_l") != F.col("_h_r"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )


def cdc_compact(
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    payload_cols: Sequence[str],
    delete_predicate: Column,
) -> DataFrame:
    """Compact a CDC changelog to final state: keep each key's LAST record
    by the (total-ordered) sequence columns, dropping keys whose last
    record is a delete — the log-compaction every upsert lake table needs.

    ONE groupBy(key) with a struct-max aggregate (seq cols lead the struct,
    so lexicographic max = latest; partial aggregation combines map-side —
    no window, no per-key sort of the whole log). The delete predicate is
    evaluated on the surviving record only.
    """
    ordered = F.struct(
        *[F.col(c).alias(f"_s{i}") for i, c in enumerate(seq_cols)],
        F.struct(*[F.col(c).alias(c) for c in payload_cols]).alias("_p"),
        delete_predicate.alias("_del"),
    )
    last = changelog.groupBy(*key_cols).agg(F.max(ordered).alias("_last"))
    return last.filter(~F.col("_last._del")).select(
        *key_cols,
        *[F.col(f"_last._p.{c}").alias(c) for c in payload_cols],
    )
