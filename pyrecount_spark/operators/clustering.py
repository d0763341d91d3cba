"""K-means (Lloyd) clustering over the embedding column — the iterative
refinement behind the IVF coarse quantizer (similarity.py's
``ivf_topk``).

Scale design
------------
Each Lloyd iteration is:

1. **Assignment** — nearest centroid per vector. Centroids live on the
   driver (k × dim doubles — bounded) and are embedded as LITERALS, so the
   assignment is a pure narrow projection (zero shuffles, whole-stage
   codegen), exactly the IVF ``cell_expr`` pattern. A cross-join + window
   argmin would shuffle the corpus k×.
2. **Update** — per-cluster mean. ONE groupBy(cluster) with ``dim``
   per-dimension ``avg`` aggregates (no explode: exploding dims would
   multiply shuffle volume dim×); partial aggregation combines map-side,
   so the shuffle carries k × dim running sums per task, not data.

Engine-portable determinism (the PageRank trick, graph.py): distances are
ROUNDED to 6 decimals BEFORE the argmin (ties broken by centroid id), and
centroid components are rounded after every mean — float summation-order
noise between engines is quantized away at each step, so the full
trajectory replays exactly in the DuckDB oracle's unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Decimals kept in distances before the argmin and in centroid components.
_DIGITS = 6
# Id and vector columns of the embeddings table.
EMB_ID, EMB_VEC = "vec_id", "embedding"

def sq_dist(vec_col: Column, lit_vec: Column) -> Column:
    """Sequential-fold squared-L2 distance (deterministic accumulation)."""
    return F.aggregate(
        F.zip_with(
            vec_col,
            lit_vec,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_centroid(cents: list[tuple[int, list[float]]], vec_col: str) -> Column:
    """(cluster, dist) struct of the nearest literal centroid — narrow map.

    ``F.least`` over (rounded dist, cid) structs = argmin with the id
    tiebreak; rounding before ranking makes the boundary engine-stable."""
    # MEASURED NEGATIVE (round 8): replacing sq_dist with an unrolled
    # per-centroid 64-term expression made the k=59 assignment SLOWER
    # (advsf1 100 s -> 159 s; sf0.01 3.9 s -> 8.1 s): k structs multiply
    # the tree to ~15k nodes, past the janino 64 KB method envelope, so
    # codegen falls back / splits and compile time dominates. The HOF
    # interpreter with k small trees wins here — unrolling pays only when
    # ONE unrolled expression replaces ONE interpreted HOF,
    # not k of them side by side.
    #
    # Round-14: built as ONE SQL fragment via F.expr (operators/exprs.py)
    # — the per-centroid Column construction was k x (dim lits + a lambda
    # HOF) of synchronous py4j round-trips, seconds of driver time at
    # k=59 before Spark saw the plan. Identical analyzed expression
    # (same folds, casts, rounding, field names), so identical values.
    from pyrecount_spark.operators.exprs import arr_sql, qcol, sq_dist_sql

    vc = qcol(vec_col)
    structs = [
        f"named_struct('dist', round({sq_dist_sql(vc, arr_sql(cvec))}, "
        f"{_DIGITS}), 'cluster', CAST({int(cid)} AS BIGINT))"
        for cid, cvec in cents
    ]
    # k=1: least() requires >= 2 args; the single struct IS the argmin
    return F.expr(structs[0] if len(structs) == 1 else f"least({','.join(structs)})")


def lloyd_update(
    assigned: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    dim: int,
) -> list[tuple[int, list[float]]]:
    """One centroid update: per-cluster per-dimension mean, rounded.

    64 ``avg`` aggregates over one groupBy(cluster) — no dim explode, so the
    shuffle moves k × dim partial sums per task. Clusters that captured no
    vectors keep their previous centroid (deterministic; matters only for
    degenerate inits)."""
    means = assigned.groupBy("_cluster").agg(
        *[
            F.round(F.avg(F.element_at(F.col(vec_col), d + 1).cast("double")),
                    _DIGITS).alias(f"m{d}")
            for d in range(dim)
        ]
    )
    got = {
        int(r["_cluster"]): [float(r[f"m{d}"]) for d in range(dim)]
        for r in means.collect()
    }
    return [(cid, got.get(cid, old)) for cid, old in cents]


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means: ``iters`` assignment/update rounds, then the final
    assignment. Init = the k lowest-id vectors (seedless, deterministic).

    Returns (id, cluster, dist) under the final centroids. Total cost:
    ``iters`` × (narrow scan + one k-group shuffle of bounded partials) —
    the textbook distributed Lloyd, linear in corpus size.
    """
    init_rows = (
        embeddings.orderBy(F.asc(EMB_ID)).limit(k).select(EMB_ID, EMB_VEC).collect()
    )
    cents = [
        (int(r[EMB_ID]), [float(v) for v in r[EMB_VEC]]) for r in init_rows
    ]
    for _ in range(iters):
        assigned = embeddings.withColumn(
            "_cluster", nearest_centroid(cents, EMB_VEC).getField("cluster")
        )
        cents = lloyd_update(assigned, cents, EMB_VEC, dim)
    final = nearest_centroid(cents, EMB_VEC)
    return embeddings.select(
        EMB_ID,
        final.getField("cluster").alias("cluster"),
        final.getField("dist").alias("dist"),
    )
