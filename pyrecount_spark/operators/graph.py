"""Graph analytics over candidate-pair graphs (SURVEY §2.10 extension).

``pagerank_fixed`` runs a FIXED number of power iterations with the rank
ROUNDED to 9 decimals after every step. The rounding is load-bearing
for portability: per-edge contributions are identical IEEE doubles in any
engine, but their summation order is not — rounding each iteration's output
collapses the ulp drift before it can compound, which is what lets a SQL
oracle replay the identical trajectory. (On a real ranking job the rounding
is harmless: it's far below any score difference that matters.)

Scale shape per iteration: one join (edges × ranks, both keyed by node —
a reused partitioning), one groupBy(dst) sum, one left join back to the
node set. Iterations are a driver loop; lineage is truncated per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge endpoint columns of the candidate-pair graph.
_A, _B = "id_a", "id_b"
# Decimals every PageRank / HITS step rounds to.
_DECIMALS = 9


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the undirected graph of ``edges`` (symmetrized), nodes
    = every endpoint. Returns (node, rank) after ``iterations`` steps.

    Symmetrization means no dangling nodes (every node has out-degree ≥ 1),
    so no dangling-mass redistribution term is needed.
    """
    sym = edges.select(F.col(_A).alias("src"), F.col(_B).alias("dst")).unionAll(
        edges.select(F.col(_B).alias("src"), F.col(_A).alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    n = nodes.count()
    teleport = (1.0 - damping) / n
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), _DECIMALS).alias("r"))
    for _ in range(iterations):
        contrib = (
            sym.join(ranks.withColumnRenamed("node", "src"), on="src")
            .join(deg.withColumnRenamed("node", "src"), on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("outdeg")).alias("m"))
        )
        ranks = nodes.join(contrib, on="node", how="left").select(
            "node",
            F.round(
                F.lit(teleport) + damping * F.coalesce(F.col("m"), F.lit(0.0)),
                _DECIMALS,
            ).alias("r"),
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def label_propagation_fixed(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    symmetrized edge graph: each step every node adopts the most frequent
    label among its neighbors, ties broken by the smallest label.

    Unlike PageRank this trajectory is INTEGER-exact — counts and min are
    the same in any engine, so a SQL oracle replays it with no lockstep
    rounding at all. Scale shape per iteration: one equi-join (edges ×
    labels on the neighbor key) + one count aggregation + one rank-1
    window, all partitioned by node id; lineage truncated per step.
    """
    sym = edges.select(F.col(_A).alias("a"), F.col(_B).alias("b")).unionAll(
        edges.select(F.col(_B).alias("a"), F.col(_A).alias("b"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql import Window

    for _ in range(iterations):
        counted = (
            sym.join(labels.withColumnRenamed("node", "b"), on="b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), "label")
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        labels = labels.localCheckpoint(eager=True)
    return labels


def hits_fixed(
    edges: DataFrame,
    iterations: int = 2,
) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores over the DIRECTED edge set
    (src = ``id_a``, dst = ``id_b``; the near-dup graph's id_a < id_b
    orientation makes hubs and authorities genuinely different roles:
    low-id canonical docs accumulate hub mass, high-id duplicates
    authority mass). Returns (node, hub, auth) after ``iterations``
    mutual-reinforcement rounds with L1 normalization.

    Each half-step is one equi-join + one groupBy (the same shuffle shape
    as a PageRank step); the L1 norm is a 1-row aggregate broadcast back —
    the scalar-subquery pattern, no driver round-trip. Per-step ROUND
    keeps both engines' float trajectories identical, the
    pagerank_fixed/kmeans_lloyd determinism trick.
    """
    if iterations < 1:
        # iterations=0 would leave auths unbound (None) and return
        # unnormalized hubs — make the contract explicit instead.
        raise ValueError(f"hits_fixed requires iterations >= 1, got {iterations}")
    dir_edges = edges.select(F.col(_A).alias("src"), F.col(_B).alias("dst"))
    dir_edges = dir_edges.localCheckpoint(eager=True)
    nodes = (
        dir_edges.select(F.col("src").alias("node"))
        .unionAll(dir_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hubs = nodes.select("node", F.lit(1.0).alias("h"))

    def _l1_normalized(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("_t"))
        return df.crossJoin(F.broadcast(total)).select(
            "node", F.round(F.col(col) / F.col("_t"), _DECIMALS).alias(col)
        )

    auths = None
    for _ in range(iterations):
        a_raw = (
            dir_edges.join(hubs.withColumnRenamed("node", "src"), on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.round(F.sum("h"), _DECIMALS).alias("a"))
        )
        auths = _l1_normalized(
            nodes.join(a_raw, on="node", how="left").select(
                "node", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")
            ),
            "a",
        ).localCheckpoint(eager=True)
        h_raw = (
            dir_edges.join(auths.withColumnRenamed("node", "dst"), on="dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.round(F.sum("a"), _DECIMALS).alias("h"))
        )
        hubs = _l1_normalized(
            nodes.join(h_raw, on="node", how="left").select(
                "node", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
            ),
            "h",
        ).localCheckpoint(eager=True)
    return nodes.join(hubs, on="node").join(auths, on="node").select(
        "node", F.col("h").alias("hub"), F.col("a").alias("auth")
    )
