"""K-means Lloyd query with an unrolled-CTE DuckDB oracle.

Same replay strategy as the PageRank oracle (plans/dedup.py): every float
quantity is rounded at each step (distances to 6 before the argmin,
centroid means to 6 after each update), so the iterative trajectory is
bit-replayable across engines and the final assignment value-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyrecount_spark.operators.clustering import kmeans_lloyd
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register

K = 4
ITERS = 2
DIM = 64


def _dist_cte(tag: str, cents: str) -> str:
    """Distances + argmin assignment under centroid set ``cents``."""
    return f"""
    d{tag} AS (
      SELECT e.vec_id, e.v, {cents}.cid,
             ROUND(list_sum(list_transform(generate_series(1, {DIM}),
                   i -> (e.v[i] - {cents}.c[i]) * (e.v[i] - {cents}.c[i]))), 6) AS d
      FROM e CROSS JOIN {cents}
    ),
    a{tag} AS (
      SELECT vec_id, v, cid, d FROM (
        SELECT d{tag}.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d{tag}
      ) WHERE rn = 1
    )"""


def _update_cte(tag: str, prev_cents: str) -> str:
    """Per-cluster per-dimension rounded means -> next centroid set."""
    return f"""
    m{tag} AS (
      SELECT cid, dim, ROUND(AVG(val), 6) AS val
      FROM (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM a{tag})
      GROUP BY cid, dim
    ),
    c{tag} AS (
      SELECT {prev_cents}.cid, COALESCE(n.c, {prev_cents}.c) AS c
      FROM {prev_cents} LEFT JOIN
           (SELECT cid, list(val ORDER BY dim) AS c FROM m{tag} GROUP BY cid) n
           USING (cid)
    )"""


def _kmeans_with(k: int | str, iters: int) -> str:
    """The shared WITH-body: ``iters`` Lloyd rounds ending at the final
    assignment CTE ``af`` (vec_id, v, cid, d). ``k`` may be an int literal
    or a SQL scalar expression (DuckDB accepts subqueries in LIMIT) — the
    Lloyd CTEs themselves are k-agnostic, k only sizes the seed set."""
    parts = [
        f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (
      SELECT vec_id AS cid, v AS c FROM e
      WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT ({k}))
    )"""
    ]
    for it in range(1, iters + 1):
        parts.append(_dist_cte(str(it), f"c{it - 1}"))
        parts.append(_update_cte(str(it), f"c{it - 1}"))
    parts.append(_dist_cte("f", f"c{iters}"))
    return "WITH " + ",".join(parts)


def _kmeans_sql(k: int, iters: int) -> str:
    return (
        _kmeans_with(k, iters)
        + """
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d AS dist FROM af
    """
    )


@register("kmeans_lloyd_embeddings", _kmeans_sql(K, ITERS))
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=K, iters=ITERS, dim=DIM)


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic near-duplicates = same k-means
# cluster AND cosine >= threshold; drop the higher id of each dup pair.
# The oracle replays the identical rounded Lloyd trajectory (CTEs above)
# and confines the pairwise cosine to within-cluster pairs, like the
# Spark side's cluster equi-join.
#
# k SCALES WITH THE CORPUS: k = max(4, ceil(N / 512)) on BOTH sides (a
# bounded 1-row count on the Spark side, a scalar-subquery LIMIT in the
# oracle). The paper's premise — and the operator docstring's stated
# contract — is that k grows with corpus size so within-cluster pair work
# stays ~N·512/2, linear in N. The round-8 scaling audit caught the
# previous fixed k=4 as the one true plan-bound suspect: 37.8× time and
# 90× shuffle bytes on 10× data (the largest cluster's all-pairs stage is
# quadratic when k is constant). At the driver SFs (N ≤ 2000) the formula
# still yields k=4, so every recorded driver-corpus result is unchanged.
# ---------------------------------------------------------------------------
_SEM_ITERS = 1
_SEM_THR = 0.4
_SEM_TARGET = 512  # expected vectors per cluster


def _sem_k(n: int) -> int:
    return max(4, -(-n // _SEM_TARGET))


_SEM_K_SQL = (
    f"SELECT GREATEST(4, CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS BIGINT)) FROM e"
)

_SEMDEDUP_SQL = (
    _kmeans_with(_SEM_K_SQL, _SEM_ITERS)
    + f""",
    asg AS (SELECT vec_id, cid, v FROM af),
    edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_SEM_THR}
    ),
    deg AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_sem_dups FROM (
        SELECT id_a AS vec_id FROM edges
        UNION ALL SELECT id_b AS vec_id FROM edges
      ) GROUP BY vec_id
    )
    SELECT asg.vec_id,
           CAST(asg.cid AS BIGINT) AS cluster,
           COALESCE(deg.n_sem_dups, 0) AS n_sem_dups,
           asg.vec_id NOT IN (SELECT id_b FROM edges) AS keep
    FROM asg LEFT JOIN deg USING (vec_id)
    """
)


@register("semdedup_embedding_clusters", _SEMDEDUP_SQL)
def semdedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    # k derives inside the operator from its single corpus-stats aggregate
    # (round-14: the plan previously paid its own count() job for the same
    # number — one bounded 1-row action instead of two; the operator's
    # max(4, ceil(N/target)) is _sem_k by construction, pinned by
    # tests/test_scale_constants.py). The oracle derives the identical k
    # via its LIMIT subquery.
    return semantic_dedup(
        emb,
        k=None,
        iters=_SEM_ITERS,
        dim=DIM,
        threshold=_SEM_THR,
        target_per_cluster=_SEM_TARGET,
    )
