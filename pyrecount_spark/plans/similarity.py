"""Vector-similarity queries (SURVEY.md §2.10) with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    lsh_bucketed_topk,
)
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Exact brute-force cosine top-k against the vec_id=0 query vector.
# One full scan, zero shuffles, TakeOrderedAndProject for the top-k.
# ---------------------------------------------------------------------------
@register(
    "knn_brute_force_cosine",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 4)
             AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id LIMIT 20
    """,
)
def knn_brute_force_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return brute_force_topk(emb, query, k=20)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs above a threshold. ORACLE-BASELINE TWIN:
# deliberately brute all-pairs — the exact-recall yardstick for the
# bucketed path (embedding_lsh_verified_pairs below), exempted by name in
# tests/test_plan_lint.py. Nothing downstream feeds from this query.
# ---------------------------------------------------------------------------
@register(
    "embedding_cosine_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    """,
    group="eval_only",
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# LSH-bucketed approximate top-k. The hyperplanes are content-addressed
# (md5 parity), so the oracle can reconstruct the identical ±1 plane
# literals and replay the exact bucket computation in SQL.
# ---------------------------------------------------------------------------
def _plane_literals(num_planes: int, dim: int) -> list[list[float]]:
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{h}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for h in range(num_planes)
    ]


def _ann_lsh_sql() -> str:
    """Corpus-adaptive oracle twin of lsh_bucketed_topk(num_planes=None):
    plane count = GREATEST(6, LENGTH(BIN(n-1)) - 10) (bucket target 1024),
    replayed over a static 32-plane literal list sliced to the derived
    count — resolves to the historical 6 at every committed corpus."""
    from pyrecount_spark.operators.similarity import (
        ANN_LSH_MAX_PLANES,
        ANN_LSH_TARGET_BUCKET,
    )

    planes = _plane_literals(ANN_LSH_MAX_PLANES, 64)
    planes_lit = ",".join("[" + ",".join(str(s) for s in p) + "]" for p in planes)
    tgt_bits = ANN_LSH_TARGET_BUCKET.bit_length() - 1  # 1024 -> 10
    return f"""
    WITH params AS (
      SELECT GREATEST(6, LEAST({ANN_LSH_MAX_PLANES},
                               LENGTH(BIN(COUNT(*) - 1)) - {tgt_bits})) AS np
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(
               list_slice([{planes_lit}], 1, (SELECT np FROM params)),
               pl -> CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), pl) >= 0
                          THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings
    ), q AS (SELECT bucket, CAST(embedding AS DOUBLE[]) AS qvec FROM b WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 4)
             AS cos_sim
    FROM b e, q WHERE e.bucket = q.bucket
    ORDER BY cos_sim DESC, e.vec_id LIMIT 20
    """


@register("ann_lsh_topk", _ann_lsh_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    # num_planes=None => corpus-derived (auto_ann_planes); resolves to the
    # historical 6 at every committed corpus
    return lsh_bucketed_topk(emb, query, k=20, num_planes=None, dim=64)


# ---------------------------------------------------------------------------
# IVF-bucketed approximate top-k. Coarse centroids = the 8 lowest vec_ids
# (deterministic, seedless); assignment is argmax(rounded cosine, -cid)
# embedded as literal centroids -> pure projection, zero shuffles. The
# oracle replays the identical assignment with a window argmax.
# ---------------------------------------------------------------------------
_IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*) / 1024.0)) AS BIGINT)) FROM embeddings)
),
scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cid,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 4) AS s
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, vec, cid FROM (
    SELECT vec_id, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scored) t WHERE rn = 1
),
qcell AS (SELECT cid, vec AS qvec FROM assign WHERE vec_id = 42)
SELECT a.vec_id,
       ROUND(list_cosine_similarity(a.vec, q.qvec), 4) AS cos_sim
FROM assign a JOIN qcell q ON a.cid = q.cid
ORDER BY cos_sim DESC, a.vec_id LIMIT 20
"""


@register("ann_ivf_topk", _IVF_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 42)
    # num_centroids=None => corpus-derived (auto_ivf_centroids); resolves
    # to the historical 8 at every committed corpus
    return ivf_topk(emb, query, k=20, num_centroids=None, nprobe=1)


# ---------------------------------------------------------------------------
# IVF multi-probe: rank all cells by the query→centroid cosine (same
# rounded score + cid tiebreak as the assignment) and probe the top nprobe
# cells — recovers neighbors just across a cell boundary (the nprobe=1
# recall cliff). Probe-cell choice and scoring stay pure projections over
# literal centroids; candidate filtering is partition pruning at scale.
# ---------------------------------------------------------------------------
_IVF_MULTIPROBE_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*) / 1024.0)) AS BIGINT)) FROM embeddings)
),
scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cid,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 4) AS s
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, vec, cid FROM (
    SELECT vec_id, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scored) t WHERE rn = 1
),
q AS (SELECT vec AS qvec FROM assign WHERE vec_id = 42),
qcells AS (
  SELECT cid FROM scored WHERE vec_id = 42
  ORDER BY s DESC, cid ASC LIMIT 2
)
SELECT a.vec_id,
       ROUND(list_cosine_similarity(a.vec, q.qvec), 4) AS cos_sim
FROM assign a JOIN qcells c ON a.cid = c.cid CROSS JOIN q
ORDER BY cos_sim DESC, a.vec_id LIMIT 20
"""


@register("ann_ivf_multiprobe", _IVF_MULTIPROBE_SQL)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 42)
    return ivf_topk(emb, query, k=20, num_centroids=None, nprobe=2)


# ---------------------------------------------------------------------------
# Banded-LSH near-dup pairs with exact-cosine verification — the bucketed
# scale path for embedding dedup (candidates from a (band, bucket)
# equi-join; true cosine computed only inside buckets). The hyperplanes are
# content-addressed, so the oracle replays the identical ±1 plane literals,
# banding, and verification. embedding_cosine_pairs is the exact-recall
# yardstick (LSH recall < 1 by design; see test_windows_similarity).
#
# Round 10 (VERDICT r9 #1): banding is CORPUS-SCALED on both sides —
# engine via auto_lsh_banding (band bits grow ~log2(N), band count fixed
# at 8), oracle via the identical integer-exact derivation from COUNT(*)
# (GREATEST(4, LEAST(16, LENGTH(BIN(n-1)) - 11))) applied to a static
# 128-plane literal list sliced to 8·band_size — the semdedup
# scalar-subquery-k pattern extended to a structural constant. At every
# committed corpus (≤ 30k vectors) both sides resolve to the historical
# 32/4, so driver-SF results and fingerprints are unchanged; at the 300k
# probe corpus both resolve to 64/8 and the registered query completes
# where the pinned constants used to guard-trip.
# ---------------------------------------------------------------------------
def _lsh_verified_pairs_sql() -> str:
    """Corpus-adaptive oracle twin of lsh_verified_pairs(num_planes=None)."""
    from pyrecount_spark.operators.similarity import (
        LSH_BANDS,
        LSH_MAX_BAND_SIZE,
        LSH_TARGET_OCCUPANCY,
    )

    planes = _plane_literals(LSH_BANDS * LSH_MAX_BAND_SIZE, 64)
    planes_lit = ",".join(
        "[" + ",".join(str(s) for s in p) + "]" for p in planes
    )
    band_list = ",".join(str(b) for b in range(LSH_BANDS))
    occ_bits = LSH_TARGET_OCCUPANCY.bit_length() - 1  # 2048 -> 11
    return f"""
    WITH params AS (
      SELECT GREATEST(4, LEAST({LSH_MAX_BAND_SIZE},
                               LENGTH(BIN(COUNT(*) - 1)) - {occ_bits})) AS bs
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id,
             array_to_string(list_transform(
               list_slice([{planes_lit}], 1, {LSH_BANDS} * (SELECT bs FROM params)),
               pl -> CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), pl) >= 0
                          THEN '1' ELSE '0' END), '') AS sig
      FROM embeddings
    ),
    bands AS (
      SELECT vec_id, band,
             substr(sig, band * (SELECT bs FROM params) + 1,
                    (SELECT bs FROM params)) AS bucket
      FROM sig, (SELECT unnest([{band_list}]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
    """


@register("embedding_lsh_verified_pairs", _lsh_verified_pairs_sql())
def embedding_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import lsh_verified_pairs

    # collapse_exact_dups: the robust default for a pipeline entry — the
    # round-8 adversarial decade corpus (25% exact-duplicate vector mass)
    # tripped the mega-bucket guard at 150k vectors; the collapse algebra
    # is proven byte-identical by THIS query's un-collapsed oracle.
    # num_planes/band_size/max_bucket_docs None => corpus-derived
    # (auto_lsh_banding); resolves to 32/4/4096 at every committed corpus.
    return lsh_verified_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4,
        num_planes=None, band_size=None, dim=64,
        collapse_exact_dups=True, max_bucket_docs=None,
    )


# ---------------------------------------------------------------------------
# Int8 quantization summary: per-vector scale/norm stats + the quantized
# checksum (sum/min/max over the 64 int8 values — value-hash equality
# proves the whole quantized vector matches without array output) and max
# dequantization error. Elementwise doubles + sequential folds — identical
# arithmetic in both engines; rounded at the output boundary.
# ---------------------------------------------------------------------------
QUANTIZE_SQL = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    ),
    s AS (
      SELECT vec_id, x,
             sqrt(list_sum(list_transform(x, e -> e * e))) AS l2,
             list_max(list_transform(x, e -> abs(e))) AS mx
      FROM v
    ),
    q AS (
      SELECT vec_id, x, l2, mx, mx / 127.0 AS scale,
             list_transform(x, e -> CAST(ROUND(e / (mx / 127.0)) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id,
           ROUND(l2, 6) AS l2_norm,
           ROUND(mx, 6) AS max_abs,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           ROUND(list_max(list_transform(generate_series(1, len(x)),
                 i -> abs(qv[i] * scale - x[i]))), 6) AS max_dequant_err
    FROM q
"""


@register("embedding_quantize_int8", QUANTIZE_SQL)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import quantize_int8_stats
    from pyrecount_spark.operators.skew import widen_narrow_scan

    # per-row interpreted-HOF cost (zip_with/aggregate lambdas) dwarfs the
    # vector bytes: the whole pass ran on the scan's 2 splits at sf0.1
    # (1.9 task-s serialized); identity once the scan yields >= cores splits
    return quantize_int8_stats(
        widen_narrow_scan(_t(spark, sf_dir, "embeddings"), "vec_id")
    )


# ---------------------------------------------------------------------------
# Embedding-level train/eval decontamination: hash-split the corpus
# (vec_id % 10 == 0 -> eval), then flag every TRAIN vector whose cosine to
# any EVAL vector clears the near-dup bar — the semantic twin of the n-gram
# decontaminate_train_eval, over the same banded-LSH verified-pairs
# machinery (bucketed candidates, true cosine only inside buckets). The
# cross-split restriction is PUSHED INTO candidate generation
# (probe_predicate = the eval split): only band buckets holding >= 1 eval
# member enter the pair explode, enumerated eval × bucket-members — the
# ~81 % train×train pair mass (at a 10 % eval split) is never computed,
# shuffled, or cosine-verified. The oracle below stays the unrestricted
# pair set + WHERE filter: the restricted operator output is a superset of
# the cross-split pairs and a subset of the unrestricted pairs, so after
# this plan's exactly-one-eval filter the results coincide by construction
# (operators/similarity.py::lsh_verified_pairs contract).
# ---------------------------------------------------------------------------
_DECON_EMB_SQL = f"""
    WITH pairs AS ({_lsh_verified_pairs_sql()})
    SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS train_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           MAX(cos_sim) AS max_cos
    FROM pairs
    WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
    GROUP BY 1
    ORDER BY n_eval_hits DESC, train_vec_id
"""


@register("decontaminate_embedding_eval", _DECON_EMB_SQL)
def decontaminate_embedding_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import lsh_verified_pairs

    # collapse_exact_dups: same robust-default rationale (and the same
    # un-collapsed-oracle equivalence proof) as embedding_lsh_verified_pairs;
    # probe_predicate pushes the eval-split restriction below the explode
    pairs = lsh_verified_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4,
        num_planes=None, band_size=None, dim=64,
        collapse_exact_dups=True, max_bucket_docs=None,
        probe_predicate=F.col("vec_id") % 10 == 0,
    )
    is_eval_a = F.col("id_a") % 10 == 0
    is_eval_b = F.col("id_b") % 10 == 0
    return (
        pairs.filter(is_eval_a != is_eval_b)
        .groupBy(
            F.when(is_eval_a, F.col("id_b")).otherwise(F.col("id_a")).alias("train_vec_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos_sim").alias("max_cos"),
        )
        .orderBy(F.desc("n_eval_hits"), "train_vec_id")
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation: how much of the exact cosine-pair set (>= 0.4) the
# banded-LSH verified path recovers — the measurement behind the documented
# recall<1 trade. The exact side is the all-pairs oracle-baseline twin
# (evaluation only; exempted by name in plan lint), the approximate side is
# the production bucketed path; both collapse to 1-row counts before the
# final broadcast combine.
# ---------------------------------------------------------------------------
_RECALL_SQL = f"""
    WITH exact_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    ), lsh_pairs AS ({_lsh_verified_pairs_sql()})
    SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM lsh_pairs) AS BIGINT) AS n_lsh,
           ROUND(CAST((SELECT COUNT(*) FROM lsh_pairs) AS DOUBLE)
                 / (SELECT COUNT(*) FROM exact_pairs), 4) AS recall
"""


@register("lsh_recall_eval", _RECALL_SQL, group="eval_only")
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import cosine_pairs, lsh_verified_pairs

    emb = _t(spark, sf_dir, "embeddings")
    n_exact = cosine_pairs(emb, threshold=0.4).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_lsh = lsh_verified_pairs(
        emb, threshold=0.4, num_planes=None, band_size=None, dim=64,
        max_bucket_docs=None,
    ).agg(F.count(F.lit(1)).alias("n_lsh"))
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .select(
            "n_exact",
            "n_lsh",
            F.round(
                F.col("n_lsh").cast("double") / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Label centroids and their pairwise cosine — the embedding-space class-
# separation audit (are label clusters collapsing?). Per-dimension sums are
# integer-quantized (value·1e6 rounded) BEFORE aggregation so the cross-row
# sum is exact in any order; centroids and cosines then combine in one
# fixed IEEE sequence. The dim explode is bounded (64·N rows), grouped on
# (label, dim) — hash-parallel at any scale.
# ---------------------------------------------------------------------------
_CENTROID_SIM_SQL = """
    WITH dims AS (
      SELECT label, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
    ), cent AS (
      SELECT label, dim,
             CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS c
      FROM dims GROUP BY label, dim
    ), norms AS (
      SELECT label, sqrt(SUM(c * c)) AS nrm FROM cent GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS centroid_cos
    FROM dots d
    JOIN norms na ON d.label_a = na.label
    JOIN norms nb ON d.label_b = nb.label
    ORDER BY d.label_a, d.label_b
"""


@register("label_centroid_similarity", _CENTROID_SIM_SQL)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("v") * 1000000).cast("long").alias("q"),
    )
    cent = dims.groupBy("label", "dim").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1)) / 1000000.0).alias("c")
    )
    norms = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm"))
    a = cent.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, (F.col("dim_a") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(F.broadcast(norms.withColumnRenamed("label", "label_a").withColumnRenamed("nrm", "na")), "label_a")
        .join(F.broadcast(norms.withColumnRenamed("label", "label_b").withColumnRenamed("nrm", "nb")), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Mean-pool per label via the array-reassembling pooling primitive. The
# pooled array itself is pinned by integer-exact derived columns: the
# micro-unit checksum and a norm computed over QUANTIZED components (so
# both engines sum the same integers — no float-order flake even before
# rounding).
# ---------------------------------------------------------------------------
_MEANPOOL_SQL = """
    WITH dims AS (
      SELECT label, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
    ), cent AS (
      SELECT label, dim,
             CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM dims GROUP BY label, dim
    ), qc AS (
      SELECT label, n, CAST(ROUND(c * 1000000) AS BIGINT) AS qv FROM cent
    )
    SELECT CAST(label AS BIGINT) AS label,
           MAX(n) AS n_vectors,
           CAST(COUNT(*) AS BIGINT) AS dim,
           CAST(SUM(qv) AS BIGINT) AS centroid_checksum,
           ROUND(SQRT(CAST(SUM(qv * qv) AS DOUBLE)) / 1000000.0, 6) AS centroid_norm
    FROM qc GROUP BY label
    ORDER BY label
"""


@register("embedding_mean_pool_groups", _MEANPOOL_SQL)
def embedding_mean_pool_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import mean_pool_vectors

    pooled = mean_pool_vectors(_t(spark, sf_dir, "embeddings"), "embedding", "label")
    qc = F.transform(F.col("centroid"), lambda x: F.round(x * 1000000).cast("long"))
    return (
        pooled.select(
            F.col("label").cast("long").alias("label"),
            "n_vectors",
            F.size("centroid").cast("long").alias("dim"),
            F.aggregate(qc, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "centroid_checksum"
            ),
            F.round(
                F.sqrt(
                    F.aggregate(
                        qc, F.lit(0).cast("long"), lambda a, x: a + x * x
                    ).cast("double")
                )
                / 1000000.0,
                6,
            ).alias("centroid_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Product quantization + ADC top-k (Jégou et al. 2011): per-subspace
# codebooks (seedless rounded Lloyd, like kmeans_lloyd_embeddings), vectors
# compressed to m code ids, query answered from an m×k literal lookup
# table — the corpus float payload is never touched at query time. The
# oracle replays codebook training, encoding, LUT, and the ADC sum with
# the same per-step rounding.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_SUBDIM, _PQ_K = 4, 16, 4


def _pq_sub_ctes(s: int, query_id: int = 0) -> str:
    lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
    d = _PQ_SUBDIM
    return f"""
    s{s}_e AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM e),
    s{s}_c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, sv AS c
      FROM s{s}_e WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {_PQ_K})
    ),
    s{s}_d1 AS (
      SELECT t.vec_id, t.sv, c.cid,
             ROUND(list_sum(list_transform(generate_series(1, {d}),
                   i -> (t.sv[i] - c.c[i]) * (t.sv[i] - c.c[i]))), 6) AS dd
      FROM s{s}_e t CROSS JOIN s{s}_c0 c
    ),
    s{s}_a1 AS (
      SELECT vec_id, sv, cid FROM (
        SELECT s{s}_d1.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        FROM s{s}_d1
      ) WHERE rn = 1
    ),
    s{s}_m1 AS (
      SELECT cid, dim, ROUND(AVG(val), 6) AS val
      FROM (SELECT cid, generate_subscripts(sv, 1) AS dim, unnest(sv) AS val
            FROM s{s}_a1)
      GROUP BY cid, dim
    ),
    s{s}_c1 AS (
      SELECT c0.cid, COALESCE(n.c, c0.c) AS c
      FROM s{s}_c0 c0 LEFT JOIN
           (SELECT cid, list(val ORDER BY dim) AS c FROM s{s}_m1 GROUP BY cid) n
           USING (cid)
    ),
    s{s}_df AS (
      SELECT t.vec_id, c.cid,
             ROUND(list_sum(list_transform(generate_series(1, {d}),
                   i -> (t.sv[i] - c.c[i]) * (t.sv[i] - c.c[i]))), 6) AS dd
      FROM s{s}_e t CROSS JOIN s{s}_c1 c
    ),
    s{s}_code AS MATERIALIZED (
      SELECT vec_id, cid AS code FROM (
        SELECT s{s}_df.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        FROM s{s}_df
      ) WHERE rn = 1
    ),
    s{s}_q AS (SELECT sv FROM s{s}_e WHERE vec_id = {query_id}),
    s{s}_lut AS MATERIALIZED (
      SELECT c.cid,
             ROUND(list_sum(list_transform(generate_series(1, {d}),
                   i -> (q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i]))), 6) AS dd
      FROM s{s}_c1 c CROSS JOIN s{s}_q q
    )"""


def _pq_sql() -> str:
    subs = ",".join(_pq_sub_ctes(s) for s in range(_PQ_M))
    joins = " ".join(
        f"JOIN s{s}_code c{s} ON c{s}.vec_id = e.vec_id"
        f" JOIN s{s}_lut l{s} ON l{s}.cid = c{s}.code"
        for s in range(_PQ_M)
    )
    est = " + ".join(f"l{s}.dd" for s in range(_PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {subs}
    SELECT e.vec_id, ROUND({est}, 6) AS est_dist
    FROM e {joins}
    ORDER BY est_dist, e.vec_id LIMIT 20
    """


@register("pq_adc_topk", _pq_sql())
def pq_adc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import pq_adc_topk, pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks(
        emb, m=_PQ_M, subdim=_PQ_SUBDIM, k=_PQ_K, iters=1
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    query = [float(v) for v in qrow]
    return pq_adc_topk(
        emb, query, books, k_results=20, subdim=_PQ_SUBDIM
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse IVF cell prune (same literal-centroid assignment as
# ann_ivf_topk) + PQ-ADC ranking of the surviving candidates — the
# billion-scale ANN layout: inverted lists bound how much of the corpus is
# touched, code lookups bound how much of each candidate is read. At scale
# the cell filter is partition pruning on a _cell-partitioned lake.
# ---------------------------------------------------------------------------
def _ivfpq_sql(query_id: int = 0, k_results: int = 10) -> str:
    subs = ",".join(_pq_sub_ctes(s, query_id) for s in range(_PQ_M))
    joins = " ".join(
        f"JOIN s{s}_code c{s} ON c{s}.vec_id = e.vec_id"
        f" JOIN s{s}_lut l{s} ON l{s}.cid = c{s}.code"
        for s in range(_PQ_M)
    )
    est = " + ".join(f"l{s}.dd" for s in range(_PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM e WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*) / 1024.0)) AS BIGINT)) FROM embeddings))
    ),
    cscored AS (
      SELECT e.vec_id, c.cid,
             ROUND(list_cosine_similarity(e.v, c.cvec), 4) AS s
      FROM e CROSS JOIN cent c
    ),
    cassign AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
        FROM cscored) t WHERE rn = 1
    ),
    {subs}
    SELECT e.vec_id, ROUND({est}, 6) AS est_dist
    FROM e {joins}
    JOIN cassign a ON a.vec_id = e.vec_id
    WHERE a.cid = (SELECT cid FROM cassign WHERE vec_id = {query_id})
    ORDER BY est_dist, e.vec_id LIMIT {k_results}
    """


@register("ivfpq_topk", _ivfpq_sql(0, 10))
def ivfpq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.similarity import ivfpq_topk, pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=_PQ_M, subdim=_PQ_SUBDIM, k=_PQ_K, iters=1)
    return ivfpq_topk(
        emb, query_vec_id=0, books=books, k_results=10,
        num_centroids=None, subdim=_PQ_SUBDIM,
    )


# ---------------------------------------------------------------------------
# Truncated-embedding recall (the Matryoshka/MRL question): how much of the
# full-vector top-k survives when similarity uses only the first 16 of 64
# dims? Both rankings are narrow scans + top-k; the eval emits overlap and
# recall. At scale this decides whether the cheap prefix index (4× less
# memory/bandwidth) can serve first-stage retrieval.
# ---------------------------------------------------------------------------
@register(
    "truncated_embedding_recall",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    full_k AS (
      SELECT e.vec_id FROM e CROSS JOIN q
      ORDER BY ROUND(list_cosine_similarity(e.v, q.v), 4) DESC, e.vec_id
      LIMIT 20
    ),
    trunc_k AS (
      SELECT e.vec_id FROM e CROSS JOIN q
      ORDER BY ROUND(list_cosine_similarity(e.v[1:16], q.v[1:16]), 4) DESC,
               e.vec_id
      LIMIT 20
    )
    SELECT CAST(20 AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM full_k JOIN trunc_k USING (vec_id))
                AS BIGINT) AS n_overlap,
           ROUND((SELECT COUNT(*) FROM full_k JOIN trunc_k USING (vec_id))
                 / 20.0, 4) AS recall
    """,
)
def truncated_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    full_k = brute_force_topk(emb, query, k=20).select("vec_id")
    t_emb = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    t_query = query.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc_k = brute_force_topk(t_emb, t_query, k=20).select("vec_id")
    overlap = full_k.join(trunc_k, on="vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).cast("long").alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / 20.0, 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (Cormack et al. 2009) of two retrievers for doc 0:
# dense (embedding cosine top-20) + sparse (distinct-shared-token count
# top-20). RRF score = Σ 1/(60 + rank) over the lists a doc appears in —
# the standard no-tuning hybrid-search combiner. Both lists are bounded
# top-k frames, so the fusion join is trivially broadcastable at any
# corpus size; ranks come from rounded scores with id tiebreaks, so the
# fusion is engine-exact after ROUND(6).
# ---------------------------------------------------------------------------
@register(
    "rrf_hybrid_retrieval",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(e.v, q.v), 4) DESC, vec_id
             ) AS rnk
      FROM e CROSS JOIN q
      WHERE vec_id <> 0
      ORDER BY rnk LIMIT 20
    ),
    qtok AS (
      SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents WHERE doc_id = 0
    ),
    sparse AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_shared DESC, doc_id) AS rnk
      FROM (
        SELECT d.doc_id, COUNT(DISTINCT t.tok) AS n_shared
        FROM documents d,
             unnest(string_split_regex(trim(d.text), '\\s+')) AS u(tok)
             JOIN qtok t ON t.tok = u.tok
        WHERE d.doc_id <> 0
        GROUP BY d.doc_id
      ) s
      ORDER BY rnk LIMIT 20
    )
    SELECT COALESCE(dense.doc_id, sparse.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + dense.rnk), 0)
                 + COALESCE(1.0 / (60 + sparse.rnk), 0), 6) AS rrf_score
    FROM dense FULL OUTER JOIN sparse USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    query = emb.filter(F.col("vec_id") == 0)
    dense = (
        brute_force_topk(emb.filter(F.col("vec_id") != 0), query, k=20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "rnk")
    )
    from pyrecount_spark.operators.text import tokens

    qtok = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    shared = (
        docs.filter(F.col("doc_id") != 0)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .join(F.broadcast(qtok), on="tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sparse = (
        shared.orderBy(F.desc("n_shared"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("n_shared"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rnk")
    )
    fused = dense.withColumnRenamed("rnk", "rnk_d").join(
        sparse.withColumnRenamed("rnk", "rnk_s"), on="doc_id", how="full_outer"
    )
    score = F.round(
        F.coalesce(1.0 / (60 + F.col("rnk_d")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("rnk_s")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", score.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Embedding-health diagnostics: per-dimension mean and second moment over
# the corpus — the anisotropy / collapsed-dimension check run before
# trusting an ANN index (a dimension whose variance ≈ 0 carries no
# information; a non-zero corpus mean signals an uncentered embedding
# model). ONE posexplode (narrow) + one 64-group aggregate whose partials
# combine map-side — at 100 TB the shuffle carries dim-many running sums
# per task, nothing else. Means rounded 6: double summation-order noise
# between engines is quantized away, the established cross-engine
# contract.
# ---------------------------------------------------------------------------
@register(
    "embedding_dimension_stats",
    """
    SELECT t.i - 1 AS dim,
           ROUND(AVG(e.embedding[t.i]::DOUBLE), 6) AS mean_x,
           ROUND(AVG(e.embedding[t.i]::DOUBLE * e.embedding[t.i]::DOUBLE), 6)
             AS mean_x2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings e, range(1, 65) t(i)
    GROUP BY 1 ORDER BY 1
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        F.col("dim").cast("long").alias("dim"), F.col("x").cast("double").alias("x")
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.avg(F.col("x") * F.col("x")), 6).alias("mean_x2"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("dim")
    )
