"""Product-analytics queries (funnel, retention, co-occurrence, triangles,
quantile sketch) with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrecount_spark.operators.analytics import (
    cohort_retention,
    cooccurrence_edges,
    funnel_stages,
    triangle_count,
)
from pyrecount_spark.plans import read_table as _t
from pyrecount_spark.plans import register


# ---------------------------------------------------------------------------
# Ordered conversion funnel over the event stream: click -> view ->
# purchase, each stage strictly after the user's qualifying previous-stage
# event. Chained conditional-min aggregates, all keyed on user_id (one
# partitioning reused).
# ---------------------------------------------------------------------------
FUNNEL_SQL = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'click'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
      GROUP BY e.user_id
    )
    SELECT '1_click' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT '2_view', CAST(COUNT(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3
"""


@register("funnel_click_view_purchase", FUNNEL_SQL)
def funnel_click_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return funnel_stages(e, ["click", "view", "purchase"])


# ---------------------------------------------------------------------------
# Weekly retention cohorts: first-touch ISO week x activity-week offset.
# Both engines truncate weeks to the ISO Monday, so offsets divide evenly.
# ---------------------------------------------------------------------------
COHORT_SQL = """
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cw FROM events GROUP BY user_id
    )
    SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cw, date_trunc('week', e.ts)) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
"""


@register("cohort_weekly_retention", COHORT_SQL)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return cohort_retention(e)


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: top-25 part pairs by shared-order count.
# Fan-out is quadratic in basket size (bounded), linear in orders; the
# distinct pre-reduce stops within-basket multiplicity inflating counts.
# ---------------------------------------------------------------------------
COOCCUR_SQL = """
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_baskets
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_baskets FROM e
    ORDER BY n_baskets DESC, item_a, item_b LIMIT 25
"""


@register("part_pair_cooccurrence", COOCCUR_SQL)
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return edges.orderBy(
        F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b")
    ).limit(25)


# ---------------------------------------------------------------------------
# Triangle count over the >=2-shared-orders co-occurrence graph: the
# standard oriented three-way equi-join enumeration, each triangle once.
# ---------------------------------------------------------------------------
TRIANGLE_SQL = """
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.item_b = e2.item_a
              JOIN e e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b
"""


@register("cooccurrence_triangles", TRIANGLE_SQL)
def cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Materialize the edge list once: the three aliased sides of the
    # triangle join otherwise re-run the whole distinct+join+HAVING edge
    # pipeline (Spark's exchange reuse doesn't fire across self-join alias
    # dedup). Eager localCheckpoint, not .cache(): cache blocks outlive the
    # query (leak across invocations in a long session); checkpoint blocks
    # free on GC. At lake scale, land the thresholded edges as a table
    # first — edge lists survive the threshold orders of magnitude smaller
    # than their input.
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_count=2
    ).localCheckpoint(eager=True)
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# Approximate-quantile sketch, made hash-checkable (the HLL-sketch pattern,
# plans/coo.py): the GK sketch value is engine-specific, so the row carries
# the exact continuous quantiles (identical interpolation formula in both
# engines, over exact integer cents) plus a boolean asserting the sketch
# landed within 1% of exact. The oracle claims TRUE — sketch drift breaks
# the value hash, so the sketch is exercised AND checked.
# ---------------------------------------------------------------------------
QUANTILE_SKETCH_SQL = """
    SELECT ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5), 2)
             AS p50_exact,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.9), 2)
             AS p90_exact,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99), 2)
             AS p99_exact,
           TRUE AS sketch_within_tolerance
    FROM lineitem
"""


@register("approx_quantile_sketch", QUANTILE_SKETCH_SQL)
def approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    agg = li.agg(
        F.expr("percentile(cents, array(0.5, 0.9, 0.99))").alias("_exact"),
        F.percentile_approx("cents", [0.5, 0.9, 0.99], 1000).alias("_approx"),
    )
    tol = None
    for i in range(3):
        ok = (
            F.abs(F.element_at("_approx", i + 1) - F.element_at("_exact", i + 1))
            <= 0.01 * F.element_at("_exact", i + 1)
        )
        tol = ok if tol is None else (tol & ok)
    return agg.select(
        F.round(F.element_at("_exact", 1), 2).alias("p50_exact"),
        F.round(F.element_at("_exact", 2), 2).alias("p90_exact"),
        F.round(F.element_at("_exact", 3), 2).alias("p99_exact"),
        tol.alias("sketch_within_tolerance"),
    )


# ---------------------------------------------------------------------------
# Table fingerprint: order-insensitive xor checksum of canonicalized rows,
# grouped by order status — the replica/migration integrity audit. Horner
# hex fold + bit_xor are expression-identical in both engines, so the
# oracle IS a second, independent replica computing the same checksum.
# ---------------------------------------------------------------------------
def _fp_horner_sql() -> str:
    """SQL twin of ``relational.hex_to_long``: the first 15 hex nibbles of
    ``h`` as a long."""
    acc = "0"
    for i in range(1, 16):
        acc = f"({acc}) * 16 + (strpos('0123456789abcdef', substring(h, {i}, 1)) - 1)"
    return acc


FINGERPRINT_SQL = f"""
    WITH rh AS (
      SELECT o_orderstatus,
             md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 o_orderstatus,
                 CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                 strftime(o_orderdate, '%Y-%m-%d'),
                 o_orderpriority)) AS h
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({_fp_horner_sql()}) AS BIGINT) AS fingerprint
    FROM rh GROUP BY o_orderstatus
"""


@register("table_fingerprint_orders", FINGERPRINT_SQL)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.relational import table_fingerprint

    o = _t(spark, sf_dir, "orders")
    canon = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    ]
    return table_fingerprint(o, canon, group_col="o_orderstatus")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: yesterday's summary + today's delta,
# merged by re-aggregating the partials (counts and integer-cent sums are
# decomposable). The oracle computes the FULL aggregate from scratch —
# a hash match PROVES the incremental path is exact, which is the whole
# point of incremental view maintenance: at 100 TB you aggregate the new
# partition only, never rescan history.
# ---------------------------------------------------------------------------
INCR_CUTOFF = "2024-01-20"

INCREMENTAL_AGG_SQL = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id
"""


@register("incremental_agg_maintenance", INCREMENTAL_AGG_SQL)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )

    history = partial(e.filter(F.col("ts") < cutoff))   # the stored summary
    delta = partial(e.filter(F.col("ts") >= cutoff))    # today's partition
    return (
        history.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling anomaly detection: each event's value z-scored against the
# user's previous 10 events (current row excluded — no self-leakage).
# Rounded before the 3-sigma flag so the boundary is engine-stable; one
# user-key shuffle serves both window aggregates.
# ---------------------------------------------------------------------------
ANOMALY_SQL = """
    WITH w AS (
      SELECT event_id, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             AVG(CAST(ROUND(value * 100) AS BIGINT)) OVER win AS mu,
             stddev_samp(CAST(ROUND(value * 100) AS BIGINT)) OVER win AS sigma,
             COUNT(*) OVER win AS n_prior
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, cents,
           CAST(n_prior AS BIGINT) AS n_prior,
           CASE WHEN n_prior >= 5 AND sigma > 0
                THEN ROUND((cents - mu) / sigma, 4) END AS zscore,
           COALESCE(n_prior >= 5 AND sigma > 0
                    AND abs(ROUND((cents - mu) / sigma, 4)) > 3.0, FALSE)
             AS is_anomaly
    FROM w
"""


@register("rolling_anomaly_flags", ANOMALY_SQL)
def rolling_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    mu = F.avg("cents").over(win)
    sigma = F.stddev_samp("cents").over(win)
    n_prior = F.count(F.lit(1)).over(win)
    z = F.round((F.col("cents") - mu) / sigma, 4)
    ready = (n_prior >= 5) & (sigma > 0)
    return e.select(
        "event_id",
        "user_id",
        "cents",
        n_prior.cast("long").alias("n_prior"),
        F.when(ready, z).alias("zscore"),
        F.coalesce(ready & (F.abs(z) > 3.0), F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS regression from integer sufficient statistics: price-vs-
# quantity slope/intercept/correlation per brand. The five sums (n, Σx, Σy,
# Σxy, Σx², Σy²) are exact int64 in both engines (quantities are integral,
# prices go through cents), so the closed-form estimates divide the SAME
# integers — no engine-internal co-moment streaming involved. One shuffle
# (the brand groupBy); the broadcast part join rides the fact scan.
# ---------------------------------------------------------------------------
@register(
    "regression_price_qty_by_brand",
    """
    WITH s AS (
      SELECT p.p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)
                      * CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(SUM(CAST(l.l_quantity AS BIGINT) * CAST(l.l_quantity AS BIGINT))
                  AS BIGINT) AS sx2,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy2
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    , d AS (
      SELECT p_brand, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(sx2 AS DOUBLE) AS sx2d, CAST(sy2 AS DOUBLE) AS sy2d
      FROM s
    )
    SELECT p_brand, n,
           ROUND((nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd), 6)
             AS slope_cents_per_unit,
           ROUND((syd - (nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd) * sxd)
                 / nd, 4) AS intercept_cents,
           ROUND((nd * sxyd - sxd * syd)
                 / (sqrt(nd * sx2d - sxd * sxd)
                    * sqrt(nd * sy2d - syd * syd)), 6) AS corr_xy
    FROM d ORDER BY p_brand
    """,
)
def regression_price_qty_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sx2"),
            F.sum(y * y).alias("sy2"),
        )
    )
    # cast every integer sum to double FIRST, then combine with the same
    # IEEE operation order as the oracle — bit-identical results (n*sy2
    # overflows int64, and mixed exact-vs-rounded arithmetic would drift)
    nd, sxd, syd = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxyd, sx2d, sy2d = [F.col(c).cast("double") for c in ("sxy", "sx2", "sy2")]
    num = nd * sxyd - sxd * syd
    den_x = nd * sx2d - sxd * sxd
    slope = num / den_x
    return s.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope_cents_per_unit"),
        F.round((syd - slope * sxd) / nd, 4).alias("intercept_cents"),
        F.round(
            num / (F.sqrt(den_x) * F.sqrt(nd * sy2d - syd * syd)), 6
        ).alias("corr_xy"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# Chi-square independence test: is document language independent of source?
# Observed counts are exact integers; expected counts and the statistic are
# a short double fold over the ~20-cell contingency table (identical IEEE
# arithmetic on int64-cast inputs; round(6) absorbs sub-ulp summation-order
# noise across so few terms). The dataset-audit primitive for "is this
# split/source biased".
# ---------------------------------------------------------------------------
@register(
    "lang_source_chisq",
    """
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ), rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT o.lang, o.source, o.o,
             CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
      FROM obs o JOIN rt ON o.lang = rt.lang JOIN ct ON o.source = ct.source
      CROSS JOIN n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           ROUND(SUM((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e), 6)
             AS chi2
    FROM cells
    """,
)
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    n_rows = rt.agg(F.count(F.lit(1)).alias("nr"))
    n_cols = ct.agg(F.count(F.lit(1)).alias("nc"))
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "e",
            F.col("r").cast("double") * F.col("c").cast("double") / F.col("n").cast("double"),
        )
    )
    od = F.col("o").cast("double")
    return (
        cells.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum((od - F.col("e")) * (od - F.col("e")) / F.col("e")), 6).alias(
                "chi2"
            ),
        )
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(n_cols))
        .select(
            "n_cells",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            "chi2",
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN maintenance (delta-join identity): with orders split on
# orderdate and lineitem split on shipdate at the same cutoff,
#   A⋈B = Ah⋈Bh ∪ Ah⋈Bd ∪ Ad⋈Bh ∪ Ad⋈Bd
# — the nightly-refresh shape where only the delta partitions rescan. Each
# quadrant aggregates before the union (decomposable count/int-cent sums),
# and the oracle is the monolithic full join — a hash match proves the
# decomposition exact.
# ---------------------------------------------------------------------------
IVM_CUTOFF = "2000-01-01"

@register(
    "incremental_join_maintenance",
    f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(IVM_CUTOFF).cast("timestamp")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        (F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
        .cast("long")
        .alias("cents"),
    )
    oh, od = orders.filter(F.col("o_orderdate") < cutoff), orders.filter(
        F.col("o_orderdate") >= cutoff
    )
    lh, ld = li.filter(F.col("l_shipdate") < cutoff), li.filter(
        F.col("l_shipdate") >= cutoff
    )

    def quadrant(o, l):
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("cents").alias("revenue_cents"),
            )
        )

    combined = (
        quadrant(oh, lh)
        .unionByName(quadrant(oh, ld))
        .unionByName(quadrant(od, lh))
        .unionByName(quadrant(od, ld))
    )
    return (
        combined.groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: build the d×w sketch over token
# occurrences, estimate the exact top-20 tokens against it. The sketch is
# deterministic (prefix-salted md5 buckets), so the oracle rebuilds the
# IDENTICAL counter table and the estimates hash-match exactly; the classic
# CMS overestimate guarantee (est >= true) is emitted as a checked column.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 256


def _cms_bucket_sql(prefix_expr: str) -> str:
    """First-16-bit value of md5(prefix_expr) mod w, via nibble arithmetic."""
    parts = [
        f"(strpos('0123456789abcdef', substr(md5({prefix_expr}), {i}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(1, 5)
    ]
    return f"(({' + '.join(parts)}) % {_CMS_W})"


_CMS_KEY = "'cm' || CAST(rs.r AS VARCHAR) || ':' || tok"

CMS_SQL = f"""
    WITH occ AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
    ),
    rs AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
    sk AS (
      SELECT rs.r, {_cms_bucket_sql(_CMS_KEY)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS counter
      FROM occ CROSS JOIN rs
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM occ GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT exact.tok, rs.r, {_cms_bucket_sql(_CMS_KEY)} AS bucket
      FROM exact CROSS JOIN rs
    ),
    est AS (
      SELECT p.tok, MIN(s.counter) AS cms_est
      FROM probes p JOIN sk s ON p.r = s.r AND p.bucket = s.bucket
      GROUP BY p.tok
    )
    SELECT e.tok AS token, e.exact_cnt, est.cms_est,
           est.cms_est >= e.exact_cnt AS overestimates
    FROM exact e JOIN est ON e.tok = est.tok
    ORDER BY e.exact_cnt DESC, token
"""


@register("cms_heavy_hitters", CMS_SQL)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.sketch import cms_estimate, cms_sketch
    from pyrecount_spark.operators.text import tokens

    occ = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    exact = (
        occ.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "tok")
        .limit(20)
    )
    sketch = cms_sketch(occ, "tok", _CMS_D, _CMS_W)
    est = cms_estimate(sketch, exact.select("tok"), "tok", _CMS_D, _CMS_W)
    return (
        exact.join(est, on="tok")
        .select(
            F.col("tok").alias("token"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimates"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
    )


# ---------------------------------------------------------------------------
# CMS join-size estimation: the inner product of two count-min sketches
# (Cormode & Muthukrishnan §4.2) estimates |A ⋈ B| on the equi-key without
# shuffling either fact — the pre-flight cardinality check a planner wants
# before choosing broadcast vs shuffle vs sort-merge at 100 TB. Both
# sketches are d×w counter tables built with ONE map-side-combined groupBy
# each; the estimate is then a ≤ d·w-row join. The orders side is filtered
# to 'F' status so the estimate is non-degenerate (not every lineitem
# matches). Classic guarantee est >= exact, emitted as a checked column.
# ---------------------------------------------------------------------------
_CMS_JOIN_KEY_O = "'cm' || CAST(rs.r AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)"
_CMS_JOIN_KEY_L = "'cm' || CAST(rs.r AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR)"

_CMS_JOIN_SQL = f"""
    WITH rs AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
    sa AS (
      SELECT rs.r, {_cms_bucket_sql(_CMS_JOIN_KEY_O)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS counter
      FROM (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') CROSS JOIN rs
      GROUP BY 1, 2
    ),
    sb AS (
      SELECT rs.r, {_cms_bucket_sql(_CMS_JOIN_KEY_L)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS counter
      FROM (SELECT l_orderkey FROM lineitem) CROSS JOIN rs
      GROUP BY 1, 2
    ),
    ip AS (
      SELECT sa.r, SUM(sa.counter * sb.counter) AS ip
      FROM sa JOIN sb ON sa.r = sb.r AND sa.bucket = sb.bucket
      GROUP BY sa.r
    ),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM ip),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT est.est_join_rows, exact.exact_join_rows,
           est.est_join_rows >= exact.exact_join_rows AS overestimates
    FROM est CROSS JOIN exact
"""


@register("cms_join_size_estimate", _CMS_JOIN_SQL)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyrecount_spark.operators.sketch import cms_inner_product, cms_sketch

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").cast("string").alias("k"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("k")
    )
    est = cms_inner_product(
        cms_sketch(o, "k", _CMS_D, _CMS_W), cms_sketch(li, "k", _CMS_D, _CMS_W)
    )
    exact = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .join(
            _t(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .agg(F.count(F.lit(1)).alias("exact_join_rows"))
    )
    # 1-row × 1-row cross join (scalar-subquery shape, broadcast)
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_rows",
        "exact_join_rows",
        (F.col("est_join_rows") >= F.col("exact_join_rows")).alias("overestimates"),
    )


# ---------------------------------------------------------------------------
# Exact distributed quantile cut-points (the equi-depth histogram
# boundaries / ANALYZE statistics shape): Spark's exact `percentile`
# aggregate — partial (value, count) maps combine map-side, no global
# sort — against DuckDB's quantile_cont. Both interpolate linearly at
# p·(n-1); money goes through integer cents first so the only float op is
# the final interpolation, rounded to 4.
# ---------------------------------------------------------------------------
@register(
    "order_price_decile_cutpoints",
    """
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    q AS (
      SELECT quantile_cont(cents,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM c
    )
    SELECT CAST(d AS BIGINT) AS decile,
           ROUND(qs[d] / 100.0, 4) AS cutpoint
    FROM q CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d)
    """,
)
def order_price_decile_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    fracs = [i / 10.0 for i in range(1, 10)]
    agg = o.agg(
        F.percentile(F.col("cents"), F.array(*[F.lit(f) for f in fracs])).alias("qs")
    )
    return agg.select(
        F.posexplode(F.col("qs")).alias("pos", "q")
    ).select(
        (F.col("pos") + 1).cast("long").alias("decile"),
        F.round(F.col("q") / 100.0, 4).alias("cutpoint"),
    )


# ---------------------------------------------------------------------------
# ROLLUP hierarchy aggregate: revenue by (nation, order-year) with nation
# subtotals and a grand total in ONE pass — Spark's rollup and DuckDB's
# GROUP BY ROLLUP both compute the lattice from a single shuffle's partial
# aggregates instead of 3 scans + union. Subtotal NULLs are coalesced to
# 'ALL'/-1 sentinels so the cross-engine compare is unambiguous (a real
# NULL key could not be told apart from the rollup marker otherwise).
# ---------------------------------------------------------------------------
@register(
    "revenue_rollup_nation_year",
    """
    SELECT COALESCE(n.n_name, 'ALL') AS nation,
           CAST(COALESCE(EXTRACT(year FROM o.o_orderdate), -1) AS BIGINT)
             AS order_year,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(n.n_name, EXTRACT(year FROM o.o_orderdate))
    """,
)
def revenue_rollup_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("o_year"), F.lit(-1)).cast("long").alias("order_year"),
            "revenue_cents",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Grouped exact quantiles: per-segment price quartiles in one groupBy with
# the percentile aggregate (per-group partial count-maps combine map-side;
# no per-group sort, no window). Money through integer cents; the single
# float op is the final interpolation, rounded to 4.
# ---------------------------------------------------------------------------
@register(
    "price_quartiles_by_segment",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    q AS (
      SELECT segment, quantile_cont(cents, [0.25, 0.5, 0.75]) AS qs
      FROM j GROUP BY segment
    )
    SELECT segment,
           ROUND(qs[1] / 100.0, 4) AS p25,
           ROUND(qs[2] / 100.0, 4) AS p50,
           ROUND(qs[3] / 100.0, 4) AS p75
    FROM q
    """,
)
def price_quartiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    agg = j.groupBy("segment").agg(
        F.percentile(F.col("cents"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("qs")
    )
    return agg.select(
        "segment",
        F.round(F.element_at("qs", 1) / 100.0, 4).alias("p25"),
        F.round(F.element_at("qs", 2) / 100.0, 4).alias("p50"),
        F.round(F.element_at("qs", 3) / 100.0, 4).alias("p75"),
    )


# ---------------------------------------------------------------------------
# CUBE lattice: order counts across every subset of (orderstatus,
# orderpriority) — detail, both one-dimension margins, and the grand total
# from ONE shuffle's partials (4 grouping sets; ROLLUP's cousin with all
# 2^k combinations). Sentinel-coalesced subtotal keys, as in the rollup.
# ---------------------------------------------------------------------------
@register(
    "order_cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def order_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue_cents",
        )
    )


# ---------------------------------------------------------------------------
# Winsorized mean (robust location): clip lineitem prices at the exact
# [p05, p95] before averaging — the outlier-insensitive statistic a data-
# quality dashboard wants next to the raw mean. Two passes: an exact-
# percentile 1-row aggregate broadcast back (scalar-subquery pattern),
# then one clip + integer-cents sum. Clip bounds are rounded to integer
# cents, so the clipped sum is engine-exact; only the final divisions are
# floats, rounded 4.
# ---------------------------------------------------------------------------
@register(
    "winsorized_mean_lineitem_price",
    """
    WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
    b AS (
      SELECT CAST(ROUND(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
             CAST(ROUND(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
      FROM c
    )
    SELECT ROUND(b.lo / 100.0, 4) AS p05,
           ROUND(b.hi / 100.0, 4) AS p95,
           ROUND(AVG(cents) / 100.0, 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(cents, b.lo), b.hi)) / 100.0, 4)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN cents < b.lo OR cents > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped
    FROM c CROSS JOIN b
    GROUP BY b.lo, b.hi
    """,
)
def winsorized_mean_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    bounds = li.agg(
        F.round(F.percentile(F.col("cents"), F.lit(0.05))).cast("long").alias("lo"),
        F.round(F.percentile(F.col("cents"), F.lit(0.95))).cast("long").alias("hi"),
    )
    clipped = li.crossJoin(F.broadcast(bounds))
    return clipped.groupBy("lo", "hi").agg(
        F.round(F.avg("cents") / 100.0, 4).alias("raw_mean"),
        F.round(
            F.avg(F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")))
            / 100.0,
            4,
        ).alias("winsorized_mean"),
        F.sum(
            F.when(
                (F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1
            ).otherwise(0)
        ).alias("n_clipped"),
    ).select(
        F.round(F.col("lo") / 100.0, 4).alias("p05"),
        F.round(F.col("hi") / 100.0, 4).alias("p95"),
        "raw_mean",
        "winsorized_mean",
        "n_clipped",
    )


# ---------------------------------------------------------------------------
# Median-absolute-deviation outliers per segment: med = exact grouped
# median, MAD = median(|x − med|), outlier iff |x − med| > 3·MAD — the
# robust z-score a data-quality monitor uses where winsorizing is too
# blunt. Two grouped percentile aggregates (map-side partial count-maps,
# no per-group sort) with a ≤|segments|-row broadcast join between them;
# all comparisons on integer cents, so the only floats are the reported
# medians.
# ---------------------------------------------------------------------------
@register(
    "mad_outliers_by_segment",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    med AS (
      SELECT segment,
             CAST(ROUND(quantile_cont(cents, 0.5)) AS BIGINT) AS med_cents
      FROM j GROUP BY segment
    ),
    dev AS (
      SELECT j.segment, j.cents, ABS(j.cents - m.med_cents) AS adev,
             m.med_cents
      FROM j JOIN med m ON j.segment = m.segment
    ),
    mad AS (
      SELECT segment,
             CAST(ROUND(quantile_cont(adev, 0.5)) AS BIGINT) AS mad_cents
      FROM dev GROUP BY segment
    )
    SELECT d.segment,
           ROUND(ANY_VALUE(d.med_cents) / 100.0, 4) AS median_price,
           ROUND(ANY_VALUE(a.mad_cents) / 100.0, 4) AS mad_price,
           CAST(SUM(CASE WHEN d.adev > 3 * a.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM dev d JOIN mad a ON d.segment = a.segment
    GROUP BY d.segment
    """,
)
def mad_outliers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    med = j.groupBy("segment").agg(
        F.round(F.percentile(F.col("cents"), F.lit(0.5)))
        .cast("long")
        .alias("med_cents")
    )
    dev = j.join(F.broadcast(med), on="segment").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = dev.groupBy("segment").agg(
        F.round(F.percentile(F.col("adev"), F.lit(0.5)))
        .cast("long")
        .alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), on="segment")
        .groupBy("segment")
        .agg(
            F.round(F.first("med_cents") / 100.0, 4).alias("median_price"),
            F.round(F.first("mad_cents") / 100.0, 4).alias("mad_price"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
