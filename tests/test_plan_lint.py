"""Plan lint over the whole query registry: no row-at-a-time Python UDFs,
no cartesian products, and nested-loop joins only where they are the
intended shape (1-row broadcast scalar/query sides, or the documented
all-pairs correctness baseline). Catches a plan regression in ANY
registered query at analysis time — no execution needed. Also an import
audit: every package module must be reachable from a product entry point.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyrecount_spark import plans

plans.load_all()

# streaming (plans materialize only on run) and iterative driver-loop ops
SKIP = {
    "streaming_tumbling_events",
    "streaming_dim_join_agg",
    "streaming_stateful_totals",
    "dedup_components_canonical",
    "pagerank_dup_graph",
}

# BroadcastNestedLoopJoin is acceptable ONLY here:
BNLJ_OK = {
    "above_average_customers",  # 1-row global-aggregate side
    "knn_brute_force_cosine",  # 1-row query-vector side
    "tfidf_top_terms",  # 1-row corpus-count side
    "embedding_cosine_pairs",  # documented all-pairs baseline (LSH = scale path)
    "dss_important_parts_scalar",  # 1-row global-total side (Q11 scalar)
    "dss_global_sales_opportunity",  # 1-row positive-balance-average side (Q22)
    "contrastive_negative_pairs",  # 1-row corpus-count side (hash ring modulus)
    "lang_source_chisq",  # 1-row grand-total / dof sides of the contingency table
    "lsh_recall_eval",  # evaluation twin: exact all-pairs side measures LSH recall
    "length_weighted_sample",  # 1-row global-max side of the sampling threshold
    "cms_join_size_estimate",  # 1-row estimate × 1-row exact-count cross join
    "truncated_embedding_recall",  # 1-row query side of both brute top-k evals
    "rrf_hybrid_retrieval",  # 1-row query-vector side of the dense retriever
    "winsorized_mean_lineitem_price",  # 1-row percentile-bounds side
    "pareto_price_recency_orders",  # 1-row min/max bucket-bounds side
    "ab_cuped_adjusted_metric",  # 1-row theta/xbar sufficient-stats side
    "customer_set_ops",  # 1-row × 1-row count cross join
    "bm25_retrieval_topk",  # 1-row avg-length and corpus-count sides
    "customer_ltv_deciles",  # 1-row min/max + count sides (bucketed_global_rank)
    "customer_revenue_gini",  # 1-row min/max side (bucketed_global_rank)
}

FORBIDDEN = ("BatchEvalPython", "CartesianProduct")

# Unpartitioned ordered windows collapse the feeding frame onto ONE task —
# the single-partition-sort anti-pattern at scale. Allowed ONLY where the
# feeding frame is provably bounded (buckets / days / sources / post-top-k),
# enumerated here with the bound as a MAX ROW COUNT for the window's child
# frame, asserted at sf0.01 by test_global_window_bounds_hold (not taken
# on faith from the comment):
GLOBAL_WINDOW_OK = {
    "customer_ltv_deciles": 64,  # bucket-count offsets (bucketed_global_rank)
    "customer_revenue_gini": 64,  # bucket-count offsets (bucketed_global_rank)
    "daily_revenue_moving_avg": 50_000,  # per-day frame: #days (~137 years)
    "global_dense_ids": 256,  # per-source offsets (<= #sources)
    "pareto_price_recency_orders": 32,  # bucket-max carry-in frame
    "rrf_hybrid_retrieval": 20,  # both ranks run AFTER top-k limit(20) frames
    "vocab_encode_tokens": 1000,  # vocab rank runs after .limit(1000)
}

# BroadcastNestedLoopJoin whitelist preconditions, asserted per-plan:
# build side must contain a GLOBAL (grouping-free) aggregate -> provably
# <=1 row, except:
BNLJ_ONE_ROW_FILTER = {
    # build side is an equality filter on a unique id (1 row by data):
    "knn_brute_force_cosine",  # vec_id = 0 query vector
    "truncated_embedding_recall",  # vec_id = 0 query vector (x2)
    "rrf_hybrid_retrieval",  # vec_id = 0 query vector
}
BNLJ_ALL_PAIRS = {
    # documented all-pairs eval/oracle twins — no 1-row precondition:
    "embedding_cosine_pairs",
    "lsh_recall_eval",
}


def _toplevel_groups(s: str) -> list[str]:
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


def _unpartitioned_window_count(plan_text: str) -> int:
    """Count Window/WindowGroupLimit physical nodes with NO partition spec.

    Formatted-explain argument layouts (verified against Spark 4.1):
      Window           -> [exprs], [partitionSpec], [orderSpec]  (partitioned)
                          [exprs], [orderSpec]                   (global)
      WindowGroupLimit -> [partitionSpec], [orderSpec], fn, k    (partitioned)
                          [orderSpec], fn, k                     (global)
    An order spec always carries ASC/DESC markers; a partition spec never does.
    """
    import re

    lines = plan_text.splitlines()
    n = 0
    for i, line in enumerate(lines):
        m = re.match(r"^\(\d+\) (Window|WindowGroupLimit)$", line.strip())
        if not m:
            continue
        kind = m.group(1)
        for j in range(i + 1, min(i + 8, len(lines))):
            if lines[j].startswith("Arguments:"):
                g = _toplevel_groups(lines[j])
                if kind == "Window":
                    if len(g) == 1 or (
                        len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1])
                    ):
                        n += 1
                else:
                    if len(g) == 1:
                        n += 1
                break
    return n


def test_no_forbidden_plan_nodes(spark):
    sf = "/root/testdata/sf0.001"
    problems = []
    for name, fn in plans.QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, sf)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for node in FORBIDDEN:
            if node in p:
                problems.append(f"{name}: {node}")
        if "BroadcastNestedLoopJoin" in p and name not in BNLJ_OK:
            problems.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if name not in GLOBAL_WINDOW_OK and _unpartitioned_window_count(p):
            problems.append(f"{name}: unpartitioned ordered Window (global sort)")
        # Non-equi self-joins over the embeddings table are the O(N²)
        # candidate-generation anti-pattern. Only the documented shapes may
        # scan embeddings through a nested-loop join: the 1-row broadcast
        # query side (knn) and the all-pairs oracle-baseline twin
        # (embedding_cosine_pairs) — both enumerated in BNLJ_OK.
        if (
            "embeddings.parquet" in p
            and "BroadcastNestedLoopJoin" in p
            and name not in BNLJ_OK
        ):
            problems.append(f"{name}: non-equi join over embeddings")
    assert not problems, problems


def _walk(node):
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from _walk(cs.apply(i))


# ---------------------------------------------------------------------------
# Forced-broadcast lint: an explicit F.broadcast hint BYPASSES
# autoBroadcastJoinThreshold, so a hint whose subtree scans an SF-scaled
# table is a 100 TB scale-killer (8 GB broadcast-relation limit / driver
# OOM) even when it is convenient at test scale. Hints are linted on the
# ANALYZED logical plan (ResolvedHint nodes): physical BroadcastExchanges
# chosen by the planner from size stats are fine — they ARE the size gate —
# and `broadcast_if_small` only emits the hint under a measured bound.
# A hinted subtree is acceptable when it is provably bounded at any scale:
#   - a grouping-free (global) aggregate -> <=1 row, or
#   - a GlobalLimit -> <=k rows, or
#   - it only touches fixed-size dims (region/nation: no scaled marker);
# anything else must be enumerated here with its documented bound.
# ---------------------------------------------------------------------------

# one identifying column per SF-scaled table (analyzed relations print
# their full output schema, so these match any subtree scanning the table)
SCALED_MARKERS = (
    "c_custkey",  # customer
    "p_partkey",  # part
    "s_suppkey",  # supplier
    "l_orderkey",  # lineitem
    "o_orderkey",  # orders
    "doc_id",  # documents
    "vec_id",  # embeddings
    "event_type",  # events
)

# Truly FIXED-bound hinted subtrees, name → MAX ROW COUNT of the hinted
# frame. The bound is not taken on faith from the comment:
# test_forced_broadcast_bounds_hold evaluates every non-auto-bounded hinted
# scaled subtree at sf0.01 and asserts its row count (and that the entry is
# live — an entry whose plan no longer carries such a hint must be deleted).
# Vocabulary-scaled sides do NOT belong here ("Heap's-law sublinear" is not
# bounded) — those go through the measured broadcast_if_small gate and are
# listed in SIZE_GATED_BROADCAST instead.
FORCED_BROADCAST_OK = {
    "lang_source_chisq": 200,  # marginals: #langs × #sources categorical cells
    "global_dense_ids": 256,  # per-source offsets: #sources rows
    "mad_outliers_by_segment": 200,  # per-segment median/MAD: #segments rows
    "decontaminate_train_eval": 20_000,  # eval-split shingles: eval-set design
    "cms_heavy_hitters": 4096,  # CMS sketch: d×w cells (hash-bounded keys)
    "knn_brute_force_cosine": 4,  # 1-row query side (vec_id = 0 filter)
    "truncated_embedding_recall": 4,  # 1-row query side (vec_id = 0) ×2
    "rrf_hybrid_retrieval": 20,  # 1-row query vector + post-limit(20) rank side
    "ann_lsh_topk": 64,  # probe side: #queries × #probe-buckets rows
    "ann_ivf_topk": 64,  # q_cells: #queries × nprobe rows
    "ann_ivf_multiprobe": 64,  # q_cells: #queries × nprobe rows
    "label_centroid_similarity": 64,  # per-label norm table: #labels (k) rows
    "bm25_retrieval_topk": 1024,  # q + df-of-query-terms: both bounded by the
    #   query DOCUMENT's distinct tokens (df is aggregated AFTER the q
    #   semi-restriction — never the vocab-sized full df table)
}

# Plans whose broadcast hints are emitted ONLY by broadcast_if_small under a
# measured size estimate (shuffle-join fallback above the threshold). The
# gate itself is verified by test_size_gated_broadcast_falls_back: with the
# session threshold closed, the same plan must carry NO hint.
SIZE_GATED_BROADCAST = {
    "unigram_logprob_scores",  # unigram LM table: vocab rows × measured width
    "bigram_pmi_collocations",  # unigram tables ua/ub: vocab rows × width
    "prefix_filtered_jaccard_pairs",  # doc_sets: measured bytes, explicit
    #   64 MB limit at the operators/dedup.py call site (property-tested)
}


def test_no_forced_broadcast_of_scaled_tables(spark):
    """Every ResolvedHint in every registered analyzed plan either sits on a
    provably bounded subtree (global aggregate / limit / fixed dims) or is
    enumerated in FORCED_BROADCAST_OK with its bound."""
    sf = "/root/testdata/sf0.001"
    problems = []
    for name, fn in plans.QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, sf)
        analyzed = df._jdf.queryExecution().analyzed()
        for node in _walk(analyzed):
            if node.nodeName() != "ResolvedHint":
                continue
            sub = node.treeString()
            if not any(m in sub for m in SCALED_MARKERS):
                continue  # fixed-size dims only
            bounded = any(
                (
                    n2.nodeName() == "Aggregate"
                    and n2.groupingExpressions().isEmpty()
                )
                or n2.nodeName() == "GlobalLimit"
                for n2 in _walk(node)
            )
            if (
                bounded
                or name in FORCED_BROADCAST_OK
                or name in SIZE_GATED_BROADCAST
            ):
                continue
            problems.append(
                f"{name}: forced broadcast hint over an SF-scaled subtree"
            )
            break
    assert not problems, problems


def _subtree_df(spark, node):
    """Wrap an analyzed logical subtree back into a DataFrame so its row
    count can be measured (the bound-assert primitive)."""
    from pyspark.sql import DataFrame

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, node
    )
    return DataFrame(jdf, spark)


def _hinted_scaled_children(spark, df):
    """Children of ResolvedHint nodes that scan an SF-scaled table and are
    NOT auto-bounded (global aggregate / GlobalLimit) — exactly the
    subtrees the whitelist vouches for."""
    analyzed = df._jdf.queryExecution().analyzed()
    for node in _walk(analyzed):
        if node.nodeName() != "ResolvedHint":
            continue
        sub = node.treeString()
        if not any(m in sub for m in SCALED_MARKERS):
            continue
        bounded = any(
            (n2.nodeName() == "Aggregate" and n2.groupingExpressions().isEmpty())
            or n2.nodeName() == "GlobalLimit"
            for n2 in _walk(node)
        )
        if bounded:
            continue
        yield node.children().apply(0)


def test_forced_broadcast_bounds_hold(spark):
    """FORCED_BROADCAST_OK bounds are asserted, not documented: every
    whitelisted plan's non-auto-bounded hinted scaled subtrees must exist
    (no dead entries) and their sf0.01 row counts must sit within the
    entry's bound."""
    sf = "/root/testdata/sf0.01"
    problems = []
    for name, max_rows in sorted(FORCED_BROADCAST_OK.items()):
        if name in SKIP:
            continue
        df = plans.QUERIES[name](spark, sf)
        counts = [
            _subtree_df(spark, c).count()
            for c in _hinted_scaled_children(spark, df)
        ]
        if not counts:
            problems.append(
                f"{name}: dead whitelist entry (no non-bounded hinted "
                "scaled subtree) — delete it"
            )
        elif max(counts) > max_rows:
            problems.append(
                f"{name}: hinted subtree has {max(counts)} rows "
                f"> documented bound {max_rows}"
            )
    assert not problems, problems


def test_global_window_bounds_hold(spark):
    """GLOBAL_WINDOW_OK bounds are asserted too: each whitelisted plan
    must actually contain an unpartitioned logical Window, and every such
    window's child frame must stay within the entry's row bound at
    sf0.01 — the frame a single task will sort."""
    sf = "/root/testdata/sf0.01"
    problems = []
    for name, max_rows in sorted(GLOBAL_WINDOW_OK.items()):
        if name in SKIP:
            continue
        df = plans.QUERIES[name](spark, sf)
        analyzed = df._jdf.queryExecution().analyzed()
        counts = [
            _subtree_df(spark, n.children().apply(0)).count()
            for n in _walk(analyzed)
            if n.nodeName() == "Window" and n.partitionSpec().isEmpty()
        ]
        if not counts:
            problems.append(
                f"{name}: dead whitelist entry (no unpartitioned Window)"
            )
        elif max(counts) > max_rows:
            problems.append(
                f"{name}: global-window child has {max(counts)} rows "
                f"> documented bound {max_rows}"
            )
    assert not problems, problems


def test_size_gated_broadcast_falls_back(spark):
    """The SIZE_GATED_BROADCAST names are only acceptable because their
    hints come from broadcast_if_small. Prove the gate is live: with the
    session broadcast threshold closed (-1), rebuilding the plan must
    yield NO hint over a scaled subtree — i.e. the vocab-sized side
    degrades to a shuffle join instead of an unconditional broadcast.
    (prefix_filtered_jaccard_pairs passes an explicit byte limit at its
    call site and is covered by its own property tests.)"""
    sf = "/root/testdata/sf0.001"
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    problems = []
    try:
        spark.conf.set(key, "-1")
        for name in ("unigram_logprob_scores", "bigram_pmi_collocations"):
            df = plans.QUERIES[name](spark, sf)
            if any(True for _ in _hinted_scaled_children(spark, df)):
                problems.append(
                    f"{name}: still hints a scaled subtree with the "
                    "broadcast threshold closed — gate not live"
                )
    finally:
        spark.conf.set(key, old)
    assert not problems, problems


def test_bnlj_whitelist_preconditions(spark):
    """The BNLJ_OK whitelist is not taken on faith: every whitelisted plan's
    nested-loop build side must actually satisfy its documented precondition —
    a grouping-free (global) aggregate, i.e. provably <=1 broadcast row, or
    (for the enumerated query-vector cases) an equality filter on a unique id.
    The two all-pairs eval twins are exempt by design."""
    sf = "/root/testdata/sf0.001"
    problems = []
    for name in sorted(BNLJ_OK):
        if name in BNLJ_ALL_PAIRS or name in SKIP:
            continue
        df = plans.QUERIES[name](spark, sf)
        sp = df._jdf.queryExecution().sparkPlan()
        bnljs = [n for n in _walk(sp) if n.nodeName() == "BroadcastNestedLoopJoin"]
        for jn in bnljs:
            build = (
                jn.right() if jn.buildSide().toString() == "BuildRight" else jn.left()
            )
            global_agg = any(
                n.nodeName()
                in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
                and n.groupingExpressions().isEmpty()
                for n in _walk(build)
            )
            key_filter = any(n.nodeName() == "Filter" for n in _walk(build))
            ok = (
                key_filter
                if name in BNLJ_ONE_ROW_FILTER
                else global_agg
            )
            if not ok:
                problems.append(f"{name}: BNLJ build side not provably 1-row")
    assert not problems, problems


def test_eval_only_group_matches_all_pairs_whitelist():
    """The registry's "eval_only" group (surfaced via __spark_entry__.
    query_groups()) must be EXACTLY the BNLJ all-pairs whitelist, and no
    bench tier may contain one — so a future driver/bench reshuffle cannot
    silently promote a documented O(N^2) eval yardstick into a hot path."""
    eval_only = {n for n, g in plans.GROUPS.items() if g == "eval_only"}
    assert eval_only == BNLJ_ALL_PAIRS, (eval_only, BNLJ_ALL_PAIRS)

    import bench

    for tier_name, tier in (
        ("HEADLINE", bench.HEADLINE),
        ("HEAVY", bench.HEAVY),
        ("STREAMING", bench.STREAMING),
    ):
        hot = set(tier) & eval_only
        assert not hot, f"eval_only query in bench {tier_name} tier: {hot}"

    # every default-group query really is registered (sanity on the tag)
    assert set(plans.GROUPS) == set(plans.QUERIES)


def test_iterative_edge_feeders_are_bucketed(spark):
    """The components/PageRank queries are driver-loop iterative (SKIPped
    above), but their candidate-edge FEEDER is a static plan we can lint:
    it must be the bucketed MinHash-band + exact-verify pipeline — equi
    joins only, no nested-loop candidate generation (the round-1 version
    fed both from an all-pairs cosine self-join over embeddings)."""
    from pyrecount_spark.plans.dedup import _verified_edges

    # materialize=False: lint the raw feeder plan, not the memoized
    # localCheckpoint scan that hides it
    _, edges = _verified_edges(spark, "/root/testdata/sf0.001", materialize=False)
    p = edges._sc._jvm.PythonSQLUtils.explainString(
        edges._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "embeddings.parquet" not in p  # graph is over documents now


_REPO = Path(__file__).resolve().parents[1]
# The product surface: the driver contract file plus the three modules a
# caller imports (the recount facade, the session, the query registry).
ENTRY_ROOTS = ("__spark_entry__", "pyrecount_spark.api", "pyrecount_spark.session",
               "pyrecount_spark.plans")


def _with_parents(names) -> set[str]:
    """Importing a.b.c runs a and a.b first."""
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def _imported_modules(path: Path) -> set[str]:
    """Every dotted name an ``import`` / ``from ... import ...`` anywhere in
    ``path`` may load, lazy imports inside function bodies included."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):  # the package imports absolutely
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return _with_parents(names)


def test_every_package_module_reachable_from_entry_points():
    """A static import walk from ENTRY_ROOTS must reach every module under
    pyrecount_spark/. A module only tests import is dead code: delete it,
    or import it from the product path that needs it."""
    modules = {}
    for path in (_REPO / "pyrecount_spark").rglob("*.py"):
        parts = path.relative_to(_REPO).with_suffix("").parts
        modules[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    modules["__spark_entry__"] = _REPO / "__spark_entry__.py"

    reached, todo = set(), list(_with_parents(ENTRY_ROOTS))
    while todo:
        mod = todo.pop()
        if mod in reached:
            continue
        reached.add(mod)
        todo.extend(m for m in _imported_modules(modules[mod]) if m in modules)
    unreached = sorted(set(modules) - reached)
    assert not unreached, f"no entry point imports {unreached}"
