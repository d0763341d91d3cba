#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, schema (column names),
and an order-insensitive value comparison (sorted columns, sorted rows,
exact cell equality after normalization). Strictly harsher than any
reasonable hash — if this passes, a value-hash passes.

Usage: python scripts/check_oracle.py [--json OUT.json] [--no-oracle]
       [--sample ROUND[:K]] [sf_dir] [query_name ...]

``--sample ROUND[:K]`` selects a deterministic K-query window (default 60)
that WALKS the registry round over round (round-10, VERDICT r9 #6: the
driver has sampled the identical 50 names for five consecutive rounds, so
CORRECTNESS-shaped evidence never touched half the registry). Queries are
ordered by sha256(name) — a fixed pseudo-random permutation — and round R
takes the window starting at (R*K) mod N, wrapping: consecutive rounds are
DISJOINT until the walk laps the registry (~4 rounds at N≈210, K=60), after
which coverage has provably touched every query. The window is a pure
function of (round, K, registry), so anyone can reproduce the slice.

``--no-oracle`` executes only the Spark side and records timing/row-count/
stage metrics without the DuckDB comparison — for scaling-curve runs at
sizes where the oracle (not the plan under test) is the bottleneck; such
records carry ``oracle_skipped: true`` so they can never be mistaken for
correctness evidence.

``--json OUT.json`` additionally records one entry per query in the
CORRECTNESS_rN.json shape ({name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}), nested under the sf dir's basename so
several scale factors merge into one auditable artifact (SWEEP_rN.json).
Existing entries for other SFs / other queries in OUT.json are preserved.
With ``--sample`` it also writes ``"_meta": {"round": ROUND, "k": K}``, the
window declaration tests/test_artifacts.py recomputes the slice from.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from pyrecount_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class StageMetrics:
    """Per-query executor-metric deltas via Spark's public REST monitoring
    API (the UI JSON endpoint — the documented, version-stable surface for
    stage metrics; AppStatusStore via py4j needs every Scala default arg
    spelled out and breaks across minor versions).

    Why the sweep records these: wall time at local[32] hides quadratic
    intermediates that 32-way parallelism absorbs (prefix-Jaccard's 6.15 M
    candidate pairs are invisible in ``spark_secs``), but shuffle bytes are
    the 100 TB cost driver — a query whose shuffle volume grows super-
    linearly in data is a scale suspect even when its local wall time looks
    linear. ``scripts/scaling_audit.py`` audits the bytes axis alongside
    time.

    Delta protocol: after each query, sum metrics over stages not yet seen
    (COMPLETE/FAILED/SKIPPED only — in-flight stages stay unseen so their
    final numbers land in a later snapshot, never half-counted). Stage-store
    eviction only drops oldest (already-seen) entries, so deltas stay
    correct across a 200+-query sweep with retainedStages raised. A
    disabled UI or any HTTP hiccup degrades to None metrics, never a sweep
    failure.
    """

    _DONE = {"COMPLETE", "FAILED", "SKIPPED"}

    def __init__(self, spark) -> None:
        self._url = None
        try:
            base = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            if base:
                self._url = f"{base}/api/v1/applications/{app}/stages"
        except Exception:  # noqa: BLE001
            pass
        self._seen: set[tuple[int, int]] = set()

    def delta(self) -> dict[str, float | None]:
        keys = ("shuffle_read_mb", "shuffle_write_mb", "input_mb",
                "spill_disk_mb", "shuffle_write_rows", "spill_stage_volume_mb",
                "spill_stages")
        if self._url is None:
            return dict.fromkeys(keys)
        import json
        import urllib.request

        try:
            with urllib.request.urlopen(self._url, timeout=10) as r:
                stages = json.load(r)
        except Exception:  # noqa: BLE001
            return dict.fromkeys(keys)
        sums = {"shuffleReadBytes": 0, "shuffleWriteBytes": 0,
                "inputBytes": 0, "diskBytesSpilled": 0,
                "shuffleWriteRecords": 0}
        # ADVICE r12: the bytes the SPILLING stages themselves consumed
        # (their shuffle read + scan input) — the honest denominator for
        # the audit's volume-bounded spill-emergence rule. A query-level
        # max(shuffle_write, input) would excuse genuine amplification over
        # a small exchange inside a large-input query (the round-10 defect
        # class: 56.5 GB spilled sorting a 7.7 GB exchange).
        spill_vol = 0
        # ADVICE r13: the aggregate sums consumed bytes across ALL spilling
        # stages, so one big legitimately-spilling stage (large volume,
        # small spill) could inflate the denominator and excuse a small
        # stage with real amplification — the r10 defect class again, one
        # level down. Record the per-stage (spill, volume) pairs too;
        # scaling_audit adjudicates the MAX per-stage ratio.
        spill_stages: list[list[float]] = []
        for s in stages:
            sid = (s["stageId"], s["attemptId"])
            if sid in self._seen or s.get("status") not in self._DONE:
                continue
            self._seen.add(sid)
            for k in sums:
                sums[k] += s.get(k) or 0
            st_spill = s.get("diskBytesSpilled") or 0
            if st_spill:
                st_vol = (s.get("shuffleReadBytes") or 0) + (
                    s.get("inputBytes") or 0
                )
                spill_vol += st_vol
                spill_stages.append(
                    [round(st_spill / (1024.0 * 1024.0), 3),
                     round(st_vol / (1024.0 * 1024.0), 3)]
                )
        mb = 1024.0 * 1024.0
        return {
            "shuffle_read_mb": round(sums["shuffleReadBytes"] / mb, 3),
            "shuffle_write_mb": round(sums["shuffleWriteBytes"] / mb, 3),
            "input_mb": round(sums["inputBytes"] / mb, 3),
            "spill_disk_mb": round(sums["diskBytesSpilled"] / mb, 3),
            # records disambiguate plan-shape growth from compression-ratio
            # artifacts: rows linear + bytes super-linear = entropy/gate
            # crossover, rows super-linear = a real fan-out in the plan
            "shuffle_write_rows": sums["shuffleWriteRecords"],
            "spill_stage_volume_mb": round(spill_vol / mb, 3),
            # per-spilling-stage [spill_mb, volume_mb] pairs (ADVICE r13);
            # empty list = no stage spilled. Sorted worst-ratio-first so a
            # human reading the artifact sees the adjudicating stage first.
            "spill_stages": sorted(
                spill_stages, key=lambda p: p[0] / max(p[1], 1.0),
                reverse=True,
            ),
        }


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # bytes (sha2 etc.) → hex text; Decimal → float
            df[c] = s.map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
        if str(s.dtype).startswith("datetime64"):
            df[c] = s.astype("datetime64[us]").astype(str)
    # ints of any width → int64; floats → float64 for comparison
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"schema: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"rows: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = normalize(spark_df), normalize(duck_df)
    if len(a) == len(b):
        for c in a.columns:
            ca, cb = a[c], b[c]
            if ca.dtype.kind == "f" or cb.dtype.kind == "f":
                import numpy as np

                ca = ca.astype("float64")
                cb = cb.astype("float64")
                bad = ~(np.isclose(ca, cb, rtol=0, atol=0, equal_nan=True))
                exact_bad = int(bad.sum())
                if exact_bad:
                    close_bad = int((~np.isclose(ca, cb, rtol=1e-9, equal_nan=True)).sum())
                    problems.append(
                        f"col {c}: {exact_bad} cells differ exactly"
                        f" ({close_bad} beyond 1e-9 rel)"
                    )
            else:
                neq = ~((ca == cb) | (ca.isna() & cb.isna()))
                if int(neq.sum()):
                    i = int(neq.idxmax())
                    problems.append(
                        f"col {c}: {int(neq.sum())} cells differ, e.g. {ca[i]!r} != {cb[i]!r}"
                    )
    return problems


def sample_window(names: list[str], rnd: int, k: int) -> list[str]:
    """Round-R window of size k over the sha256-permuted registry —
    deterministic, registry-walking (see module docstring)."""
    import hashlib

    perm = sorted(names, key=lambda n: hashlib.sha256(n.encode()).hexdigest())
    start = (rnd * k) % len(perm)
    return (perm + perm)[start : start + min(k, len(perm))]


def main() -> int:
    args = list(sys.argv[1:])
    no_oracle = "--no-oracle" in args
    if no_oracle:
        args.remove("--no-oracle")
    sample = None
    if "--sample" in args:
        i = args.index("--sample")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [--sample ROUND[:K]] ...")
            return 2
        spec = args[i + 1]
        del args[i : i + 2]
        rnd, _, k = spec.partition(":")
        sample = (int(rnd), int(k) if k else 60)
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [--json OUT.json] [sf_dir] [query ...]")
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    # any flag still present is unrecognized — error loudly instead of
    # treating it as an sf_dir (a literal `--help` once became a corpus
    # directory full of symlinks)
    bad = [a for a in args if a.startswith("--")]
    if bad:
        print(
            f"unknown option(s) {bad}; usage: check_oracle.py "
            "[--json OUT.json] [--no-oracle] [--sample ROUND[:K]] "
            "[sf_dir] [query_name ...]"
        )
        return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if sample is not None:
        rnd, k = sample
        win = sample_window(sorted(qs), rnd, k)
        only = set(win) | only
        print(f"sample round={rnd} k={k}: {len(win)}-query window "
              f"starting at offset {(rnd * k) % len(qs)} of the "
              f"sha256-permuted registry")
    # UI on for the REST metrics endpoint; retainedStages raised so the
    # ~1500 stages of a full sweep never evict not-yet-snapshotted entries
    spark = get_spark(
        "oracle-check",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "20000"},
    )
    metrics = StageMetrics(spark)
    metrics.delta()  # absorb session-setup stages
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = n_weak = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
            "spark_secs": None,
        }
        records[name] = rec
        try:
            # cache hygiene: operators .cache() intra-query intermediates;
            # across a 200+-query sweep those pile up into storage-memory
            # pressure that has nothing to do with the query under test
            get_spark().catalog.clearCache()
            sdf = fn(get_spark(), sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL {name}: spark raised {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            metrics.delta()  # re-baseline: partial stages must not leak forward
            continue
        # single-pass Spark wall time (plan build + execute + collect).
        # Recorded per SF in the sweep artifact, these become per-query
        # time-vs-scale curves: a query whose time grows much faster than
        # the data between SFs is a scaling suspect worth a plan audit.
        rec["spark_secs"] = round(time.time() - t0, 2)
        # executor-side stage metrics for THIS query (shuffle bytes are the
        # 100 TB cost driver — see StageMetrics docstring)
        rec.update(metrics.delta())
        rec["spark_rows"] = len(sdf)
        # state-store metrics published by the drain (streaming queries
        # only; round-11 — state growth, not drain time, is the streaming
        # scale axis). Read-and-clear so a later stateless query can never
        # inherit a stale snapshot.
        try:
            from pyrecount_spark.streaming.pipeline import LAST_STATE_METRICS

            if LAST_STATE_METRICS:
                rec["state_ops"] = [dict(m) for m in LAST_STATE_METRICS]
                LAST_STATE_METRICS.clear()
        except Exception:  # noqa: BLE001
            pass
        if no_oracle:
            rec["oracle_skipped"] = True
            print(f"TIME {name}: rows={len(sdf)} [{rec['spark_secs']}s]")
            n_weak += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows={len(sdf)} (no oracle) [{time.time() - t0:.1f}s]")
            n_weak += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"duckdb {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        rec["oracle_rows"] = len(ddf)
        rec["rows_match"] = len(sdf) == len(ddf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
        problems = compare(name, sdf, ddf)
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(sdf)} [{time.time() - t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    if json_out:
        import json
        import os

        merged = {}
        if os.path.exists(json_out):
            with open(json_out) as f:
                merged = json.load(f)
        key = os.path.basename(sf_dir.rstrip("/"))
        merged.setdefault(key, {}).update(records)
        if sample is not None:
            rnd, k = sample
            merged["_meta"] = {"round": rnd, "k": k}
        with open(json_out, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        n = sum(len(v) for sf, v in merged.items() if sf != "_meta")
        print(f"wrote {n} records to {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
