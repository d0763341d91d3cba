#!/usr/bin/env python3
"""One-command per-round evidence regeneration (round-14, VERDICT r13 #4).

Until round 14 the corpus recipes and the 10-step artifact sequence lived
in out-of-session notes; ``testdata_gen/`` is wiped between sessions, so a
fresh session had to reconstruct the evidence pipeline from fragments.
This script IS the pipeline: it rebuilds every deterministic corpus
(seeded, byte-identical — validated against scaling_audit.CORPUS_ROWS,
the same inventory CI pins to parquet metadata) and regenerates every
registry-coupled artifact in dependency order.

Usage:
  python scripts/regen_round.py --round N [--steps a,b,...] [--list]
      [--dry-run] [--include-frontier]

  --round N   the round number: names artifacts X_rN.json and selects the
              SLICE sample window (--sample N:60).
  --steps     comma-separated subset of the step names (--list shows them,
              in order). Default: every step except the frontier probes.
  --dry-run   print each command without executing.
  --include-frontier  also run the two EXPENSIVE probe legs (the advsf12e
              decontaminate oracle peaks ~95 GB RAM in DuckDB and the
              advsf30e timing rows must be taken on an IDLE host) —
              excluded by default so a default run cannot wedge a small
              machine.

Carry-forward rule (round-12, BASELINE.md): an artifact whose query plans
AND corpora are unchanged may carry forward from the previous round — the
proof is `plan_fingerprint.py --compare PLANS_r{N-1} PLANS_rN` showing 0
changed among its queries. The `plans` step prints that compare; when it
reports 0 changed / 0 added / 0 removed, the heavy timing artifacts
(scaling, scaling_tpch, scaling_tpchv, probe) MAY be skipped via --steps
and their r{N-1} files remain the round's evidence (tests/test_artifacts
gates on the LATEST file of each family). SWEEP/SLICE/ADVERSARIAL/PLANS
regen whenever the registry changes: the SLICE window is a function of
registry SIZE, so adding queries reshuffles every window.

Hermetic rule (round-11): the TPCH-family artifacts run ONE check_oracle
invocation per (query, corpus) — cross-query exchange/stage reuse inside
a shared session makes per-query shuffle-row attribution order-dependent
(dss_market_share: 122,803 srows cold vs 1,014 after a sibling ran).
`--json` merging makes the loop trivial. Adversarial-family names share
few subplans and stay batched.

Timing expectations (idle 32-thread host): corpora ~20 min (tpchv_sf100
~15 min of it), sweep ~35 min, adversarial ~25 min, scaling ~15 min,
tpch/tpchv hermetic loops ~70 min, streaming ~20 min, slice ~10 min,
plans+finalplans ~15 min. Frontier probes add ~60 min and the ~95 GB
DuckDB peak. Don't run concurrent CPU work: the timing axes feed strict
decade audits (a loaded 44 s ann reading vs 10.7 s idle flipped a pair
audit in round 11).
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
GEN = REPO / "testdata_gen"
PY = sys.executable

# ---------------------------------------------------------------- corpora

#: corpus dir basename -> gen_corpus.py args (deterministic, seed 8).
#: The scaling trio rule: docs x10 per decade, embeddings=docs/5,
#: events=docs*13.33, users=embeddings, vocab=4*docs (Heaps growth — a
#: FIXED vocab makes shingle ops quadratic by construction, which is the
#: adversarial corpus' point, not the scaling trio's). Probe corpora
#: (advsfXe = X*10k embeddings) vary ONLY --embeddings.
CORPORA: dict[str, list[str]] = {
    "adv": ["--flavor", "adversarial"],
    "advguard": ["--flavor", "guard"],
    "advsf0.01": ["--flavor", "adversarial", "--docs", "1500",
                  "--embeddings", "300", "--events", "20000",
                  "--users", "300", "--vocab", "6000"],
    "advsf0.1": ["--flavor", "adversarial", "--docs", "15000",
                 "--embeddings", "3000", "--events", "200000",
                 "--users", "3000", "--vocab", "60000"],
    "advsf1": ["--flavor", "adversarial", "--docs", "150000",
               "--embeddings", "30000", "--events", "2000000",
               "--users", "30000", "--vocab", "600000"],
    "advsf4e": ["--flavor", "adversarial", "--docs", "2000",
                "--embeddings", "40000", "--events", "20000",
                "--users", "2000", "--vocab", "8000"],
    "advsf12e": ["--flavor", "adversarial", "--docs", "2000",
                 "--embeddings", "120000", "--events", "20000",
                 "--users", "2000", "--vocab", "8000"],
    "advsf30e": ["--flavor", "adversarial", "--docs", "2000",
                 "--embeddings", "300000", "--events", "20000",
                 "--users", "2000", "--vocab", "8000"],
    "latesf0.01": ["--flavor", "adversarial", "--docs", "1500",
                   "--embeddings", "300", "--events", "20000",
                   "--users", "300", "--vocab", "6000",
                   "--late-events", "2000"],
    "latesf0.1": ["--flavor", "adversarial", "--docs", "15000",
                  "--embeddings", "3000", "--events", "200000",
                  "--users", "3000", "--vocab", "60000",
                  "--late-events", "20000"],
    "latesf1": ["--flavor", "adversarial", "--docs", "150000",
                "--embeddings", "30000", "--events", "2000000",
                "--users", "30000", "--vocab", "600000",
                "--late-events", "200000"],
    "tpch_sf1": ["--flavor", "tpch_replica", "--scale", "10"],
    "tpchv_sf0.1": ["--flavor", "tpch_value", "--scale", "1"],
    "tpchv_sf1": ["--flavor", "tpch_value", "--scale", "10"],
    "tpchv_sf10": ["--flavor", "tpch_value", "--scale", "100"],
    "tpchv_sf100": ["--flavor", "tpch_value", "--scale", "1000"],
}


def _corpus_rows(d: Path) -> int:
    import pyarrow.parquet as pq

    total = 0
    for f in d.rglob("*.parquet"):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def _corpus_ok(name: str) -> bool:
    """A corpus directory counts as present when its TOTAL stored rows
    match the CI-pinned inventory (scaling_audit.CORPUS_ROWS — the same
    numbers test_corpus_rows_inventory_matches_generated_corpora checks
    per-table against parquet metadata)."""
    sys.path.insert(0, str(REPO / "scripts"))
    from scaling_audit import CORPUS_ROWS

    d = GEN / name
    if not d.is_dir():
        return False
    want = CORPUS_ROWS.get(name)
    if want is None:
        return True
    have = _corpus_rows(d)
    if have != want[0]:
        print(f"  {name}: stored rows {have} != inventory {want[0]} — regen")
        return False
    return True


# ------------------------------------------------------- name-list sources


def _latest(pattern: str, below: int) -> Path | None:
    best: tuple[int, Path] | None = None
    for p in REPO.glob(pattern):
        m = re.search(r"_r(\d+)\.json$", p.name)
        if m and int(m.group(1)) < below:
            if best is None or int(m.group(1)) > best[0]:
                best = (int(m.group(1)), p)
    return best[1] if best else None


def _names_from(pattern: str, section: str, rnd: int) -> list[str]:
    """Name lists come from the PREVIOUS round's artifact of the same
    family, so the regen reproduces the committed evidence surface rather
    than inventing one."""
    p = _latest(pattern, rnd)
    if p is None:
        raise SystemExit(f"no prior artifact matching {pattern} below r{rnd}")
    data = json.loads(p.read_text())
    sect = data.get(section)
    if sect is None:  # tolerate sf-dir key drift (e.g. advsf0.1 vs latesf0.1)
        key = sorted(data)[0] if data else None
        sect = data.get(key) or {}
    return sorted(sect)


# ------------------------------------------------------------------ steps


def _run(cmd: list[str], dry: bool, env: dict[str, str] | None = None) -> None:
    print("+", " ".join(str(c) for c in cmd), flush=True)
    if dry:
        return
    full_env = None
    if env:
        import os

        full_env = {**os.environ, **env}
    proc = subprocess.run(cmd, cwd=REPO, env=full_env)
    if proc.returncode != 0:
        raise SystemExit(f"step failed (rc={proc.returncode}): {cmd}")


def step_corpora(rnd: int, dry: bool) -> None:
    for name, args in CORPORA.items():
        if not dry and _corpus_ok(name):
            print(f"  {name}: present and row-count-valid — skipping")
            continue
        _run([PY, "scripts/gen_corpus.py", str(GEN / name), *args], dry)


def step_sweep(rnd: int, dry: bool) -> None:
    out = f"SWEEP_r{rnd}.json"
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        _run([PY, "scripts/check_oracle.py", "--json", out,
              f"/root/testdata/{sf}"], dry)


def step_adversarial(rnd: int, dry: bool) -> None:
    out = f"ADVERSARIAL_r{rnd}.json"
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "adv")], dry)
    guard = _names_from("ADVERSARIAL_r*.json", "advguard", rnd)
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "advguard"), *guard], dry)


def step_scaling(rnd: int, dry: bool) -> None:
    out = f"SCALING_r{rnd}.json"
    names = _names_from("SCALING_r*.json", "advsf1", rnd)
    for c in ("advsf0.01", "advsf0.1", "advsf1"):
        _run([PY, "scripts/check_oracle.py", "--json", out, "--no-oracle",
              str(GEN / c), *names], dry)


def _hermetic_tpch(out: str, corpora: list[str], names: list[str],
                   dry: bool, no_oracle_for: set[str] = frozenset()) -> None:
    # HERMETIC RULE: one process per (query, corpus) — see module docstring.
    for c in corpora:
        for n in names:
            cmd = [PY, "scripts/check_oracle.py", "--json", out]
            if c.rsplit("/", 1)[-1] in no_oracle_for:
                cmd.append("--no-oracle")
            cmd += [c, n]
            _run(cmd, dry)


def step_scaling_tpch(rnd: int, dry: bool) -> None:
    names = _names_from("SCALING_TPCH_r*.json", "tpch_sf1", rnd)
    _hermetic_tpch(f"SCALING_TPCH_r{rnd}.json",
                   ["/root/testdata/sf0.1", str(GEN / "tpch_sf1")],
                   names, dry, no_oracle_for={"sf0.1", "tpch_sf1"})


def step_scaling_tpchv(rnd: int, dry: bool) -> None:
    names = _names_from("SCALING_TPCHV_r*.json", "tpchv_sf0.1", rnd)
    # sf0.1/sf1/sf10 oracle-verified (DuckDB handles 60M rows); the 600M-row
    # sf100 decade runs per-query with the oracle where DuckDB can replay
    # it — check_oracle itself records typed expected_err rows otherwise.
    _hermetic_tpch(f"SCALING_TPCHV_r{rnd}.json",
                   [str(GEN / "tpchv_sf0.1"), str(GEN / "tpchv_sf1"),
                    str(GEN / "tpchv_sf10"), str(GEN / "tpchv_sf100")],
                   names, dry, no_oracle_for={"tpchv_sf100"})


def step_streaming_scaling(rnd: int, dry: bool) -> None:
    out = f"STREAMING_SCALING_r{rnd}.json"
    prior = _latest("STREAMING_SCALING_r*.json", rnd)
    data = json.loads(prior.read_text()) if prior else {}
    names = sorted(next(iter(data.values()))) if data else []
    for c in ("latesf0.1", "latesf1"):
        _run([PY, "scripts/check_oracle.py", "--json", out,
              str(GEN / c), *names], dry)


_DEC = "decontaminate_embedding_eval"


def _probe_names(rnd: int, corpus: str) -> list[str]:
    prior = _latest("PROBE_r*.json", rnd)
    if prior is None:
        raise SystemExit(f"no prior PROBE artifact below r{rnd}")
    return sorted(json.loads(prior.read_text()).get(corpus) or [])


def step_probe(rnd: int, dry: bool) -> None:
    out = f"PROBE_r{rnd}.json"
    # advsf4e: everything oracle-verified. advsf30e (300k): the ann trio
    # is oracle-feasible; decontaminate is timing-only BY DESIGN (the
    # unrestricted DuckDB twin fills the disk at 300k); the guard-trip
    # row comes from probe_banding.py, not check_oracle.
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "advsf4e"), *_probe_names(rnd, "advsf4e")], dry)
    ann30 = [n for n in _probe_names(rnd, "advsf30e")
             if n != _DEC and not n.startswith("vector_lsh_pinned")]
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "advsf30e"), *ann30], dry)
    _run([PY, "scripts/check_oracle.py", "--json", out, "--no-oracle",
          str(GEN / "advsf30e"), _DEC], dry)
    _run([PY, "scripts/probe_banding.py", "--json", out], dry)


def step_probe_frontier(rnd: int, dry: bool) -> None:
    """The 120k-vector oracle frontier: DuckDB's unrestricted twin peaks
    ~95 GB RAM and ~20 min — run ALONE on an idle host; rm -rf .tmp if a
    run is killed (DuckDB leaves duckdb_temp_storage-* spill)."""
    out = f"PROBE_r{rnd}.json"
    ann12 = [n for n in _probe_names(rnd, "advsf12e") if n != _DEC]
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "advsf12e"), *ann12], dry)
    _run([PY, "scripts/check_oracle.py", "--json", out,
          str(GEN / "advsf12e"), _DEC], dry)


def step_slice(rnd: int, dry: bool) -> None:
    out = f"SLICE_r{rnd}.json"
    _run([PY, "scripts/check_oracle.py", "--json", out,
          "--sample", f"{rnd}:60", "/root/testdata/sf0.01"], dry)


def step_plans(rnd: int, dry: bool) -> None:
    out = f"PLANS_r{rnd}.json"
    _run([PY, "scripts/plan_fingerprint.py", "--json", out], dry)
    prev = _latest("PLANS_r*.json", rnd)
    if prev:
        _run([PY, "scripts/plan_fingerprint.py", "--compare",
              str(prev.name), out], dry)


def step_finalplans(rnd: int, dry: bool) -> None:
    out = f"FINALPLANS_r{rnd}.json"
    _run([PY, "scripts/final_plans.py", "--json", out,
          str(GEN / "advsf1")], dry)
    # Probe sections reproduce the committed surface (FINALPLANS_r12/r13:
    # the ann trio + decontaminate at both probe corpora — the
    # width-crossover and SMJ->SHJ conversion evidence).
    prior = _latest("FINALPLANS_r*.json", rnd)
    probes = (json.loads(prior.read_text()).get("probes") or {}) if prior else {}
    for probe in ("advsf12e", "advsf30e"):
        names = sorted(probes.get(probe) or
                       ["ann_ivf_multiprobe", "ann_ivf_topk",
                        "ann_lsh_topk", _DEC])
        _run([PY, "scripts/final_plans.py", "--probe", "--json", out,
              str(GEN / probe), *names], dry)
    # Round-14: the streaming tier's finalized micro-batch censuses
    # (VERDICT r13 #2) — at the late-data decade corpus so the
    # events_stream/ arrival split and watermark eviction are in the plan.
    _run([PY, "scripts/final_plans.py", "--streaming", "--json", out,
          str(GEN / "latesf1")], dry)


def step_bench(rnd: int, dry: bool) -> None:
    # The number of record is the DRIVER's run; this local pass exists to
    # commit BENCH_SIDECAR.json (idle-gated since round 14) and to sanity-
    # check the tree before the driver measures it.
    _run([PY, "bench.py"], dry)


STEPS: list[tuple[str, object]] = [
    ("corpora", step_corpora),
    ("sweep", step_sweep),
    ("adversarial", step_adversarial),
    ("scaling", step_scaling),
    ("scaling_tpch", step_scaling_tpch),
    ("scaling_tpchv", step_scaling_tpchv),
    ("streaming_scaling", step_streaming_scaling),
    ("probe", step_probe),
    ("probe_frontier", step_probe_frontier),  # --include-frontier only
    ("slice", step_slice),
    ("plans", step_plans),
    ("finalplans", step_finalplans),
    ("bench", step_bench),
]


def main() -> int:
    args = list(sys.argv[1:])

    def _opt(flag: str, default: str | None = None) -> str | None:
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    rnd_s = _opt("--round")
    steps_s = _opt("--steps")
    listing = "--list" in args
    if listing:
        args.remove("--list")
    dry = "--dry-run" in args
    if dry:
        args.remove("--dry-run")
    frontier = "--include-frontier" in args
    if frontier:
        args.remove("--include-frontier")
    if args:
        print(f"unknown option(s) {args}; see the module docstring")
        return 2
    if listing:
        for name, fn in STEPS:
            print(f"{name:18s} {fn.__doc__.splitlines()[0] if fn.__doc__ else ''}")
        return 0
    if rnd_s is None:
        print("--round N is required (names the X_rN.json artifacts)")
        return 2
    rnd = int(rnd_s)
    wanted = steps_s.split(",") if steps_s else [
        n for n, _ in STEPS if n != "probe_frontier" or frontier
    ]
    known = {n for n, _ in STEPS}
    bad = set(wanted) - known
    if bad:
        print(f"unknown step(s) {sorted(bad)}; --list shows the set")
        return 2
    for name, fn in STEPS:
        if name not in wanted:
            continue
        print(f"\n=== {name} (round {rnd}) ===", flush=True)
        fn(rnd, dry)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
