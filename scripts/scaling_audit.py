#!/usr/bin/env python3
"""Time-vs-scale audit over a SWEEP_rN.json artifact.

For every query with records at two scale factors, compare the Spark
wall-time ratio against the WORK ratio — the larger of the data growth
(sf ratio) and the OUTPUT growth (row-count ratio). A query whose time
grows much faster than both its input and its output is a scaling
suspect worth a plan audit; a query whose time tracks its output is
output-bound and healthy no matter how steep the curve looks in
isolation (round-7 example: fuzzy_match_blocked at 27.8x time on 10x
data was 104x OUTPUT growth — any exact algorithm is Omega(output)).

A second, independent axis audits SHUFFLE VOLUME when the sweep records it
(check_oracle.py captures per-query shuffle read/write bytes via the REST
monitoring API): wall time at local[32] hides quadratic intermediates that
32-way parallelism absorbs, but shuffle bytes are the 100 TB cost driver —
a query whose shuffle write grows super-linearly in max(data, output) is a
scale suspect even when its local wall time looks flat.

Byte-axis caveat (round-8 calibration): a bytes ratio is DISCONTINUOUS at
broadcast→shuffle crossovers — a side that fit under the broadcast
threshold at the low SF contributes ~0 shuffle bytes there, then appears
in full once it crosses (dedup_ngram_jaccard's 16.9× bytes on 10× data
decomposed to exactly its linear 10.5× capped-shingle occurrences once the
join fell back to sort-merge). Before calling a bytes suspect a plan
defect, check `shuffle_write_rows` (also recorded) and the per-stage
anatomy: rows linear + bytes jump = crossover or compression-entropy
artifact; rows super-linear = real fan-out (that is how the round-8 audit
caught semdedup's fixed-k quadratic: 21.5M rows on 10× data before the
corpus-scaled k fix).

THIRD work proxy (round-9, VERDICT r8 #3): `shuffle_write_rows` itself.
max(data, output) cannot see intermediates a GROUP BY aggregates away —
round 8 classified `embedding_lsh_verified_pairs` healthy (97× output)
while flagging `decontaminate_embedding_eval` (10× output) although both
paid the same pair mass: the pairs ARE the work, and the final aggregate
hides them from the output axis. When both SFs record shuffle rows, a
time/bytes ratio within slack × the shuffle-rows ratio is therefore
reclassified EXPLAINED (intermediate-bound): the growth is real work the
plan performs, visibly accounted for — but whether that intermediate is
NECESSARY is a plan-review question, so explained queries are printed
loudly, separately from healthy ones, and do not fail --strict (a plan
whose intermediate is avoidable — decontaminate pre-fix — shows up here
as explained-with-huge-rows-ratio, which is the review trigger).

FOURTH axis (round-11, VERDICT r10 #1): DISK SPILL. Round 10's own
mis-derivation (occupancy-4096 banding) died by disk overflow where the
correct banding completes — spill was the live failure mode, recorded in
every artifact (`spill_disk_mb` via StageMetrics) but judged by nothing.
Spill is sort/aggregate buffer overflow, so it EMERGES discontinuously
when a stage's working set first outgrows executor memory — a raw ratio
from a ~0 lo side is meaningless (the LOW-BASE shape again). The rule
therefore floors the denominator at `--min-spill-mb` (default 1024: sub-GB
spills at local[32] are buffer-sizing noise): hi-side spill under the
floor is ignored; above it, spill ratio > slack × max(data, output) is a
suspect unless the rows proxy explains it (spill tracks the shuffled rows
being sorted — intermediate-bound, same INTERMEDIATE_BOUND_OK cross-check
as the other axes). At 100 TB spill-per-task separates a slow stage from
a dead executor; this is the tripwire the time/bytes axes cannot provide.

Round-12 refinement (first contact with the 600M-row decade): emergence
magnitude is O(stage volume), so a fixed 1 GB floor cannot absorb a
FIRST spill at arbitrary scale — dss_min_cost_supplier's sorts fit
memory through 60M lineitem rows (zero spill) then spilled 44.6 GB at
600M, a x43 floored ratio on perfectly linear shuffle rows. The
discriminating bound is the VOLUME the stage actually sorts: an external
sort spills at most a small multiple of its input across merge passes,
so hi-side spill within SPILL_VOLUME_MULTIPLE (2x) of max(hi shuffle
write, hi input) is classified VOLUME-BOUNDED emergence (printed, never
strict-fails — the sort paid its own data once, which is what external
sort IS), while spill beyond it means the same bytes are being re-sorted
or amplified: round 10's real defect (56.5 GB spilled on a 7.7 GB
exchange, 7.3x — 512-byte payloads dragged through a sort the exchange
never paid) stays a hard suspect under this rule.

Round-13 refinement (ADVICE r12): the volume denominator is the SPILLING
stages' own consumed bytes (shuffle read + scan input of exactly the
stages that spilled — ``spill_stage_volume_mb``, recorded by
check_oracle since round 13) whenever the artifact carries it; the
query-level max(hi shuffle write, hi input) is only the fallback for
older artifacts, and the printout names which denominator adjudicated
each row. The query-level fallback would excuse genuine amplification
over a small exchange inside a large-input query (the r10 defect class
again); the stage-level denominator cannot.

Round-14 refinement (ADVICE r13): even the summed stage denominator can
hide one amplifying stage behind another stage's legitimate volume, so
when the artifact carries per-stage ``spill_stages`` [spill, volume]
pairs (check_oracle since round 14) the rule adjudicates the MAX
per-stage spill/volume ratio over stages at or above the spill floor;
the summed ``spill_stage_volume_mb`` and query-level denominators remain
fallbacks for older artifacts, in that order.

Usage: python scripts/scaling_audit.py [SWEEP.json] [--lo sf0.01] [--hi sf0.1]
       [--slack 1.5] [--min-secs 2.0] [--min-mb 8.0] [--min-spill-mb 1024]
       [--strict]

Prints every suspect with its ratios; --strict exits 1 when any exist
(explained/intermediate-bound entries are reported but never strict-fail).
"""

from __future__ import annotations

import glob
import json
import re
import sys

# Round-10 (ADVICE r9 #2): the EXPLAINED class must not let a NEW
# quadratic-intermediate plan self-excuse — when the excusing
# shuffle-rows ratio is ITSELF super-linear in max(data, output), the
# entry strict-fails unless enumerated here with a reviewed reason.
# (Output-bound intermediates — srows tracking a super-linear OUTPUT —
# never trip this: the comparison is against work = max(data, output).)
INTERMEDIATE_BOUND_OK = {
    # Fixed-vocabulary corpus construction: shingle/ngram document
    # frequency grows with N by construction, so every shingle-join op
    # is super-linear ON THESE CORPORA (not in the plan) — documented in
    # BASELINE.md; Heaps-vocab corpora measure the same plans linear.
    "dedup_ngram_jaccard": "fixed-vocab corpus: shingle df grows with N",
    "dedup_minhash_lsh": "fixed-vocab corpus: shingle df grows with N",
    "prefix_filtered_jaccard_pairs":
        "fixed-vocab corpus: prefix-token df grows with N (linear on "
        "Heaps-vocab corpora, SCALING_r9 9.7x/10x)",
    # Within-cluster pair mass with corpus-scaled k is ~N*512 — linear
    # asymptotically, but k's floor (max(4, N/512)) makes the LOW decades
    # super-linear until k unfloors; upper decade tracks ~2x work.
    "semdedup_embedding_clusters":
        "k floor region: pair mass quadratic until k = N/512 unfloors",
    # Retained probe-touching pair mass IS the query's work; the final
    # GROUP BY hides it from the output axis (VERDICT r9 analysis).
    "decontaminate_embedding_eval":
        "verified cross-split pair mass is the work; aggregated away "
        "from the output axis",
    # Gram matrix over COO: co-occurrence pairs per row grow with row
    # density; the corpus densifies with SF (bounded by nnz^2/rows).
    "coo_gram_matrix": "row-density growth: pair mass ~ sum(nnz_r^2)",
    # Broadcast->shuffle crossovers in the TPC-H replica decade (round-9
    # audit, all five decomposed): a side that fit under the broadcast
    # threshold at lo contributes ~0 shuffle rows there, then appears in
    # full once it crosses — the lo denominator is meaningless, and at hi
    # the shuffled mass is the side's LINEAR row count (e.g.
    # dss_order_priority_exists: 10 -> 7.5M rows = lineitem sf1 itself).
    # A 2-point curve cannot mechanically split a partial crossover from
    # a mild quadratic; these five are adjudicated by plan review + the
    # linear hi-side row anatomy recorded in SCALING_TPCH_r*.json.
    # Partial-aggregate emission is min(rows, tasks x distinct keys) — a
    # LINEAR ceiling. On the value-distribution corpus (tpchv), uniform
    # l_partkeys collapse per-task key overlap (each task sees ~all 200k
    # parts), so emission jumps 59x while staying well under the 6M-row
    # scan; the replica corpus's per-replica file locality (each task
    # reads one replica's 20k-key range) hid this. Corpus-distribution
    # artifact of how well map-side combine compresses, not a plan defect.
    "dss_important_parts_scalar":
        "partial-agg emission = min(rows, tasks x distinct parts); "
        "uniform keys collapse per-task overlap, ceiling stays linear",
    "dss_large_volume_customers": "broadcast->shuffle crossover (partial)",
    "dss_late_shipment_priority": "broadcast->shuffle crossover (lo ~0 rows)",
    "dss_min_cost_supplier": "broadcast->shuffle crossover (partial)",
    "dss_order_priority_exists": "broadcast->shuffle crossover (lo ~0 rows)",
    "dss_small_lot_revenue": "broadcast->shuffle crossover (lo ~0 rows)",
    # tpchv_sf1->sf10 (round-11, hermetic cold measurements): srows base
    # meaningful at sf1, ratio ~19-20x on 10x data. Reviewed hi anatomy:
    "dss_parts_supplier_relationship":
        "partial-agg emission of (part,supplier) pairs = min(rows, tasks "
        "x distinct pairs); hi = 104.7M ~ 1.7x lineitem at both decades — "
        "same per-task key-overlap collapse as dss_important_parts_scalar",
    # tpchv_sf10->sf100 (round-12, hermetic cold measurements): srows
    # x19.8 on 10x data from a meaningful 1.27 GB base. Reviewed hi
    # anatomy: customer (15M rows) and the supplier-nation dim (1.5M)
    # outgrow runtime broadcast between 60M and 600M lineitem, so the
    # 600M-row join stream re-shuffles at each crossed join — hi =
    # 1.49G rows ~ 2.5x lineitem, linear with join multiplicity (the
    # same second-wave-crossover class as dss_suppliers_kept_waiting,
    # one decade later because the dims are 10x smaller than lineitem).
    "dss_market_share":
        "second-wave broadcast->shuffle crossover at sf100: customer + "
        "supplier dims cross; hi = 1.49G rows ~ 2.5x lineitem (join "
        "multiplicity), linear per decade beyond",
    # tpchv_sf10->sf100: srows x38.6 on 10x data from a 65 MB base.
    # Reviewed hi anatomy: the promo-parts semi-join side (p_name LIKE,
    # ~1/8 of part = 2.5M keys at sf100) outgrows runtime broadcast, so
    # the date-filtered lineitem (~91M rows) shuffles for the join it
    # previously passed map-side; hi = 190M rows ~ 0.32x lineitem.
    "dss_potential_promotion":
        "promo-parts semi-join side outgrows broadcast at sf100; the "
        "date-filtered lineitem shuffles once — hi = 190M ~ 0.32x "
        "lineitem, sub-linear in absolute mass",
    "dss_suppliers_kept_waiting":
        "Q21-shape lineitem self-join: the second lineitem side crossed "
        "runtime broadcast between sf1 and sf10; hi = 126M ~ 2.1x "
        "lineitem — linear with self-join multiplicity 2",
    # tpchv_sf10->sf100 (round-13: the row exists under registered
    # defaults for the first time — a 48g local heap fixed its r12 OOM;
    # see session.py for why the advised 16 MB threshold was rejected).
    # Reviewed hi anatomy from the r12 48g diagnostic (the heap the r13
    # decade ran with): part (20M) and supplier (1M) outgrow runtime broadcast at
    # sf100, so the Q9-shape join stream shuffles lineitem + orders once
    # each — hi = 827M rows ~ 1.4x lineitem, linear with join
    # multiplicity; srows x36.8 only because the sf10 base is the
    # broadcast era's partial-agg residue.
    "dss_product_profit":
        "Q9-shape second-wave crossover at sf100: part/supplier dims "
        "outgrow broadcast; hi = 827M ~ 1.4x lineitem (join "
        "multiplicity), linear per decade beyond",
    # tpchv_sf10->sf100 (round-13: first pair adjudication — the row was
    # expected_err at 24g in r12; green under a 48g heap).
    # Reviewed hi anatomy: Q7-shape — customer (15M) and supplier (1M)
    # outgrow runtime broadcast at sf100, so the date-filtered
    # lineitem-orders stream re-shuffles at each crossed join; hi =
    # 1.35G rows ~ 2.25x lineitem, linear with join multiplicity (srows
    # x18 only because the sf10 base is the first wave's partial mass).
    "dss_volume_shipping":
        "Q7-shape second-wave crossover at sf100: customer/supplier dims "
        "outgrow broadcast; hi = 1.35G ~ 2.25x lineitem (join "
        "multiplicity), linear per decade beyond",
}

#: Stored-row inventory per generated corpus, pinned to parquet metadata
#: by tests/test_artifacts.py (regenerate with the corpus recipes in the
#: verify skill — deterministic, so these literals are stable). Each
#: entry: (total rows all ten tables, LARGEST single-table rows,
#: embeddings rows). Used by two audit cross-checks:
#:
#: LOW-BASE linear ceiling — a broadcast->shuffle crossover's hi-side
#: shuffle mass is bounded by a LINEAR scan multiple of the LARGEST
#: table (a side shuffles at most its own row count per join, self-joins
#: twice; partial-agg emission is min(rows, tasks x keys)), while a
#: genuinely quadratic intermediate dwarfs it (1.5M-customer pair mass =
#: 2x10^12 vs the 180M ceiling at tpchv_sf10). ADVICE r11 #1: the bound
#: is the MAX TABLE, not the all-tables total — a quadratic over a
#: mid-size side table (15k rows -> 2.2e8 pairs) must not slip under a
#: total-inflated ceiling. 3x = the measured multiplicity envelope (max
#: observed 2.1x the largest table, Q21's lineitem self-join) with
#: headroom. Residual (documented): a quadratic over a table smaller
#: than sqrt(3 x max_table) — ~13k rows at tpchv_sf10 — still fits
#: under the ceiling; no registered query joins a sub-13k table to
#: itself without an equi-key, and the plan lint forbids
#: CartesianProduct outright.
#:
#: Declared-exponent floor gate — the IVF nlist derivation unfloors only
#: past 65,536 vectors (nlist = max(8, ceil(sqrt(N/1024)))), so the
#: relaxed work^1.5 time ceiling applies only when the hi corpus is past
#: the floor; below it the build is nlist-constant and must measure
#: LINEAR (ADVICE r11 #2).
CORPUS_ROWS = {
    "sf0.001": (9_890, 6_000, 500),
    "sf0.01": (89_630, 60_000, 500),
    "sf0.1": (893_030, 600_000, 2_000),
    "adv": (1_004_030, 600_000, 3_000),
    "advguard": (802_530, 600_000, 500),
    "advsf0.01": (807_830, 600_000, 300),
    "advsf0.1": (1_004_030, 600_000, 3_000),
    "advsf1": (2_966_029, 2_000_000, 30_000),
    "advsf4e": (848_030, 600_000, 40_000),
    "advsf12e": (928_030, 600_000, 120_000),
    "advsf30e": (1_108_030, 600_000, 300_000),
    "latesf0.01": (809_830, 600_000, 300),
    "latesf0.1": (1_024_030, 600_000, 3_000),
    "latesf1": (3_166_029, 2_200_000, 30_000),
    "tpch_sf1": (7_967_030, 6_000_000, 2_000),
    "tpchv_sf0.1": (893_247, 600_217, 2_000),
    "tpchv_sf1": (7_967_045, 6_000_015, 2_000),
    "tpchv_sf10": (78_712_095, 60_005_065, 2_000),
    "tpchv_sf100": (786_069_335, 599_962_305, 2_000),
}
LINEAR_CEILING_MULTIPLE = 3
IVF_NLIST_FLOOR_VECTORS = 65_536
#: External-sort emergence envelope (round-12, see module docstring): a
#: first-time spill within this multiple of the stage volume the query
#: actually sorted (max of hi-side shuffle write and input bytes) is the
#: sort paying its own data through merge passes, not amplification.
SPILL_VOLUME_MULTIPLE = 2.0

# Round-11: per-row WIDTH crossovers. The round-8 adjudication rule
# ("rows linear + bytes jump = broadcast/compression crossover, rows
# super-linear = real fan-out") lived only in prose; this mechanizes it
# with the same allowlist discipline as the intermediate-bound class. A
# byte suspect whose shuffle-ROWS ratio is within slack x work is not a
# plan fan-out — the per-row byte width changed between decades, which is
# a join-strategy regime artifact, not growth; it still must be enumerated
# here with a reviewed reason to pass --strict (an unreviewed width jump
# stays a hard suspect: compression-entropy collapses and accidental
# payload widening look identical from the ratios alone).
WIDTH_CROSSOVER_OK = {
    # Verified at 120k vs 300k vectors (round-11 probe pair): the AQE
    # final plans show the verify/expansion joins broadcast-era at 120k
    # (pair exchanges stay 17 B/row — vectors ride the build side), while
    # at 300k the embeddings side outgrows runtime broadcast and the
    # id_b-keyed verify exchange carries the 512-byte vector payload
    # (122 B/row). Rows track output/probe mass linearly on the same
    # pair; only the width regime flips. FINALPLANS_r*.json records the
    # strategy flips mechanically.
    "decontaminate_embedding_eval":
        "verify-join exchange carries the vector payload once embeddings "
        "outgrow runtime broadcast; pair rows stay linear",
    "embedding_lsh_verified_pairs":
        "same banded verify pipeline as decontaminate (unrestricted)",
}

#: Reviewed SUPER-LINEAR TIME classes (round-11): operators whose design
#: complexity exceeds Θ(N) by construction, with the exponent DECLARED so
#: the audit still enforces a mechanical ceiling — t_ratio must stay
#: within slack x work_ratio**exponent. Stricter than a blanket
#: allowlist: an entry that degrades past its declared curve (e.g. an
#: N^1.5 design regressing to N^2: 2.5x data -> 6.25x time vs the 5.9x
#: ceiling) still strict-fails. Entries here must name the term that
#: carries the exponent.
DECLARED_EXPONENT_OK = {
    # In-query IVF index build: Lloyd assignment cost is N x nlist per
    # iteration with nlist = max(8, ceil(sqrt(N/1024))) (corpus-derived,
    # round-10) => Theta(N^1.5) once nlist unfloors (>65k vectors; every
    # driver-SF corpus sits on the floor and measures linear). The probe
    # pair 120k->300k measured x4.2-4.3 on 2.5x data ~ 2.5^1.5 = 3.95.
    # The 100 TB path is documented in operators/clustering.py: train on
    # a bounded sample, not the full corpus — these two queries keep the
    # full-corpus build as the oracle-checkable reference shape.
    "ann_ivf_topk": (1.5, "IVF build: Lloyd assignment N x nlist, "
                          "nlist=O(sqrt(N)) => Theta(N^1.5) by design"),
    "ann_ivf_multiprobe": (1.5, "same IVF build as ann_ivf_topk; "
                                "multiprobe only widens the probe side"),
}


def main() -> int:
    args = list(sys.argv[1:])

    def _opt(name: str, default: str) -> str:
        if name in args:
            i = args.index(name)
            if i + 1 >= len(args):
                print(f"usage: scaling_audit.py [SWEEP.json] [{name} VALUE] ...")
                raise SystemExit(2)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    strict = "--strict" in args
    if strict:
        args.remove("--strict")
    lo_key = _opt("--lo", "sf0.01")
    hi_key = _opt("--hi", "sf0.1")
    slack = float(_opt("--slack", "1.5"))
    min_secs = float(_opt("--min-secs", "2.0"))
    min_mb = float(_opt("--min-mb", "8.0"))
    min_spill_mb = float(_opt("--min-spill-mb", "1024"))
    bad = [a for a in args if a.startswith("--")]
    if bad:
        print(f"unknown option(s) {bad}; see the module docstring for usage")
        raise SystemExit(2)
    path = args[0] if args else max(
        glob.glob("SWEEP_r*.json"), key=lambda p: int(re.search(r"_r(\d+)", p).group(1))
    )

    with open(path) as f:
        sweep = json.load(f)
    lo, hi = sweep[lo_key], sweep[hi_key]

    def _sf(k: str) -> float:
        m = re.search(r"sf([0-9.]+)", k)
        return float(m.group(1)) if m else 1.0

    data_ratio = _sf(hi_key) / _sf(lo_key)
    suspects = []
    explained = []
    exponent_ok = []
    unexcused = []
    rows = []
    byte_rows = []
    byte_suspects = []
    byte_explained = []
    byte_lowbase = []
    lowbase_crossover = []
    byte_width = []
    spill_rows = []
    spill_suspects = []
    spill_explained = []
    spill_volume_ok = []
    for name in sorted(set(lo) & set(hi)):
        tl, th = lo[name].get("spark_secs"), hi[name].get("spark_secs")
        rl, rh = lo[name].get("spark_rows"), hi[name].get("spark_rows")
        if tl is None or th is None:
            continue
        t_ratio = th / max(tl, 0.05)
        out_ratio = (rh or 0) / max(rl or 0, 1)
        work_ratio = max(data_ratio, out_ratio)
        # third work proxy: shuffled intermediate rows (None when either
        # record predates the metric or the UI was disabled). sl must be
        # STRICTLY positive to excuse anything: flooring a 0-row lo side
        # at 1 would hand a 0→N-row blowup an N× "explained" ceiling —
        # exactly the broadcast-at-lo shape where a 2-point curve cannot
        # distinguish a legitimate crossover from a new quadratic, so such
        # entries stay hard suspects until a third point or plan review
        # settles them.
        sl, sh = lo[name].get("shuffle_write_rows"), hi[name].get("shuffle_write_rows")
        srows_ratio = (sh / sl) if (sl and sh is not None) else None
        rows.append((t_ratio, work_ratio, th, out_ratio, name))
        if th >= min_secs and t_ratio > slack * work_ratio:
            # ADVICE r11 #2: the declared-exponent ceiling is checked FIRST
            # — a declared query inside its curve must not fall through to
            # the srows-explained branch and strict-fail as unexcused.
            # It is also GATED on the hi corpus being past the nlist floor
            # (below 65k vectors nlist is constant, the build is linear by
            # design, and the relaxed work^exp ceiling must not apply).
            exp_spec = DECLARED_EXPONENT_OK.get(name)
            hi_embed = CORPUS_ROWS.get(hi_key, (0, 0, 0))[2]
            if (
                exp_spec
                and hi_embed > IVF_NLIST_FLOOR_VECTORS
                and t_ratio <= slack * work_ratio ** exp_spec[0]
            ):
                exponent_ok.append(
                    (t_ratio, work_ratio, exp_spec[0], th, name)
                )
            elif srows_ratio is not None and t_ratio <= slack * max(work_ratio, srows_ratio):
                explained.append((t_ratio, srows_ratio, work_ratio, th, name))
                if srows_ratio > slack * work_ratio and name not in INTERMEDIATE_BOUND_OK:
                    unexcused.append(("time", t_ratio, srows_ratio, work_ratio, name))
            else:
                suspects.append((t_ratio, work_ratio, th, out_ratio, name))
        # spill axis (round-11): denominator floored at min_spill_mb —
        # spill emerges discontinuously when a sort/aggregate working set
        # first outgrows memory, so a raw ratio from a ~0 lo side is the
        # LOW-BASE shape; flooring it means "how many times the
        # meaningfulness floor did the hi side spill, at best explained by
        # work or shuffled rows". Sub-floor hi sides are ignored entirely.
        pl, ph = lo[name].get("spill_disk_mb"), hi[name].get("spill_disk_mb")
        if ph is not None and ph >= min_spill_mb:
            p_ratio = ph / max(pl or 0.0, min_spill_mb)
            spill_rows.append((p_ratio, work_ratio, ph, out_ratio, name))
            if p_ratio > slack * work_ratio:
                # ADVICE r12: prefer the SPILLING stages' own consumed
                # volume (shuffle read + input of exactly those stages,
                # recorded as spill_stage_volume_mb since round 13) — the
                # query-level max(shuffle_write, input) fallback would
                # excuse amplification over a small exchange inside a
                # large-input query (r10's 56.5 GB on a 7.7 GB exchange).
                # Fallback only for pre-r13 artifacts without the field;
                # the printout names which denominator adjudicated.
                stage_vol = hi[name].get("spill_stage_volume_mb")
                if stage_vol is not None:
                    hi_vol, vol_src = stage_vol, "spill-stage"
                else:
                    hi_vol, vol_src = max(
                        hi[name].get("shuffle_write_mb") or 0.0,
                        hi[name].get("input_mb") or 0.0,
                    ), "query-level"
                if srows_ratio is not None and p_ratio <= slack * max(
                    work_ratio, srows_ratio
                ):
                    spill_explained.append(
                        (p_ratio, srows_ratio, work_ratio, ph, name)
                    )
                    if (
                        srows_ratio > slack * work_ratio
                        and name not in INTERMEDIATE_BOUND_OK
                    ):
                        unexcused.append(
                            ("spill", p_ratio, srows_ratio, work_ratio, name)
                        )
                else:
                    # ADVICE r13: when the artifact carries per-stage
                    # [spill, volume] pairs (check_oracle since r14),
                    # adjudicate the MAX per-stage ratio — the aggregate
                    # sum lets one big legitimately-spilling stage's
                    # volume excuse a small stage with real amplification
                    # (the r10 defect class, one level down). A stage
                    # below min_spill_mb is buffer-sizing noise and is
                    # not adjudicated on its own ratio.
                    sig = [
                        p for p in (hi[name].get("spill_stages") or [])
                        if p[0] >= min_spill_mb
                    ]
                    if sig:
                        ws, wv = max(
                            sig, key=lambda p: p[0] / max(p[1], 1.0)
                        )
                        if ws <= SPILL_VOLUME_MULTIPLE * max(wv, 1.0):
                            spill_volume_ok.append(
                                (p_ratio, ws, wv,
                                 f"per-stage-max/{len(sig)}", name)
                            )
                        else:
                            spill_suspects.append(
                                (p_ratio, work_ratio, ph, out_ratio, name)
                            )
                    elif hi_vol and ph <= SPILL_VOLUME_MULTIPLE * hi_vol:
                        # volume-bounded emergence (round-12): the
                        # external sort paid its own stage volume through
                        # merge passes — first-spill shape, not
                        # amplification. Aggregate fallback for pre-r14
                        # artifacts without per-stage pairs (or when no
                        # single stage clears the floor).
                        spill_volume_ok.append(
                            (p_ratio, ph, hi_vol, vol_src, name)
                        )
                    else:
                        spill_suspects.append(
                            (p_ratio, work_ratio, ph, out_ratio, name)
                        )
        # shuffle-bytes axis (present when the sweep recorded stage metrics)
        bl, bh = lo[name].get("shuffle_write_mb"), hi[name].get("shuffle_write_mb")
        if bl is None or bh is None:
            continue
        b_ratio = bh / max(bl, 0.05)
        byte_rows.append((b_ratio, work_ratio, bh, out_ratio, name))
        # a bytes ratio whose LO side is below the axis's own
        # meaningfulness floor cannot be adjudicated on this pair: the
        # denominator is broadcast-era noise (the classic crossover shape
        # — a side that shuffled ~0 at lo appears in full at hi, with a
        # per-row width the rows proxy cannot normalize). Classified and
        # printed, never a strict failure; the HI side's absolute volume
        # is above floor, so the NEXT decade pair audits it from a
        # meaningful base. Symmetric with min_secs gating the time axis.
        if bh >= min_mb and bl < min_mb and b_ratio > slack * work_ratio:
            byte_lowbase.append((b_ratio, work_ratio, bl, bh, name))
            # ADVICE r10: LOW-BASE defers only the BYTES ratio (its lo
            # denominator is broadcast-era noise) — it must not shelter a
            # genuinely new quadratic whose lo decade happens to shuffle
            # ~0 bytes. Cross-check the rows proxy: a crossover shuffles
            # ~0 ROWS at lo too (srows_ratio is then None — sl must be
            # strictly positive — and the entry stays deferred). A
            # super-linear srows ratio from a measurable lo base is
            # adjudicated by the LINEAR CEILING (round-11): the srows
            # RATIO inherits the same broadcast-era-denominator problem
            # as the bytes ratio, but the hi side's ABSOLUTE mass does
            # not — a crossover's hi shuffle mass is bounded by a linear
            # scan multiple of the corpus, a quadratic's is not. Entries
            # over the ceiling (or at a corpus the inventory does not
            # know) strict-fail unless enumerated in
            # INTERMEDIATE_BOUND_OK with a reviewed reason.
            if (
                srows_ratio is not None
                and srows_ratio > slack * work_ratio
                and name not in INTERMEDIATE_BOUND_OK
            ):
                ceiling = (
                    LINEAR_CEILING_MULTIPLE * CORPUS_ROWS.get(hi_key, (0, 0, 0))[1]
                )
                if ceiling and sh <= ceiling:
                    lowbase_crossover.append(
                        (b_ratio, srows_ratio, sh, ceiling, name)
                    )
                else:
                    unexcused.append(
                        ("bytes-lowbase", b_ratio, srows_ratio, work_ratio, name)
                    )
            continue
        if bh >= min_mb and b_ratio > slack * work_ratio:
            if srows_ratio is not None and b_ratio <= slack * max(work_ratio, srows_ratio):
                byte_explained.append((b_ratio, srows_ratio, work_ratio, bh, name))
                if srows_ratio > slack * work_ratio and name not in INTERMEDIATE_BOUND_OK:
                    unexcused.append(("bytes", b_ratio, srows_ratio, work_ratio, name))
            elif (
                srows_ratio is not None
                and srows_ratio <= slack * work_ratio
                and name in WIDTH_CROSSOVER_OK
            ):
                # rows linear, bytes super-linear, reviewed: a per-row
                # width regime flip (see WIDTH_CROSSOVER_OK), not fan-out
                byte_width.append((b_ratio, srows_ratio, work_ratio, bh, name))
            else:
                byte_suspects.append((b_ratio, work_ratio, bh, out_ratio, name))

    rows.sort(reverse=True)
    print(
        f"{path}: {len(rows)} queries with {lo_key}->{hi_key} curves "
        f"(data x{data_ratio:g}; suspect = time ratio > {slack} x "
        f"max(data, output) ratio AND >= {min_secs}s at {hi_key})\n"
    )
    print("   t_ratio  work_ratio  t_hi(s)  out_ratio  query")
    for t_ratio, work_ratio, th, out_ratio, name in rows[:12]:
        flag = " <-- SUSPECT" if (t_ratio, work_ratio, th, out_ratio, name) in suspects else ""
        print(
            f"   {t_ratio:7.1f}  {work_ratio:10.1f}  {th:7.2f}  "
            f"{out_ratio:9.1f}  {name}{flag}"
        )
    if suspects:
        print(f"\n{len(suspects)} scaling suspect(s) — audit their plans:")
        for t_ratio, work_ratio, th, out_ratio, name in suspects:
            print(
                f"  {name}: time x{t_ratio:.1f} vs work x{work_ratio:.1f} "
                f"({th:.1f}s at {hi_key})"
            )
    else:
        print("\nno scaling suspects")
    if explained:
        print(
            f"{len(explained)} EXPLAINED (intermediate-bound) — time tracks "
            "shuffled rows, not data/output; review whether the intermediate "
            "is necessary:"
        )
        for t_ratio, srows_ratio, work_ratio, th, name in explained:
            print(
                f"  {name}: time x{t_ratio:.1f} ~ shuffle-rows x{srows_ratio:.1f} "
                f"(vs data/output x{work_ratio:.1f}; {th:.1f}s at {hi_key})"
            )
    if exponent_ok:
        print(
            f"{len(exponent_ok)} time-axis DECLARED-EXPONENT (reviewed design "
            "complexity; ceiling = slack x work^exponent still enforced):"
        )
        for t_ratio, work_ratio, exp, th, name in exponent_ok:
            print(
                f"  {name}: time x{t_ratio:.1f} <= {slack} x work x{work_ratio:.1f}"
                f"^{exp:g} ({th:.1f}s at {hi_key}) — "
                f"{DECLARED_EXPONENT_OK[name][1]}"
            )

    if byte_rows:
        byte_rows.sort(reverse=True)
        print(
            f"\nshuffle-write axis: {len(byte_rows)} queries with metrics "
            f"(suspect = bytes ratio > {slack} x max(data, output) ratio "
            f"AND >= {min_mb} MB at {hi_key})\n"
        )
        print("   b_ratio  work_ratio  mb_hi    out_ratio  query")
        for b_ratio, work_ratio, bh, out_ratio, name in byte_rows[:12]:
            flag = (
                " <-- SUSPECT"
                if (b_ratio, work_ratio, bh, out_ratio, name) in byte_suspects
                else ""
            )
            print(
                f"   {b_ratio:7.1f}  {work_ratio:10.1f}  {bh:7.1f}  "
                f"{out_ratio:9.1f}  {name}{flag}"
            )
        if byte_suspects:
            print(f"\n{len(byte_suspects)} shuffle-volume suspect(s):")
            for b_ratio, work_ratio, bh, out_ratio, name in byte_suspects:
                print(
                    f"  {name}: shuffle write x{b_ratio:.1f} vs work "
                    f"x{work_ratio:.1f} ({bh:.1f} MB at {hi_key})"
                )
        else:
            print("no shuffle-volume suspects")
        if byte_lowbase:
            print(
                f"{len(byte_lowbase)} byte-axis LOW-BASE (lo side < {min_mb} MB "
                "— broadcast-era denominator; ratio not adjudicable on this "
                "pair, hi side audited from a meaningful base next decade):"
            )
            for b_ratio, work_ratio, bl, bh, name in byte_lowbase:
                print(
                    f"  {name}: x{b_ratio:.1f} from {bl:.2f} -> {bh:.1f} MB "
                    f"(work x{work_ratio:.1f})"
                )
        if lowbase_crossover:
            print(
                f"{len(lowbase_crossover)} LOW-BASE CROSSOVER (srows "
                "super-linear from a broadcast-era base, but hi-side "
                "absolute mass is under the linear corpus ceiling of "
                f"{LINEAR_CEILING_MULTIPLE}x largest-table rows — a quadratic "
                "would dwarf it):"
            )
            for b_ratio, srows_ratio, sh_abs, ceiling, name in lowbase_crossover:
                print(
                    f"  {name}: srows x{srows_ratio:.1f}, hi {sh_abs:,} rows "
                    f"<= ceiling {ceiling:,} (bytes x{b_ratio:.1f})"
                )
        if byte_width:
            print(
                f"{len(byte_width)} byte-axis WIDTH-CROSSOVER (rows linear, "
                "reviewed — per-row width regime flipped between decades):"
            )
            for b_ratio, srows_ratio, work_ratio, bh, name in byte_width:
                print(
                    f"  {name}: bytes x{b_ratio:.1f} on rows x{srows_ratio:.1f} "
                    f"(work x{work_ratio:.1f}; {bh:.1f} MB at {hi_key}) — "
                    f"{WIDTH_CROSSOVER_OK[name]}"
                )
        if byte_explained:
            print(f"{len(byte_explained)} byte-axis EXPLAINED (intermediate-bound):")
            for b_ratio, srows_ratio, work_ratio, bh, name in byte_explained:
                print(
                    f"  {name}: bytes x{b_ratio:.1f} ~ shuffle-rows "
                    f"x{srows_ratio:.1f} (vs data/output x{work_ratio:.1f}; "
                    f"{bh:.1f} MB at {hi_key})"
                )
    if spill_rows:
        spill_rows.sort(reverse=True)
        print(
            f"\ndisk-spill axis: {len(spill_rows)} queries spilled >= "
            f"{min_spill_mb:g} MB at {hi_key} (ratio denominator floored at "
            f"{min_spill_mb:g} MB; suspect = ratio > {slack} x max(data, "
            "output) and not rows-explained)\n"
        )
        print("   p_ratio  work_ratio  spill_mb_hi  out_ratio  query")
        for p_ratio, work_ratio, ph, out_ratio, name in spill_rows[:12]:
            flag = (
                " <-- SUSPECT"
                if (p_ratio, work_ratio, ph, out_ratio, name) in spill_suspects
                else ""
            )
            print(
                f"   {p_ratio:7.1f}  {work_ratio:10.1f}  {ph:11.1f}  "
                f"{out_ratio:9.1f}  {name}{flag}"
            )
        if spill_suspects:
            print(f"\n{len(spill_suspects)} disk-spill suspect(s):")
            for p_ratio, work_ratio, ph, out_ratio, name in spill_suspects:
                print(
                    f"  {name}: spill x{p_ratio:.1f} vs work x{work_ratio:.1f} "
                    f"({ph:.0f} MB at {hi_key})"
                )
        else:
            print("no disk-spill suspects")
        if spill_volume_ok:
            print(
                f"{len(spill_volume_ok)} spill-axis VOLUME-BOUNDED emergence "
                f"(first spill <= {SPILL_VOLUME_MULTIPLE:g}x the stage volume "
                "actually sorted — external-sort merge passes, not "
                "amplification):"
            )
            for p_ratio, ph, hi_vol, vol_src, name in spill_volume_ok:
                print(
                    f"  {name}: spill {ph:.0f} MB <= {SPILL_VOLUME_MULTIPLE:g} x "
                    f"volume {hi_vol:.0f} MB ({vol_src} denominator; "
                    f"floored ratio x{p_ratio:.1f})"
                )
        if spill_explained:
            print(f"{len(spill_explained)} spill-axis EXPLAINED (intermediate-bound):")
            for p_ratio, srows_ratio, work_ratio, ph, name in spill_explained:
                print(
                    f"  {name}: spill x{p_ratio:.1f} ~ shuffle-rows "
                    f"x{srows_ratio:.1f} (vs data/output x{work_ratio:.1f}; "
                    f"{ph:.0f} MB at {hi_key})"
                )
    if unexcused:
        print(
            f"\n{len(unexcused)} UNEXCUSED super-linear intermediate(s) — the "
            "excusing shuffle-rows ratio itself exceeds slack x work and the "
            "query is not in INTERMEDIATE_BOUND_OK; review the plan and either "
            "fix it or allowlist it with a reason:"
        )
        for axis, ratio, srows_ratio, work_ratio, name in unexcused:
            print(
                f"  {name} [{axis}]: x{ratio:.1f} ~ shuffle-rows "
                f"x{srows_ratio:.1f} vs work x{work_ratio:.1f}"
            )
    return (
        1
        if (strict and (suspects or byte_suspects or spill_suspects or unexcused))
        else 0
    )


if __name__ == "__main__":
    sys.exit(main())
