"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [BENCH, ROOT]

import recount_mirror as rm  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_the_driver():
    spec = _spec()
    for section, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        names = [m["name"] for m in spec[section]]
        assert all(NAME.fullmatch(n) for n in names), names
        assert len(names) == len(set(names))
        assert {m["name"]: m["unit"] for m in spec[section]} == table
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_every_operation_resolves_and_none_is_eval_only():
    from pyrecount_spark import plans

    plans.load_all()
    for name, make in workloads.WORKLOADS.items():
        wl = make()
        if name == "recount_pipeline":
            continue
        for op in wl.ops:
            assert op in plans.QUERIES, op
            assert op in plans.ORACLES, op
            assert plans.GROUPS[op] != "eval_only", op


def test_mirror_is_deterministic(tmp_path):
    shape = workloads.SHAPES["recount_pipeline"]["tiny"]
    a = rm.generate(str(tmp_path / "a"), 7, shape)
    b = rm.generate(str(tmp_path / "b"), 7, shape)
    c = rm.generate(str(tmp_path / "c"), 8, shape)
    assert a == b
    assert rm.digest(str(tmp_path / "a")) == rm.digest(str(tmp_path / "b"))
    assert rm.digest(str(tmp_path / "a")) != rm.digest(str(tmp_path / "c"))


def test_fetcher_copies_mirror_files(tmp_path):
    rm.generate(str(tmp_path / "m"), 1, workloads.SHAPES["recount_pipeline"]["tiny"])
    fetch = rm.make_fetcher(str(tmp_path / "m"))
    rel = f"{rm.BASE}/metadata/{rm.DBASE}.recount_project.MD.gz"
    fetch(f"{rm.ROOT}/{rel}", str(tmp_path / "out.gz"))
    assert (tmp_path / "out.gz").read_bytes() == (tmp_path / "m" / rel).read_bytes()
    with pytest.raises(ValueError):
        fetch("https://elsewhere.example/x", str(tmp_path / "x"))


def test_tail_keeps_ten_samples_beyond():
    assert run.tail([float(i) for i in range(100)]) == (90.0, 89.0)
    pct, value = run.tail([float(i) for i in range(25)])
    assert pct == 60.0 and sum(v > value for v in range(25)) == 10


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_smoke_run_is_correct(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--shape", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert set(result["metrics"]) == set(run.END_TO_END)


def test_refuses_to_run_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "registry_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
