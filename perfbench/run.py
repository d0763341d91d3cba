#!/usr/bin/env python3
"""Benchmark driver: one closed-loop client, ``local[nproc]`` Spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run makes its inputs from ``--seed``
(outside timing), starts Spark, runs one correctness pass that also warms
the JVM and the program's memos, then runs whole passes
of the workload's operations one after another while the next one still
fits in ``--seconds`` (at least one). With ``--trace 1`` the first timed
pass runs untraced and the rest (at least one) with layer spans on; the per-layer
metrics come from the traced passes. The last line of stdout is the JSON
result. The run's files stay under ``.perfbench_work/``: the working
directory is removed at exit, the spans of a traced run are kept in
``.perfbench_work/spans/``. The workloads and metrics are described in
``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_geomean_s": "s", "rows_per_cpu_s": "1/s"}
COUNTER_LAYERS = ("plans", "api", "streaming")
COUNTERS = {"task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
            "input_mb": "MB", "jobs": "count", "tasks": "count", "failed_tasks": "count",
            "driver_s": "s"}
SELF_TIME_LAYERS = ("functions.gtf", "operators.matrix", "operators.relational",
                    "operators.joins", "operators.windows", "operators.dedup",
                    "operators.similarity", "operators.text", "operators.corpus")
PER_LAYER = {
    "session.start_s": "s", "plans.import_s": "s", "plans.build_s": "s",
    "plans.edge_memo_hit_ratio": "ratio",
    "api.cache_s": "s", "api.load_s": "s", "api.scale_s": "s", "api.load_jobs": "count",
    "sources.ingest.fetch_s": "s", "sources.ingest.files_fetched": "count",
    "sources.ingest.fetch_errors": "count", "sources.ingest.land_s": "s",
    "sources.ingest.bytes_written": "bytes",
    "sources.readers.scan_s": "s", "sources.readers.inference_jobs": "count",
    **{f"{layer}.self_s": "s" for layer in SELF_TIME_LAYERS},
    "operators.dedup.candidate_pairs": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_ratio": "ratio",
    "streaming.drain_s": "s", "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.rows_dropped": "count",
    "fail_ratio": "ratio", "written_bytes_per_input_byte": "ratio",
    **{f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in COUNTERS.items()},
    "bench.pass_s": "s", "bench.op_geomean_s": "s", "bench.op_s_tail": "s",
    "bench.peak_rss_mb": "MB",
    "bench.traced_pass_s": "s", "bench.tracing_overhead_s": "s",
}


def pin_host(work: str) -> dict:
    """Size Spark to this machine and keep every file it writes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 1024 / 1024
    heap_gb = max(1, min(8, int(mem_gb // 5)))
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "cwd", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM (launcher included): temp files under work, no /tmp/hsperfdata;
        # JIT compiler threads that never exit, so cpu_seconds can leave them out
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    os.chdir(dirs["cwd"])  # derby.log, metastore_db and spark-warehouse land here
    return {"nproc": cpus, "mem_gb": round(mem_gb, 2), "driver_heap_gb": heap_gb,
            "loadavg": open("/proc/loadavg").read().split()[:3],
            "python": platform.python_version(), "warehouse": dirs["warehouse"]}


def descendants() -> dict[int, tuple[int, float]]:
    """Resident bytes and CPU seconds (its own and its reaped children's) of
    each live descendant of this process (the JVM and its Python workers),
    read from ``/proc``."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    usage: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        usage[int(entry)] = (int(fields[21]) * page, sum(map(int, fields[11:15])) / tick)
    me, out = os.getpid(), {}
    for pid, u in usage.items():
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out[pid] = u
    return out


def _jit_seconds(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                total += sum(map(int, fh.read().rsplit(")", 1)[1].split()[11:13]))
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def cpu_seconds(jit: bool = True) -> float:
    """CPU seconds used so far by this process and the JVM and workers under it.

    Unlike wall time, this does not grow when the host's hypervisor takes
    CPU time away from the machine (steal). With ``jit=False`` the JVM's JIT
    compiler threads are left out: they keep compiling in the background for
    many passes after the warm-up (7 CPU seconds during one 5.6 s pass of
    ``registry_mix``), which is set-up work, not the pass's."""
    own = os.times()
    procs = descendants()
    total = own.user + own.system + sum(cpu for _, cpu in procs.values())
    return total if jit else total - sum(_jit_seconds(pid) for pid in procs)


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled in a thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> float:
        return sum(rss for rss, _ in descendants().values()) / (1024.0 * 1024.0)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self._sample())


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its value."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    pct = math.floor(100.0 * (n - 10) / n)
    return float(pct), xs[max(0, math.ceil(pct / 100.0 * n) - 1)]


class PassResult:
    """What one pass measured: per-operation wall and CPU seconds, failures,
    bytes written, and the wall and CPU seconds spent checking outputs."""

    def __init__(self):
        self.lat: dict[str, float] = {}
        self.cpu: dict[str, float] = {}
        self.failures: list[str] = []
        self.written = 0
        self.check_s = self.check_cpu_s = 0.0


def run_pass(spark, wl, pass_dir, check: bool, log, tracer=None) -> PassResult:
    """One pass over the workload's operations."""
    from workloads import force

    wl.begin_pass(spark, pass_dir)
    r = PassResult()
    for op in wl.ops:
        layer = wl.layer_of(op)
        if tracer is not None:
            tracer.stage_delta()
            j0 = tracer.jobs_started()
        c0 = cpu_seconds(jit=False)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = wl.run(spark, op)
            else:
                out = tracer.call(f"op:{layer}:{op}", wl.run, (spark, op), {}, force=False)
            if check:
                out = wl.fetch(out)  # runs the operation, as force does
            else:
                force(out)
            dt = time.perf_counter() - t0
            c1 = cpu_seconds(jit=False)
            problems = []
            if check:
                t1, c2 = time.perf_counter(), cpu_seconds()
                problems = wl.check(spark, op, out)
                r.check_s += time.perf_counter() - t1
                r.check_cpu_s += cpu_seconds() - c2
        except Exception as e:  # noqa: BLE001 - a failing operation is counted, the run goes on
            r.failures.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
            log(traceback.format_exc())
            continue
        if problems:
            r.failures.append(f"{op}: " + "; ".join(problems))
            continue
        r.lat[op] = dt
        r.cpu[op] = c1 - c0
        if tracer is not None:
            d = tracer.stage_delta()
            d["jobs"] = tracer.jobs_started() - j0
            job_s = tracer.job_seconds(j0)
            d["driver_s"] = max(0.0, dt - job_s)
            for k, v in d.items():
                tracer.count(f"{layer}.{k}", v)
    r.written = wl.end_pass()
    return r


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child process has ended."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                gateway.proc.kill()
                gateway.proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        os.kill(pid, signal.SIGKILL)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", choices=("default", "tiny"), default="default")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "pyrecount_spark", "session.py"))
            and os.path.isfile(os.path.join(root, "scripts", "gen_corpus.py"))):
        print("perfbench: run from the repository root (pyrecount_spark/ and scripts/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    try:
        result = measure(args, root, work)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, root: str, work: str) -> dict:
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    host = pin_host(work)
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    t0, c0 = time.perf_counter(), cpu_seconds()
    inputs = wl.prepare(root, os.path.join(work, "inputs"), args.seed, args.shape)
    # input generation is not set-up
    outside_setup, outside_setup_cpu = time.perf_counter() - t0, cpu_seconds() - c0
    log(f"inputs: {inputs} in {outside_setup:.2f}s")

    from pyrecount_spark import plans
    from pyrecount_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": host.pop("warehouse"),
            "spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true"}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    try:
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        plans.load_all()
        import_s = time.perf_counter() - t0
        eval_only = [op for op in wl.ops if plans.GROUPS.get(op, "default") == "eval_only"]
        unknown = [op for op in wl.ops
                   if wl.name != "recount_pipeline" and op not in plans.QUERIES]
        host.update(java=spark.sparkContext._jvm.System.getProperty("java.version"),
                    spark=spark.version)
        log(f"host: {json.dumps(host)}")

        attempted = failed = 0
        failures: list[str] = [f"{op}: eval_only operation in a workload" for op in eval_only]
        failures += [f"{op}: not in plans.QUERIES" for op in unknown]
        passes = iter(range(10**6))

        # correctness pass: also the warm-up (JIT, codegen, program memos)
        t0 = time.perf_counter()
        r = run_pass(spark, wl, os.path.join(work, f"lake-{next(passes)}"), True, log)
        attempted += len(wl.ops)
        failed += len(r.failures)
        failures += r.failures
        log(f"correctness pass: {len(r.failures)} failures in {time.perf_counter() - t0:.2f}s "
            f"({r.check_s:.2f}s of it checking) "
            + json.dumps({k: round(v, 3) for k, v in r.lat.items()}))
        # set-up: process start to the first timed pass (Spark, plans.load_all,
        # warm-up), less the time spent comparing outputs with their expectations
        setup_s = time.perf_counter() - T_PROCESS - outside_setup - r.check_s
        setup_cpu_s = cpu_seconds() - outside_setup_cpu - r.check_cpu_s
        log(f"setup: {setup_s:.3f}s wall, {setup_cpu_s:.3f}s CPU (session {start_s:.3f}s, "
            f"plans.load_all {import_s:.3f}s)")

        lat: dict[str, list[float]] = {op: [] for op in wl.ops}
        cpu: dict[str, list[float]] = {op: [] for op in wl.ops}
        pass_s, pass_cpu_s, traced_pass_s, written = [], [], [], []
        tracer = None
        steal0 = host_cpu_times()
        with RssSampler() as rss:
            t_end = time.perf_counter() + args.seconds
            # whole passes only: stop when the next one would overrun --seconds
            while (not pass_s or (args.trace and not traced_pass_s)
                   or time.perf_counter() + (traced_pass_s or pass_s)[-1] <= t_end):
                if args.trace and pass_s and tracer is None:
                    from tracing import Tracer

                    tracer = Tracer(spark)
                    tracer.install()
                pid = next(passes)
                if tracer is not None:
                    tracer.pass_id = pid
                t0, c0 = time.perf_counter(), cpu_seconds(jit=False)
                r = run_pass(spark, wl, os.path.join(work, f"lake-{pid}"), False, log, tracer)
                dt, dc = time.perf_counter() - t0, cpu_seconds(jit=False) - c0
                log(f"pass {pid}: {dt:.3f}s wall, {dc:.3f}s CPU "
                    + json.dumps({k: round(v, 3) for k, v in r.lat.items()}))
                attempted += len(wl.ops)
                failed += len(r.failures)
                failures += r.failures
                if tracer is None:
                    pass_s.append(dt)
                    pass_cpu_s.append(dc)
                    written.append(r.written)
                    for op, v in r.lat.items():
                        lat[op].append(v)
                        cpu[op].append(r.cpu[op])
                else:
                    traced_pass_s.append(dt)
                    tracer.count("sources.ingest.bytes_written", r.written)
        steal1 = host_cpu_times()
    finally:
        stop_spark(spark)
    for f in failures:
        log(f"FAIL {f}")
    failed += len(eval_only) + len(unknown)

    def geomean(table: dict[str, list[float]]) -> float:
        meds = [statistics.median(v) for v in table.values() if v]
        return math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in meds)) if meds else 0.0

    pooled = [x for v in lat.values() for x in v]
    pct, tail_s = tail(pooled) if pooled else (0.0, 0.0)
    log(f"op_s_tail is p{pct:g} of {len(pooled)} operation latencies")
    log("op medians: " + json.dumps({op: round(statistics.median(v), 3) for op, v in lat.items() if v}))
    log("op CPU medians: " + json.dumps({op: round(statistics.median(v), 3) for op, v in cpu.items() if v}))
    summary = {
        "setup_s": setup_s, "setup_cpu_s": setup_cpu_s,
        "pass_s": statistics.median(pass_s), "pass_cpu_s": statistics.median(pass_cpu_s),
        "op_geomean_s": geomean(lat), "op_cpu_geomean_s": geomean(cpu),
        "op_s_tail": tail_s, "peak_rss_mb": rss.peak_mb,
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    log("summary: " + json.dumps(summary))
    if args.trace:
        spans_dir = os.path.join(root, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        metrics = layer_metrics(tracer, traced_pass_s, pass_s, start_s, import_s)
        metrics.update({
            "fail_ratio": failed / attempted,
            "written_bytes_per_input_byte": statistics.median(written) / inputs["input_bytes"],
            "bench.pass_s": summary["pass_s"],
            "bench.op_geomean_s": summary["op_geomean_s"],
            "bench.op_s_tail": tail_s,
            "bench.peak_rss_mb": rss.peak_mb,
        })
        units = PER_LAYER
    else:
        # CPU seconds, not wall time: on a shared host the hypervisor takes
        # a varying share of the CPUs away (steal), which wall time counts
        metrics = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": summary["pass_cpu_s"],
            "op_cpu_geomean_s": summary["op_cpu_geomean_s"],
            "rows_per_cpu_s": inputs["input_rows"] / summary["pass_cpu_s"],
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(tracer, traced_pass_s, pass_s, start_s, import_s) -> dict:
    """Per-layer metrics: the median over traced passes of each per-pass total."""
    pass_ids = sorted({pid for pid, _ in tracer.counts} | {s[4] for s in tracer.spans})
    self_t = tracer.self_times()
    incl: dict[tuple[int, str], float] = {}
    for name, t0, t1, _, pid in tracer.spans:
        incl[(pid, name)] = incl.get((pid, name), 0.0) + (t1 - t0)

    def med(fn) -> float:
        return statistics.median(fn(pid) for pid in pass_ids) if pass_ids else 0.0

    def span_sum(table, pid, prefixes) -> float:
        return sum(v for (p, n), v in table.items() if p == pid and n.startswith(prefixes))

    def cnt(pid, key) -> float:
        return tracer.counts.get((pid, key), 0.0)

    def ratio(pid, num, den) -> float:
        return cnt(pid, num) / cnt(pid, den) if cnt(pid, den) else 0.0

    m = {
        "session.start_s": start_s,
        "plans.import_s": import_s,
        "plans.build_s": med(lambda p: span_sum(self_t, p, ("op:plans:", "op:streaming:"))),
        "plans.edge_memo_hit_ratio": med(
            lambda p: ratio(p, "plans.edge_memo.hits", "plans.edge_memo.calls")),
        "api.cache_s": med(lambda p: span_sum(incl, p, ("api.Metadata.cache", "api.Project.cache"))),
        "api.load_s": med(lambda p: span_sum(incl, p, ("api.Metadata.load", "api.Project.load"))),
        "api.scale_s": med(lambda p: span_sum(incl, p, ("api.Project.scale_",))),
        "api.load_jobs": med(lambda p: cnt(p, "api.Project.load.jobs")),
        "sources.ingest.fetch_s": med(lambda p: incl.get((p, "sources.ingest.fetch_manifest"), 0.0)),
        "sources.ingest.files_fetched": med(lambda p: cnt(p, "sources.ingest.files_fetched")),
        "sources.ingest.fetch_errors": med(lambda p: cnt(p, "sources.ingest.fetch_errors")),
        "sources.ingest.land_s": med(lambda p: span_sum(incl, p, ("sources.ingest.land_parquet",))),
        "sources.ingest.bytes_written": med(lambda p: cnt(p, "sources.ingest.bytes_written")),
        "sources.readers.scan_s": med(lambda p: span_sum(incl, p, ("sources.readers.",))),
        "sources.readers.inference_jobs": med(
            lambda p: sum(v for (q, k), v in tracer.counts.items()
                          if q == p and k.startswith("sources.readers.") and k.endswith(".jobs"))),
        **{f"{layer}.self_s": med(lambda p, layer=layer: span_sum(self_t, p, (layer + ".",)))
           for layer in SELF_TIME_LAYERS},
        "operators.dedup.candidate_pairs": med(lambda p: cnt(p, "operators.dedup.candidate_pairs")),
        "operators.dedup.verified_pairs": med(lambda p: cnt(p, "operators.dedup.verified_pairs")),
        "operators.dedup.verify_ratio": med(
            lambda p: ratio(p, "operators.dedup.verified_pairs", "operators.dedup.candidate_pairs")),
        "streaming.drain_s": med(lambda p: span_sum(incl, p, ("streaming.drain",))),
        "streaming.state_rows": med(lambda p: cnt(p, "streaming.state_rows")),
        "streaming.state_mem_mb": med(lambda p: cnt(p, "streaming.state_mem_mb")),
        "streaming.rows_dropped": med(lambda p: cnt(p, "streaming.rows_dropped")),
        **{f"{layer}.{c}": med(lambda p, key=f"{layer}.{c}": cnt(p, key))
           for layer in COUNTER_LAYERS for c in COUNTERS},
        "bench.traced_pass_s": statistics.median(traced_pass_s),
        "bench.tracing_overhead_s": statistics.median(traced_pass_s) - statistics.median(pass_s),
    }
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
