"""Spans around the program's layer boundaries, recorded from outside.

:class:`Tracer` patches the public functions of the layer modules (and the
facade's methods) with wrappers that record a span per call: name, start,
end, parent and pass id, kept in memory. A wrapped call that returns a
batch DataFrame (or a tuple of them) is forced at the span boundary with
``localCheckpoint(eager=True)`` and the checkpointed frame is handed back,
so the next layer reads materialized input and each span's self time
(duration minus child spans) is the work that layer did.

Spark counters per operation come from the application status store over
py4j (UI off): executor run time, GC, shuffle write, spill and input bytes
summed over the stages that completed since the previous snapshot.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict

from pyspark.sql import DataFrame

# module -> layer name its spans are filed under
LAYER_MODULES = {
    "pyrecount_spark.sources.readers": "sources.readers",
    "pyrecount_spark.sources.ingest": "sources.ingest",
    "pyrecount_spark.functions.gtf": "functions.gtf",
    "pyrecount_spark.operators.matrix": "operators.matrix",
    "pyrecount_spark.operators.relational": "operators.relational",
    "pyrecount_spark.operators.joins": "operators.joins",
    "pyrecount_spark.operators.windows": "operators.windows",
    "pyrecount_spark.operators.dedup": "operators.dedup",
    "pyrecount_spark.operators.similarity": "operators.similarity",
    "pyrecount_spark.operators.text": "operators.text",
    "pyrecount_spark.operators.corpus": "operators.corpus",
}
# the drain boundaries of the streaming layer
DRAINS = (
    ("pyrecount_spark.streaming.pipeline", "run_stream_to_memory"),
    ("pyrecount_spark.plans.streaming_q", "_drain"),
)
FACADE = {"Metadata": ("cache", "load"),
          "Project": ("cache", "load", "scale_auc", "scale_mapped_reads")}
CANDIDATE_FNS = ("minhash_candidate_pairs", "probe_restricted_candidate_pairs")
STAGE_KEYS = ("task_s", "gc_s", "shuffle_write_mb", "spill_mb", "input_mb", "tasks",
              "failed_tasks")
_MB = 1024.0 * 1024.0


def _is_batch_df(x) -> bool:
    return isinstance(x, DataFrame) and not x.isStreaming


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.pass_id = -1
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._sc = spark.sparkContext._jsc.sc()
        self._empty = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0)
        self._last_stage = -1
        self.stage_delta()  # absorb stages run before tracing started

    # ---- spans ----
    def _open(self, name: str) -> tuple[int, float]:
        self.spans.append((name, 0.0, 0.0, self._stack[-1] if self._stack else -1, self.pass_id))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1, time.perf_counter()

    def _close(self, idx: int, t0: float) -> None:
        self._stack.pop()
        name, _, _, parent, pid = self.spans[idx]
        self.spans[idx] = (name, t0, time.perf_counter(), parent, pid)

    def count(self, key: str, value: float) -> None:
        self.counts[(self.pass_id, key)] += value

    def jobs_started(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def call(self, name: str, fn, args, kwargs, force: bool = True, count_jobs: bool = False):
        idx, t0 = self._open(name)
        j0 = self.jobs_started() if count_jobs else 0
        try:
            out = fn(*args, **kwargs)
            if count_jobs:
                self.count(f"{name}.jobs", self.jobs_started() - j0)
            if force:
                out = self._force(out)
            return out
        finally:
            self._close(idx, t0)

    @staticmethod
    def _force(out):
        if _is_batch_df(out):
            return out.localCheckpoint(eager=True)
        if isinstance(out, tuple) and any(_is_batch_df(x) for x in out):
            return tuple(x.localCheckpoint(eager=True) if _is_batch_df(x) else x for x in out)
        return out

    def dump(self, path: str) -> None:
        """Write the spans out, one JSON object a line."""
        with open(path, "w") as fh:
            for name, t0, t1, parent, pid in self.spans:
                fh.write(json.dumps({"name": name, "start": t0, "end": t1, "parent": parent,
                                     "pass": pid}) + "\n")

    def self_times(self) -> dict[tuple[int, str], float]:
        """(pass id, span name) -> summed self time."""
        child = defaultdict(float)
        for _, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[tuple[int, str], float] = defaultdict(float)
        for i, (name, t0, t1, _, pid) in enumerate(self.spans):
            out[(pid, name)] += (t1 - t0) - child[i]
        return out

    # ---- Spark counters ----
    def stage_delta(self) -> dict[str, float]:
        """Counters summed over stages submitted since the previous call.

        The store lists stages newest first, so the scan stops at the first
        stage an earlier call already counted."""
        stages = self._sc.statusStore().stageList(None, False, False, self._empty, None)
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            out["task_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += s.diskBytesSpilled() / _MB
            out["input_mb"] += s.inputBytes() / _MB
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
        self._last_stage = newest
        return out

    def job_seconds(self, first_job: int) -> float:
        """Wall time covered by jobs with id >= first_job (union of intervals)."""
        jobs = self._sc.statusStore().jobsList(None)  # newest first
        spans = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < first_job:
                break
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        total, end = 0, -1
        for a, b in sorted(spans):
            if b > end:
                total += b - max(a, end)
                end = b
        return total / 1000.0

    # ---- patching ----
    def install(self) -> None:
        """Wrap every layer boundary; rebinds names other modules imported."""
        from pyrecount_spark import api
        from pyrecount_spark.plans import dedup as plan_dedup

        originals: dict[int, object] = {}
        for mod_name, layer in LAYER_MODULES.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod_name:
                    continue
                wrapped = self._wrap(f"{layer}.{attr}", fn, layer)
                setattr(mod, attr, wrapped)
                originals[id(fn)] = wrapped
        for mod_name, attr in DRAINS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            wrapped = self._wrap("streaming.drain", fn, "streaming", drain=True)
            setattr(mod, attr, wrapped)
            originals[id(fn)] = wrapped
        for cls_name, methods in FACADE.items():
            cls = getattr(api, cls_name)
            for m in methods:
                setattr(cls, m, self._wrap(f"api.{cls_name}.{m}", getattr(cls, m), "api"))
        memo_fn = plan_dedup._verified_edges

        @functools.wraps(memo_fn)
        def memo_probe(spark, sf_dir, materialize=True):
            before = len(plan_dedup._EDGE_MEMO)
            hit = any(k[1] == sf_dir for k in plan_dedup._EDGE_MEMO)
            out = memo_fn(spark, sf_dir, materialize)
            if materialize:
                self.count("plans.edge_memo.calls", 1)
                self.count("plans.edge_memo.hits", int(hit and len(plan_dedup._EDGE_MEMO) <= before))
                self.count("operators.dedup.verified_pairs", out[1].count())
            return out

        plan_dedup._verified_edges = memo_probe
        # rebind `from X import f` copies made before patching
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("pyrecount_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and val is not w:
                    setattr(mod, attr, w)

    def _wrap(self, name: str, fn, layer: str, drain: bool = False):
        tracer = self
        leaf = name.rsplit(".", 1)[-1]
        count_jobs = layer == "sources.readers" or name == "api.Project.load"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = tracer.call(name, fn, args, kwargs, force=not drain, count_jobs=count_jobs)
            if drain:
                from pyrecount_spark.streaming.pipeline import LAST_STATE_METRICS

                for m in LAST_STATE_METRICS:
                    tracer.count("streaming.state_rows", m.get("state_rows") or 0)
                    tracer.count("streaming.state_mem_mb", m.get("memory_used_mb") or 0)
                    tracer.count("streaming.rows_dropped", m.get("rows_dropped_by_watermark") or 0)
            elif leaf in CANDIDATE_FNS and _is_batch_df(out):
                tracer.count("operators.dedup.candidate_pairs", out.count())
            elif name == "sources.ingest.fetch_manifest":
                tracer.count("sources.ingest.files_fetched", sum(s == "fetched" for _, _, s in out))
                tracer.count("sources.ingest.fetch_errors", sum(s.startswith("error") for _, _, s in out))
            return out

        return wrapper
