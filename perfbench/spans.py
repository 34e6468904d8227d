"""Per-layer tracing from outside the engine.

:class:`Tracer` wraps the public functions of each traced ``raft_spark``
module so that a call entering the module from elsewhere opens a span
named after its layer; calls inside the same layer open none. The
wrapper replaces the function on its module and on every
``raft_spark`` module that imported it by name, so both module-level
``from ... import f`` bindings and function-local imports that run later
see it. DataFrame actions and writes are counted as eager actions of the
innermost open span.

Time and Spark jobs are attributed at span boundaries: at every open and
close the interval since the previous boundary, and the job ids the
DAG scheduler handed out in it, belong to the span that was innermost.
Job ids are taken from the scheduler's counter, not from job groups, so
jobs that streaming micro-batches run on their own threads land in the
span that waited for them. Job and stage metrics are read from Spark's
status store right after each query (:meth:`Tracer.harvest`), before the
store's job retention can drop them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

# operators.sketches is not traced: among the registered queries only
# curation_suite calls it, and that suite and its oracle take over a
# minute on the benchmark's inputs
OPERATORS = (
    "dedup", "similarity", "solvers", "sparse", "reductions", "matrixops",
    "selectk", "stats", "text", "textquality", "temporal", "statestore",
    "mixing",
)
LAYER_MODULES = {f"operators.{m}": [f"raft_spark.operators.{m}"] for m in OPERATORS}
LAYER_MODULES["streaming"] = ["raft_spark.streaming.incremental"]
LAYER_MODULES["sources"] = ["raft_spark.sources.tables", "raft_spark.sources.sinks"]

# the span that owns work done outside every layer (the query function
# bodies) and the final action the benchmark runs on each query result
QUERY_SPAN = "queries"
EXEC_SPAN = "queries.exec"
ROOT_SPAN = "harness"

_DF_ACTIONS = (
    "collect", "count", "toPandas", "toArrow", "take", "head", "first", "tail",
    "toLocalIterator", "isEmpty", "localCheckpoint", "checkpoint", "foreach",
    "foreachPartition", "show",
)
_WRITER_ACTIONS = ("save", "saveAsTable", "insertInto", "parquet", "json", "csv", "orc", "text")

# summed over a job's stages by Tracer.harvest
JOB_METRICS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "result_bytes",
    "executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes", "task_retries",
)


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._lock = threading.RLock()
        self._stack = [ROOT_SPAN]
        self._action_depth = 0
        self._patched: list[tuple[object, str, object]] = []
        self._mapper = None
        self._counted_stages: set[int] = set()
        self.reset()

    # -- span accounting -------------------------------------------------
    def reset(self) -> None:
        """Start a new accounting period (one pass)."""
        with self._lock:
            self._mark_t, self._mark_job = time.perf_counter(), self.next_job_id()
            self.self_s: dict[str, float] = defaultdict(float)
            self.calls: dict[str, int] = defaultdict(int)
            self.actions: dict[str, int] = defaultdict(int)
            self.job_owner: dict[int, str] = {}
            self.first_job = self._mark_job

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _boundary(self) -> None:
        now_t = time.perf_counter()
        now_job = self.next_job_id()
        top = self._stack[-1]
        self.self_s[top] += now_t - self._mark_t
        for j in range(self._mark_job, now_job):
            self.job_owner[j] = top
        self._mark_t, self._mark_job = now_t, now_job

    def enter(self, name: str) -> None:
        with self._lock:
            self._boundary()
            self._stack.append(name)
            self.calls[name] += 1

    def exit(self, name: str) -> None:
        with self._lock:
            self._boundary()
            # innermost normally; a span left open by another thread is
            # removed where it is so the stack never drifts
            for i in range(len(self._stack) - 1, 0, -1):
                if self._stack[i] == name:
                    del self._stack[i]
                    break

    @contextlib.contextmanager
    def span(self, name: str):
        self.enter(name)
        try:
            yield
        finally:
            self.exit(name)

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, modnames in LAYER_MODULES.items():
            for modname in modnames:
                mod = importlib.import_module(modname)
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                        continue
                    if inspect.isgeneratorfunction(fn) or inspect.isgeneratorfunction(
                        getattr(fn, "__wrapped__", None)
                    ):
                        continue
                    originals[id(fn)] = (fn, self._wrap(layer, fn))
        # rebind every name that refers to an original, in every engine module
        for modname, mod in list(sys.modules.items()):
            if not (modname == "raft_spark" or modname.startswith("raft_spark.")) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, hit[1])
        self._install_actions()

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._stack[-1] == layer:
                return fn(*args, **kwargs)
            tracer.enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(layer)

        return traced

    def _install_actions(self) -> None:
        from pyspark.sql import DataFrame, DataFrameWriter

        tracer = self
        # the session's DataFrames are instances of subclasses (the
        # classic, JVM-backed ones) that override the actions
        classes = [(c, _DF_ACTIONS) for c in _with_subclasses(DataFrame)]
        classes += [(c, _WRITER_ACTIONS) for c in _with_subclasses(DataFrameWriter)]
        for cls, names in classes:
            for name in names:
                orig = cls.__dict__.get(name)
                if orig is None:
                    continue

                def make(orig):
                    @functools.wraps(orig)
                    def action(*args, **kwargs):
                        if tracer._action_depth == 0:
                            tracer.actions[tracer._stack[-1]] += 1
                        tracer._action_depth += 1
                        try:
                            return orig(*args, **kwargs)
                        finally:
                            tracer._action_depth -= 1

                    return action

                self._patched.append((cls, name, orig))
                setattr(cls, name, make(orig))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._patched):
            setattr(owner, attr, val)
        self._patched.clear()

    # -- Spark status store ----------------------------------------------
    def _json(self, obj) -> dict:
        if self._mapper is None:
            jvm = self._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            mapper.registerModule(getattr(scala_module, "MODULE$"))
            self._mapper = mapper
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self, jobs: range) -> list[dict]:
        """Read the status-store records of ``jobs`` once all their events
        have been processed. Returns one dict per job with its owner span,
        wall interval and summed stage metrics."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = []
        for jid in jobs:
            job = self._json(store.job(jid))
            rec = {
                "span": self.job_owner.get(jid, ROOT_SPAN),
                "start_ms": _epoch_ms(job.get("submissionTime")),
                "end_ms": _epoch_ms(job.get("completionTime")),
                "jobs": 1,
                "stages": len(job["stageIds"]),
                "stages_skipped": job["numSkippedStages"],
                "tasks": 0, "shuffle_write_bytes": 0, "result_bytes": 0,
                "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "spill_bytes": 0, "task_retries": 0,
            }
            for sid in job["stageIds"]:
                # a stage reused by a later job shows as skipped there; its
                # metrics count once, in the job that ran it
                if sid in self._counted_stages:
                    continue
                st = self._json(store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                rec["tasks"] += st["numCompleteTasks"]
                rec["task_retries"] += st["numFailedTasks"] + st["attemptId"]
                rec["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                rec["result_bytes"] += st["resultSize"]
                rec["executor_run_s"] += st["executorRunTime"] / 1e3
                rec["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                rec["gc_s"] += st["jvmGcTime"] / 1e3
                rec["spill_bytes"] += st["diskBytesSpilled"]
            out.append(rec)
        return out


def _with_subclasses(cls) -> list[type]:
    out = [cls]
    for sub in cls.__subclasses__():
        out.extend(c for c in _with_subclasses(sub) if c not in out)
    return out


def _epoch_ms(v) -> float | None:
    # Jackson renders java.util.Date as epoch milliseconds
    return None if v is None else float(v)


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
