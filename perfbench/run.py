"""The repository benchmark: one closed-loop client runs a workload's
queries back to back on ``local[nproc]`` and checks every output.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(``perfbench/datagen.py``); the seed also permutes the query order of
every pass. Each output is compared, by its canonical value hash
(``raft_spark.queries.gatehash.canon``), with the query's DuckDB oracle
over the same files. Set-up imports the engine, launches the JVM and
builds the Spark session, warms the Python worker pool and runs
:data:`WARMUP_PASSES` warm-up passes. Timed passes follow until
``--seconds`` have passed, at least :data:`MIN_TIMED_PASSES` of them.
Every file the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (:data:`END_TO_END`); with ``--trace 1`` the per-layer
ones (:func:`per_layer_metrics`), measured by :mod:`spans` on a run of
its own. A readable summary precedes it on stdout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    # LSH candidates and their estimate stage (operators.dedup), connected
    # components and driver-side label assembly (solvers), text quality
    # (textquality), TF-IDF weighting (text), mixture weights (mixing)
    "curation": ["dedup_clusters", "lang_quality", "tfidf", "data_mixture"],
    # reductions / stats / sparse / matrixops / similarity + selectk:
    # short queries, so fixed per-query cost is a large share
    "primitives": ["col_moments", "cluster_metrics", "spmm", "masked_matmul", "knn_cosine"],
    # persisted dedup state ingest and compaction (statestore, dedup),
    # streaming dedup over micro-batches with checkpoint I/O (streaming),
    # trailing-window features (temporal)
    "ingest": ["incremental_dedup", "stream_dedup", "rolling_suite"],
}

END_TO_END = {
    "setup_s": "s",
    "pass_s_p50": "s",
}

# The first pass runs cold (about 2.5x a later pass); the second is
# within ~25% of the fourth. Pass walls keep falling a few percent a pass
# for ten passes, but a run has time for no more: the benchmark's 70 runs
# must fit in an hour.
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 2
DRIVER_MEM = "3g"
WORK_DIR = ".perfbench_work"


def per_layer_metrics() -> dict[str, str]:
    """Name -> unit of every metric a traced run reports."""
    from spans import OPERATORS

    out: dict[str, str] = {}
    for m in OPERATORS:
        out[f"operators.{m}.calls"] = "count"
        out[f"operators.{m}.self_s"] = "s"
        out[f"operators.{m}.jobs"] = "count"
        out[f"operators.{m}.eager_actions"] = "count"
        out[f"operators.{m}.shuffle_write_bytes"] = "B"
    out.update({
        "streaming.calls": "count", "streaming.self_s": "s", "streaming.jobs": "count",
        "sources.calls": "count", "sources.self_s": "s", "sources.jobs": "count",
        # build_s: the query function call, operator work included;
        # self_s/jobs: its own code outside every layer; exec: the final action
        "queries.build_s": "s", "queries.exec_s": "s",
        "queries.self_s": "s", "queries.jobs": "count", "queries.exec.jobs": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.shuffle_write_bytes": "B", "spark.result_bytes": "B",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.spill_bytes": "B", "spark.task_retries": "count",
        "spark.stage_skip_ratio": "ratio",
        "driver.py_s": "s",
        "session.build_s": "s", "session.warm_s": "s",
        "trace.pass_s_p50": "s",
        # CPU of the engine's processes per pass; like peak RSS below it
        # spreads too widely between runs (~0.2 of its median on a shared
        # host) for an end-to-end bound
        "process.cpu_s": "s",
        # peak RSS follows the JVM heap's growth policy and spreads ~30%
        # between runs, too wide for an end-to-end bound
        "memory.jvm_peak_rss_mb": "MiB", "memory.driver_peak_rss_mb": "MiB",
    })
    return out


def _log(msg: str, p: dict) -> None:
    walls = " ".join(f"{k}={v:.2f}" for k, v in p["walls"].items())
    print(f"perfbench: {msg} [{walls}] at {time.perf_counter() - T_START:.1f} s", file=sys.stderr)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.names = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.order = random.Random(seed)
        self.work = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}")
        self.cpus = _cpus()
        self.spark = None
        self.tracer = None
        self.failures: dict[str, int] = {}

    # -- inputs and oracle ----------------------------------------------
    def prepare(self) -> None:
        import confine
        import datagen

        confine.environ(self.work, self.cpus, DRIVER_MEM)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        self.data = datagen.write(os.path.join(self.work, "data", f"seed{self.seed}"), self.seed)
        self.outputs: list[tuple[str, str | None, Exception | None]] = []

    def check_outputs(self) -> None:
        """Compare every output digest with its oracle's."""
        from oracle import Oracle

        oracle = Oracle(self.data)
        expected = {n: oracle.digest(sql) for n, sql in self.oracles.items()}
        for name, got, err in self.outputs:
            if err is None and got == expected[name]:
                continue
            self.failures[name] = self.failures.get(name, 0) + 1
            why = f"raised {err!r}" if err is not None else "output differs from its oracle"
            print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)

    # -- one pass --------------------------------------------------------
    def run_pass(self) -> dict:
        """Run every query once, in seeded order. Outputs are hashed after
        the pass, so hashing costs no measured time or CPU."""
        import procstat
        from oracle import digest
        from raft_spark.queries.gatehash import canon
        from spans import EXEC_SPAN, QUERY_SPAN

        names = list(self.names)
        self.order.shuffle(names)
        tr = self.tracer
        if tr is not None:
            tr.reset()
        results, walls, build, exe, jobs = [], {}, 0.0, 0.0, []
        # start every pass from a collected heap: otherwise old-generation
        # cycles left over from earlier passes land in this one at random
        self.spark._jvm.System.gc()
        # CPU of the driver, the JVM and the Python workers
        cpu0 = procstat.tree_cpu_s(os.getpid())
        for name in names:
            fn, df = self.queries[name], None
            j0 = tr.next_job_id() if tr is not None else 0
            t0 = time.perf_counter()
            try:
                if tr is None:
                    df = fn(self.spark, self.data)
                    t1 = time.perf_counter()
                    rows = df.collect()
                else:
                    with tr.span(QUERY_SPAN):
                        df = fn(self.spark, self.data)
                    t1 = time.perf_counter()
                    with tr.span(EXEC_SPAN):
                        rows = df.collect()
                t2 = time.perf_counter()
                results.append((name, df.columns, rows, None))
            except Exception as e:  # a failing query is counted, the pass goes on
                t1 = t2 = time.perf_counter()
                results.append((name, None, None, e))
            walls[name] = t2 - t0
            build += t1 - t0
            exe += t2 - t1
            if tr is not None:
                jobs.extend(tr.harvest(range(j0, tr.next_job_id())))
            del df
            gc.collect()
        cpu = procstat.tree_cpu_s(os.getpid()) - cpu0
        for name, cols, rows, err in results:
            got = None if err is not None else digest(canon([list(r) for r in rows], cols))
            self.outputs.append((name, got, err))
        out = {"wall": sum(walls.values()), "walls": walls, "cpu": cpu,
               "build": build, "exec": exe}
        if tr is not None:
            out["trace"] = self._layer_values(out, jobs)
        return out

    def _jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    # -- set-up ------------------------------------------------------------
    def setup(self) -> dict:
        """Import the engine and its queries, build the SparkSession (this
        launches the JVM), warm the worker pool and run
        :data:`WARMUP_PASSES` passes."""
        t0 = time.perf_counter()
        import confine
        import raft_spark.queries  # noqa: F401  (registers the queries)
        from raft_spark.queries.registry import ORACLES, QUERIES
        from raft_spark.session import get_spark

        confine.stage_streams_in(self.work)
        self.queries = QUERIES
        self.oracles = {n: ORACLES[n] for n in self.names}
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self._warm_workers()
        for i in range(WARMUP_PASSES):
            p = self.run_pass()
            _log(f"warm-up pass {i + 1}: {p['wall']:.2f} s", p)
        t2 = time.perf_counter()
        return {"setup_s": t2 - t0, "session.build_s": t1 - t0, "session.warm_s": t2 - t1}

    def _warm_workers(self) -> None:
        """Fork the Python worker pool and import its heavy modules."""

        def warm(it):
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            return it

        self.spark.range(64).repartition(self.cpus).mapInPandas(warm, "id long").count()

    # -- measurement -------------------------------------------------------
    def measure(self) -> list[dict]:
        passes = []
        t0 = time.perf_counter()
        while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - t0 < self.seconds:
            passes.append(self.run_pass())
            _log(f"timed pass {len(passes)}: {passes[-1]['wall']:.2f} s", passes[-1])
        return passes

    def peak_rss_mb(self) -> dict[str, float]:
        import procstat

        return {
            "memory.jvm_peak_rss_mb": procstat.vmhwm_mb(self._jvm_pid()),
            "memory.driver_peak_rss_mb": procstat.vmhwm_mb(os.getpid()),
        }

    def _layer_values(self, p: dict, jobs: list[dict]) -> dict[str, float]:
        """One pass's per-layer values, from the tracer's span accounting
        and the status-store records of the pass's jobs."""
        from spans import JOB_METRICS, ROOT_SPAN, busy_seconds

        tr = self.tracer
        v = {k: 0.0 for k in per_layer_metrics()}
        for metric, per_span in (("calls", tr.calls), ("self_s", tr.self_s), ("eager_actions", tr.actions)):
            for span, x in per_span.items():
                if f"{span}.{metric}" in v:
                    v[f"{span}.{metric}"] = x
        for j in jobs:
            for k in ("jobs", "shuffle_write_bytes"):
                if f"{j['span']}.{k}" in v:
                    v[f"{j['span']}.{k}"] += j[k]
            for k in JOB_METRICS:
                v[f"spark.{k}"] += j[k]
        stages = sum(j["stages"] for j in jobs)
        v["spark.stage_skip_ratio"] = sum(j["stages_skipped"] for j in jobs) / stages if stages else 0.0
        v["queries.build_s"] = p["build"]
        v["queries.exec_s"] = p["exec"]
        v["driver.py_s"] = p["wall"] - busy_seconds(
            [(j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"]]
        )
        v["trace.pass_s_p50"] = p["wall"]
        v["process.cpu_s"] = p["cpu"]
        # self-consistency: the pass's jobs each have one owner span, none
        # of them the harness, and the spans' self times fit in the pass
        issued = tr.next_job_id() - tr.first_job
        if len(jobs) != issued or any(j["span"] == ROOT_SPAN for j in jobs):
            raise RuntimeError(f"job attribution: {len(jobs)} records for {issued} jobs")
        spans_s = sum(s for span, s in tr.self_s.items() if span != ROOT_SPAN)
        if spans_s > p["wall"]:
            raise RuntimeError(f"span self times {spans_s:.3f} s exceed the pass wall {p['wall']:.3f} s")
        return v

    def close(self) -> None:
        """Stop the session and the JVM, wait until the JVM and every
        Python worker have exited, and remove the work directory."""
        import procstat
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        engine = procstat.descendants(os.getpid())
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
        procstat.wait_gone(engine, timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run's directory is still there


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "raft_spark", "__init__.py")):
        print(f"perfbench: no raft_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.prepare()
        setup = bench.setup()
        if bench.traced:
            from spans import Tracer

            bench.tracer = Tracer(bench.spark)
            bench.tracer.install()
        passes = bench.measure()
        rss = bench.peak_rss_mb()
        bench.check_outputs()
    finally:
        bench.close()

    walls = [w for p in passes for w in p["walls"].values()]
    if bench.traced:
        names = per_layer_metrics()
        metrics = {
            k: {"value": statistics.median(p["trace"][k] for p in passes), "unit": u}
            for k, u in names.items()
        }
        for k, x in list(setup.items()) + list(rss.items()):
            if k in metrics:
                metrics[k]["value"] = x
    else:
        values = {
            "setup_s": setup["setup_s"],
            "pass_s_p50": statistics.median(p["wall"] for p in passes),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    failed = sum(bench.failures.values())
    print(
        f"perfbench workload={args.workload} seed={args.seed} cpus={bench.cpus} "
        f"driver_mem={DRIVER_MEM} timed_passes={len(passes)} query_samples={len(walls)} "
        f"attempted={len(bench.outputs)} failed={failed} "
        f"failed_ratio={failed / len(bench.outputs):.4f} failed_queries={sorted(bench.failures)}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.outputs),
        "failed": failed,
        "metrics": metrics,
    }))
    print(f"perfbench: finished at {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
