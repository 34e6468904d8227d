"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The fast tests check BENCHMARK.json against the runner, the input
generator and the oracle shortcut. The tests marked ``spark`` run the
benchmark end to end (about three minutes): they check the traced run's
self-consistency, that per-pass job counts repeat, and report the
tracing overhead.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
from spans import LAYER_MODULES, busy_seconds  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(m["better"] in ("lower", "higher") for m in spec["end_to_end"] + spec["per_layer"])
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])


def test_every_traced_layer_is_reported():
    metrics = run.per_layer_metrics()
    for layer in LAYER_MODULES:
        assert f"{layer}.calls" in metrics and f"{layer}.self_s" in metrics


def test_inputs_depend_only_on_the_seed():
    a, b, c = datagen.tables(7), datagen.tables(7), datagen.tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c} == datagen.ROWS


def test_busy_seconds_is_the_union_of_intervals():
    assert busy_seconds([]) == 0.0
    assert busy_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert busy_seconds([(0, 1000), (100, 200)]) == 1.0


@pytest.mark.parametrize("query", ["dedup_clusters", "incremental_dedup"])
def test_union_find_oracle_equals_recursive_sql(tmp_path, query):
    import raft_spark.queries  # noqa: F401
    from oracle import Oracle, digest
    from raft_spark.queries.gatehash import canon
    from raft_spark.queries.registry import ORACLES

    o = Oracle(datagen.write(str(tmp_path), 3))
    sql = ORACLES[query]
    assert o._components(sql) is not None
    res = o.con.execute(sql)
    full = digest(canon(res.fetchall(), [d[0] for d in res.description]))
    assert o.digest(sql) == full


def _bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    return {k: m["value"] for k, m in out["metrics"].items()}


@pytest.mark.spark
def test_traced_run_is_self_consistent_and_repeats():
    untraced = _bench("primitives", 1, 0)
    assert set(untraced) == set(run.END_TO_END)
    a, b = _bench("primitives", 1, 1), _bench("primitives", 1, 1)
    assert set(a) == set(run.per_layer_metrics())
    # every job of a pass is owned by exactly one span
    owners = [f"{layer}.jobs" for layer in LAYER_MODULES if f"{layer}.jobs" in a]
    owners += ["queries.jobs", "queries.exec.jobs"]
    assert sum(a[k] for k in owners) == a["spark.jobs"] > 0
    self_s = [f"{layer}.self_s" for layer in LAYER_MODULES] + ["queries.self_s"]
    assert sum(a[k] for k in self_s) <= a["trace.pass_s_p50"]
    # the counts of Spark work per pass repeat exactly from run to run
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "queries.exec.jobs"):
        assert a[k] == b[k], k
    overhead = statistics.median([a["trace.pass_s_p50"], b["trace.pass_s_p50"]]) - untraced["pass_s_p50"]
    print(f"tracing overhead: {overhead:+.3f} s on a {untraced['pass_s_p50']:.3f} s pass")
    assert overhead < 0.5 * untraced["pass_s_p50"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory that holds only the benchmark, the runner exits
    non-zero without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1",
         "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
