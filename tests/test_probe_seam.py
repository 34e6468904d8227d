"""Every driver-strategy size probe goes through one seam:
``statestore.collect_capped`` / ``collect_capped_rows`` (a capped
``limit(cap+1)`` collect under ``_no_aqe(limit_rows=cap)``). A
hand-rolled ``.limit(<expr> + 1).collect()`` / ``.toArrow()`` /
``.count()`` anywhere else in the package would bypass the first-pass
partition bound (and a count probe pays extra jobs, then still has to
collect the rows), so this test fails on one. The seam's
partition-count bound must also hold when capped sections overlap
across threads."""

from __future__ import annotations

import ast
import pathlib

import raft_spark
from raft_spark.operators import statestore as SS

PKG = pathlib.Path(raft_spark.__file__).parent
SEAM = PKG / "operators" / "statestore.py"


def _capped_collects(tree: ast.AST):
    """Line numbers of ``<x>.limit(<expr> + 1).collect()``,
    ``.toArrow()`` and ``.count()`` calls in a parsed module."""
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toArrow", "count")):
            continue
        inner = node.func.value
        if not (isinstance(inner, ast.Call)
                and isinstance(inner.func, ast.Attribute)
                and inner.func.attr == "limit" and len(inner.args) == 1):
            continue
        arg = inner.args[0]
        if (isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add)
                and isinstance(arg.right, ast.Constant)
                and arg.right.value == 1):
            yield node.lineno


def test_detector_matches_the_probe_shapes():
    src = (
        "a = df.limit(cap + 1).collect()\n"
        "b = (df.select('x')\n      .limit(T + 1).toArrow())\n"
        "c = df.limit(cap + 1).count()\n"
        "d = df.limit(cap).collect()\n"
    )
    assert list(_capped_collects(ast.parse(src))) == [1, 2, 4]


def test_capped_collects_only_in_the_seam():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == SEAM:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        hits += [f"{path.relative_to(PKG)}:{ln}"
                 for ln in _capped_collects(tree)]
    assert hits == [], (
        "hand-rolled capped collects outside statestore.collect_capped*: "
        f"{hits}")


def test_probe_caps_compose_across_threads(spark):
    import random
    import sys
    import threading

    conf = "spark.sql.limit.initialNumPartitions"
    prev = spark.conf.get(conf)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    big = str(SS._no_aqe.PROBE_ROW_BUDGET)
    spark.conf.set(conf, big)
    errors: list = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(20):
                rows = rng.choice([50_000, 500_000, 5_000_000])
                with SS._no_aqe(spark, limit_rows=rows):
                    # the tightest OPEN cap is in force: never looser
                    # than this section's own
                    cap = max(32, SS._no_aqe.PROBE_ROW_BUDGET // rows)
                    assert int(spark.conf.get(conf)) <= cap
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        # every section closed: both confs are the session's own again
        assert spark.conf.get(conf) == big
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    finally:
        sys.setswitchinterval(old)
        spark.conf.set(conf, prev)
