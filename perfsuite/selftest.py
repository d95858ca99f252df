"""Tests of the benchmark's own checks and guards.

    python3 perfsuite/selftest.py          # from the root of a checkout, ~4 min

1. A deliberately wrong expectation counts as a failed operation: the
   real oracle plan is made, one expected answer is corrupted, and the
   real workload code runs it.
2. A batch-job fingerprint changes when one cell changes.
3. The tracer's span guards: a clean tree's self times partition the
   root span (also when a handler span outlives the root), and
   overlapping sibling spans or a span that never closed are flagged.
4. Set-up refuses a store whose ``enable_local`` declines.
5. Traced runs report no guard violation (no overlapping or unclosed
   spans; point_local gizmo reads launch 0 Spark jobs), and ``store.plan_nodes`` and
   ``plans.local_hit_ratio`` repeat exactly between two runs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def wrong_expectation_fails(spark, work: str) -> None:
    from workloads import PointLocal

    subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), "point_local",
                    "5", "1", work], check=True)
    with open(os.path.join(work, "plan.json")) as f:
        plan = json.load(f)
    ops = [op for op in plan["ops"] if op["op"] == "read"][:6]
    ops[3] = dict(ops[3], expect=["<not-an-answer>"] if isinstance(ops[3]["expect"], list)
                  else ops[3]["expect"] + 1)
    w = PointLocal(spark, plan, work)
    w.timed_setup(plan["inputs"][0])
    p = run.run_pass(w, ops)
    assert (p.attempted, p.failed) == (6, 1), (p.attempted, p.failed)

    # 4. the enable_local guard: a budget below the store size declines
    spark.conf.set("spark.cayley.local.quadBudget", "10")
    try:
        PointLocal(spark, plan, work).timed_setup(plan["inputs"][1])
    except RuntimeError as e:
        assert "declined" in str(e), e
    else:
        raise AssertionError("set-up accepted a declined enable_local")
    finally:
        spark.conf.unset("spark.cayley.local.quadBudget")


def fingerprint_sensitive() -> None:
    rows = [{"a": 1, "b": 2.5}, {"a": 2, "b": 0.1}]
    same = checks.canon_fingerprint(list(reversed(rows)), ["b", "a"])
    assert checks.canon_fingerprint(rows, ["a", "b"]) == same
    assert checks.canon_fingerprint([rows[0], {"a": 2, "b": 0.2}], ["a", "b"]) != same


def _span(layer: str, name: str, t0: int, t1: int, *children) -> tracing.Span:
    sp = tracing.Span(layer, name)
    sp.t0, sp.t1 = t0, t1
    sp.children += children
    return sp


def _violations(root: tracing.Span, opened: int) -> tuple[dict, list]:
    tr = tracing.Tracer.__new__(tracing.Tracer)
    tr.violations = []
    tr._opened = opened
    tr._jobs = lambda group: (0, 0, 0)
    rec = tr._record(root, "x", None, "g")
    return rec["self_ns"], tr.violations


def span_guards() -> None:
    # a clean tree, with a handler span that ends after the root: the
    # self times partition the root and nothing is flagged
    late = _span("http", "CayleyHandler.do_POST", 1920, 2300)
    q = _span("query", "f", 1100, 1900, _span("spark", "DataFrame.collect", 1200, 1500))
    self_ns, bad = _violations(_span("op", "x", 1000, 2000, q, late), opened=3)
    assert not bad, bad
    assert self_ns == {"unattributed": 120, "query": 500, "spark": 300, "http": 80}, self_ns
    # two threads' spans under one parent overlap: their shared time
    # would count twice
    x = _span("query", "f", 1100, 1600)
    y = _span("http", "CayleyHandler.do_POST", 1400, 1900)
    _, bad = _violations(_span("op", "x", 1000, 2000, x, y), opened=2)
    assert any("overlap" in v for v in bad), bad
    # a span that opened during the op but never reached the tree
    _, bad = _violations(_span("op", "x", 1000, 2000, _span("query", "f", 1100, 1200)),
                         opened=2)
    assert any("opened" in v for v in bad), bad


def traced_runs_repeat() -> None:
    for wl in ("point_local", "read_after_write"):
        seen = []
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", "3", "--seconds", "2", "--trace", "1"],
                check=True, capture_output=True, text=True).stdout.splitlines()
            record, result = json.loads(out[-2]), json.loads(out[-1])
            assert result["correct"] and not record["detail"]["guards"], record["detail"]
            m = result["metrics"]
            seen.append((m["store.plan_nodes"]["value"], m["plans.local_hit_ratio"]["value"]))
            if wl == "point_local":
                jobs = record["detail"]["jobs_by_op"]
                assert all(v == 0 for k, v in jobs.items() if k.startswith("gizmo")), jobs
        assert seen[0] == seen[1], (wl, seen)
        print(f"{wl}: plan_nodes, local_hit_ratio = {seen[0]} in both runs")


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfsuite_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    fingerprint_sensitive()
    span_guards()
    spark = run.start_spark(work)
    try:
        wrong_expectation_fails(spark, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    traced_runs_repeat()
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
