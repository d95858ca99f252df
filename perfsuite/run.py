"""Run one benchmark workload and print its metrics.

    python3 perfsuite/run.py --workload point_local --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. A child process generates the
seeded inputs and the expected answers (``oracle.py``); this process
starts Spark ``local[4]``, sets the workload up three times (``setup_s``
is the median), runs one warm-up pass and then the timed pass of the
fixed op sequence with one closed-loop client (on point_local, then
the separate write sequence). Every answer is checked
after its timer stops. With ``--trace 1`` the warm-up is followed by a
traced pass and then an untraced one, and the per-layer metrics are
printed instead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the provenance and per-run detail. ``--out FILE`` also appends
both to a JSON-lines file for ``compare.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import logging
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import plan as plan_mod  # noqa: E402

MASTER = "local[4]"

#: end-to-end metric -> unit, in BENCHMARK.json order.
E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms", "read_tail_ms": "ms",
    "write_p50_ms": "ms", "job_gm_s": "s", "python_rss_mb": "MB",
    "spark_cached_mb": "MB",
}


def start_spark(work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(MASTER)
        .appName("perfsuite")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -Dderby.system.home={work}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """End the JVM this run started and wait for it to exit. Killing it
    takes milliseconds where ``SparkSession.stop()`` takes seconds, and
    leaves nothing behind: every Spark file lives under the run's
    scratch directory, which is removed next."""
    sc = spark.sparkContext
    # py4j proxies freed after the kill log their connection resets
    # through the root logger; the process is about to exit
    logging.disable(logging.CRITICAL)
    if sc._accumulatorServer is not None:
        sc._accumulatorServer.shutdown()
    sc._gateway.proc.kill()
    sc._gateway.proc.wait(timeout=60)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at
    least ten samples beyond it, i.e. the 11th-largest sample; the
    largest when there are ten samples or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


class Pass:
    """Samples of one pass over an op sequence, by op kind: the op's
    name plus, where the plan gives one, its delta depth."""

    def __init__(self):
        self.samples: dict[str, list[int]] = {}
        self.reads: set[str] = set()
        self.writes: set[str] = set()
        self.top: set[str] = set()
        self.op_ns = 0
        self.completed = self.attempted = self.failed = 0
        self.ingest: list[dict] = []

    def add(self, kind: str, op: str, ns: int) -> None:
        self.samples.setdefault(kind, []).append(ns)
        if op == "read":
            self.reads.add(kind)
        elif op in ("write", "delete"):
            self.writes.add(kind)


def op_name(op: dict) -> str:
    return op.get("template") or op.get("job") or op["op"]


def op_kind(op: dict) -> str:
    return op_name(op) + (f"@{op['depth']}" if "depth" in op else "")


def run_pass(w, ops: list, tracer=None) -> Pass:
    from contextlib import nullcontext

    p = Pass()
    w.begin_pass()
    for op in ops:
        if op["op"] == "reset":
            w.reset()
            continue
        w.prepare(op)
        p.attempted += 1
        ctx = tracer.op(op_name(op), op.get("lang")) if tracer else nullcontext()
        t0 = time.perf_counter_ns()
        try:
            with ctx:
                out = w.run(op)
        except Exception:  # one failed op is counted, the run goes on
            traceback.print_exc()
            p.failed += 1
            continue
        ns = time.perf_counter_ns() - t0
        p.completed += 1
        p.op_ns += ns
        if not w.check(op, out):
            print(f"WRONG ANSWER {op_name(op)}: {json.dumps(op)[:300]}", file=sys.stderr)
            p.failed += 1
        if op["op"] == "job" and op["job"] == "ingest":
            p.ingest.append(out)
            for i, (r_ns, _, _) in enumerate(out["reads"]):
                p.add(f"ingest_read:{i}", "read", r_ns)
            for kind, w_ns in zip(("add", "delete"), out["writes"]):
                p.add(f"ingest_{kind}", "write", w_ns)
        kind = op_kind(op)
        p.add(kind, op["op"], ns)
        p.top.add(kind)
    return p


def e2e_metrics(setups: list[dict], p: Pass, wp: Pass, end: dict) -> tuple[dict, dict]:
    """The end-to-end metrics of the timed pass ``p`` and the write
    pass ``wp`` (point_local's writes; empty elsewhere). Reads come
    from ``p`` only. Each latency metric is a geometric mean over op
    kinds of a per-kind statistic, so it does not depend on how many
    ops of each kind the sequence holds."""
    ms = 1e6
    reads = {k: [x / ms for x in p.samples[k]] for k in sorted(p.reads)}
    writes = {k: [x / ms for q in (p, wp) for x in q.samples.get(k, [])]
              for k in sorted(p.writes | wp.writes)}
    tops = {k: q.samples[k] for q in (p, wp) for k in sorted(q.top)}
    tails = {k: tail(v) for k, v in reads.items()}
    values = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "ops_per_s": p.completed / (p.op_ns / 1e9),
        "read_p50_ms": geomean(statistics.median(v) for v in reads.values()),
        "read_tail_ms": geomean(t[0] for t in tails.values()),
        "write_p50_ms": geomean(statistics.median(v) for v in writes.values()),
        "job_gm_s": geomean(statistics.median(v) / 1e9 for v in tops.values()),
        "python_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "spark_cached_mb": sum(end["cached_rdds"].values()),
    }
    detail = {
        "read_tail": {k: {"percentile": t[1], "n": t[2]} for k, t in tails.items()},
        "op_median_ms": {k: statistics.median(v) / ms
                         for q in (p, wp) for k, v in sorted(q.samples.items())},
        "samples_ms": {k: [round(x / ms, 3) for x in v]
                       for q in (p, wp) for k, v in sorted(q.samples.items())},
        "setups": setups,
    }
    return values, detail


def provenance(args, plan: dict) -> dict:
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.cpu_count(), "boot_time": btime,
        "master": MASTER, "scale": plan_mod.SCALE[args.workload],
        "input_rows": plan["rows"], "input_md5": plan["input_md5"],
        "loadavg": os.getloadavg(), "python": platform.python_version(),
        "spark": pyspark.__version__, "ops": len(plan["ops"]),
    }


def trace_pass(spark, w, plan: dict, setups: list[dict]) -> tuple:
    """The traced pass, then an untraced pass of the same sequence.
    Running the untraced pass second lets JVM warm-up favour it, so
    ``trace.overhead_pct`` errs high rather than low."""
    import tracing as tr

    tracer = tr.Tracer(spark)
    tracer.install()
    try:
        p = run_pass(w, plan["ops"], tracer)
    finally:
        tracer.uninstall()
    end = w.end_state()
    after = run_pass(w, plan["ops"])
    extra = {
        "store.plan_nodes": end["store.plan_nodes"],
        "store.enable_local_s": statistics.median(
            s.get("store.enable_local_s", 0.0) for s in setups),
        "graphs.tpch_build_s": statistics.median(s["graphs.tpch_build_s"] for s in setups),
        "store.bytes_written_per_user_byte": 0.0,
        "trace.overhead_pct": 100.0 * (p.op_ns - after.op_ns) / after.op_ns,
    }
    if p.ingest:
        spec = plan["ingest"]
        user = sum(len(" ".join(t for t in q if t) + " .\n")
                   for q in spec["add"] + spec["delete"])
        extra["store.bytes_written_per_user_byte"] = statistics.median(
            o["bytes_written"] for o in p.ingest) / user
    metrics = tr.layer_metrics(tracer.records, extra)
    guards = list(tracer.violations)
    if w.__class__.__name__ == "PointLocal":
        guards += [f"point_local gizmo read {r['name']} launched {r['jobs']} Spark jobs"
                   for r in tracer.records if r["lang"] == "gizmo" and r["jobs"]]
    detail = {"guards": guards, "jobs_by_op": _by_op(tracer.records, lambda r: r["jobs"]),
              "self_ms_by_op": {
                  layer: _by_op(tracer.records, lambda r: r["self_ns"].get(layer, 0) / 1e6)
                  for layer in sorted({k for r in tracer.records for k in r["self_ns"]})}}
    return [p, after], {k: metrics[k] for k in tr.UNITS}, tr.UNITS, detail


def _by_op(records: list[dict], value) -> dict:
    """{op name: median of value(record)}."""
    out: dict[str, list] = {}
    for r in records:
        out.setdefault(r["name"], []).append(value(r))
    return {k: statistics.median(v) for k, v in sorted(out.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plan_mod.BUILDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append provenance + result to this JSON-lines file")
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cayley_spark")):
        print("run from the root of a cayley_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfsuite_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = w = None
    try:
        # inputs and expected answers are made while the JVM starts
        oracle = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), args.workload,
             str(args.seed), str(args.seconds), work])
        try:
            spark = start_spark(work)
        finally:
            if oracle.wait(timeout=300):
                raise RuntimeError(f"oracle.py exited with {oracle.returncode}")
        with open(os.path.join(work, "plan.json")) as f:
            plan = json.load(f)
        from workloads import WORKLOADS

        w = WORKLOADS[args.workload](spark, plan, work)
        marks = [("start", T0), ("spark+oracle", time.perf_counter())]
        setups = []
        for i, inp in enumerate(plan["inputs"]):
            if i:
                w.discard()
            setups.append(w.timed_setup(inp))
        marks.append(("setups", time.perf_counter()))
        warm = run_pass(w, plan["warmup"])
        marks.append(("warmup", time.perf_counter()))
        if args.trace:
            passes, values, units, detail = trace_pass(spark, w, plan, setups)
            marks.append(("traced+untraced", time.perf_counter()))
        else:
            p = run_pass(w, plan["ops"])
            marks.append(("timed", time.perf_counter()))
            wp = Pass()
            if "writes" in plan:
                wp = run_pass(w, plan["writes"])
                marks.append(("writes", time.perf_counter()))
            end = w.end_state()
            marks.append(("end_state", time.perf_counter()))
            values, detail = e2e_metrics(setups, p, wp, end)
            units = E2E_UNITS
            detail["store.plan_nodes"] = end["store.plan_nodes"]
            detail["cached_rdds_mb"] = end["cached_rdds"]
            passes = [p, wp]
        passes.append(warm)
        detail["phase_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
        attempted = sum(x.attempted for x in passes)
        failed = sum(x.failed for x in passes)
        correct = failed == 0 and not detail.get("guards")
        result = {
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        record = {"provenance": provenance(args, plan), "detail": detail}
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({**record, "result": result}) + "\n")
        print(json.dumps(record))
        print(json.dumps(result))
        return 0
    finally:
        try:
            if w is not None:
                w.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # the parent, once empty
                os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
