"""Layer tracing for the traced run, installed from outside the program.

``Tracer.install()`` wraps the public functions and methods of each
``cayley_spark`` layer module, plus pyspark's DataFrame actions, so
that every call made inside an operation records a span. A span's
self time is its duration minus the part its child spans cover; the
operation's root span keeps what no layer claims ("unattributed").
Every child interval is clipped to its parent's. The self times of
one operation then partition its root duration exactly, in integer
nanoseconds, if two conditions hold, and ``Tracer.op`` checks both
after every operation: the children of a span never overlap each
other (spans from two threads under one parent would count the shared
time twice), and every span opened during the operation has closed
inside its tree.

Spark work per operation comes from the status tracker: each operation
runs under its own job group (set on the calling thread and, for the
HTTP server, on the handler thread), and its jobs, tasks and shuffle
bytes are read after the operation ends. Catalyst phase times come
from ``queryExecution().tracker()`` of the DataFrame each action ran.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: module name prefix -> layer; the first match wins.
LAYERS = (
    ("cayley_spark.plans.local", "plans.local"),
    ("cayley_spark.plans.compiler", "plans.compiler"),
    ("cayley_spark.query", "query"),
    ("cayley_spark.store", "store"),
    ("cayley_spark.graphs", "graphs"),
    ("cayley_spark.functions", "functions"),
    ("cayley_spark.server.http", "http"),
)
MODULES = (
    "cayley_spark.plans.local", "cayley_spark.plans.compiler",
    "cayley_spark.query.path", "cayley_spark.query.gizmo",
    "cayley_spark.query.safe_eval", "cayley_spark.query.mql",
    "cayley_spark.query.graphql", "cayley_spark.query.session",
    "cayley_spark.store", "cayley_spark.graphs.tpch",
    "cayley_spark.graphs.algorithms", "cayley_spark.functions.dedup",
    "cayley_spark.functions.text",
    "cayley_spark.functions.sampling", "cayley_spark.server.http",
)
SPARK_ACTIONS = ("collect", "count", "take", "first", "head", "tail", "toLocalIterator",
                 "toPandas", "isEmpty", "foreach", "foreachPartition", "localCheckpoint",
                 "checkpoint")
WRITER_ACTIONS = ("parquet", "save", "json", "csv", "text")
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


class Span:
    __slots__ = ("layer", "name", "t0", "t1", "children", "info")

    def __init__(self, layer: str, name: str):
        self.layer, self.name = layer, name
        self.t0 = self.t1 = 0
        self.children: list[Span] = []
        self.info: dict = {}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.root: Span | None = None
        self.group = None
        self.records: list[dict] = []
        self.violations: list[str] = []
        self._patches: list[tuple] = []
        self._open = 0
        self._opened = 0

    # ---------------- installation ----------------

    def install(self) -> None:
        originals = {}
        for mod_name in MODULES:
            mod = importlib.import_module(mod_name)
            layer = _layer_of(mod_name)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                    continue
                if inspect.isfunction(obj):
                    originals[obj] = self._wrap(obj, layer, name)
                    self._patch(mod, name, originals[obj])
                elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                    self._wrap_class(obj, layer)
        # rebind names imported with ``from x import f`` elsewhere
        for mod in [m for n, m in sys.modules.items()
                    if n.startswith("cayley_spark") or n == "__spark_entry__"]:
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in originals:
                    self._patch(mod, name, originals[obj])
        from pyspark.sql.classic.dataframe import DataFrame

        for name in SPARK_ACTIONS:
            self._patch(DataFrame, name, self._wrap(getattr(DataFrame, name), "spark",
                                                    f"DataFrame.{name}"))
        from pyspark.sql.readwriter import DataFrameWriter

        for name in WRITER_ACTIONS:
            self._patch(DataFrameWriter, name, self._wrap(
                getattr(DataFrameWriter, name), "spark", f"DataFrameWriter.{name}"))
        from cayley_spark.server.http import CayleyHandler

        self._patch(CayleyHandler, "do_POST", self._wrap_handler(CayleyHandler.do_POST))

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._patches):
            setattr(owner, name, old)
        self._patches.clear()

    def _patch(self, owner, name, new) -> None:
        self._patches.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, new)

    def _wrap_class(self, cls, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            qual = f"{cls.__name__}.{name}"
            if isinstance(attr, classmethod):
                self._patch(cls, name, classmethod(self._wrap(attr.__func__, layer, qual)))
            elif isinstance(attr, staticmethod):
                self._patch(cls, name, staticmethod(self._wrap(attr.__func__, layer, qual)))
            elif inspect.isfunction(attr):
                self._patch(cls, name, self._wrap(attr, layer, qual))

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        is_local = name.startswith("try_local")
        is_action = layer == "spark"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            root = tracer.root
            st = tracer._stack()
            if root is None:
                return fn(*args, **kwargs)
            parent = st[-1] if st else root
            sp = Span(layer, name)
            st.append(sp)
            with tracer._lock:
                tracer._open += 1
                tracer._opened += 1
            wall0 = time.time() * 1000 if is_action else 0
            sp.t0 = time.perf_counter_ns()
            try:
                res = fn(*args, **kwargs)
                if is_local:
                    sp.info["hit"] = res is not None
                elif is_action:
                    sp.info["df"] = (args[0], wall0, time.time() * 1000)
                return res
            finally:
                sp.t1 = time.perf_counter_ns()
                st.pop()
                with tracer._lock:
                    parent.children.append(sp)
                    tracer._open -= 1

        return wrapper

    def _wrap_handler(self, fn):
        inner = self._wrap(fn, "http", "CayleyHandler.do_POST")
        tracer = self

        @functools.wraps(fn)
        def handler(h):
            if tracer.group is not None:
                tracer.sc.setJobGroup(tracer.group, tracer.group)
            return inner(h)

        return handler

    # ---------------- operations ----------------

    @contextmanager
    def op(self, name: str, lang: str | None = None):
        """Trace one operation: the root span, its job group, and the
        per-layer record appended to ``records`` afterwards."""
        group = f"perfsuite-{len(self.records)}"
        self.sc.setJobGroup(group, group)
        self.group = group
        root = Span("op", name)
        self._opened = 0
        root.t0 = time.perf_counter_ns()
        self.root = root
        try:
            yield
        finally:
            root.t1 = time.perf_counter_ns()
            self.root = None
            self.group = None
            self._settle()
            self.records.append(self._record(root, name, lang, group))

    def _settle(self, timeout_s: float = 5.0) -> None:
        """Wait until spans started in other threads (the HTTP handler
        finishing its reply) have closed, so the op's tree is complete."""
        deadline = time.monotonic() + timeout_s
        while self._open and time.monotonic() < deadline:
            time.sleep(0.0005)
        if self._open:
            self.violations.append("a span outlived its op")

    def _record(self, root: Span, name: str, lang, group: str) -> dict:
        self_ns: dict[str, int] = {}
        fn_self: dict[str, int] = {}
        fn_incl: dict[str, list] = {}
        calls: dict[str, int] = {}
        entered: set = set()
        local = [0, 0]
        spans = [0]
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        opt_plan_in_actions = [0.0]

        def walk(sp: Span, lo: int, hi: int) -> int:
            a, b = max(sp.t0, lo), min(sp.t1, hi)
            d = max(0, b - a)
            children = sorted(sp.children, key=lambda c: c.t0)
            covered = sum(walk(c, a, b) for c in children)
            end = a
            for c in children:
                if max(c.t0, a) < end:
                    self.violations.append(f"{name}: child spans of {sp.name} overlap")
                end = max(end, min(c.t1, b))
            spans[0] += sp is not root
            key = "unattributed" if sp is root else sp.layer
            self_ns[key] = self_ns.get(key, 0) + d - covered
            if sp is not root:
                entered.add(sp.layer)
                fn_self[sp.name] = fn_self.get(sp.name, 0) + d - covered
                fn_incl.setdefault(sp.name, []).append(d)
                calls[sp.name] = calls.get(sp.name, 0) + 1
                if "hit" in sp.info:
                    local[0] += 1
                    local[1] += sp.info["hit"]
                leaf_action = "df" in sp.info and not any(
                    c.layer == "spark" for c in sp.children)
                for ph, (ms, inside) in (_phases(*sp.info["df"]) if leaf_action
                                         else {}).items():
                    phases[ph] += ms
                    if inside and ph != "analysis":
                        opt_plan_in_actions[0] += ms
            return d

        total = walk(root, root.t0, root.t1)
        if spans[0] != self._opened:
            self.violations.append(f"{name}: {self._opened} spans opened, "
                                   f"{spans[0]} closed in the tree")
        jobs, tasks, shuffle = self._jobs(group)
        spark_ms = self_ns.get("spark", 0) / 1e6
        return {
            "name": name, "lang": lang, "dur_ns": total, "self_ns": self_ns,
            "fn_self_ns": fn_self, "fn_incl_ns": fn_incl, "calls": calls,
            "entered": sorted(entered), "local_calls": local[0], "local_hits": local[1],
            "jobs": jobs, "tasks": tasks, "shuffle_bytes": shuffle,
            "phases_ms": phases,
            "exec_ms": max(0.0, spark_ms - opt_plan_in_actions[0]),
        }

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        ids = st.getJobIdsForGroup(group)
        tasks = shuffle = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                data = store.stageData(s, False, jvm.java.util.ArrayList(), False, empty)
                for i in range(data.size()):
                    sd = data.apply(i)
                    tasks += sd.numCompleteTasks()
                    shuffle += sd.shuffleWriteBytes()
        return len(ids), tasks, shuffle


def _layer_of(mod_name: str) -> str:
    for prefix, layer in LAYERS:
        if mod_name.startswith(prefix):
            return layer
    raise KeyError(mod_name)


def _phases(df, wall0: float, wall1: float) -> dict:
    """{phase: (ms, ran inside this action)} from the DataFrame's
    QueryExecution tracker (epoch-ms resolution)."""
    df = getattr(df, "_df", df)  # a DataFrameWriter's frame
    try:
        text = df._jdf.queryExecution().tracker().phases().toString()
    except AttributeError:
        return {}
    out = {}
    for ph, t0, t1 in _PHASE.findall(text):
        out[ph] = (int(t1) - int(t0), int(t0) >= int(wall0) - 1 and int(t1) <= wall1 + 1)
    return out


def plan_nodes(df) -> int:
    """Exact node count of a DataFrame's logical plan."""
    def count(p) -> int:
        ch = p.children()
        return 1 + sum(count(ch.apply(i)) for i in range(ch.size()))

    return count(df._jdf.queryExecution().logical())


# ---------------- per-layer metrics ----------------

def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(records: list[dict], extra: dict) -> dict:
    """Per-layer metrics of one traced pass. Times are medians per op
    over the ops that entered the layer; a layer no op entered reads 0."""
    ms = 1e6

    def self_med(layer, pred=lambda r: True):
        return _med([r["self_ns"].get(layer, 0) / ms for r in records
                     if layer in r["entered"] and pred(r)])

    def fn_med(fn, incl=False, scale=ms):
        vals = [(sum(r["fn_incl_ns"][fn]) if incl else r["fn_self_ns"][fn]) / scale
                for r in records if fn in r["calls"]]
        return _med(vals)

    def op_med(name, scale=1e9):
        return _med([r["dur_ns"] / scale for r in records if r["name"] == name])

    n = max(1, len(records))
    http = [r for r in records if "http" in r["entered"]]
    calls = sum(r["local_calls"] for r in records)
    spark_ops = [r for r in records if r["jobs"] or "spark" in r["entered"]]
    total = sum(r["dur_ns"] for r in records)
    out = {
        "query.gizmo_ms": self_med("query", lambda r: r["lang"] == "gizmo"),
        "query.mql_ms": self_med("query", lambda r: r["lang"] == "mql"),
        "query.graphql_ms": self_med("query", lambda r: r["lang"] == "graphql"),
        "plans.local_ms": self_med("plans.local"),
        "plans.local_hit_ratio": (sum(r["local_hits"] for r in records) / calls
                                  if calls else 0.0),
        "plans.compile_ms": self_med("plans.compiler"),
        "plans.compile_calls_per_op": sum(
            r["calls"].get("compile_nodes", 0) + r["calls"].get("compile_quads", 0)
            for r in records) / n,
        "store.resolve_ms": fn_med("GraphStore.resolve"),
        "store.apply_deltas_ms": fn_med("GraphStore.apply_deltas"),
        "store.save_deltas_ms": fn_med("GraphStore.save_deltas", incl=True),
        "store.compact_s": fn_med("GraphStore.compact", incl=True, scale=1e9),
        "store.load_s": fn_med("GraphStore.load", incl=True, scale=1e9),
        "graphs.triangles_s": op_med("g_triangles"),
        "graphs.pagerank_s": op_med("g_pagerank"),
        "functions.dedup_s": op_med("d_dedup_corpus"),
        "http.handler_ms": _med([r["self_ns"].get("http", 0) / ms for r in http]),
        "http.client_wait_ms": _med([r["self_ns"].get("unattributed", 0) / ms
                                     for r in http]),
        "spark.analysis_ms": _med([r["phases_ms"]["analysis"] for r in spark_ops]),
        "spark.optimization_ms": _med([r["phases_ms"]["optimization"] for r in spark_ops]),
        "spark.planning_ms": _med([r["phases_ms"]["planning"] for r in spark_ops]),
        "spark.exec_ms": _med([r["exec_ms"] for r in spark_ops]),
        "spark.jobs_per_op": sum(r["jobs"] for r in records) / n,
        "spark.tasks_per_op": sum(r["tasks"] for r in records) / n,
        "spark.shuffle_bytes_per_op": sum(r["shuffle_bytes"] for r in records) / n,
        "trace.unattributed_share": (sum(r["self_ns"].get("unattributed", 0)
                                         for r in records) / total if total else 0.0),
    }
    out.update(extra)
    return out


#: per-layer metric -> unit, in the order BENCHMARK.json lists them.
UNITS = {
    "query.gizmo_ms": "ms", "query.mql_ms": "ms", "query.graphql_ms": "ms",
    "plans.local_ms": "ms", "plans.local_hit_ratio": "ratio",
    "plans.compile_ms": "ms", "plans.compile_calls_per_op": "count",
    "store.resolve_ms": "ms", "store.apply_deltas_ms": "ms", "store.plan_nodes": "count",
    "store.enable_local_s": "s", "store.save_deltas_ms": "ms", "store.compact_s": "s",
    "store.load_s": "s", "store.bytes_written_per_user_byte": "ratio",
    "graphs.tpch_build_s": "s", "graphs.triangles_s": "s", "graphs.pagerank_s": "s",
    "functions.dedup_s": "s",
    "http.handler_ms": "ms", "http.client_wait_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.exec_ms": "ms", "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "trace.overhead_pct": "%", "trace.unattributed_share": "ratio",
}
