"""The three workloads: set-up, one operation, and end-of-pass state.

Each class drives the program only through its public API:
``query.session.get_session(...).execute`` (point_local), the HTTP
server from ``server.http.start_background`` (read_after_write), and
the registry entry points of ``__spark_entry__`` plus ``GraphStore``'s
durable-write methods (batch_jobs).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.request

from checks import canon_fingerprint, same
from tracing import plan_nodes


def _quads(rows: list[list]) -> list[tuple]:
    from cayley_spark.values import parse_term

    return [tuple(parse_term(t) if t else None for t in q) for q in rows]


def cached_rdds(spark) -> dict:
    """{RDD name: MB in memory + on disk} of the cached RDD blocks that
    are still reachable. Garbage (e.g. unreferenced localCheckpoint
    RDDs) is released by Spark's ContextCleaner only after a JVM GC, at
    a time that varies from run to run, so collect it first and read
    until three readings agree."""
    import gc

    sc = spark.sparkContext

    def read() -> dict:
        return {f"{i.id()}:{i.name().splitlines()[-1].strip()[:100]}":
                (i.memSize() + i.diskSize()) / 2**20
                for i in sc._jsc.sc().getRDDStorageInfo()}

    seen = [None, None]
    for _ in range(20):
        gc.collect()  # frees py4j proxies, so the JVM objects become garbage
        sc._jvm.System.gc()
        time.sleep(0.3)
        seen.append(read())
        if seen[-1] == seen[-2] == seen[-3]:
            break
    return seen[-1]


def _drop(store) -> None:
    store.nodes.unpersist()
    store.quads.unpersist()


class Workload:
    """Set-up builds ``self.base``; ``begin_pass`` restores the state
    every pass starts from; ``run`` executes one op and returns what
    ``check`` compares with the expected answer after the timer stops."""

    def __init__(self, spark, plan: dict, work: str):
        self.spark, self.plan, self.work = spark, plan, work
        self.base = None

    def timed_setup(self, inp: str) -> dict:
        from cayley_spark.graphs.tpch import tpch_graph

        t0 = time.perf_counter()
        store = tpch_graph(self.spark, inp)
        t1 = time.perf_counter()
        times = {"graphs.tpch_build_s": t1 - t0}
        times.update(self.finish_setup(store))
        times["setup_s"] = time.perf_counter() - t0
        return times

    def discard(self) -> None:
        _drop(self.base)

    def prepare(self, op: dict) -> None:
        pass

    def close(self) -> None:
        pass

    def served(self):
        """The store the sequence ended on, or None."""
        return None

    def end_state(self) -> dict:
        st = self.served()
        return {"cached_rdds": cached_rdds(self.spark),
                "store.plan_nodes": 0 if st is None
                else plan_nodes(st.quads) + plan_nodes(st.nodes)}

    def local_base(self, store) -> dict:
        """enable_local on the set-up store; fails loudly if it declines."""
        t = time.perf_counter()
        store.enable_local()
        times = {"store.enable_local_s": time.perf_counter() - t}
        if getattr(store, "_local_index", None) is None:
            raise RuntimeError("enable_local declined the benchmark store")
        self.base = store
        return times

    def first_check(self, answer) -> None:
        if not same(answer, self.plan["first_check"]["expect"]):
            raise RuntimeError("first checked answer is wrong")


class PointLocal(Workload):
    def finish_setup(self, store) -> dict:
        from cayley_spark.query.session import get_session

        times = self.local_base(store)
        query = self.plan["first_check"]["query"]
        self.first_check(get_session(store, "gizmo").execute(query))
        return times

    def begin_pass(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.store = self.base

    def run(self, op: dict):
        from cayley_spark.query.session import get_session

        if op["op"] == "read":
            return get_session(self.store, op["lang"]).execute(op["query"])
        quads = _quads(op["quads"])
        st = (self.store.apply_deltas(add=quads) if op["op"] == "write"
              else self.store.apply_deltas(delete=quads))
        st.enable_local()
        self.store = st
        return getattr(st, "_local_index", None) is not None

    def check(self, op: dict, out) -> bool:
        return out is True if op["op"] != "read" else same(out, op["expect"])

    def served(self):
        return self.store


class ReadAfterWrite(Workload):
    server = None

    def finish_setup(self, store) -> dict:
        from cayley_spark.server.http import start_background

        times = self.local_base(store)
        self.server, self.thread = start_background(store)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.first_check(self._post("/api/v1/query/gizmo", self.plan["first_check"]["query"]))
        return times

    def _post(self, path: str, body: str):
        req = urllib.request.Request(self.url + path, data=body.encode(), method="POST")
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())

    def begin_pass(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.server.store = self.base

    def run(self, op: dict):
        if op["op"] == "read":
            return self._post("/api/v1/query/gizmo", op["query"])
        body = "".join(" ".join(t for t in q if t) + " .\n" for q in op["quads"])
        return self._post(f"/api/v1/{op['op']}", body)

    def check(self, op: dict, out) -> bool:
        if op["op"] == "read":
            return same(out, op["expect"])
        return out.get("count") == len(op["quads"])

    def discard(self) -> None:
        self.close()
        super().discard()

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def served(self):
        return self.server.store


class BatchJobs(Workload):
    def timed_setup(self, inp: str) -> dict:
        self.inp = inp
        return super().timed_setup(inp)

    def finish_setup(self, store) -> dict:
        from cayley_spark.store import GraphStore

        path = os.path.join(self.work, "store_" + os.path.basename(self.inp))
        store.save(path)
        self.base, self.base_path = store, path
        n = GraphStore.load(self.spark, path).quads.count()
        if n != self.plan["first_check"]["n_quads"]:
            raise RuntimeError(f"saved store has {n} quads")
        return {}

    def discard(self) -> None:
        super().discard()
        shutil.rmtree(self.base_path)

    def prepare(self, op: dict) -> None:
        """Untimed: the durable-ingest job starts from a fresh copy of
        the saved store, so every repetition does the same work."""
        if op["job"] == "ingest":
            self.ingest_path = os.path.join(self.work, "ingest")
            shutil.rmtree(self.ingest_path, ignore_errors=True)
            shutil.copytree(self.base_path, self.ingest_path)
            self.ingest_before = _sizes(self.ingest_path)

    def begin_pass(self) -> None:
        pass

    def run(self, op: dict):
        if op["job"] == "ingest":
            return self._ingest()
        import __spark_entry__ as E

        df = E.queries()[op["job"]](self.spark, self.inp)
        return [r.asDict() for r in df.collect()], df.columns

    def _ingest(self) -> dict:
        """save_deltas (add, then delete), compact, load, then the
        verify reads; returns the sub-op latencies and answers."""
        from cayley_spark.query.session import get_session
        from cayley_spark.store import GraphStore

        spec, path = self.plan["ingest"], self.ingest_path
        out = {"writes": [], "reads": []}
        for kind in ("add", "delete"):
            t = time.perf_counter_ns()
            GraphStore.save_deltas(self.spark, path, **{kind: _quads(spec[kind])})
            out["writes"].append(time.perf_counter_ns() - t)
        GraphStore.compact(self.spark, path)
        st = GraphStore.load(self.spark, path)
        for v in spec["verify"]:
            t = time.perf_counter_ns()
            res = get_session(st, "gizmo").execute(v["query"])
            out["reads"].append((time.perf_counter_ns() - t, res, v["expect"]))
        out["n_quads"] = st.quads.count()
        return out

    def check(self, op: dict, out) -> bool:
        if op["job"] == "ingest":
            after = _sizes(self.ingest_path)
            out["bytes_written"] = sum(
                sz for f, sz in after.items() if self.ingest_before.get(f) != sz)
            return (out["n_quads"] == self.plan["ingest"]["n_quads"]
                    and all(same(r, e) for _, r, e in out["reads"]))
        rows, cols = out
        return canon_fingerprint(rows, cols) == self.plan["jobs"][op["job"]]


def _sizes(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


WORKLOADS = {"point_local": PointLocal, "read_after_write": ReadAfterWrite,
             "batch_jobs": BatchJobs}
