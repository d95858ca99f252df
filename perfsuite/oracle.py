"""Inputs and expected answers, in a process of their own.

``python3 perfsuite/oracle.py WORKLOAD SEED SECONDS WORKDIR`` writes the
seeded input tables (under three paths, one per timed set-up) and
``plan.json``: the operation sequence with every expected answer,
computed by DuckDB from the generated parquet. Running it apart keeps
DuckDB and the generator out of the measured process's memory.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import data  # noqa: E402
import plan  # noqa: E402
from checks import canon_fingerprint  # noqa: E402

SETUPS = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")


class Graph:
    """The TPC-H graph's edges as plain dicts, read by DuckDB."""

    def __init__(self, con):
        q = lambda s: con.execute(s).fetchall()  # noqa: E731
        self.cust_nation = dict(q("SELECT c_custkey, c_nationkey FROM customer"))
        self.nation_region = dict(q("SELECT n_nationkey, n_regionkey FROM nation"))
        self.members = {}
        for kind, key, nat in q(
            "SELECT 'customer', c_custkey, c_nationkey FROM customer "
            "UNION ALL SELECT 'supplier', s_suppkey, s_nationkey FROM supplier"
        ):
            self.members.setdefault(nat, []).append(f"<{kind}:{key}>")
        self.reach = {
            k: sorted(f"<nation:{r}>" for (r,) in q(
                "WITH RECURSIVE r(k) AS ("
                f" SELECT b.n_nationkey FROM nation b WHERE b.n_nationkey = {k} + 1"
                " UNION SELECT b.n_nationkey FROM r JOIN nation b"
                "  ON b.n_nationkey = r.k + 1) SELECT k FROM r"))
            for k in self.nation_region
        }
        self.segment = dict(q("SELECT c_custkey, c_mktsegment FROM customer"))
        self.n_quads = q(
            "SELECT 2 * (SELECT count(*) FROM orders)"
            " + 3 * (SELECT count(*) FROM customer)"
            " + (SELECT count(*) FROM supplier)"
            " + 2 * (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)"
            " + (SELECT count(*) FROM nation a JOIN nation b"
            "    ON a.n_nationkey + 1 = b.n_nationkey)"
            " + (SELECT count(*) FROM lineitem)"
        )[0][0]

    def sizes(self) -> dict:
        return {"nation": len(self.nation_region), "customer": len(self.cust_nation)}

    def expect(self, template: str, k: int):
        """Expected answer of a read template, in checks.normalize form."""
        if template.endswith("has_count"):
            return len(self.members.get(k, []))
        if template == "gizmo_1hop":
            return sorted(self.members.get(k, []))
        if template == "gizmo_recursive":
            return self.reach[k]
        if template == "graphql_1hop":
            ids = [{"id": m} for m in sorted(self.members.get(k, []))]
            me = {"id": f"<nation:{k}>"}
            if ids:
                me["in_nation"] = ids[0] if len(ids) == 1 else ids
            return [{"me": me}]
        nat = self.cust_nation[k]
        nation, region = f"<nation:{nat}>", f"<region:{self.nation_region[nat]}>"
        cust = f"<customer:{k}>"
        if template == "gizmo_2hop":
            return [region]
        if template == "mql_1hop":
            return [{"id": cust, "<in_nation>": nation}]
        if template == "mql_2hop":
            return [{"id": cust, "<in_nation>": {"id": nation, "<in_region>": region}}]
        if template == "graphql_2hop":
            return [{"me": {"id": cust, "in_nation": {
                "id": nation, "in_region": {"id": region}}}}]
        raise KeyError(template)


def _fill(ops: list, g: Graph) -> None:
    for op in ops:
        if op["op"] == "read" and "expect" not in op:
            op["expect"] = g.expect(op["template"], op["key"])


def _batch_oracles(con, seed: int, g: Graph, spec: dict) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as E

    sql = E.oracle_sql()
    out = {}
    for job in plan.BATCH_JOBS:
        if job == "ingest":
            continue
        cur = con.execute(sql[job])
        cols = [d[0] for d in cur.description]
        out[job] = canon_fingerprint([dict(zip(cols, r)) for r in cur.fetchall()], cols)
    nk = spec["count_nation"]
    spec["delete"] = [[f"<customer:{k}>", "<in_segment>", f'"{g.segment[k]}"', None]
                      for k in spec["delete_keys"]]
    # one probe per added subject, both deleted quads, and a base count
    spec["verify"] = [
        {"query": f'g.V("{q[0]}").Out("<ing_p>").All()', "expect": [q[2].strip('"')]}
        for q in spec["add"]
    ] + [
        {"query": f'g.V("<customer:{k}>").Out("<in_segment>").All()', "expect": []}
        for k in spec["delete_keys"]
    ] + [
        {"query": f'g.V().Has("<in_nation>", "<nation:{nk}>").Count()',
         "expect": len(g.members.get(nk, []))},
    ]
    spec["n_quads"] = g.n_quads + len(spec["add"]) - len(spec["delete"])
    return out


def main(workload: str, seed: int, seconds: int, work: str) -> None:
    scale = plan.SCALE[workload]
    first = os.path.join(work, "in0")
    counts = data.generate(first, seed, scale["sf"], docs=scale["docs"])
    # one copy of the files, reached through a different path per set-up
    # (the graph build is cached per path)
    for i in range(1, SETUPS):
        os.symlink("in0", os.path.join(work, f"in{i}"))
    con = duckdb.connect()
    for t in TABLES:
        if t in counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{first}/{t}.parquet'")
    g = Graph(con)
    p = plan.BUILDERS[workload](seed, seconds, g.sizes())
    _fill(p["ops"], g)
    _fill(p["warmup"], g)
    p["first_check"] = {"query": plan.TEMPLATES["gizmo_1hop"][2].format(k=0),
                        "expect": g.expect("gizmo_1hop", 0)}
    if workload == "batch_jobs":
        p["jobs"] = _batch_oracles(con, seed, g, p["ingest"])
        p["first_check"] = {"n_quads": g.n_quads}
    p["inputs"] = [os.path.join(work, f"in{i}") for i in range(SETUPS)]
    p["rows"] = counts
    p["input_md5"] = hashlib.md5(
        b"".join(open(f"{first}/{t}.parquet", "rb").read() for t in sorted(counts))
    ).hexdigest()
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(p, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
