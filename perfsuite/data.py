"""Seeded generator for the benchmark's input tables.

Writes TPC-H-shaped parquet tables (the column set
``cayley_spark.graphs.tpch`` and the ``__spark_entry__`` registry read)
plus a ``documents`` corpus with planted near-duplicates. The program
only ever sees these files; the same (seed, sf) gives byte-identical
tables.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "the a fast slow big small key value row column table data query join "
    "filter sort merge hash scan group agg order line part customer batch "
    "stream spark window vector"
).split()
LANGS = ["en", "fr", "es", "de", "zh"]


def _rows(sf: float, per_unit: int, floor: int) -> int:
    return max(floor, int(round(per_unit * sf)))


def generate(out_dir: str, seed: int, sf: float, docs: int = 0) -> dict:
    """Write the tables under out_dir; return {table: row count}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = _rows(sf, 150_000, 20)
    n_supp = _rows(sf, 10_000, 5)
    n_part = _rows(sf, 200_000, 20)
    n_ord = _rows(sf, 1_500_000, 50)
    epoch = datetime.datetime(1992, 1, 1)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(_balanced(rng, n_cust, 25), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(_balanced(rng, n_supp, 25), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": [
                ["ECONOMY", "STANDARD", "PROMO", "LARGE"][t]
                for t in rng.integers(0, 4, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
        },
    }
    odates = rng.integers(0, 2400, n_ord)
    tables["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": pa.array(
            [epoch + datetime.timedelta(days=int(d)) for d in odates],
            pa.timestamp("us"),
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    # 1-7 lines per order; part keys Zipf-skewed so the co-purchase graph
    # has hubs (and therefore triangles) as real baskets do.
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = (rng.zipf(1.3, n_li) - 1) % n_part
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            [epoch + datetime.timedelta(days=int(odates[o]) + 30) for o in l_order],
            pa.timestamp("us"),
        ),
    }
    if docs:
        tables["documents"] = _documents(rng, docs)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def _balanced(rng, n: int, k: int):
    """n draws from range(k), each value used n // k or n // k + 1
    times, in seeded order: every nation holds the same number of
    customers, so a nation-keyed read costs the same whichever nation
    the seed makes hot."""
    return rng.permutation(np.arange(n) % k)


def _documents(rng, n: int) -> dict:
    """Random-vocabulary docs; every 8th is a light edit of an earlier
    one (one token swapped, "dup" appended) so dedup has clusters."""
    texts = []
    for i in range(n):
        if i >= 8 and i % 8 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
