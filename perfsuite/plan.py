"""Seeded operation sequences and their expected answers.

Each workload's sequence is a pure function of (workload, seed,
seconds): the seed draws the keys and the order, the op counts scale
with ``seconds`` by a fixed rate, so two runs with the same arguments
do exactly the same work. The expected answers are computed by DuckDB
straight from the generated parquet (``oracle.py``), never from the
program under test.
"""

from __future__ import annotations

import math
import random

#: Generated input scale per workload: TPC-H scale factor and corpus size.
SCALE = {
    "point_local": {"sf": 0.002, "docs": 0},
    "read_after_write": {"sf": 0.002, "docs": 0},
    "batch_jobs": {"sf": 0.003, "docs": 300},
}

#: Read templates: name -> (language, key kind, query format).
TEMPLATES = {
    "gizmo_1hop": ("gizmo", "nation", 'g.V("<nation:{k}>").In("<in_nation>").All()'),
    "gizmo_2hop": (
        "gizmo", "customer",
        'g.V("<customer:{k}>").Out("<in_nation>").Out("<in_region>").All()',
    ),
    "gizmo_has_count": (
        "gizmo", "nation", 'g.V().Has("<in_nation>", "<nation:{k}>").Count()'
    ),
    "gizmo_recursive": (
        "gizmo", "nation", 'g.V("<nation:{k}>").FollowRecursive("<next>").All()'
    ),
    "mql_1hop": ("mql", "customer", '[{{"id": "<customer:{k}>", "<in_nation>": null}}]'),
    "mql_2hop": (
        "mql", "customer",
        '[{{"id": "<customer:{k}>", "<in_nation>": {{"id": null, "<in_region>": null}}}}]',
    ),
    "graphql_1hop": (
        "graphql", "nation",
        "{{ me(id: <nation:{k}>) {{ id in_nation: <in_nation> @rev {{ id }} }} }}",
    ),
    "graphql_2hop": (
        "graphql", "customer",
        "{{ me(id: <customer:{k}>) {{ id <in_nation> {{ id <in_region> {{ id }} }} }} }}",
    ),
}

#: point_local reads per 10 s of budget: (template, count). No
#: recorded traffic of this program exists to take a mix from, so the
#: counts are a design choice, not a measured workload: equal within
#: each cost class, and as many as the run-time budget allows. The MQL
#: and GraphQL templates have no local path and cost ~0.2-0.7 s a read,
#: so they get 5 reads each; the gizmo templates cost under 15 ms and
#: get 50 each. The read metrics are per-template statistics combined
#: by a geometric mean (``run.py``), so the counts only set how many
#: samples each template's figure rests on, not the figure itself.
POINT_MIX = {"gizmo_1hop": 50, "gizmo_2hop": 50, "gizmo_has_count": 50,
             "gizmo_recursive": 50, "mql_1hop": 5, "mql_2hop": 5,
             "graphql_1hop": 5, "graphql_2hop": 5}

BATCH_JOBS = ("g_triangles", "g_pagerank", "d_dedup_corpus", "ingest")
#: Timed repetitions per job per 10 s of budget (after one warm-up rep);
#: one round of the four jobs takes ~5 s.
BATCH_REPS = {"g_triangles": 1.5, "g_pagerank": 1.5, "d_dedup_corpus": 1.5, "ingest": 1.5}


def units(seconds: int, per_10s: float) -> int:
    return max(1, math.ceil(per_10s * seconds / 10))


def _zipf_keys(rng: random.Random, n_keys: int, count: int) -> list[int]:
    """count keys from range(n_keys), Zipf(1.1)-skewed over a seeded
    permutation so the hot keys differ by seed."""
    perm = list(range(n_keys))
    rng.shuffle(perm)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(n_keys)]
    return [perm[i] for i in rng.choices(range(n_keys), weights, k=count)]


def _reads(rng, mix: dict, sizes: dict) -> list[dict]:
    ops = []
    for t, n in mix.items():
        lang, kind, fmt = TEMPLATES[t]
        for k in _zipf_keys(rng, sizes[kind], n):
            ops.append({"op": "read", "template": t, "lang": lang,
                        "key": k, "query": fmt.format(k=k)})
    rng.shuffle(ops)
    return ops


def _batch(prefix: str, n: int, label: str, twin: str | None = None) -> list[list]:
    quads = [[f"<{prefix}:{i}>", f"<{prefix.split(':')[0]}_p>", f'"{prefix}#{i}"', label]
             for i in range(n)]
    if twin:
        quads += [[s, p, o, twin] for s, p, o, _ in quads]
    return quads


def _probe(quads: list[list], live: list[list]) -> dict:
    """Read op listing the objects of the batch's subjects; the answer
    is the multiset of live quads, so it also tells whether a delete
    removed exactly its 4-tuples."""
    subjects = sorted({q[0] for q in quads})
    sel = ", ".join(f'"{s}"' for s in subjects)
    pred = quads[0][1]
    return {
        "op": "read", "template": "probe", "lang": "gizmo",
        "query": f'g.V({sel}).Out("{pred}").All()',
        "expect": sorted(q[2].strip('"') for q in live if q[0] in subjects and q[1] == pred),
    }


def point_local(seed: int, seconds: int, sizes: dict) -> dict:
    """The read mix on the warm base store. Writes are not part of it:
    the separate ``writes`` sequence, run after the timed reads, adds a
    batch and deletes it, twice from the base store, each followed by
    a probe. A local-engine store takes a write as apply_deltas +
    enable_local (deltas drop the index), so the probes are local reads.
    Only ``write_p50_ms`` and ``job_gm_s`` use the writes' timings."""
    rng = random.Random(seed)
    mix = {t: units(seconds, n) for t, n in POINT_MIX.items()}
    ops = _reads(rng, mix, sizes)
    batch = _batch(f"pw:{seed}", 4, "<pw_batch>")
    pair = [{"op": "reset"}, {"op": "write", "quads": batch}, _probe(batch, batch),
            {"op": "delete", "quads": batch}, _probe(batch, [])]
    # The first timed reads of each template ran 1.2-1.5x slower than
    # the rest when the warm-up was one read per template after the
    # writes, so warm up with the writes first and several reads of
    # each template on the base store after them.
    warm = _reads(random.Random(seed + 1),
                  {t: 5 if lang == "gizmo" else 2 for t, (lang, _, _) in TEMPLATES.items()},
                  sizes)
    return {"ops": ops, "writes": pair * 2, "warmup": pair + [{"op": "reset"}] + warm}


#: read_after_write reads per cycle: the non-recursive gizmo templates.
#: A distributed FollowRecursive read costs ~2 s on a 3-batch delta
#: chain and would dominate the cycle; point_local measures it.
RAW_READS = {"gizmo_1hop": 1, "gizmo_2hop": 1, "gizmo_has_count": 1}
#: read_after_write rounds per 10 s of budget (one round takes ~6.5 s).
RAW_ROUNDS = 2


def read_after_write(seed: int, seconds: int, sizes: dict) -> dict:
    """Rounds of two cycles from the base store: write A, probe, the
    cycle's reads; write B (each quad also under a second label),
    probe, the cycle's reads, delete B's first-label copies, probe that
    exactly those are gone. Keys and read order are
    seeded; which op runs at which delta depth is not. Each round starts
    from the served base store again, which bounds the delta chain at
    three batches. Every op carries ``depth``, the number of delta
    batches on the store it runs against, so that a read's or write's
    figure is taken over ops that did the same work."""
    rng = random.Random(seed)

    def at(depth: int, ops: list) -> list:
        return [dict(op, depth=depth) for op in ops]

    def rnd(r: int, second_reads: bool = True) -> list:
        a = _batch(f"rw:{seed}:{r}:a", 3, f"<rw:{r}:a>")
        b = _batch(f"rw:{seed}:{r}:b", 3, f"<rw:{r}:b>", twin=f"<rw:{r}:keep>")
        b_del = [q for q in b if q[3] == f"<rw:{r}:b>"]
        reads = lambda: _reads(rng, RAW_READS, sizes)  # noqa: E731
        return (
            [{"op": "reset"}] + at(0, [{"op": "write", "quads": a}])
            + at(1, [_probe(a, a)] + reads() + [{"op": "write", "quads": b}])
            + at(2, [_probe(b, b)] + (reads() if second_reads else [])
                 + [{"op": "delete", "quads": b_del}])
            + at(3, [_probe(b, [q for q in b if q not in b_del])])
        )

    ops = [op for r in range(units(seconds, RAW_ROUNDS)) for op in rnd(r)]
    # One warm-up round. After it the first timed delete can run ~1.5x
    # slower than the later ones; with three or more timed rounds that
    # one sample is the largest and leaves each kind's median alone.
    return {"ops": ops, "warmup": rnd(-1, second_reads=False)}


def batch_jobs(seed: int, seconds: int, sizes: dict) -> dict:
    rng = random.Random(seed)
    reps = {j: units(seconds, n) for j, n in BATCH_REPS.items()}
    # round-robin in a fixed order, so every run ends in the same state
    seq = [j for r in range(max(reps.values())) for j in BATCH_JOBS if r < reps[j]]
    nk = _zipf_keys(rng, sizes["nation"], 1)[0]
    dk = rng.sample(range(sizes["customer"]), 2)
    ingest = {
        "add": _batch(f"ing:{seed}", 6, "<ing_batch>"),
        "delete_keys": dk,
        "count_nation": nk,
    }
    return {"ops": [{"op": "job", "job": j} for j in seq],
            "warmup": [{"op": "job", "job": j} for j in BATCH_JOBS],
            "ingest": ingest}


BUILDERS = {"point_local": point_local, "read_after_write": read_after_write,
            "batch_jobs": batch_jobs}
