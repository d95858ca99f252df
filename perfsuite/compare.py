"""Summarise and compare benchmark records written by ``run.py --out``.

    python3 perfsuite/compare.py RUNS.jsonl                # median + quartile spread
    python3 perfsuite/compare.py PARENT.jsonl CHANGE.jsonl # per-metric verdicts
    ... [--json SUMMARY.json]

Records are only comparable when they come from the same host state:
the same CPU count, boot, Spark master, input scale, run length, trace
flag and toolchain. If any of those keys differ, within one file or
between the two, the comparison is refused (exit status 3) rather than
made.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

KEYS = ("cpus", "boot_time", "master", "scale", "seconds", "trace", "spark", "python")


def load(path: str) -> dict:
    """{workload: [record, ...]}"""
    out: dict[str, list] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                out.setdefault(rec["provenance"]["workload"], []).append(rec)
    return out


def key(rec: dict) -> dict:
    return {k: rec["provenance"][k] for k in KEYS}


def refuse_mixed(groups: list[list]) -> str | None:
    """A loud reason when the records do not share one key, else None."""
    keys = {json.dumps(key(r), sort_keys=True) for g in groups for r in g}
    if len(keys) > 1:
        return "records come from different host states:\n  " + "\n  ".join(sorted(keys))
    return None


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarise(recs: list[dict]) -> dict:
    metrics = recs[0]["result"]["metrics"]
    return {
        "runs": len(recs),
        "seeds": [r["provenance"]["seed"] for r in recs],
        "all_correct": all(r["result"]["correct"] for r in recs),
        "failed": sum(r["result"]["failed"] for r in recs),
        "attempted": sum(r["result"]["attempted"] for r in recs),
        "metrics": {m: {"unit": metrics[m]["unit"],
                        **spread([r["result"]["metrics"][m]["value"] for r in recs])}
                    for m in metrics},
    }


def bounds() -> dict:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}


def verdict(a: dict, b: dict, bound: float, better: str) -> str:
    change = (b["median"] - a["median"]) / a["median"]
    worse = change > bound if better == "lower" else change < -bound
    if worse:
        return "worse"
    if a["spread"] > bound:
        return "unresolved"
    return "within bound"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--json", help="write the summary here")
    args = ap.parse_args(argv)
    sets = [load(p) for p in args.files[:2]]
    out = {}
    for wl in sorted(set().union(*sets)):
        groups = [s.get(wl, []) for s in sets]
        reason = refuse_mixed(groups)
        if reason:
            print(f"REFUSED {wl}: {reason}", file=sys.stderr)
            return 3
        sums = [summarise(g) for g in groups if g]
        out[wl] = {"key": key(groups[0][0]), "runs": sums}
        print(f"== {wl}: {' vs '.join(str(s['runs']) for s in sums)} runs, "
              f"all correct: {all(s['all_correct'] for s in sums)}")
        for m, st in sums[0]["metrics"].items():
            line = (f"  {m:24s} median {st['median']:12.4f} {st['unit']:6s} "
                    f"spread {100 * st['spread']:6.2f}%")
            if len(sums) == 2:
                bound, better = bounds().get(m, (None, None))
                b = sums[1]["metrics"][m]
                line += f" | change {b['median']:12.4f}"
                if bound is not None:
                    v = verdict(st, b, bound, better)
                    out[wl].setdefault("verdicts", {})[m] = v
                    line += f" {100 * (b['median'] / st['median'] - 1):+6.2f}% {v}"
            print(line)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
