"""Answer normalisation and fingerprints shared by the oracle process
and the measured process. Every check runs after its op's timer stops."""

from __future__ import annotations

import datetime
import hashlib
import json
import math


def normalize(out):
    """Order-insensitive form of a query answer: gizmo ``All()`` rows
    become their sorted ids, a ``Count()`` its integer, and any other
    list is sorted by its canonical JSON."""
    if isinstance(out, dict) and set(out) == {"result"}:  # HTTP envelope
        out = out["result"]
    if isinstance(out, list) and len(out) == 1 and isinstance(out[0], int):
        return out[0]
    if isinstance(out, list) and all(
        isinstance(r, dict) and set(r) == {"id"} for r in out
    ):
        return sorted(r["id"] for r in out)
    return _canon(out)


def _canon(x):
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    if isinstance(x, list):
        return sorted((_canon(v) for v in x), key=lambda v: json.dumps(v, sort_keys=True))
    return x


def same(out, expect) -> bool:
    return normalize(out) == _canon(expect)


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return repr(v)


def canon_fingerprint(rows: list[dict], cols: list[str]) -> list:
    """[row count, md5 of the sorted canonical rows, sorted columns] —
    the same value for a DuckDB result and a Spark result that hold
    the same multiset of rows."""
    keys = sorted(tuple(_cell(r[c]) for c in sorted(cols)) for r in rows)
    return [len(keys), hashlib.md5(repr(keys).encode()).hexdigest(), sorted(cols)]
