"""Pure helpers: percentiles, the tail rule, metric names, span self
time. No Spark here, so the unit tests run without a session."""

from __future__ import annotations

import math
import os
import re
import statistics

#: Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: The tail rule: a percentile is reported only with this many samples
#: strictly beyond its rank.
MIN_BEYOND = 10

#: Metric names: letters, digits, ``_``, ``.`` and ``-``, first
#: character a letter or digit, at most 64 characters.
_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def nearest_rank(sorted_vals: list[float], p: float) -> tuple[int, float]:
    """(1-based rank, value) of the ``p``-th percentile by nearest rank."""
    if not sorted_vals:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return rank, sorted_vals[rank - 1]


def tail(samples: list[float]) -> tuple[str, float, int]:
    """(label, value, n): the highest ladder percentile with at least
    ``MIN_BEYOND`` samples ranked beyond it. With fewer than
    ``2 * MIN_BEYOND`` samples no ladder percentile qualifies and the
    maximum is reported, labelled ``max``."""
    vals = sorted(samples)
    for p in TAIL_LADDER:
        rank, v = nearest_rank(vals, p)
        if len(vals) - rank >= MIN_BEYOND:
            return f"p{p:g}", v, len(vals)
    return "max", vals[-1], len(vals)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def typical(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over operation kinds of each kind's median
    latency; with one kind, that kind's median. The plain median of a
    mix of kinds jumps from one kind to another whenever one drifts
    past its neighbour; this one moves by each kind's own speed-up,
    weighted equally."""
    by_kind: dict[str, list[float]] = {}
    for kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def valid_metric_name(name: str) -> bool:
    return bool(_NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.match(unit))


def check_metrics(metrics: dict) -> None:
    """Raise ValueError on any name, unit or value outside the result
    grammar."""
    for name, m in metrics.items():
        if not valid_metric_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if not valid_unit(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {name}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"bad value {v!r} for {name}")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its child spans cover.
    Children may overlap each other (concurrent QA stages); the union
    is subtracted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def tree_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
