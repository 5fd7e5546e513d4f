"""Pure statistics used by the benchmark: medians, the reportable
percentile rule, geometric means of per-kind medians, the whole-cycles
rule and span self time. No Spark, no I/O: the unit tests import this
module directly."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

#: candidate percentiles, highest last; a percentile is reported only when
#: at least ``MIN_BEYOND`` samples lie beyond it
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples, in exact
    arithmetic (99.9 % of 10 000 is rank 9 990, not 9 991)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def reportable_percentile(n: int, candidates=PERCENTILES, min_beyond: int = MIN_BEYOND):
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in sorted(candidates):
        if n and n - _rank(p, n) >= min_beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def geomean(values) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geometric mean needs positive values, got {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(samples: dict, kinds) -> float:
    """Geometric mean over ``kinds`` of each kind's median sample."""
    missing = [k for k in kinds if not samples.get(k)]
    if missing:
        raise ValueError(f"no samples for {missing}")
    return geomean(statistics.median(samples[k]) for k in kinds)


def whole_cycles(records, kinds) -> list:
    """Keep the records of cycles in which every kind of ``kinds`` ran and
    succeeded. ``records`` are dicts with ``cycle``, ``kind`` and ``ok``;
    a cycle cut short, or one with a failed op, drops out whole, so every
    kind keeps the same number of cycles."""
    by_cycle: dict = {}
    for r in records:
        by_cycle.setdefault(r["cycle"], []).append(r)
    need = set(kinds)
    keep = []
    for cycle in sorted(by_cycle):
        rs = by_cycle[cycle]
        if need <= {r["kind"] for r in rs} and all(r["ok"] for r in rs):
            keep.extend(rs)
    return keep


def by_kind(records) -> dict:
    """Latency samples grouped by op kind."""
    out: dict = {}
    for r in records:
        out.setdefault(r["kind"], []).append(r["latency_s"])
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. ``spans`` are objects with ``sid``,
    ``parent``, ``t0`` and ``t1``."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in children.get(s.sid, [])
            if c.t1 > s.t0 and c.t0 < s.t1
        ]
        out[s.sid] = (s.t1 - s.t0) - union_length(clipped)
    return out


def diagnostics(samples: dict) -> dict:
    """Per kind: n, median and the highest reportable percentile."""
    out = {}
    for kind, xs in sorted(samples.items()):
        p = reportable_percentile(len(xs))
        row = {"n": len(xs), "median_s": statistics.median(xs)}
        if p is not None and p > 50.0:
            row[f"p{p:g}_s"] = percentile(xs, p)
        out[kind] = row
    return out
