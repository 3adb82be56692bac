"""Arithmetic of the harness: medians, the tail rule, span self time."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only if at least this many samples lie
#: beyond it
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest whole percentile p with at least ``min_beyond``
    samples strictly above its rank, as (p, value, n), or None when the
    sample is too small for any such p.

    The value is the nearest-rank percentile: the ceil(p/100 * n)-th
    smallest sample, so exactly n - ceil(p/100 * n) samples lie beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1], n
    return None


def self_times(spans) -> dict[str, float]:
    """span id -> its duration minus the durations of its direct children.

    ``spans`` is an iterable of dicts with ``id``, ``parent`` (an id or
    None) and ``dur`` (seconds).  The benchmark's layer spans are prefix
    spans: a layer's span materialises the pipeline up to and including
    that layer, and its children are the prefixes it builds on, so
    ``dur - sum(child durs)`` is the layer's own cost.
    """
    spans = list(spans)
    out = {s["id"]: float(s["dur"]) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= float(s["dur"])
    return out
