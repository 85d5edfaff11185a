"""Statistics the benchmark reports: medians, tail percentiles only
where enough samples lie beyond them, self time of nested spans, and
bytes counted once per inode."""

from __future__ import annotations

import math
import os

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """The nearest-rank ``q``-th percentile (0 < q <= 100): the
    smallest sample with at least q% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond the
    ``q``-th percentile, so the percentile is not set by a handful of
    outliers."""
    return beyond(n, q) >= MIN_BEYOND


def highest_supported(n: int, candidates=(99, 95, 90, 75)):
    """The highest candidate percentile ``n`` samples support, or None."""
    for q in candidates:
        if supported(n, q):
            return q
    return None


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def summary(values: list[float]) -> dict:
    """Sample count, median, and the highest tail percentile with at
    least ``MIN_BEYOND`` samples beyond it (None when there is none)."""
    q = highest_supported(len(values))
    return {"n": len(values), "p50": median(values), "tail_pct": q,
            "tail": percentile(values, q) if q else None}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps counted
    once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


def inode_map(root: str) -> dict[tuple[int, int], int]:
    """{(device, inode): size} of every regular file under ``root``.
    Hard links to one file share an inode, so they appear once."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f), follow_symlinks=False)
            except FileNotFoundError:
                continue  # removed while walking
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes of the files present in ``after`` under inodes absent from
    ``before``: what a step actually wrote, with hard-linked (reused)
    files counted zero times and multiply-linked new files once."""
    return sum(size for key, size in after.items() if key not in before)


def live_bytes(root: str) -> int:
    """Bytes stored under ``root``, each inode once."""
    return sum(inode_map(root).values())
