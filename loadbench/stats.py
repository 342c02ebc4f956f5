"""Pure measurement arithmetic for the workload benchmark.

Nothing here touches Spark, the clock or the file system, so every rule the
report depends on (percentiles, the tail rule, span self time, write/space
amplification) is unit-tested in ``loadbench/tests``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

# Candidate tail percentiles, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A tail percentile is reported only if this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


def quantile(values: Sequence[float], p: float) -> float:
    """The ``p``-th percentile (0..100) with linear interpolation between
    closest ranks (NumPy's default ``linear`` method)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 50.0)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    rank ``ceil(n * p / 100)``."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, or None when ``n`` is too small for any."""
    ok = [p for p in TAIL_LADDER if samples_beyond(n, p) >= TAIL_MIN_BEYOND]
    return ok[-1] if ok else None


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (clipped to the parent, and
    counting overlapping children once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(cs, s), min(ce, e)) for cs, ce in children.get(sp["id"], [])
        )
        out[sp["id"]] = (e - s) - covered
    return out


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when there is no base to divide by."""
    return num / den if den else 0.0


def write_amp(bytes_written: float, bytes_ingested: float) -> float:
    """Bytes written to storage per byte of user data ingested."""
    return ratio(bytes_written, bytes_ingested)


def space_amp(bytes_on_disk: float, live_row_bytes: float) -> float:
    """Bytes on disk per byte of live rows."""
    return ratio(bytes_on_disk, live_row_bytes)


def rewrite_ratio(bytes_rewritten: float, bytes_ingested: float) -> float:
    """Bytes one upsert rewrote per byte it ingested (1.0 would be an
    append that writes only the new data)."""
    return ratio(bytes_rewritten, bytes_ingested)


def files_delta(
    before: dict[str, tuple[int, float]], after: dict[str, tuple[int, float]]
) -> tuple[int, int]:
    """``(files, bytes)`` written between two snapshots mapping path ->
    ``(size, mtime)``: paths that are new, or whose size or mtime changed."""
    files = nbytes = 0
    for path, stat in after.items():
        if before.get(path) != stat:
            files += 1
            nbytes += stat[0]
    return files, nbytes
