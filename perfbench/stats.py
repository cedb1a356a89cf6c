"""Reductions from raw samples to the reported metrics.

Kept free of Spark so the self-tests in ``perfbench/tests`` exercise
them directly.
"""

from __future__ import annotations

import statistics

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float | None:
    """The ``p``-th percentile (nearest rank), or None when fewer than
    ``MIN_TAIL`` samples lie beyond it: a tail figure resting on a
    handful of samples is noise, so it is not reported at all."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, -(-int(round(p * n)) // 100))  # ceil(p * n / 100)
    if n - rank < MIN_TAIL:
        return None
    return float(sorted(values)[rank - 1])


def failed_frac(attempted: int, failed: int) -> float:
    """Failed ops over ops attempted.  An op that raised or returned a
    wrong result counts as failed; the denominator counts every op
    started, failed ones included."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def bytes_written_per_input_byte(written: dict[str, int], input_bytes: int) -> float:
    """All bytes the program wrote, summed over every kind of write
    (staged data, outputs, compaction and upsert rewrites, commit
    metadata), over the input bytes it was given."""
    if input_bytes <= 0:
        raise ValueError("no input bytes")
    if any(v < 0 for v in written.values()):
        raise ValueError(f"negative byte count in {written}")
    return sum(written.values()) / input_bytes


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    start, end = span["start"], span["end"]
    return (end - start) - covered([(c["start"], c["end"]) for c in children], start, end)
