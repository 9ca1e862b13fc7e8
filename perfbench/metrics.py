"""Pure helpers for the benchmark: percentiles, span self time, op ledger.

Nothing here imports Spark, so the unit tests in perfbench/tests run in
milliseconds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# a tail percentile is reported only where at least this many samples lie
# beyond it, so one outlier cannot move it alone
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]: the smallest sample with at
    least q% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(values: list[float], q: float) -> float:
    """percentile(values, q), refusing a q that leaves fewer than
    MIN_TAIL_SAMPLES samples beyond it."""
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q} of {n} samples leaves {n - rank} beyond it; "
            f"need {MIN_TAIL_SAMPLES}"
        )
    return percentile(values, q)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, and children are clipped to the parent's interval).
    Each span is a dict with keys id, parent, start, end."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            children.setdefault(p, []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


@dataclass
class OpLedger:
    """Attempted and failed engine operations of one run.

    An op fails when it raises or when its answer is wrong.  Failures of a
    kind listed in ``tolerated`` (known, recorded defects) count against
    the failed share but do not make the run incorrect; any other failure
    does."""

    tolerated: frozenset = frozenset()
    attempted: int = 0
    failed: int = 0
    failed_by_kind: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def ok(self, kind: str, n: int = 1) -> None:
        self.attempted += n

    def fail(self, kind: str, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failed_by_kind[kind] = self.failed_by_kind.get(kind, 0) + 1
        if len(self.errors) < 20:
            self.errors.append(f"{kind}: {reason}")

    @property
    def correct(self) -> bool:
        return all(k in self.tolerated for k in self.failed_by_kind)

    def ok_share(self) -> float:
        if self.attempted == 0:
            raise ValueError("no ops attempted")
        return (self.attempted - self.failed) / self.attempted
