"""Summary statistics and failure accounting for one benchmark run."""

from __future__ import annotations

import statistics
from typing import Dict, Iterable, List, Optional

TAIL_MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else float("nan")


def best_cycle(cycles, value, pick, probe_ref: float, sign: int = 1) -> float:
    """The best cycle's ``value(records)`` (``pick`` is min or max), scaled
    to the reference host speed: each cycle's value is multiplied by
    ``(probe_ref / median probe of its records) ** sign``, ``sign`` 1 for
    times, -1 for rates, 0 for no scaling.  Cycles without a value (NaN)
    are skipped."""
    scaled = [value(recs) * (probe_ref / median(r.cal for r in recs)) ** sign for recs in cycles]
    scaled = [v for v in scaled if v == v]
    return pick(scaled) if scaled else float("nan")


def tail(values: Iterable[float]) -> Dict[str, float]:
    """The highest percentile that still has at least ten samples above it.

    With ``n`` sorted samples that is the sample at rank ``n - 11`` (ten
    samples lie strictly beyond it), reported as percentile
    ``100 * (n - 10) / n``.  With ten or fewer samples no percentile
    qualifies; the rule then falls back to the lowest sample, the one with
    the most samples beyond it, and ``beyond`` says how many that is."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return {"value": float("nan"), "percentile": float("nan"), "n": 0, "beyond": 0}
    rank = max(0, n - 1 - TAIL_MIN_BEYOND)
    return {
        "value": vals[rank],
        "percentile": 100.0 * (rank + 1) / n,
        "n": n,
        "beyond": n - 1 - rank,
    }


class Outcomes:
    """Attempted and failed operations of one run.

    An operation fails when it raises or when its output fails the
    correctness check; a check run after the loop can fail operations that
    already completed.  Each operation counts at most once."""

    def __init__(self) -> None:
        self.attempted: List[int] = []
        self.failed: Dict[int, str] = {}

    def attempt(self, op_id: int) -> None:
        self.attempted.append(op_id)

    def fail(self, op_id: int, reason: str) -> None:
        if op_id not in self.attempted:
            raise ValueError(f"op {op_id} failed but was never attempted")
        self.failed.setdefault(op_id, reason)

    @property
    def n_attempted(self) -> int:
        return len(self.attempted)

    @property
    def n_failed(self) -> int:
        return len(self.failed)

    def failed_share(self) -> float:
        return self.n_failed / self.n_attempted if self.attempted else 0.0

    def first_failure(self) -> Optional[str]:
        return next(iter(self.failed.values()), None)
