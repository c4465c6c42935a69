"""Sample statistics for the benchmark: percentiles with failure accounting.

Pure Python, no Spark, so the rules are unit-tested without a session.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

MIN_BEYOND = 10  # samples a reported percentile needs beyond it
OP_TIMEOUT_MS = 60_000.0  # an op slower than this counts as failed


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample.

    Nearest rank returns a value that was really observed, so a percentile
    never blends a completed latency with a censored (failed) one.
    """
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    if n <= 0:
        return 0
    return n - max(1, math.ceil(q / 100.0 * n))


def supports_percentile(n: int, q: float) -> bool:
    """True when a sample of ``n`` leaves at least MIN_BEYOND beyond ``q``."""
    return samples_beyond(n, q) >= MIN_BEYOND


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of an empty sample")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


@dataclass
class OpLog:
    """Every operation attempted in a run: drain, invoke or micro-batch.

    A failed operation stays in the latency sample. It is censored at the
    run's measured length (it did not answer within the run), which ranks
    it above every completed operation; a later fix that lets it complete
    therefore reads as a latency gain, never as a regression.
    """

    latencies_ms: list[float] = field(default_factory=list)
    failed: list[bool] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def record(self, latency_ms: float, error: str | None = None) -> None:
        self.latencies_ms.append(latency_ms)
        self.failed.append(error is not None)
        if error is not None:
            self.errors.append(error)

    @property
    def attempted(self) -> int:
        return len(self.latencies_ms)

    @property
    def failures(self) -> int:
        return sum(self.failed)

    def failed_share(self) -> float:
        return self.failures / self.attempted if self.attempted else 0.0

    def censored_sample(self, run_ms: float) -> list[float]:
        """Latencies with each failed op replaced by ``run_ms`` (or its own
        time, if that is longer)."""
        return [
            max(lat, run_ms) if bad else lat
            for lat, bad in zip(self.latencies_ms, self.failed)
        ]


def timed_op(ops: OpLog, fn):
    """Run one op and record it; an exception or a timeout is a failure
    that stays in the log. Returns (result or None, error or None, ms)."""
    t = time.perf_counter()
    err = None
    out = None
    try:
        out = fn()
    except Exception as e:  # one failed op must not end the run
        err = f"{type(e).__name__}: {e}"[:200]
    ms = (time.perf_counter() - t) * 1e3
    if err is None and ms > OP_TIMEOUT_MS:
        err = f"timeout: {ms:.0f} ms"
    ops.record(ms, err)
    return out, err, ms
