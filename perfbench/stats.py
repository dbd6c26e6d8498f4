"""Pure helpers: latency summaries, drift, failure counting, result
comparison.

Nothing here imports Spark, so the self-tests run in milliseconds.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

#: A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile that still has
    at least ``beyond`` samples above it, i.e. that of the order
    statistic with exactly ``beyond`` larger samples, estimated with
    :func:`hd_quantile`. That percentile is below the median when
    ``n < 2 * beyond``; the tail is then under-sampled and the median is
    returned with percentile 50."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond  # k samples at or below, `beyond` samples above
    if k < n / 2:
        return hd_quantile(samples, 0.5), 50.0, n
    return hd_quantile(samples, k / n), 100.0 * k / n, n


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a weighted mean of
    all order statistics, weights from the Beta(p(n+1), (1-p)(n+1))
    distribution. Unlike a single order statistic it does not jump from
    one cluster to the next when the samples come from a mix of
    operation kinds with different latencies and the quantile falls
    between two of them."""
    import numpy as np

    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    m = 1 << 15  # midpoint rule for the Beta CDF
    x = (np.arange(m) + 0.5) / m
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, np.arange(m + 1) / m, cdf))
    return float(w @ xs)


def warm_drift_ratio(samples: list[float], kinds: list[str] | None = None) -> float:
    """Median of the last quarter of timed operations over the median
    of the first quarter (in completion order). 1.0 is flat; below 1
    means the timed phase was still warming up. With ``kinds`` (one per
    sample, for a mix of operation kinds) each sample is first divided
    by the median of its own kind, so the order of the mix cancels."""
    if kinds:
        by: dict[str, list[float]] = {}
        for k, x in zip(kinds, samples):
            by.setdefault(k, []).append(x)
        med = {k: statistics.median(v) for k, v in by.items()}
        samples = [x / med[k] for k, x in zip(kinds, samples)]
    q = max(1, len(samples) // 4)
    return statistics.median(samples[-q:]) / statistics.median(samples[:q])


@dataclass
class Ops:
    """Closed-loop operation log: latencies of the operations that
    succeeded, plus attempted/failed counts. An exception or a wrong
    result is a failed operation and contributes no latency."""

    latencies: list[float] = field(default_factory=list)
    #: operation kind of each latency (empty when there is one kind)
    kinds: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, seconds: float, ok: bool, why: str = "", kind: str = "") -> None:
        self.attempted += 1
        if ok:
            self.latencies.append(seconds)
            if kind:
                self.kinds.append(kind)
        else:
            self.failed += 1
            if why and len(self.errors) < 20:
                self.errors.append(why)

    def fail_later(self, why: str) -> None:
        """Mark an already-recorded operation as failed (a check made
        after the timed phase found its output lost)."""
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)


def timed_op(ops: Ops, fn, check=None, kind: str = "", label: str = "") -> tuple[bool, float, object]:
    """Run ``fn()`` as one operation of ``kind`` and record it in ``ops``.
    It fails if it raises, or if ``check(result)`` returns a complaint or
    raises. Returns ``(ok, seconds, result)``; ``seconds`` excludes the
    check. ``label`` prefixes the failure message."""
    prefix = f"{label or kind}: " if (label or kind) else ""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 - every exception is a failed op
        dt = time.perf_counter() - t0
        ops.record(dt, False, f"{prefix}{type(e).__name__}: {e}"[:300])
        return False, dt, None
    dt = time.perf_counter() - t0
    try:
        why = check(out) if check else ""
    except Exception as e:  # noqa: BLE001
        why = f"check raised {type(e).__name__}: {e}"
    ops.record(dt, not why, f"{prefix}{why}"[:300], kind=kind)
    return not why, dt, out


def host_probe() -> float:
    """Seconds for a fixed pure-Python CPU loop: a host-speed reading
    that no program change can move."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


def compare_frames(got, want) -> str:
    """Empty string when the two pandas frames hold the same multiset of
    rows, compared with the canonical form of ``tools/check_oracle.py``
    (columns sorted by name, cells normalised, rows sorted, floats
    exact); otherwise a one-line description of the first difference."""
    from tools.check_oracle import canon

    (gc, gr), (wc, wr) = canon(got), canon(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return ""
