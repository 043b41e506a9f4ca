"""Operation accounting and the summary statistics the benchmark reports."""

from __future__ import annotations

import math
import sys
import traceback


def noop(df) -> None:
    """Run ``df`` to completion into Spark's noop sink: every column of
    every row is computed and nothing is pruned or kept."""
    df.write.format("noop").mode("overwrite").save()


class Ops:
    """Counts attempted and failed operations; a mismatch is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def attempt(self, label: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 - the run goes on and reports it
            self._fail(label)
            traceback.print_exc(file=sys.stderr)
            return False

    def check(self, label: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self._fail(label)
        return ok

    def _fail(self, label: str) -> None:
        self.failed += 1
        self.failures.append(label)
        print(f"perfbench: FAILED {label}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile with at least ten
    samples beyond it when that percentile is p90 or higher, else the
    maximum (fewer than 100 samples give no such percentile)."""
    s = sorted(samples)
    k = len(s) - 11  # s[k] has exactly ten samples above it
    pct = 100.0 * (k + 1) / len(s) if k >= 0 else 0.0
    if pct >= 90.0:
        return s[k], pct
    return s[-1], 100.0


def geomean(samples: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in samples) / len(samples))
