"""Summaries of per-statement samples: tail percentile and failure share."""

from __future__ import annotations

#: samples a tail percentile must keep strictly above it
TAIL_BEYOND = 10
#: every workload runs at least this many timed statements, so the tail
#: percentile (n - TAIL_BEYOND samples at or below, here ≥ p58) sits
#: above the median
MIN_SAMPLES = 2 * TAIL_BEYOND + 4


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that keeps at least ``beyond`` samples
    strictly above it: ``{"value", "percentile", "n", "beyond"}``."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot keep {beyond} beyond a percentile")
    k = n - beyond - 1
    while k >= 0 and s[k] == s[k + 1]:  # ties at the cut are not "beyond"
        k -= 1
    if k < 0:
        raise ValueError(f"ties leave fewer than {beyond} samples beyond any percentile")
    return {
        "value": s[k],
        "percentile": round(100.0 * (k + 1) / n, 2),
        "n": n,
        "beyond": n - k - 1,
    }


def failed_frac(errors: int, mismatches: int, attempted: int) -> float:
    """Statements that errored plus statements whose result was wrong,
    over statements attempted."""
    if attempted < 1:
        raise ValueError("no statement attempted")
    return (errors + mismatches) / attempted
