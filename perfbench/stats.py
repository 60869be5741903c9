"""Summary statistics the benchmark reports."""

from __future__ import annotations

# A tail figure is only reported where at least this many samples lie
# beyond it, so one slow sample cannot set it on its own.
TAIL_BEYOND = 10


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``beyond``
    samples strictly above its rank.

    Returns ``(value, percentile, n)``.  With ``n <= beyond`` samples no
    such percentile exists; the smallest sample is returned with
    percentile 0 so the caller still reports a figure, and the recorded
    percentile says how little it means.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    rank = max(n - beyond, 1)  # 1-based nearest rank
    pct = 100.0 * rank / n if n > beyond else 0.0
    return s[rank - 1], pct, n
