"""Summary statistics and the result line.

Pure functions, no Spark: ``perfbench/tests/test_helpers.py`` covers them.
"""

from __future__ import annotations

import math
import re

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    """A metric or workload name: a letter or digit, then at most 63 more
    letters, digits, ``_``, ``.`` or ``-``."""
    return _NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return _UNIT_RE.fullmatch(unit) is not None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    rank."""
    return n - math.ceil(n * p / 100.0)


def has_percentile(n: int, p: float) -> bool:
    """A percentile is reported only with at least ``MIN_BEYOND`` samples
    beyond it (p95 needs ≥ 200 samples)."""
    return samples_beyond(n, p) >= MIN_BEYOND


def self_times(spans) -> dict[int, float]:
    """Self time per span id: its duration minus the union of its direct
    children's intervals (clipped to the parent's interval).

    ``spans``: iterable of objects with ``sid``, ``parent``, ``start`` and
    ``end``.
    """
    spans = list(spans)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def result_line(*, correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> dict:
    """The benchmark's last stdout line: ``metrics`` maps name → (value, unit)."""
    for name, (value, unit) in metrics.items():
        if not valid_name(name) or not valid_unit(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()},
    }
