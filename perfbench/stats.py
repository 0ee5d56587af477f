"""Summary statistics and order-independent digests used by the benchmark.

Pure Python (no Spark), so the rules here are unit-tested directly.
"""

from __future__ import annotations

import hashlib
import math
import statistics

#: candidate percentiles for a ``_tail`` figure, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
#: a tail percentile is only reported when this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly beyond its rank, or None
    when ``n`` is too small for any of them."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def summarize(values) -> dict:
    """Median, ``_tail`` (see :func:`tail_percentile`) and the sample count.
    ``tail`` and ``tail_pct`` are None when there are too few samples."""
    xs = list(values)
    if not xs:
        return {"n": 0, "p50": None, "tail": None, "tail_pct": None}
    p = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": statistics.median(xs),
        "tail": percentile(xs, p) if p is not None else None,
        "tail_pct": p,
    }


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``: the
    run-to-run spread a metric must stay under."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2


def row_digest(rows) -> tuple[int, str]:
    """Order-independent digest of ``(key..., content)`` rows: each row
    hashes to ``sha256(key fields + sha256(content))`` and the first 8 bytes
    are summed mod 2**64. Returns ``(row count, hex digest)``."""
    total, n = 0, 0
    for *key, content in rows:
        c = hashlib.sha256(
            b"\x00" if content is None else content.encode("utf-8")
        ).digest()
        h = hashlib.sha256(
            "\x1f".join("" if k is None else str(k) for k in key).encode("utf-8")
            + b"\x1e"
            + c
        ).digest()
        total = (total + int.from_bytes(h[:8], "big")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{total:016x}"


def pair_digest(pairs) -> tuple[int, str]:
    """Order-independent digest of ``(doc_a, doc_b)`` pair sets."""
    return row_digest((a, b, None) for a, b in pairs)
