"""Engine-exact arithmetic for Python kernels whose output is compared with
Spark SQL or DuckDB.

Spark's ROUND on a double is ``BigDecimal.valueOf(x)`` (the shortest repr,
the same digits as Python's ``repr``) quantized HALF_UP. Python's builtin
``round`` is banker's and ``np.round`` scales by 10^n in binary, so both
disagree with the engines on values that sit on a ``.5`` boundary — which
means of 6-decimal rates do constantly.
Likewise SQL aggregates accumulate sequentially in frame order, while
``np.mean``/``np.std`` sum pairwise.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

# wide enough to quantize any finite double at any useful scale
_CTX = Context(prec=400)


def _decimal_half_up(x: float, n: int) -> float:
    return float(
        Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-n), ROUND_HALF_UP, _CTX)
    )


def half_up(x, n: int):
    """Round ``x`` (a scalar or array) to ``n`` decimals HALF_UP on the
    shortest repr, exactly as ``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)``
    and Spark's ROUND do. Returns a float for a scalar, an array otherwise.

    Vectorized: ``floor(|x|*10^n + 0.5)`` is exact wherever the scaled
    value is clear of a ``.5`` tie by more than its float error, so only
    elements within 1e-6 of a tie (or too large for that error bound) are
    re-decided with ``Decimal``. Non-finite values pass through."""
    a = np.asarray(x, dtype=np.float64)
    s = 10.0**n
    y = np.abs(a) * s
    out = np.asarray(np.copysign(np.floor(y + 0.5) / s, a))
    with np.errstate(invalid="ignore"):  # inf - inf for non-finite input
        redo = np.isfinite(a) & ((np.abs(y - np.floor(y) - 0.5) < 1e-6) | (y >= 1e9))
    for i in np.flatnonzero(redo):
        out.flat[i] = _decimal_half_up(a.flat[i], n)
    return float(out) if a.ndim == 0 else out


def seq_mean_std(xs) -> tuple[float, float]:
    """Mean and population standard deviation of ``xs`` accumulated in
    order, as Spark's ``avg`` (sequential sum / count) and ``stddev_pop``
    (its one-pass central-moment update) compute them."""
    total = n = avg = m2 = 0.0
    for x in xs:
        total += x
        n += 1.0
        delta = x - avg
        delta_n = delta / n
        avg += delta_n
        m2 += delta * (delta - delta_n)
    return total / n, math.sqrt(m2 / n)
