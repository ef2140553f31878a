"""Driver-side mirrors of Spark's numeric semantics, op for op.

The hybrid operators (see ``olake_spark.hybrid``) finish small relations in
numpy/Python and must return what the distributed plan would have returned,
bit for bit; these helpers are the two places where plain Python differs
from Spark.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

__all__ = ["round_half_up6", "spark_median_np"]

_SCALE6 = Decimal("0.000001")


def round_half_up6(val: float) -> float:
    """Spark's ``round(double, 6)``: java ``BigDecimal.valueOf(d)`` parses
    the SHORTEST round-trip decimal string (the string ``repr`` yields),
    then ``setScale(6, HALF_UP)``. Python's ``round`` works on the binary
    value instead and disagrees on decimal ties (``round(0.1234565, 6)``
    is 0.123456, Spark says 0.123457)."""
    return float(Decimal(repr(val)).quantize(_SCALE6, rounding=ROUND_HALF_UP))


def spark_median_np(sorted_vals) -> float:
    """Spark's exact ``Percentile(0.5)`` interpolation over a SORTED array:
    position = 0.5·(n−1), result = (higher−position)·v[lower] +
    (position−lower)·v[higher] — NOT (a+b)/2, whose single rounding can
    differ in the last bit."""
    n = len(sorted_vals)
    position = 0.5 * (n - 1)
    lower = math.floor(position)
    higher = math.ceil(position)
    if lower == higher:
        return float(sorted_vals[lower])
    return (higher - position) * float(sorted_vals[lower]) + (
        position - lower
    ) * float(sorted_vals[higher])
