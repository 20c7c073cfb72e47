"""Small shared helpers."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def round_half_up(x: float, ndigits: int) -> float:
    """Round like Spark's ``F.round`` / SQL ROUND (HALF_UP on the exact
    binary value) — NOT like Python's builtin ``round`` (banker's), whose
    ties-to-even differs on exact .5 boundaries. Any driver-side score
    arithmetic that must agree with engine-computed scores uses this.
    A value that rounds to zero is +0.0, as in Spark, whatever its sign
    (``+ 0.0`` turns -0.0 into 0.0 and leaves every other value as is).
    """
    q = Decimal(1).scaleb(-ndigits)
    # Decimal(repr(x)), not Decimal(x): Spark rounds the SHORTEST decimal
    # representation (Java BigDecimal.valueOf -> Double.toString), not the
    # exact binary expansion — e.g. 1.2391595 (binary ...94999) rounds to
    # 1.23916 in Spark but 1.239159 on the exact value.
    return float(
        Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


def round_half_up_array(x: np.ndarray, ndigits: int) -> np.ndarray:
    """:func:`round_half_up` of every element of a float64 array, in one
    vector pass.

    ``rint(x * 10**ndigits) / 10**ndigits`` is exact wherever the integer
    ``rint`` picks is the one the scalar form rounds the shortest decimal
    of ``x`` to: dividing an integer below 2**53 by a power of ten gives
    the correctly rounded float of that decimal, as ``float(Decimal)``
    does. The product ``y`` and the shortest decimal (scaled) each lie
    within half an ulp of ``x * 10**ndigits``, so they can round to
    different integers only when ``y`` lies within about
    ``|y| * 2**-52`` of a half-integer. Those elements go through the
    scalar form, and so do every exact tie (``rint`` sends it to even),
    every ``|y| >= 2**49`` (the window covers the whole unit), and NaN
    and inf (a comparison with NaN is False, so they count as near; inf
    raises there, as the scalar form does). Zero is +0.0, as there.
    """
    x = np.asarray(x, dtype=np.float64)
    scale = 10.0 ** ndigits
    y = x * scale
    r = np.rint(y)
    out = r / scale
    out += 0.0
    near = ~(np.abs(np.abs(y - r) - 0.5) > 1e-6 + np.abs(y) * 2.0**-50)
    for i in np.flatnonzero(near):
        out.flat[i] = round_half_up(x.flat[i], ndigits)
    return out
