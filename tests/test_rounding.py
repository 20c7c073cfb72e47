"""utils.round_half_up_array against the scalar utils.round_half_up, which
stays the specification: equal bit for bit (the sign of zero included) on
inputs dense in ties of the sixth decimal. Both give +0.0 for a value that
rounds to zero, as Spark's ``F.round`` does."""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_hybrid_doc_search_spark.config import SCORE_ROUND
from duckdb_hybrid_doc_search_spark.utils import (round_half_up,
                                                  round_half_up_array)


def _tie(k: int) -> float:
    """The float of the decimal k/10**6 + 5/10**7 (its shortest repr is
    that decimal), an exact HALF_UP tie at six decimals."""
    return float(Decimal(2 * k + 1) / Decimal(2_000_000))


def _assert_same(x: np.ndarray) -> None:
    got = round_half_up_array(x, SCORE_ROUND)
    want = np.array([round_half_up(v, SCORE_ROUND) for v in x],
                    dtype=np.float64)
    assert got.shape == x.shape
    bad = [(repr(v), g, w) for v, g, w in zip(x, got, want)
           if repr(g) != repr(w)]
    assert not bad, bad[:5]


VALUES = st.one_of(
    st.integers(-10**12, 10**12).map(_tie),  # magnitudes up to 1e6
    st.integers(-10**6, 10**6).map(_tie),
    st.sampled_from([1.2391595, 0.0, -0.0, 5e-7, -5e-7, 4.999999e-7,
                     -1e-9, 1e6, -1e6, 999999.9999995]),
    st.floats(-1e6, 1e6, allow_nan=False),
    st.floats(-2.0, 2.0, allow_nan=False),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(VALUES, max_size=40))
def test_array_rounding_equals_scalar(xs):
    _assert_same(np.array(xs, dtype=np.float64))


def test_array_rounding_equals_scalar_seeded_sweep():
    """200k values: ties, their neighbours one ulp away, and uniform
    values up to 1e6 in magnitude, both signs."""
    rng = np.random.default_rng(20261018)
    ties = np.array([_tie(int(k)) for k in
                     rng.integers(-10**12, 10**12, 50_000)])
    x = np.concatenate([
        ties, np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf),
        rng.uniform(-1e6, 1e6, 25_000), rng.uniform(-3.0, 3.0, 25_000),
    ])
    _assert_same(x)


def test_docstring_case_and_empty():
    assert round_half_up_array(np.array([1.2391595]), 6).tolist() \
        == [1.23916] == [round_half_up(1.2391595, 6)]
    assert round_half_up_array(np.zeros(0), 6).shape == (0,)
    assert np.isnan(round_half_up_array(np.array([np.nan]), 6)[0])


def test_zero_is_positive_as_in_spark():
    """Spark's ``F.round(x, 6)`` is +0.0 for -1e-17, -0.0 and -4e-7; the
    oracle hash renders -0.0 as '-0.0', so the sign must match."""
    xs = [-1e-17, -0.0, -4e-7, 0.0, 4e-7, -4.999999e-7]
    for v in [round_half_up(x, SCORE_ROUND) for x in xs] + \
            round_half_up_array(np.array(xs), SCORE_ROUND).tolist():
        assert v == 0.0 and math.copysign(1.0, v) == 1.0, xs
    assert math.copysign(1.0, round_half_up(-5e-7, SCORE_ROUND)) == -1.0
