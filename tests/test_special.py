"""Accuracy tests for the self-contained special functions.

Reference values computed to high precision (mpmath/Wolfram published
values for psi, psi', log-gamma at these points).
"""

import math

import numpy as np
import pytest

from mr_lda_spark.functions.special import digamma, gammaln, trigamma

# (x, psi(x)) — 15 significant digits
DIGAMMA_VALUES = [
    (0.1, -10.4237549404110768),
    (0.5, -1.9635100260214235),
    (1.0, -0.5772156649015329),
    (1.5, 0.0364899739785765),
    (2.0, 0.4227843350984671),
    (6.0, 1.7061176684318003),
    (10.0, 2.2517525890667211),
    (100.0, 4.6001618527380874),
    (10000.0, 9.2102903711428553),
]

# (x, psi'(x))
TRIGAMMA_VALUES = [
    (0.1, 101.4332991507927),
    (0.5, 4.9348022005446793),
    (1.0, 1.6449340668482264),
    (2.0, 0.6449340668482264),
    (10.0, 0.1051663356816857),
    (100.0, 0.0100501666633336),
]


@pytest.mark.parametrize("x,expected", DIGAMMA_VALUES)
def test_digamma(x, expected):
    assert digamma(x) == pytest.approx(expected, abs=1e-11)


@pytest.mark.parametrize("x,expected", TRIGAMMA_VALUES)
def test_trigamma(x, expected):
    assert trigamma(x) == pytest.approx(expected, rel=1e-10)


def test_gammaln_matches_stdlib():
    xs = np.array([0.01, 0.3, 0.47, 1.0, 2.5, 10.0, 100.0, 1e5])
    got = gammaln(xs)
    want = np.array([math.lgamma(float(x)) for x in xs])
    np.testing.assert_allclose(got, want, atol=1e-9, rtol=1e-12)


def test_vectorized_matches_scalar():
    xs = np.linspace(0.05, 50.0, 1000)
    vec = digamma(xs)
    sc = np.array([digamma(float(x)) for x in xs])
    np.testing.assert_allclose(vec, sc, rtol=0, atol=0)
    vec_t = trigamma(xs)
    sc_t = np.array([trigamma(float(x)) for x in xs])
    np.testing.assert_allclose(vec_t, sc_t, rtol=0, atol=0)


def _digamma_masked(x):
    """digamma as it ran its recurrence before: boolean-mask fancy
    indexing, one masked update per step."""
    from mr_lda_spark.functions.special import _DIGAMMA_COEF, _SHIFT

    x = np.asarray(x, dtype=np.float64)
    scalar = x.ndim == 0
    x = np.atleast_1d(x).copy()
    result = np.zeros_like(x)
    mask = x < _SHIFT
    while np.any(mask):
        result[mask] -= 1.0 / x[mask]
        x[mask] += 1.0
        mask = x < _SHIFT
    inv = 1.0 / x
    inv2 = inv * inv
    series = np.zeros_like(x)
    p = inv2.copy()
    for c in _DIGAMMA_COEF:
        series += c * p
        p *= inv2
    result += np.log(x) - 0.5 * inv - series
    return result[0] if scalar else result


@pytest.mark.parametrize(
    "x",
    [
        np.logspace(-12, 6, 10001),
        np.float64(0.37),
        np.random.default_rng(0).gamma(0.5, 20.0, size=(600, 20)) + 1e-3,
    ],
    ids=["logspace", "0-d", "600x20"],
)
def test_digamma_bit_identical_to_masked_recurrence(x):
    got, want = digamma(x), _digamma_masked(x)
    assert np.shape(got) == np.shape(want)
    assert np.array_equal(got, want)
