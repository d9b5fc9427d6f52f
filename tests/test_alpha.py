"""Golden-value tests for the Newton–Raphson alpha updates.

Values ported verbatim from the reference's own unit tests
(VariationalInferenceTest.java:27-62) — they pin the Dirichlet-MLE math
to 1e-10.
"""

import warnings

import numpy as np
import pytest

from mr_lda_spark.functions.alpha import update_alpha_scalar, update_alpha_vector

PRECISION = 1e-10


def test_update_alpha_vector_golden():
    alpha = np.array([0.4736839726180464, 9.928726975283879, 8.319361678447014])
    ss = np.array([-23792.9569126969113, -22519.9434073184025, -23973.2360888324797])
    out = update_alpha_vector(112, alpha, ss)
    expected = np.array([0.4736839726180464, 9.92872697528388, 8.319361678447015])
    np.testing.assert_allclose(out, expected, atol=PRECISION, rtol=0)


@pytest.mark.parametrize(
    "k,d,init,ss,expected",
    [
        (5, 2246, 100, -40100.9192398908126052, 0.2958548131184747),
        (5, 2246, 100, -34828.2371112336259102, 0.3731832583179411),
        (5, 2246, 100, -37309.1699276268700487, 0.3319329678764105),
        (5, 2246, 100, -44085.8660385293114814, 0.2568195157403902),
        (10, 2246, 100, -155990.5727383689954877, 0.1531475153565107),
        (10, 2246, 100, -196359.2521305996051524, 0.1150183709445565),
        (10, 2246, 100, -226577.3570433593704365, 0.0972395316113154),
        (10, 2246, 100, -256318.9209672076685820, 0.0845206104885002),
    ],
)
def test_update_alpha_scalar_golden(k, d, init, ss, expected):
    assert update_alpha_scalar(k, d, init, ss) == pytest.approx(
        expected, abs=PRECISION
    )


def test_update_alpha_vector_single_topic_is_unchanged():
    """K=1: θ ≡ 1 for every document, so the ELBO does not depend on α
    and the update returns it as given, without the Newton step's 0/0."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = update_alpha_vector(40, np.array([0.7]), np.array([0.0]))
    np.testing.assert_array_equal(out, [0.7])
