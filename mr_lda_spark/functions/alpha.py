"""Dirichlet hyperparameter (alpha) Newton–Raphson updates — driver-side
numpy (A8 in SURVEY.md §2.4).

Semantics mirror the reference implementation exactly
(VariationalInference.java:409-511 vector form with 0.8^decay step
damping and singular-Hessian retreat; :573-625 scalar form in
log-space), which is itself the standard linear-time Newton step for
the Dirichlet MLE (Blei, Ng, Jordan 2003, appendix A.2; Minka 2000,
"Estimating a Dirichlet distribution").  Pinned by the reference's own
golden tests (VariationalInferenceTest.java:27-62), ported in
tests/test_alpha.py.
"""

from __future__ import annotations

import numpy as np

from mr_lda_spark.functions.special import polygamma, psi

ALPHA_CONVERGE = 1e-6  # Settings.java:60
ALPHA_MAX_ITER = 1000  # Settings.java:61
ALPHA_MAX_DECAY = 10  # Settings.java:62
ALPHA_DECAY_FACTOR = 0.8  # Settings.java:63 (float in the reference)
ALPHA_SCALE_FACTOR = 10  # Settings.java:68


def _trigamma(x):
    return polygamma(1, x)


def update_alpha_vector(
    num_docs: int,
    alpha: np.ndarray,
    alpha_sufficient_statistics: np.ndarray,
) -> np.ndarray:
    """Asymmetric alpha update.

    Maximizes the alpha-dependent ELBO terms given the corpus statistic
    ss_k = sum_d (psi(gamma_dk) - psi(sum_j gamma_dj)) using the
    special-structure Newton step (diagonal Hessian + rank-one), with
    geometric step decay when a step would drive any component
    non-positive.
    """
    alpha = np.asarray(alpha, dtype=np.float64).copy()
    if alpha.shape[0] == 1:
        # One topic: θ ≡ 1 for every document, so the ELBO does not
        # depend on α (the Newton step would divide 0 by 0).
        return alpha
    ss = np.asarray(alpha_sufficient_statistics, dtype=np.float64)
    decay = 0

    for _ in range(ALPHA_MAX_ITER + 1):
        alpha_sum = alpha.sum()
        gradient = num_docs * (psi(alpha_sum) - psi(alpha)) + ss
        hessian_diag = -num_docs * _trigamma(alpha)
        if not np.all(np.isfinite(gradient)):
            break
        z = num_docs * _trigamma(alpha_sum)
        c = (gradient / hessian_diag).sum() / (1.0 / z + (1.0 / hessian_diag).sum())

        # Damped step: retreat geometrically while any component would
        # go non-positive (the "singular Hessian" branch of the
        # reference); give up after ALPHA_MAX_DECAY retreats.
        while True:
            step = (ALPHA_DECAY_FACTOR**decay) * (gradient - c) / hessian_diag
            if np.all(alpha > step):
                new_alpha = alpha - step
                break
            decay += 1
            if decay > ALPHA_MAX_DECAY:
                return alpha
        if np.all(np.abs((new_alpha - alpha) / alpha) < ALPHA_CONVERGE):
            return new_alpha
        alpha = new_alpha
    return alpha


def update_alpha_scalar(
    num_topics: int,
    num_docs: int,
    alpha_init: float,
    alpha_sufficient_statistics: float,
) -> float:
    """Symmetric (scalar) alpha update in log space; the ss here is the
    *summed* statistic over topics.  Restarts from alpha_init*10 on
    numerical blowup."""
    alpha = float(alpha_init)
    k = num_topics
    for _ in range(ALPHA_MAX_ITER + 1):
        if not np.isfinite(alpha):
            alpha_init *= ALPHA_SCALE_FACTOR
            alpha = alpha_init
        alpha_sum = alpha * k
        gradient = (
            num_docs * (k * psi(alpha_sum) - k * psi(alpha))
            + alpha_sufficient_statistics
        )
        hessian = num_docs * (k * k * _trigamma(alpha_sum) - k * _trigamma(alpha))
        alpha = float(
            np.exp(np.log(alpha) - gradient / (hessian * alpha + gradient))
        )
        if abs(gradient) < ALPHA_CONVERGE:
            break
    return alpha
