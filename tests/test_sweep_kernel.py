"""Spark-free checks of the E-step sweep kernel: the linear-space
``numpy_sweep_backend`` against the log-space ``_log_sweep`` it falls
back to, on seeded padded batches."""

import numpy as np
import pytest

from mr_lda_spark.functions.special import digamma
from mr_lda_spark.plans import lda

B, N_MAX, K = 12, 9, 8
SWEEPS = 150


def _batch(seed, alpha0):
    """A padded batch as the E-step builds it: ragged documents whose
    padding slots have count 0 and E[log β] at the DEFAULT_LOG_ETA
    floor, ordinary normalized E[log β] rows, and some entries at the
    ψ(η) ≈ −1e12 floor of never-seen terms (every row keeps at least
    one ordinary entry)."""
    rng = np.random.default_rng(seed)
    logits = rng.standard_normal((B, N_MAX, K)) * 2.0
    elb = logits - np.log(np.exp(logits).sum(axis=2, keepdims=True))
    floor = rng.random((B, N_MAX, K)) < 0.3
    floor[..., 0] = False
    elb[floor] = digamma(1e-12) + rng.random(int(floor.sum()))
    counts = rng.integers(1, 5, size=(B, N_MAX)).astype(np.float64)
    lens = rng.integers(1, N_MAX + 1, size=B)
    pad = np.arange(N_MAX)[None, :] >= lens[:, None]
    counts[pad] = 0.0
    elb[pad] = lda.DEFAULT_LOG_ETA
    alpha = np.full(K, alpha0)
    gamma = alpha[None, :] + counts.sum(axis=1)[:, None] / K
    return elb, counts, gamma, alpha


def _run_counting_sweeps(monkeypatch, kernel, args):
    """``kernel(*args)`` on a copy of γ, and the sweeps it ran: both
    kernels take ψ(γ) once per sweep."""
    calls = []

    def counting_digamma(x):
        calls.append(1)
        return digamma(x)

    elb, counts, gamma, alpha, sweeps, tol = args
    with monkeypatch.context() as m:
        m.setattr(lda, "digamma", counting_digamma)
        out = kernel(elb, counts, gamma.copy(), alpha, sweeps, tol)
    return out, len(calls)


@pytest.mark.parametrize("alpha0", [0.1, 0.01])
@pytest.mark.parametrize("gamma_tol", [0.0, 1e-8])
@pytest.mark.parametrize("seed", [0, 1])
def test_linear_sweep_matches_log_sweep(monkeypatch, seed, alpha0, gamma_tol):
    """Same γ, φ and log φ as the log-space sweep, and with a
    tolerance the same number of sweeps before the early exit."""
    elb, counts, gamma, alpha = _batch(seed, alpha0)
    args = (elb, counts, gamma, alpha, SWEEPS, gamma_tol)
    got, got_sweeps = _run_counting_sweeps(monkeypatch, lda.numpy_sweep_backend, args)
    want, want_sweeps = _run_counting_sweeps(monkeypatch, lda._log_sweep, args)
    np.testing.assert_allclose(got[0], want[0], rtol=1e-10)
    # log φ near 0 (φ near 1) carries only absolute precision.
    np.testing.assert_allclose(got[1], want[1], rtol=1e-10, atol=1e-14)
    np.testing.assert_allclose(got[2], want[2], rtol=1e-10)
    assert got_sweeps == want_sweeps
    assert (got_sweeps < SWEEPS) == (gamma_tol > 0.0)


def test_underflowing_normalizer_falls_back_to_log_sweep(monkeypatch):
    """Tiny α on a topic the document lacks, and a token whose mass
    sits on that topic: the linear normalizer underflows to 0, so the
    batch re-runs in log space and the result is the log sweep's."""
    elb = np.array([[[0.0, -800.0], [-0.5, -1.0]]])
    counts = np.array([[1.0, 2.0]])
    alpha = np.array([1e-3, 5.0])
    gamma = np.array([[1e-3, 7.0]])
    got = lda.numpy_sweep_backend(elb, counts, gamma.copy(), alpha, 20, 0.0)
    want = lda._log_sweep(elb, counts, gamma.copy(), alpha, 20, 0.0)
    for g, w in zip(got, want):
        assert np.all(np.isfinite(g))
        np.testing.assert_array_equal(g, w)
    # Without the floor the linear form divides by the underflowed 0.
    monkeypatch.setattr(lda, "_NORM_FLOOR", 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = lda.numpy_sweep_backend(elb, counts, gamma.copy(), alpha, 20, 0.0)
    assert not np.all(np.isfinite(raw[0]))


def test_phi_normalizes_on_a_row_at_the_eta_floor():
    """A dictionary term never seen in training has every E[log β]
    entry near ψ(η) ≈ −1e12; its φ still sums to 1 over the topics
    (the unshifted log form rounded ψ(γ) away there: sums of 0.99997)."""
    rng = np.random.default_rng(4)
    elb = np.log(rng.dirichlet(np.ones(K), size=(1, 3)))
    # The M-step's E[log β] of an unseen term: ψ(η) − ψ(Σ_v λ_vk).
    elb[0, 1] = digamma(1e-12) - digamma(rng.uniform(100.0, 1000.0, K))
    counts = np.array([[2.0, 1.0, 3.0]])
    alpha = np.full(K, 0.1)
    gamma = rng.random((1, K)) * 5 + 0.1
    _, lpn, phi = lda.numpy_sweep_backend(elb, counts, gamma, alpha, 10, 0.0)
    np.testing.assert_allclose(phi.sum(axis=2), 1.0, rtol=0, atol=1e-12)
    np.testing.assert_allclose(np.exp(lpn).sum(axis=2), 1.0, rtol=0, atol=1e-12)
