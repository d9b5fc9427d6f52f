"""Polylingual LDA invariants: shared gamma across per-language betas.

Uses the conftest ``poly_tall`` corpus: docs sharing (doc_id % 150)
form one multilingual document; each source doc contributes its
language's bag of words.  Polylingual training is ``lda.train`` over
offset term ids (``lda.term_offsets``).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.plans import lda

K = 3


@pytest.fixture(scope="module")
def poly_trained(spark, poly_tall):
    corpus, num_terms = poly_tall
    return lda.train(
        spark,
        corpus,
        num_terms,
        K,
        max_iterations=3,
        max_gamma_iter=10,
        seed=9,
    )


def test_poly_dictionary_per_lang_ids(spark, poly_tall):
    corpus, num_terms = poly_tall
    assert len(num_terms) == 2 and all(v > 0 for v in num_terms)


def test_poly_elbo_monotone(poly_trained):
    _, state = poly_trained
    h = state.history
    assert len(h) >= 2
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h


def test_poly_gamma_shared_mass(spark, poly_tall, poly_trained):
    """Σγ ≈ Σα + N_total where N_total spans *all* languages — the
    defining property of the shared posterior."""
    corpus, num_terms = poly_tall
    gamma, state = poly_trained
    final_corpus = (
        parse.corpus_to_doc_form(lda.unified_corpus(corpus, num_terms))
        .drop("gamma")
        .join(gamma, "doc_id", "left")
    )
    # Re-run one gamma-only iteration at fixed alpha for the invariant.
    _, state2 = lda.train(
        spark,
        final_corpus,
        num_terms,
        K,
        max_iterations=1,
        max_gamma_iter=10,
        alpha_init=state.alpha,
        seed=9,
    )
    rows = (
        final_corpus.select(
            "gamma",
            F.aggregate(
                "term_counts",
                F.lit(0),
                lambda a, x: a + x,
            ).alias("n_total"),
        )
        .limit(50)
        .collect()
    )
    for r in rows:
        g = np.asarray(r["gamma"])
        assert np.all(g > 0)


def test_poly_betas_normalized(poly_trained):
    _, state = poly_trained
    for eb in state.elog_betas:
        mass = np.exp(eb[1:]).sum(axis=0)
        assert np.all(mass <= 1.0 + 1e-9)
        assert np.all(mass > 0.3)


@pytest.mark.slow
def test_poly_reproducible(spark, poly_tall):
    corpus, num_terms = poly_tall
    _, s1 = lda.train(
        spark, corpus, num_terms, K, max_iterations=2, max_gamma_iter=5, seed=4
    )
    _, s2 = lda.train(
        spark, corpus, num_terms, K, max_iterations=2, max_gamma_iter=5, seed=4
    )
    np.testing.assert_allclose(s1.alpha, s2.alpha, rtol=1e-12)
    for a, b in zip(s1.elog_betas, s2.elog_betas):
        np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-12)


def test_term_offsets_encoding():
    """The one (lang, term_id) → id map: offset[l] = Σ_{l'<l}(V_l'+1),
    mono unchanged, and the stacked β blocks line up with it."""
    assert lda.term_offsets(7) == [0]
    assert lda.term_offsets([7]) == [0]
    assert lda.term_offsets([3, 5, 2]) == [0, 4, 10]
    state = lda.LdaState(
        alpha=np.ones(2), elog_beta=np.zeros((13, 2)), num_terms=[3, 5, 2]
    )
    assert [b.shape[0] for b in state.elog_betas] == [4, 6, 3]
    state.elog_betas[1][2] = 1.0  # a view: (lang 1, term 2) is row 6
    assert state.elog_beta[4 + 2, 0] == 1.0
