"""Join-mode (distributed per-language β) polylingual EM must agree
with broadcast mode — the same parity contract as test_lda_join, with
the lang dimension riding the offset term id (``lda.term_offsets``)."""

import numpy as np
import pytest
from mr_lda_spark.plans import lda

K = 3
ITERS = 3
LANGS = ["en", "es"]


@pytest.mark.slow
def test_poly_join_matches_broadcast(spark, poly_tall):
    tall, num_terms = poly_tall

    _, s_bc = lda.train(
        spark, tall, num_terms, K,
        max_iterations=ITERS, max_gamma_iter=10, seed=9, converge=0.0,
    )
    gamma_df, s_join = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=ITERS, max_gamma_iter=10, seed=9, converge=0.0,
        shuffle_partitions=8,
    )

    # Same math, different reduction orders → tight but not bitwise.
    np.testing.assert_allclose(
        np.array(s_join.history), np.array(s_bc.history), rtol=1e-8
    )
    np.testing.assert_allclose(s_join.alpha, s_bc.alpha, rtol=1e-6)
    assert len(s_join.elog_betas) == len(LANGS)
    for lang in range(len(LANGS)):
        np.testing.assert_allclose(
            s_join.elog_betas[lang][1:],
            s_bc.elog_betas[lang][1:],
            rtol=1e-6,
            atol=1e-8,
        )
    assert gamma_df.count() == tall.select("doc_id").distinct().count()


@pytest.mark.slow
def test_poly_join_gamma_matches_broadcast(spark, poly_tall):
    """Per-document γ parity, not just corpus-level aggregates."""
    tall, num_terms = poly_tall
    final_bc, _ = lda.train(
        spark, tall, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=4, converge=0.0,
    )
    gamma_join, _ = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=2, max_gamma_iter=8, seed=4, converge=0.0,
        shuffle_partitions=8,
    )
    bc = {r["doc_id"]: r["gamma"] for r in final_bc.select("doc_id", "gamma").collect()}
    jn = {r["doc_id"]: r["gamma"] for r in gamma_join.collect()}
    assert set(jn) <= set(bc)
    for doc_id, g in jn.items():
        np.testing.assert_allclose(np.array(g), np.array(bc[doc_id]), rtol=1e-7)


@pytest.mark.slow
def test_poly_join_elbo_monotone(spark, poly_tall):
    tall, num_terms = poly_tall
    _, state = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=ITERS, max_gamma_iter=10, seed=5, converge=0.0,
        shuffle_partitions=8,
    )
    h = state.history
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h


def test_poly_infer_join_matches_broadcast_infer(spark, poly_tall):
    """Held-out polylingual scoring: per-doc γ and ll through the
    β join on offset term ids (auto-broadcast disabled) must match
    broadcast infer under the same trained state."""
    tall, num_terms = poly_tall
    _, state = lda.train(
        spark, tall, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=9, converge=0.0,
    )
    bc = {
        r["doc_id"]: (r["gamma"], r["doc_ll"])
        for r in lda.infer(
            spark, tall, state, max_gamma_iter=10
        ).collect()
    }
    join_state = lda.LdaState(
        alpha=state.alpha,
        elog_beta=lda.beta_relation(lda.beta_dataframe(spark, state)),
        num_terms=num_terms,
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        jn = {
            r["doc_id"]: (r["gamma"], r["doc_ll"])
            for r in lda.infer(
                spark, tall, join_state, max_gamma_iter=10
            ).collect()
        }
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert set(jn) == set(bc)
    for doc_id, (g, ll) in jn.items():
        np.testing.assert_allclose(
            np.array(g), np.array(bc[doc_id][0]), rtol=1e-7
        )
        np.testing.assert_allclose(ll, bc[doc_id][1], rtol=1e-7)
