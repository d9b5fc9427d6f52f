"""Join placement (distributed β) EM must agree with broadcast mode."""

import numpy as np
import pytest

from mr_lda_spark.operators import parse
from mr_lda_spark.plans import lda

K = 3
ITERS = 3


@pytest.fixture(scope="module")
def encoded(spark, documents):
    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(parse.term_stats(tokens), documents.count())
    tall = parse.encode_corpus(tokens, dictionary)
    return tall, dictionary.count()


@pytest.mark.slow
def test_join_mode_matches_broadcast_mode(spark, encoded):
    tall, num_terms = encoded
    corpus_doc = parse.corpus_to_doc_form(tall)

    _, s_bc = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=ITERS, max_gamma_iter=10, seed=21, converge=0.0,
    )
    gamma_df, s_join = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=ITERS, max_gamma_iter=10, seed=21, converge=0.0,
        shuffle_partitions=8,
    )

    # Same math, different reduction orders → tight but not bitwise.
    np.testing.assert_allclose(
        np.array(s_join.history), np.array(s_bc.history), rtol=1e-8
    )
    np.testing.assert_allclose(s_join.alpha, s_bc.alpha, rtol=1e-6)
    np.testing.assert_allclose(
        s_join.elog_beta[1:], s_bc.elog_beta[1:], rtol=1e-6, atol=1e-8
    )
    assert gamma_df.count() == corpus_doc.count()


@pytest.mark.slow
def test_join_mode_elbo_monotone(spark, encoded):
    tall, num_terms = encoded
    _, state = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=ITERS, max_gamma_iter=10, seed=5, converge=0.0,
        shuffle_partitions=8,
    )
    h = state.history
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h


@pytest.mark.slow
def test_infer_join_matches_broadcast_infer(spark, encoded):
    """Held-out γ-only pass through the β join (VERDICT r5 item #2):
    per-doc γ and log-likelihood must match broadcast-mode lda.infer,
    including with auto-broadcast disabled (the past-the-cliff plan)."""
    tall, num_terms = encoded
    corpus_doc = parse.corpus_to_doc_form(tall)
    _, state = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=21, converge=0.0,
    )
    bc = {
        r["doc_id"]: (r["gamma"], r["doc_ll"])
        for r in lda.infer(spark, corpus_doc, state, max_gamma_iter=12).collect()
    }
    join_state = lda.LdaState(
        alpha=state.alpha,
        elog_beta=lda.beta_relation(lda.beta_dataframe(spark, state)),
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        jn = {
            r["doc_id"]: (r["gamma"], r["doc_ll"])
            for r in lda.infer(
                spark, tall, join_state, max_gamma_iter=12
            ).collect()
        }
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert set(jn) == set(bc)
    for doc_id, (g, ll) in jn.items():
        np.testing.assert_allclose(np.array(g), np.array(bc[doc_id][0]), rtol=1e-7)
        np.testing.assert_allclose(ll, bc[doc_id][1], rtol=1e-7)


@pytest.mark.slow
def test_join_mode_informed_prior_matches_broadcast(spark, encoded):
    """Join-mode M-step with an informed prior: the dense distributed
    η relation must reproduce broadcast mode's dense η matrix exactly
    (non-seed terms carry 0.001 mass in the normalizer — a sparse λ
    relation would get every β row wrong)."""
    tall, num_terms = encoded
    corpus_doc = parse.corpus_to_doc_form(tall)
    # seeds: two topics pinned on a few low term ids
    seeds = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4), (2, 5)], "topic int, term_id int"
    )
    _, s_bc = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=7, converge=0.0,
        eta_seeds=seeds,
    )
    _, s_join = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=2, max_gamma_iter=8, seed=7, converge=0.0,
        shuffle_partitions=8, eta_seeds=seeds,
    )
    np.testing.assert_allclose(
        np.array(s_join.history), np.array(s_bc.history), rtol=1e-8
    )
    np.testing.assert_allclose(s_join.alpha, s_bc.alpha, rtol=1e-6)
    np.testing.assert_allclose(
        s_join.elog_beta[1:], s_bc.elog_beta[1:], rtol=1e-6, atol=1e-8
    )


@pytest.mark.slow
def test_join_mode_gamma_tol_converges(spark, encoded):
    """Convergence-gated sweeps in the join kernel: gamma_tol > 0 still
    yields a monotone ELBO and a result near the exact-sweep run (the
    gate only skips sweeps that were no longer moving gamma)."""
    tall, num_terms = encoded
    _, exact = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=2, max_gamma_iter=20, seed=3, converge=0.0,
        shuffle_partitions=8,
    )
    _, gated = lda.train(
        spark, tall, num_terms, K, beta_mode="join",
        max_iterations=2, max_gamma_iter=20, seed=3, converge=0.0,
        shuffle_partitions=8, gamma_tol=1e-4,
    )
    h = gated.history
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h
    np.testing.assert_allclose(
        np.array(gated.history), np.array(exact.history), rtol=1e-3
    )
    np.testing.assert_allclose(gated.alpha, exact.alpha, rtol=1e-2)


@pytest.mark.slow
def test_join_mode_resume_matches_broadcast_resume(spark, encoded):
    """Warm resume (the reference's -modelindex): a γ snapshot carried
    into join mode must reproduce broadcast mode's resumed run."""
    tall, num_terms = encoded
    corpus_doc = parse.corpus_to_doc_form(tall)
    # Phase 1: train 1 iteration in broadcast mode; snapshot γ.
    final1, s1 = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=1, max_gamma_iter=8, seed=11, converge=0.0,
    )
    snap = final1.select("doc_id", "gamma").localCheckpoint()
    # Phase 2a: resume broadcast (gamma column on the corpus).
    _, s_bc = lda.train(
        spark, corpus_doc.drop("gamma").join(snap, "doc_id", "left"),
        num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=11, converge=0.0,
        alpha_init=s1.alpha,
    )
    # Phase 2b: resume join mode (the same gamma column).
    _, s_join = lda.train(
        spark, corpus_doc.drop("gamma").join(snap, "doc_id", "left"),
        num_terms, K, beta_mode="join",
        max_iterations=2, max_gamma_iter=8, seed=11, converge=0.0,
        shuffle_partitions=8, alpha_init=s1.alpha,
    )
    np.testing.assert_allclose(
        np.array(s_join.history), np.array(s_bc.history), rtol=1e-8
    )
    np.testing.assert_allclose(s_join.alpha, s_bc.alpha, rtol=1e-6)
