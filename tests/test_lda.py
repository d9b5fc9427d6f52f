"""Invariant tests for the native VB-EM LDA (SURVEY.md §5 implications:
the stochastic core is checked by invariants, not value hashes).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.plans import lda

K = 4
ITERS = 4


@pytest.fixture(scope="module")
def encoded(spark, documents):
    tokens = parse.tokenize(documents)
    stats = parse.term_stats(tokens)
    dictionary = parse.build_dictionary(stats, documents.count())
    corpus_tall = parse.encode_corpus(tokens, dictionary)
    corpus_doc = parse.corpus_to_doc_form(corpus_tall)
    num_terms = dictionary.count()
    return corpus_doc, num_terms


@pytest.fixture(scope="module")
def trained(spark, encoded):
    corpus_doc, num_terms = encoded
    final_corpus, state = lda.train(
        spark,
        corpus_doc,
        num_terms=num_terms,
        num_topics=K,
        max_iterations=ITERS,
        max_gamma_iter=20,
        seed=7,
    )
    return final_corpus, state, num_terms


def test_elbo_monotone_nondecreasing(trained):
    """The reference's own convergence signal
    (VariationalInference.java:381-387): ELBO must not decrease."""
    _, state, _ = trained
    h = state.history
    assert len(h) >= 2
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, f"ELBO decreased: {h}"


def test_gamma_valid(spark, encoded, trained):
    """γ > 0 and Σγ ≈ Σα + N_d (token mass conservation of the VB
    update γ = α + Σ c·φ).  Checked on an infer pass, where α is the
    fixed final α (during training each iteration's γ reflects that
    iteration's α, which the later α update then replaces)."""
    corpus_doc, _ = encoded
    _, state, _ = trained
    inferred = lda.infer(spark, corpus_doc, state, max_gamma_iter=10)
    lengths = corpus_doc.select(
        "doc_id",
        F.aggregate(
            F.transform("term_counts", lambda c: c.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("n_tokens"),
    )
    rows = inferred.join(lengths, "doc_id").select("gamma", "n_tokens").collect()
    alpha_sum = state.alpha.sum()
    for r in rows:
        g = np.asarray(r["gamma"])
        assert np.all(g > 0)
        assert g.sum() == pytest.approx(alpha_sum + r["n_tokens"], rel=1e-6)


def test_beta_normalized(trained):
    """Σ_v exp(E[log β_kv]) ≤ 1 (Jensen) and close to 1."""
    _, state, _ = trained
    mass = np.exp(state.elog_beta[1:]).sum(axis=0)
    assert np.all(mass <= 1.0 + 1e-9)
    assert np.all(mass > 0.5)


def test_alpha_positive(trained):
    _, state, _ = trained
    assert np.all(state.alpha > 0)
    assert np.all(np.isfinite(state.alpha))


@pytest.mark.slow
def test_seeded_reproducibility(spark, encoded):
    """Two runs with the same seed are bitwise identical (the reference
    is NOT reproducible — Math.random() in init paths; we fix that,
    SURVEY.md §7.3)."""
    corpus_doc, num_terms = encoded
    _, s1 = lda.train(
        spark, corpus_doc, num_terms, K, max_iterations=2, max_gamma_iter=10, seed=11
    )
    _, s2 = lda.train(
        spark, corpus_doc, num_terms, K, max_iterations=2, max_gamma_iter=10, seed=11
    )
    # Kernel math is bitwise-seeded; the cross-partition relational
    # combine is order-insensitive only up to float associativity, so
    # allow last-ulp jitter.
    np.testing.assert_allclose(s1.alpha, s2.alpha, rtol=1e-12)
    np.testing.assert_allclose(s1.elog_beta, s2.elog_beta, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(s1.history, s2.history, rtol=1e-12)


@pytest.mark.slow
def test_gamma_tol_converges_to_same_model(spark, encoded):
    """Convergence-gated sweeps (gamma_tol) must reach the same optimum
    as fixed sweeps, just cheaper (SURVEY §7.3 mitigation for the
    reference's fixed-100-sweep E-step)."""
    corpus_doc, num_terms = encoded
    _, fixed = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=3, max_gamma_iter=30, seed=17, converge=0.0,
    )
    _, gated = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=3, max_gamma_iter=30, seed=17, converge=0.0,
        gamma_tol=1e-5,
    )
    assert gated.history[-1] == pytest.approx(fixed.history[-1], rel=1e-4)
    for a, b in zip(gated.history, gated.history[1:]):
        assert b >= a - abs(a) * 1e-6


def test_infer_heldout(spark, encoded, trained):
    """Test mode: γ-only pass returns finite posteriors for all docs."""
    corpus_doc, num_terms = encoded
    _, state, _ = trained
    out = lda.infer(spark, corpus_doc, state, max_gamma_iter=10)
    rows = out.collect()
    assert len(rows) == corpus_doc.count()
    for r in rows[:20]:
        g = np.asarray(r["gamma"])
        assert np.all(np.isfinite(g)) and np.all(g > 0)
        assert np.isfinite(r["doc_ll"])


@pytest.mark.slow
def test_resume_from_gamma(spark, encoded):
    """Resume (-modelindex analogue): carrying γ forward yields a
    higher-or-equal first-iteration ELBO than a cold start."""
    corpus_doc, num_terms = encoded
    gamma, s1 = lda.train(
        spark, corpus_doc, num_terms, K, max_iterations=2, max_gamma_iter=10, seed=3
    )
    warm_corpus = corpus_doc.drop("gamma").join(gamma, "doc_id", "left")
    _, s2 = lda.train(
        spark, warm_corpus, num_terms, K, max_iterations=1, max_gamma_iter=10, seed=3
    )
    assert s2.history[0] >= s1.history[0]


def test_display_document_flat(spark, encoded, trained):
    """flat=True explodes the normalized posterior to (doc_id, topic,
    weight) scalar rows — per-doc weights sum to 1, one row per topic."""
    from mr_lda_spark.operators import display

    corpus_doc, _ = encoded
    _, state, _ = trained
    gamma = lda.infer(spark, corpus_doc, state, max_gamma_iter=5)
    flat = display.display_document(gamma, flat=True)
    assert flat.columns == ["doc_id", "topic", "weight"]
    agg = flat.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum("weight").alias("s")
    ).collect()
    assert all(r["n"] == K for r in agg)
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in agg)


def _mode_corpus(encoded, poly_tall, langs):
    """(corpus, num_terms) for a mono or an L=2 run."""
    return encoded if langs == "mono" else poly_tall


MODES = [
    pytest.param(b, l, id=f"{b}-{l}")
    for b in ("broadcast", "join") for l in ("mono", "L2")
]


@pytest.mark.slow
@pytest.mark.parametrize("beta_mode,langs", MODES)
def test_estep_backend_hook(spark, encoded, poly_tall, beta_mode, langs):
    """The pluggable sweep backend (accelerator hook) reaches every
    mode: a delegating backend matches the default; a truncated
    backend diverges — i.e. the injected kernel really runs on
    executors.

    The backends are nested closures so cloudpickle ships them by
    VALUE (a user's custom kernel won't be importable on executors
    either — this also pins that the hook survives that path).
    """
    from mr_lda_spark.plans.lda import numpy_sweep_backend

    def _tracing_backend(elb, counts_pad, gamma, alpha, max_iter, tol):
        return numpy_sweep_backend(
            elb, counts_pad, gamma, alpha, max_iter, tol
        )

    def _one_sweep_backend(elb, counts_pad, gamma, alpha, max_iter, tol):
        # Truncate to a single sweep — observably different model
        # trajectory proves the hook is in the executor hot path.
        return numpy_sweep_backend(elb, counts_pad, gamma, alpha, 1, 0.0)

    corpus, num_terms = _mode_corpus(encoded, poly_tall, langs)
    kw = dict(max_iterations=2, max_gamma_iter=10, seed=11, beta_mode=beta_mode)
    _, base = lda.train(spark, corpus, num_terms, K, **kw)
    _, same = lda.train(
        spark, corpus, num_terms, K, estep_backend=_tracing_backend, **kw
    )
    # Tight allclose, not bitwise: the φ logsumexp combiner sums
    # partition partials in shuffle arrival order, so two runs of the
    # SAME code already differ by ~1 ulp.
    np.testing.assert_allclose(base.elog_beta, same.elog_beta, rtol=1e-12)
    np.testing.assert_allclose(base.alpha, same.alpha, rtol=1e-12)

    _, diff = lda.train(
        spark, corpus, num_terms, K, estep_backend=_one_sweep_backend, **kw
    )
    assert not np.allclose(base.elog_beta, diff.elog_beta, rtol=1e-6)


@pytest.mark.parametrize("beta_mode", ["broadcast", "join"])
def test_empty_documents_leave_alpha_unchanged(spark, beta_mode):
    """Empty documents (e.g. from a reference SequenceFile corpus) are
    dropped by the E-step (P7), so they must not count towards D in the
    α update either: adding them leaves α and the ELBO history as they
    were, in both β placements."""
    rows = [
        (d, [1 + d % 6, 1 + (d + 2) % 6], [1 + d % 3, 2]) for d in range(24)
    ]
    schema = "doc_id long, term_ids array<int>, term_counts array<int>"
    corpus = spark.createDataFrame(rows, schema)
    padded = spark.createDataFrame(
        rows + [(100 + d, [], []) for d in range(8)], schema
    )
    kw = dict(
        max_iterations=2, max_gamma_iter=8, seed=5, converge=0.0,
        beta_mode=beta_mode,
    )
    _, ref = lda.train(spark, corpus, 6, 3, **kw)
    _, got = lda.train(spark, padded, 6, 3, **kw)
    np.testing.assert_allclose(got.alpha, ref.alpha, rtol=1e-10)
    np.testing.assert_allclose(got.history, ref.history, rtol=1e-10)
    assert got.total_tokens == ref.total_tokens


@pytest.mark.parametrize("beta_mode", ["broadcast", "join"])
def test_corpus_without_tokens_is_a_named_error(spark, beta_mode):
    """No rows at all, or only empty documents (an all-stopword parse):
    the E-step emits no statistics, so training stops with
    EmptyCorpusError after the first pull instead of dividing by a
    zero ELBO at the convergence check."""
    schema = "doc_id long, term_ids array<int>, term_counts array<int>"
    for rows in ([], [(d, [], []) for d in range(4)]):
        corpus = spark.createDataFrame(rows, schema)
        with pytest.raises(lda.EmptyCorpusError, match="no tokens"):
            lda.train(spark, corpus, 6, 3, max_iterations=3, max_gamma_iter=4,
                      beta_mode=beta_mode)


def _kernel_batches(elog_beta, carry_beta):
    """Two pandas batches of a tiny seeded corpus (one doc empty), in
    the broadcast (gather) or the join (row-carried β slices) layout."""
    rng = np.random.default_rng(3)
    docs = []
    for d in range(9):
        n = int(rng.integers(1, 6)) if d != 4 else 0
        terms = np.sort(rng.choice(np.arange(1, 13), size=n, replace=False))
        docs.append((d, terms.astype(np.int32), rng.integers(1, 4, size=n)))
    batches = []
    for chunk in (docs[:5], docs[5:]):
        pdf = pd.DataFrame(
            {
                "doc_id": [d for d, _, _ in chunk],
                "term_ids": [t for _, t, _ in chunk],
                "term_counts": [c for _, _, c in chunk],
                "gamma": [None] * len(chunk),
            }
        )
        if carry_beta:
            pdf["betas"] = [list(elog_beta[t]) for _, t, _ in chunk]
        batches.append(pdf)
    return batches


def test_kernel_gather_equals_row_carried_beta():
    """The one E-step kernel, called without Spark: a broadcast-gather
    input and a row-carried-β input give identical γ, per-doc ll and
    α/ELBO stats rows, and the same merged φ partials (dense vs
    size-bounded accumulator)."""
    elog_beta = lda.init_elog_beta(12, K, seed=1)
    alpha = np.full(K, 0.3)
    outs = []
    for carry in (False, True):
        run = lda._estep_kernel(
            alpha, 10, learning=True, elog_beta=None if carry else elog_beta
        )
        frames = run(_kernel_batches(elog_beta, carry))
        outs.append(pd.DataFrame([r for f in frames for r in f.itertuples(index=False)]))
    gather, carried = outs
    for kind in ("doc", "stats"):
        a, b = gather[gather.kind == kind], carried[carried.kind == kind]
        assert list(a["id"]) == list(b["id"])
        np.testing.assert_array_equal(np.stack(a["vec"]), np.stack(b["vec"]))
        np.testing.assert_array_equal(a["ll"].astype(float), b["ll"].astype(float))
    docs = gather[gather.kind == "doc"]
    assert 4 not in set(docs["id"]) and len(docs) == 8  # P7: empty doc dropped
    phi_a = {i: v for i, v in zip(*gather[gather.kind == "phi"][["id", "vec"]].T.values)}
    phi_b = {i: v for i, v in zip(*carried[carried.kind == "phi"][["id", "vec"]].T.values)}
    assert phi_a.keys() == phi_b.keys()
    for t in phi_a:
        np.testing.assert_allclose(phi_a[t], phi_b[t], rtol=1e-13)
