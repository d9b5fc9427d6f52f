"""Invariant tests for the native VB-EM LDA (SURVEY.md §5 implications:
the stochastic core is checked by invariants, not value hashes).
"""

import warnings

import numpy as np
import pyarrow as pa
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


@pytest.mark.parametrize("beta_mode", ["broadcast", "join"])
def test_zero_gamma_iterations_is_a_named_error(spark, beta_mode):
    """max_gamma_iter < 1 (``--gamma-iteration 0``) would leave the
    E-step without φ; train and infer refuse it before any job runs."""
    schema = "doc_id long, term_ids array<int>, term_counts array<int>"
    corpus = spark.createDataFrame([(0, [1, 2], [1, 3])], schema)
    elog_beta = lda.init_elog_beta(4, 3, seed=1)
    state = lda.LdaState(
        alpha=np.full(3, 0.3),
        elog_beta=elog_beta if beta_mode == "broadcast"
        else lda._matrix_relation(spark, elog_beta, [4]),
        num_terms=[4],
    )
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("gamma-iter-check", "")
    try:
        for n in (0, -1):
            with pytest.raises(ValueError, match="max_gamma_iter must be >= 1"):
                lda.train(spark, corpus, 4, 3, max_gamma_iter=n, beta_mode=beta_mode)
            with pytest.raises(ValueError, match="max_gamma_iter must be >= 1"):
                lda.infer(spark, corpus, state, max_gamma_iter=n)
        assert tracker.getJobIdsForGroup("gamma-iter-check") == []
    finally:
        spark.sparkContext.setJobGroup(None, None)


@pytest.mark.parametrize("beta_mode", ["broadcast", "join"])
@pytest.mark.parametrize(
    "num_terms,num_topics", [(6, 1), (3, 5), (1, 3)], ids=["K=1", "K>V", "V=1"]
)
def test_degenerate_shapes_train_finite_models(spark, beta_mode, num_terms, num_topics):
    """One topic, more topics than terms, and a one-term vocabulary
    train to a finite β and a finite ELBO history in both β placements,
    with no numpy warning on the driver (K=1 used to divide 0/0 in the
    α update)."""
    rows = []
    for d in range(12):
        terms = sorted({1 + d % num_terms, 1 + (d + 2) % num_terms})
        rows.append((d, terms, [1 + (d + j) % 3 for j in range(len(terms))]))
    corpus = spark.createDataFrame(
        rows, "doc_id long, term_ids array<int>, term_counts array<int>"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        _, state = lda.train(
            spark, corpus, num_terms, num_topics, max_iterations=2,
            max_gamma_iter=4, converge=0.0, beta_mode=beta_mode,
        )
    assert state.elog_beta.shape == (num_terms + 1, num_topics)
    assert np.all(np.isfinite(state.elog_beta))
    assert len(state.history) == 2 and np.all(np.isfinite(state.history))
    assert np.all(state.alpha > 0)


def _kernel_docs():
    """A tiny seeded corpus, (doc_id, term ids, counts); doc 4 is empty."""
    rng = np.random.default_rng(3)
    docs = []
    for d in range(9):
        n = int(rng.integers(1, 6)) if d != 4 else 0
        terms = np.sort(rng.choice(np.arange(1, 13), size=n, replace=False))
        docs.append((d, terms.astype(np.int32), rng.integers(1, 4, size=n)))
    return docs


def _kernel_batches(elog_beta, carry_beta, docs=None, gammas=None, term_type=pa.int32()):
    """Two Arrow batches of ``docs`` (default ``_kernel_docs``), in the
    broadcast (gather) or the join (row-carried β slices) layout;
    ``gammas`` maps a doc id to its carried γ, null where absent.  A
    doc whose terms are None has null term_ids and term_counts."""
    docs = _kernel_docs() if docs is None else docs
    gammas = gammas or {}
    lists = lambda xs: [None if x is None else np.asarray(x).tolist() for x in xs]
    batches = []
    for chunk in (docs[:5], docs[5:]):
        cols = {
            "doc_id": pa.array([d for d, _, _ in chunk], pa.int64()),
            "term_ids": pa.array(lists(t for _, t, _ in chunk), pa.list_(term_type)),
            "term_counts": pa.array(lists(c for _, _, c in chunk), pa.list_(pa.int64())),
            "gamma": pa.array(lists(gammas.get(d) for d, _, _ in chunk),
                              pa.list_(pa.float64())),
        }
        if carry_beta:
            cols["betas"] = pa.array(
                [None if t is None else elog_beta[t].tolist() for _, t, _ in chunk],
                pa.list_(pa.list_(pa.float64())),
            )
        batches.append(pa.RecordBatch.from_pydict(cols))
    return batches


def _kernel_rows(frames):
    """Kernel output batches → (doc rows {id: (γ, ll)}, Σ c·φ per term
    summed over partials, the stats vec)."""
    out = pa.Table.from_batches(frames).to_pydict()
    rows = list(zip(out["kind"], out["id"], out["vec"], out["ll"]))
    docs = {i: (np.array(v), ll) for k, i, v, ll in rows if k == "doc"}
    phi = {}
    for k, i, v, _ in rows:
        if k == "phi":
            phi[i] = phi.get(i, 0.0) + np.array(v)
    (stats,) = [np.array(v) for k, _, v, _ in rows if k == "stats"]
    return docs, phi, stats


def _unpadded_reference(docs, gammas, elog_beta, alpha, sweeps):
    """``_kernel_rows`` computed one document at a time on unpadded
    (1, n, K) arrays: γ⁰ is the carried γ when it has K entries, else
    α + N/K; documents without terms are skipped."""
    from mr_lda_spark.functions.special import digamma, gammaln

    k = len(alpha)
    l_alpha = gammaln(alpha.sum()) - gammaln(alpha).sum()
    rows, phi, stats = {}, {}, np.zeros(3 + 2 * k)
    for d, terms, counts in docs:
        if terms is None or len(terms) == 0:
            continue
        c, elb = np.asarray(counts, dtype=np.float64)[None], elog_beta[terms][None]
        g0 = gammas.get(d)
        g0 = np.array([g0]) if g0 is not None and len(g0) == k else alpha + c.sum() / k
        g, lpn, p = lda.numpy_sweep_backend(elb, c, np.tile(g0, (1, 1)), alpha, sweeps, 0.0)
        ll = l_alpha + gammaln(g).sum() - gammaln(g.sum()) + (c[..., None] * p * (elb - lpn)).sum()
        rows[d] = (g[0], ll)
        cphi = c[0][:, None] * p[0]
        for t, v in zip(terms.tolist(), cphi):
            phi[t] = phi.get(t, 0.0) + v
        stats += np.concatenate([[ll, 1, c.sum()], digamma(g[0]) - digamma(g.sum()),
                                 cphi.sum(axis=0)])
    return rows, phi, stats


_WARM = {1: [0.5, 1.5, 2.5, 3.5], 5: [2.0, 1.0, 1.0, 0.5], 7: [1.0, 1.0, 3.0, 1.0]}


def _kernel_input(variant, elog_beta, carry):
    """(batches, docs, γs) for one decode case of the kernel test."""
    docs, gammas = _kernel_docs(), dict(_WARM)
    if variant == "null_terms":
        docs.insert(2, (20, None, None))  # dropped as P7
    elif variant == "null_gamma":
        gammas[5] = None
    elif variant == "wrong_width_gamma":
        # Uneven, so a misread γ⁰ would not sweep like the (even) cold start.
        gammas[5], gammas[7] = [3.0, 0.5, 1.0], [0.2, 4.0, 1.0, 2.0, 0.7]
    if variant == "sliced":
        # A first row sliced off: the batch's list offsets start past 0.
        first, rest = _kernel_batches(
            elog_beta, carry, [(30, np.array([2, 3]), [1, 1])] + docs, gammas
        )
        assert first.slice(1)["term_ids"].offsets[0].as_py() == 2
        return [first.slice(1), rest], docs, gammas
    # A caller's or the stream trainer's corpus may hold array<bigint> terms.
    term_type = pa.int64() if variant == "int64_terms" else pa.int32()
    return _kernel_batches(elog_beta, carry, docs, gammas, term_type), docs, gammas


def _check_doc_bags(frames, docs):
    """Doc rows carry the kept input rows' bags as int32 lists, so they
    can be the next E-step's input; φ and stats rows carry none."""
    out = pa.Table.from_batches(frames)
    assert out.schema == lda._ESTEP_ARROW
    assert out.schema.field("term_ids").type == pa.list_(pa.int32())
    rows = out.to_pydict()
    bags = {i: (t, c) for k, i, t, c in zip(rows["kind"], rows["id"], rows["term_ids"],
                                            rows["term_counts"]) if k == "doc"}
    want = {d: (np.asarray(t).tolist(), np.asarray(c).tolist())
            for d, t, c in docs if t is not None and len(t)}
    assert bags == want
    assert all(t is None and c is None for k, t, c in zip(
        rows["kind"], rows["term_ids"], rows["term_counts"]) if k != "doc")


def test_kernel_gather_equals_row_carried_beta():
    """The one E-step kernel, called without Spark: a broadcast-gather
    input and a row-carried-β input give identical γ, per-doc ll and
    α/ELBO stats rows, and the same φ partials from the one
    accumulator both placements share.  Both equal the per-document
    unpadded reference, whatever the Arrow input looks like: a sliced
    batch, a null term list (dropped as P7), int64 term ids, and a null
    or wrong-width carried γ (a cold start, as with no γ at all).  Every
    doc row keeps its input bag."""
    for variant in ("plain", "sliced", "null_terms", "int64_terms", "null_gamma",
                    "wrong_width_gamma"):
        _check_kernel_input(variant)


def _check_kernel_input(variant):
    elog_beta = lda.init_elog_beta(12, K, seed=1)
    alpha = np.full(K, 0.3)
    sweeps = 2  # few enough that γ⁰ still shows in γ
    outs = []
    for carry in (False, True):
        run = lda._estep_kernel(
            alpha, sweeps, learning=True, elog_beta=None if carry else elog_beta
        )
        batches, docs, gammas = _kernel_input(variant, elog_beta, carry)
        frames = list(run(batches))
        _check_doc_bags(frames, docs)
        outs.append(_kernel_rows(frames))
    (gather, phi_a, stats_a), (carried, phi_b, stats_b) = outs
    assert list(gather) == list(carried)
    for d in gather:
        np.testing.assert_array_equal(gather[d][0], carried[d][0])
        assert gather[d][1] == carried[d][1]
    np.testing.assert_array_equal(stats_a, stats_b)
    assert 4 not in gather and len(gather) == 8  # P7: empty doc dropped
    assert phi_a.keys() == phi_b.keys()
    for t in phi_a:
        np.testing.assert_allclose(phi_a[t], phi_b[t], rtol=1e-13)

    want_docs, want_phi, want_stats = _unpadded_reference(docs, gammas, elog_beta, alpha, sweeps)
    assert sorted(gather) == sorted(want_docs)
    for d, (g, ll) in want_docs.items():
        np.testing.assert_allclose(gather[d][0], g, rtol=1e-12)
        np.testing.assert_allclose(gather[d][1], ll, rtol=1e-12)
    assert phi_a.keys() == want_phi.keys()
    for t in want_phi:
        np.testing.assert_allclose(phi_a[t], want_phi[t], rtol=1e-12)
    np.testing.assert_allclose(stats_a, want_stats, rtol=1e-12)


@pytest.mark.parametrize("informed", [False, True])
def test_linear_phi_sums_match_log_space_fold(monkeypatch, informed):
    """The kernel's linear Σ c·φ partials, through the M-step (the
    reducer's ψ(λ), the stats row's normalizer), give the E[log β] of
    the reference's log-space fold (``LogMath.add``,
    TermCombiner.java:30 / TermReducer.java:157-235): per-slot
    log φ + log c folded by logaddexp, then λ = logaddexp(log η, ·).
    Terms repeat across the two batches, a tiny flush bound splits
    terms over several partials, φ of term 3 on topic 1 underflows in
    linear space, and term 7 sits at the ψ(η) floor."""
    from types import SimpleNamespace

    from mr_lda_spark.functions.special import digamma
    from mr_lda_spark.operators.informed_prior import eta_from_rows

    elog_beta = lda.init_elog_beta(12, K, seed=1)
    elog_beta[3, 1] -= 900.0
    elog_beta[7] = digamma(1e-12) - digamma(np.linspace(100.0, 900.0, K))
    batches = _kernel_batches(elog_beta, carry_beta=False)
    recorded = []

    def recording_sweep(*args):
        out = lda.numpy_sweep_backend(*args)
        recorded.append((args[1], out[1]))
        return out

    monkeypatch.setattr(lda, "_PHI_FLUSH", 3)
    run = lda._estep_kernel(
        np.full(K, 0.3), 20, True, sweep_backend=recording_sweep, elog_beta=elog_beta
    )
    out = pa.Table.from_batches(list(run(batches)))
    partials = out.filter(np.array(out["kind"].to_pylist()) == "phi")
    stats_row = out.filter(np.array(out["kind"].to_pylist()) == "stats")
    ids = partials["id"].to_numpy()
    assert len(ids) > np.unique(ids).size  # flushed mid-partition
    phi = np.zeros(elog_beta.shape)
    np.add.at(phi, ids, np.array(partials["vec"].to_pylist()))

    log_phi = np.full(elog_beta.shape, -np.inf)
    for batch, (counts_pad, lpn) in zip(batches, recorded):
        terms_pad = np.zeros(counts_pad.shape, dtype=np.int64)
        for j, t in enumerate(t for t in batch["term_ids"].to_pylist() if t):
            terms_pad[j, : len(t)] = t
        valid = counts_pad > 0
        contrib = lpn[valid] + np.log(counts_pad[valid])[:, None]
        np.logaddexp.at(log_phi, terms_pad[valid], contrib)
    assert log_phi[3, 1] < -745.0 and phi[3, 1] == 0.0  # below the least double

    log_eta, none = lda.DEFAULT_LOG_ETA, np.zeros(0, dtype=np.int64)
    prior = (lda.DEFAULT_ETA, none, none)
    if informed:
        rows = [{"topic": 0, "term_id": 3}, {"topic": 2, "term_id": 7}]
        log_eta = eta_from_rows(SimpleNamespace(collect=lambda: rows), 12, K)
        prior = (lda._ETA_OTHER, np.array([3, 7]), np.array([0, 2]))
    lam = np.exp(np.logaddexp(log_eta, log_phi)[1:])
    want = digamma(lam) - digamma(lam.sum(axis=0))[None, :]

    ids = np.arange(1, 13)
    _, _, stats = lda._split_combined(stats_row, K, 1)
    norm = digamma(lda._eta(prior, ids, K).sum(axis=0) + stats[4])
    psi_lam = lda._psi_lambda(prior, K)(ids, phi[ids])
    got = lda._assemble(elog_beta.shape, [12], prior, norm, ids, psi_lam)
    np.testing.assert_allclose(got[1:], want, rtol=1e-12)
