"""Native variational-EM LDA — the reference's VariationalInference
re-expressed Spark-first (SURVEY.md §3.2, §7 path B), for mono and
polylingual corpora and for either placement of β.

One EM iteration in the reference is one MapReduce job: an E-step map
phase (per-doc coordinate ascent on φ/γ, DocumentMapper.java:184-259),
a combiner/reducer M-step (log-space φ aggregation into β,
TermCombiner.java / TermReducer.java), and a driver-side Newton–Raphson
α update (VariationalInference.java:409-511).  Here there is one loop
(``train``) and one E-step (``_estep_kernel`` around
``numpy_sweep_backend``) for every mode:

- E-step: ``mapInPandas`` over doc rows.  The kernel pads each Arrow
  batch to ``(B, n_max, K)``, runs the sweeps, and emits γ/ll doc rows,
  per-partition φ partials and one per-partition stats row (ELBO,
  documents, tokens, α sufficient statistic — the reference's counters,
  A6/A7).  γ is carried between iterations as a small (doc_id, gamma)
  table joined back onto the E-step rows.
- M-step: the φ partials combine by a relational logsumexp, η smooths
  them, and E[log β] = ψ(λ) − ψ(Σ_v λ) per (language, topic).

**Polylingual is mono over offset term ids.**  Every (lang, term_id)
maps to one int id ``term_id + offset[lang]``, ``offset[l] =
Σ_{l'<l}(V_l'+1)`` (``term_offsets``).  Language l owns rows
``offset[l] .. offset[l]+V_l`` of one stacked E[log β] matrix; its
first row is the reserved index 0 of that language.  The shared γ then
couples languages through the document's token set with no special
code, and the language matters again only at the per-(lang, topic)
normalizer (the reference polylda's TripleOfInts key,
polylda/DocumentMapper.java:31-32).  Mono is L=1 with offset 0.

**β placement is the only fork** (``beta_mode``):

- ``"broadcast"``: E[log β] is a driver matrix broadcast each iteration
  (the reference's DistributedCache β, J3); the kernel gathers it per
  token, folds φ into a dense per-partition accumulator, and the driver
  finishes the M-step on the model-sized matrix.
- ``"join"``: β is a (term_id, beta[K]) relation that never touches the
  driver inside the loop — the scale path once V×K outgrows executor
  memory (SURVEY.md §7.3).  The corpus joins β on term_id and regroups
  by document, so each row carries its tokens' β slices; the kernel
  folds φ into a size-bounded dict, and the M-step is relational.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_lda_spark.functions.alpha import update_alpha_scalar, update_alpha_vector
from mr_lda_spark.functions.logmath import log_add, logsumexp_agg
from mr_lda_spark.functions.special import digamma, gammaln
from mr_lda_spark.operators.lifecycle import (
    ReliableCheckpointSweeper,
    cut_corpus_lineage,
)

DEFAULT_LOG_ETA = math.log(1e-12)  # Settings.java:58

# E-step output: 'doc' rows (id = doc_id, vec = γ, ll = doc ELBO),
# 'phi' rows (id = term id, vec = the partition's log-φ sum) and one
# 'stats' row per partition (vec = _STATS layout below).
_ESTEP_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("ll", T.DoubleType()),
    ]
)
# stats vec = [ELBO, documents, tokens, α sufficient statistic (K)]
_STATS_HEAD = 3

# Join-mode φ dict flush bound (terms per partition before a partial
# is emitted): a vocabulary past executor memory degrades to more
# partials, never to OOM.
_PHI_FLUSH = 1 << 18


class EmptyCorpusError(ValueError):
    """The corpus has no tokens: every document is empty (P7), so there
    is nothing to fit α or β to."""


@dataclass
class LdaState:
    """Driver-side model state.

    ``elog_beta`` is the stacked (Σ_l (V_l+1), K) E[log β] matrix;
    ``elog_betas[l]`` is a view of language l's block (row 0 of each
    block unused).  To score with β left distributed, ``elog_beta`` may
    instead be a ``beta_relation`` DataFrame (term_id, beta[K]) — then
    ``infer`` takes the join placement."""

    alpha: np.ndarray  # (K,)
    elog_beta: np.ndarray | DataFrame
    num_terms: list | None = None  # V_l per language
    elbo: float = float("-inf")
    history: list = field(default_factory=list)
    # Engine-reported instrumentation (BASELINE.md: mirrors the
    # reference's per-iteration counters, VariationalInference.java:255-275).
    iter_seconds: list = field(default_factory=list)
    perplexity_history: list = field(default_factory=list)
    total_tokens: float = 0.0

    def __post_init__(self):
        if self.num_terms is None and isinstance(self.elog_beta, np.ndarray):
            self.num_terms = [self.elog_beta.shape[0] - 1]

    @property
    def elog_betas(self) -> list:
        return [
            self.elog_beta[o : o + v + 1]
            for o, v in zip(term_offsets(self.num_terms), self.num_terms)
        ]


def term_offsets(num_terms) -> list:
    """The (lang, term_id) → id encoding: ``offset[l] =
    Σ_{l'<l}(V_l'+1)``, so language l's ids are ``offset[l] + 1 ..
    offset[l] + V_l`` and ``offset[l]`` is its reserved row 0.  An int
    (or None, when only the mono offset is needed) is one language."""
    if num_terms is None or np.isscalar(num_terms):
        return [0]
    return [0] + np.cumsum([v + 1 for v in num_terms[:-1]]).tolist()


def lang_term_id(lang, term_id, num_terms):
    """Column form of ``term_offsets``: ``term_id + offset[lang]``."""
    offsets = term_offsets(num_terms)
    if len(offsets) == 1:
        return term_id
    return term_id + F.element_at(F.array(*map(F.lit, offsets)), lang + 1)


def _lang_of(term_id, num_terms):
    """Inverse of ``lang_term_id`` on the language: how many block
    starts past the first lie at or below the id."""
    lang = F.lit(0)
    for o in term_offsets(num_terms)[1:]:
        lang = lang + (term_id >= o).cast("int")
    return lang


def unified_corpus(corpus: DataFrame, num_terms) -> DataFrame:
    """Map a polylingual corpus onto offset term ids.  Accepts the tall
    form (doc_id, lang, term_id, term_count) or the per-language slot
    doc form (doc_id, lang_term_ids, lang_term_counts[, gamma] —
    ``sources.sequencefile.read_poly_corpus``); a corpus without a
    language already is in the unified space and passes through."""
    if "lang_term_ids" in corpus.columns:
        ids = F.flatten(
            F.transform(
                "lang_term_ids",
                lambda arr, lang: F.transform(
                    arr, lambda t: lang_term_id(lang, t, num_terms)
                ),
            )
        )
        keep = ["gamma"] if "gamma" in corpus.columns else []
        return corpus.select(
            "doc_id",
            ids.alias("term_ids"),
            F.flatten("lang_term_counts").alias("term_counts"),
            *keep,
        )
    if "lang" in corpus.columns:
        return corpus.withColumn(
            "term_id", lang_term_id(F.col("lang"), F.col("term_id"), num_terms)
        ).drop("lang")
    return corpus


def _doc_form(corpus: DataFrame) -> DataFrame:
    if "term_ids" in corpus.columns:
        return corpus
    from mr_lda_spark.operators.parse import corpus_to_doc_form

    return corpus_to_doc_form(corpus)


def _tall_form(corpus: DataFrame) -> DataFrame:
    if "term_id" in corpus.columns:
        return corpus.select("doc_id", "term_id", "term_count")
    z = F.explode(F.arrays_zip("term_ids", "term_counts")).alias("z")
    return corpus.select("doc_id", z).select(
        "doc_id",
        F.col("z.term_ids").alias("term_id"),
        F.col("z.term_counts").alias("term_count"),
    )


def init_elog_beta(num_terms: int, num_topics: int, seed: int) -> np.ndarray:
    """Seeded replacement for the reference's per-task Math.random() β
    init (retrieveBeta, DocumentMapper.java:446-463 — deliberately made
    deterministic here, SURVEY.md §7.3): log of a normalized positive
    random matrix."""
    if num_terms <= 0:
        # Degenerate vocabulary (e.g. a language absent from a corpus
        # shard): a single floored row keeps downstream shapes valid.
        return np.full((1, num_topics), DEFAULT_LOG_ETA)
    rng = np.random.default_rng(seed)
    raw = rng.random((num_terms + 1, num_topics)) + 2.0 * rng.random(
        (num_terms + 1, num_topics)
    ) / max(num_terms, 1)
    log_raw = np.log(raw)
    # Normalize per topic in log space so rows are E[log beta]-shaped.
    norm = log_raw[1:].max(axis=0) + np.log(
        np.exp(log_raw[1:] - log_raw[1:].max(axis=0)).sum(axis=0)
    )
    return log_raw - norm


def numpy_sweep_backend(
    elb: np.ndarray,
    counts_pad: np.ndarray,
    gamma: np.ndarray,
    alpha: np.ndarray,
    max_gamma_iter: int,
    gamma_tol: float,
):
    """Default (CPU/numpy) coordinate-ascent sweep kernel: runs the
    per-doc γ/φ fixed-point iterations for one padded Arrow batch.

    This is the engine's compute-backend extension point.  The whole
    E-step hot loop is expressed as dense tensor ops on
    ``(B, n_max, K)`` arrays, so an accelerator backend (CuPy, JAX,
    torch) can drop in by implementing this exact signature — move the
    three inputs to device memory, run the same einsum/logsumexp
    algebra, return host ndarrays.  Everything outside this function
    (Arrow decode, padding, φ accumulation) stays unchanged, and the
    backend callable is shipped to executors via the normal
    closure-serialization path, one resolve per task.

    Inputs: ``elb`` (B, n_max, K) E[log β] per token slot;
    ``counts_pad`` (B, n_max) token counts, 0 on padding; ``gamma``
    (B, K) the warm-start state (mutated freely); ``alpha`` (K,).
    Returns ``(gamma, lpn, phi)`` with ``lpn`` the log-normalized φ of
    the LAST sweep, both (B, n_max, K).
    """
    lpn = None
    phi = None
    for _ in range(max_gamma_iter):
        dg = digamma(gamma)  # (B, K)
        lp = elb + dg[:, None, :]
        m = lp.max(axis=2, keepdims=True)
        norm = m + np.log(np.exp(lp - m).sum(axis=2, keepdims=True))
        lpn = lp - norm  # (B, n_max, K)
        phi = np.exp(lpn)
        # γ = α + Σ_w c_w φ_w — φ is a normalized probability,
        # so the sum is numerically safe in LINEAR space; the
        # log-space logaddexp fold the reference uses
        # (DocumentMapper.java:237-247) is only needed when the
        # accumulator itself lives in log space.  Linear form
        # saves a (B, n_max+1, K) concatenate + two exp/log
        # passes per sweep (~1.5× sweep cost at sf0.1).
        prev_gamma = gamma
        gamma = alpha[None, :] + np.einsum(
            "bn,bnk->bk", counts_pad, phi
        )
        if gamma_tol > 0.0 and np.max(
            np.abs(gamma - prev_gamma) / prev_gamma
        ) < gamma_tol:
            # Convergence-gated sweeps (SURVEY §7.3): the
            # reference burns a fixed 100 sweeps per doc per
            # iteration (Settings.java:54) — warm-started
            # iterations converge in a handful.
            break
    return gamma, lpn, phi


def _segment_lse(flat_terms: np.ndarray, flat_vecs: np.ndarray):
    """Vectorized per-term logsumexp of (n_rows, K) log values grouped
    by ``flat_terms``: sort, reduceat max-shift, reduceat sum."""
    order = np.argsort(flat_terms, kind="stable")
    t = flat_terms[order]
    v = flat_vecs[order]
    bounds = np.flatnonzero(np.r_[True, t[1:] != t[:-1]])
    mx = np.maximum.reduceat(v, bounds, axis=0)
    seg_id = np.repeat(np.arange(len(bounds)), np.diff(np.r_[bounds, len(t)]))
    sm = np.add.reduceat(np.exp(v - mx[seg_id]), bounds, axis=0)
    return t[bounds], mx + np.log(sm)


class _DensePhi:
    """Broadcast placement's in-mapper combine (A3): the partition's
    log-φ sums in one dense (rows, K) matrix — bounded by model size,
    emitted once at the end of the partition."""

    def __init__(self, rows: int, K: int):
        self.acc = np.full((rows, K), -np.inf)

    def add(self, terms, contrib):
        np.logaddexp.at(self.acc, terms, contrib)

    def drain(self, final: bool):
        if final:
            ids = np.flatnonzero(~np.all(np.isneginf(self.acc), axis=1))
            yield ids, self.acc[ids]


class _SparsePhi:
    """Join placement's combine: per-batch ``_segment_lse`` folded into
    a dict, flushed as a partial whenever it passes ``_PHI_FLUSH``
    terms (logsumexp of partials is associative, so the relational
    combine downstream is unchanged)."""

    def __init__(self):
        self.acc: dict = {}

    def add(self, terms, contrib):
        uniq, lse = _segment_lse(terms, contrib)
        for t, vec in zip(uniq.tolist(), lse):
            prev = self.acc.get(t)
            self.acc[t] = vec if prev is None else np.logaddexp(prev, vec)

    def drain(self, final: bool):
        if self.acc and (final or len(self.acc) > _PHI_FLUSH):
            ids = np.fromiter(self.acc, dtype=np.int64, count=len(self.acc))
            vecs = np.array(list(self.acc.values()))
            self.acc = {}
            yield ids, vecs


def _estep_kernel(
    alpha: np.ndarray,
    max_gamma_iter: int,
    learning: bool,
    gamma_tol: float = 0.0,
    sweep_backend=None,
    elog_beta=None,
):
    """Build the mapInPandas function for one E-step pass.

    Input rows: (doc_id, term_ids, term_counts, gamma) plus, when
    ``elog_beta`` is None (join placement), ``betas`` — each token's β
    slice.  Otherwise ``elog_beta`` is the stacked matrix or a
    ``sparkContext.broadcast`` of it (one torrent copy per executor
    instead of a per-task closure pickle), gathered per token.
    ``learning=False`` is the reference's -test mode
    (VariationalInferenceOptions.java:166-178): no φ rows.

    Per document (DocumentMapper.java:184-259 semantics):
      γ⁰ = carried γ, else α + N/K
      sweeps (``sweep_backend``, default ``numpy_sweep_backend``):
        logφ_w = E[log β_w] + ψ(γ), normalized;  γ = α + Σ_w c_w φ_w
      doc ELBO = L_α + Σ lnΓ(γ) − lnΓ(Σγ) + Σ_w c_w φ_w (E[log β_w] − logφ_w)
    """
    K = len(alpha)
    l_alpha = float(gammaln(alpha.sum()) - gammaln(alpha).sum())
    # Looked up here, at kernel build, so a swapped module attribute
    # (a timing wrapper) reaches every mode.
    sweep = sweep_backend if sweep_backend is not None else numpy_sweep_backend

    def run(batches):
        eb = elog_beta.value if hasattr(elog_beta, "value") else elog_beta
        phi_acc = None
        if learning:
            phi_acc = _SparsePhi() if eb is None else _DensePhi(eb.shape[0], K)
        stats = np.zeros(_STATS_HEAD + K)
        seen_any = False

        def phi_frames(final):
            for ids, vecs in phi_acc.drain(final):
                yield pd.DataFrame(
                    {"kind": "phi", "id": ids, "vec": list(vecs), "ll": None}
                )

        for pdf in batches:
            # Batch-vectorized E-step: pad every doc in the Arrow
            # batch to (B, n_max) and run all sweeps as whole-batch
            # tensor ops (no per-doc Python loop).
            term_lists = [np.asarray(t, dtype=np.int64) for t in pdf["term_ids"]]
            keep = [i for i, t in enumerate(term_lists) if t.size > 0]  # P7
            if not keep:
                continue
            seen_any = True
            B = len(keep)
            lens = np.array([term_lists[i].size for i in keep])
            n_max = int(lens.max())
            terms_pad = np.zeros((B, n_max), dtype=np.int64)
            counts_pad = np.zeros((B, n_max))
            counts = pdf["term_counts"]
            for j, i in enumerate(keep):
                terms_pad[j, : lens[j]] = term_lists[i]
                counts_pad[j, : lens[j]] = np.asarray(counts.iloc[i], dtype=np.float64)
            if eb is not None:
                elb = eb[terms_pad]  # (B, n_max, K)
            else:
                elb = np.full((B, n_max, K), DEFAULT_LOG_ETA)
                for j, i in enumerate(keep):
                    elb[j, : lens[j]] = np.asarray(
                        list(pdf["betas"].iloc[i]), dtype=np.float64
                    )

            n_tokens = counts_pad.sum(axis=1)  # (B,)
            gamma = np.tile(alpha, (B, 1)) + n_tokens[:, None] / K
            for j, i in enumerate(keep):
                g = pdf["gamma"].iloc[i]
                if g is not None and len(g) == K:
                    gamma[j] = np.asarray(g, dtype=np.float64)

            gamma, lpn, phi = sweep(
                elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol
            )
            ll_phi = (counts_pad[:, :, None] * phi * (elb - lpn)).sum(axis=(1, 2))
            sum_gamma = gamma.sum(axis=1)
            ll_gamma = gammaln(gamma).sum(axis=1) - gammaln(sum_gamma)
            doc_ll = l_alpha + ll_gamma + ll_phi
            stats[:_STATS_HEAD] += (doc_ll.sum(), B, n_tokens.sum())
            stats[_STATS_HEAD:] += (
                digamma(gamma) - digamma(sum_gamma)[:, None]
            ).sum(axis=0)

            # Doc rows carry ONLY gamma + ll — the static term arrays
            # never round-trip back through Arrow.
            yield pd.DataFrame(
                {
                    "kind": "doc",
                    "id": pdf["doc_id"].iloc[keep].astype("int64").values,
                    "vec": list(gamma),
                    "ll": doc_ll,
                }
            )
            if learning:
                valid = counts_pad > 0
                contrib = lpn[valid] + np.log(counts_pad[valid])[:, None]
                phi_acc.add(terms_pad[valid], contrib)
                yield from phi_frames(final=False)

        if not seen_any:
            return
        if learning:
            yield from phi_frames(final=True)
        yield pd.DataFrame(
            {"kind": ["stats"], "id": [-1], "vec": [stats], "ll": [None]}
        )

    return run


def _estep(rows, gamma_df, alpha, elog_beta, max_gamma_iter, learning,
           gamma_tol, sweep_backend) -> DataFrame:
    """Warm-start γ onto the E-step rows, then run the kernel."""
    if gamma_df is not None:
        rows = rows.join(gamma_df, "doc_id", "left")
    elif "gamma" not in rows.columns:
        rows = rows.withColumn("gamma", F.lit(None).cast("array<double>"))
    kernel = _estep_kernel(
        alpha, max_gamma_iter, learning, gamma_tol, sweep_backend, elog_beta
    )
    return rows.mapInPandas(kernel, schema=_ESTEP_SCHEMA)


def _combine_phi(out: DataFrame) -> DataFrame:
    """(term_id, topic, lse): the partition φ partials merged by a
    stable logsumexp in ONE shuffle.  Each (term, topic) key has at
    most a few partials per input partition, so collect_list-ing them
    into an array bounded by cluster parallelism (not data volume) and
    folding the LSE with codegen array ops beats a two-shuffle
    groupBy(max) + re-join plan."""
    return (
        out.filter(F.col("kind") == "phi")
        .select(
            F.col("id").cast("int").alias("term_id"),
            F.posexplode("vec").alias("topic", "v"),
        )
        .groupBy("term_id", "topic")
        .agg(F.collect_list("v").alias("vs"))
        .withColumn("mx", F.array_max("vs"))
        .select(
            "term_id",
            "topic",
            (
                F.col("mx")
                + F.log(
                    F.aggregate(
                        "vs", F.lit(0.0), lambda acc, x: acc + F.exp(x - F.col("mx"))
                    )
                )
            ).alias("lse"),
        )
    )


def _pull_stats(out: DataFrame, K: int):
    """The one α/ELBO pull of an iteration: sum the per-partition stats
    rows.  Returns (elbo, documents, tokens, α sufficient statistic)."""
    rows = out.filter(F.col("kind") == "stats").select("vec").collect()
    total = np.zeros(_STATS_HEAD + K)
    for r in rows:
        total += np.asarray(r["vec"])
    return float(total[0]), int(total[1]), float(total[2]), total[_STATS_HEAD:]


def _mstep_beta(lam: np.ndarray, log_eta: np.ndarray | None) -> np.ndarray:
    """M-step finalization for one language block
    (TermReducer.java:157-235): λ = logaddexp(log η, log φ), then
    E[log β] = ψ(e^λ) − ψ(Σ_v e^λ).  Row 0 is the reserved index."""
    if log_eta is None:
        log_eta = DEFAULT_LOG_ETA
    lam_exp = np.exp(np.logaddexp(log_eta, lam)[1:])
    elog = np.full(lam.shape, DEFAULT_LOG_ETA)
    elog[1:] = digamma(lam_exp) - digamma(lam_exp.sum(axis=0))[None, :]
    return elog


class _BroadcastBeta:
    """β as one driver matrix, broadcast (torrent, one copy per
    executor) to every E-step.  The corpus is cut ONCE as doc rows
    partitioned by doc_id and never re-materialized; each iteration
    joins only the small γ table back onto it."""

    def __init__(self, spark, state, ckpt_gc, checkpoint, eta_seeds,
                 truncate_beta, n_parts):
        self.spark, self.state, self.checkpoint = spark, state, checkpoint
        self.truncate_beta, self.n_parts = truncate_beta, n_parts
        self.log_eta = None
        if eta_seeds is not None:
            from mr_lda_spark.operators.informed_prior import eta_from_rows

            # Dense (rows, K) log-prior over the stacked ids (block
            # starts included; _mstep_beta never reads them).
            rows = state.elog_beta.shape[0]
            self.log_eta = eta_from_rows(eta_seeds, rows - 1, len(state.alpha))

    def load(self, corpus: DataFrame):
        doc = _doc_form(corpus)
        has_gamma = "gamma" in doc.columns
        cols = ["doc_id", "term_ids", "term_counts"] + (["gamma"] if has_gamma else [])
        base = cut_corpus_lineage(  # the ONE materialization of the input
            doc.select(*cols).repartition(self.n_parts, "doc_id"),
            self.checkpoint,
        )
        self.rows = base.select("doc_id", "term_ids", "term_counts")
        return base.select("doc_id", "gamma") if has_gamma else None

    def estep_rows(self):
        self._bc = self.spark.sparkContext.broadcast(self.state.elog_beta)
        return self.rows, self._bc

    def mstep(self, out: DataFrame) -> None:
        state = self.state
        lam = np.full(state.elog_beta.shape, -np.inf)
        for r in _combine_phi(out).collect():
            lam[r["term_id"], r["topic"]] = r["lse"]
        elog = np.empty_like(lam)
        for o, v in zip(term_offsets(state.num_terms), state.num_terms):
            blk = slice(o, o + v + 1)
            eb = _mstep_beta(lam[blk], None if self.log_eta is None else self.log_eta[blk])
            n = self.truncate_beta
            if n is not None and n < v:
                # The reference designed (then disabled) approximate
                # top-k β to shrink the per-mapper model
                # (TermReducer.java:34-38, -truncatebeta): keep each
                # topic's top-N terms, floor the tail.
                kth = np.partition(eb[1:], -n, axis=0)[-n]
                eb[1:] = np.where(eb[1:] >= kth[None, :], eb[1:], DEFAULT_LOG_ETA)
            elog[blk] = eb
        state.elog_beta = elog

    def release(self) -> None:
        self._bc.unpersist()

    def finish(self) -> np.ndarray:
        return self.state.elog_beta


def _join_rows(tall: DataFrame, beta: DataFrame, K: int) -> DataFrame:
    """Doc rows carrying their tokens' β slices: corpus ⋈ β on term_id,
    regrouped by doc_id.  Terms absent from β score at the η floor."""
    floor = F.array_repeat(F.lit(float(DEFAULT_LOG_ETA)), K)
    return (
        tall.join(beta, "term_id", "left")
        .groupBy("doc_id")
        .agg(
            F.collect_list("term_id").alias("term_ids"),
            F.collect_list("term_count").alias("term_counts"),
            F.collect_list(F.coalesce("beta", floor)).alias("betas"),
        )
    )


def _matrix_relation(spark: SparkSession, elog_beta: np.ndarray, num_terms) -> DataFrame:
    """Stacked E[log β] → (term_id, beta[K]) rows (block starts
    skipped).  Plain-float rows so the build works with or without
    Arrow."""
    ids = np.setdiff1d(np.arange(elog_beta.shape[0]), term_offsets(num_terms))
    rows = [(int(v), elog_beta[v].tolist()) for v in ids]
    return spark.createDataFrame(rows, schema="term_id int, beta array<double>")


class _JoinBeta:
    """β as a (term_id, beta[K]) relation that never reaches the driver
    inside the loop.  The corpus is cut ONCE as tall rows partitioned by
    term_id, so every iteration's β join reuses that partitioning.
    Cost vs broadcast: two corpus-sized shuffles per iteration (the β
    join and the regroup) — the honest price when V×K ∉ executor
    memory."""

    def __init__(self, spark, state, ckpt_gc, checkpoint, eta_seeds,
                 truncate_beta, n_parts):
        if truncate_beta is not None:
            raise ValueError("truncate_beta needs beta_mode='broadcast'")
        self.spark, self.state, self.ckpt_gc = spark, state, ckpt_gc
        self.checkpoint, self.n_parts, self.eta_seeds = checkpoint, n_parts, eta_seeds
        self.digamma = F.pandas_udf(
            lambda s: pd.Series(digamma(s.to_numpy())), "double"
        )

    def load(self, corpus: DataFrame):
        spark, state, K = self.spark, self.state, len(self.state.alpha)
        self.tall = cut_corpus_lineage(
            _tall_form(corpus).repartition(self.n_parts, "term_id"),
            self.checkpoint,
        )
        self.beta = self.ckpt_gc.cut(
            _matrix_relation(spark, state.elog_beta, state.num_terms)
            .repartition(self.n_parts, "term_id"),
            self.checkpoint,
            slot="beta",
        )
        self.eta = None
        if self.eta_seeds is not None:
            from mr_lda_spark.operators.informed_prior import (
                LOG_ETA_OTHER,
                LOG_ETA_SEED,
            )

            # Dense distributed η (InformedPrior.java:43-44): every
            # (term, topic) gets its log-prior, because non-seed terms'
            # 0.001 mass is NOT negligible in the per-topic normalizer
            # — exactly the broadcast M-step's dense matrix, kept as a
            # DataFrame built with spark.range, never on the driver.
            offsets = term_offsets(state.num_terms)
            seeds = (
                self.eta_seeds.select("topic", "term_id").distinct()
                .withColumn("seed", F.lit(True))
            )
            self.eta = cut_corpus_lineage(
                spark.range(state.elog_beta.shape[0])
                .filter(~F.col("id").isin(offsets))
                .select(F.col("id").cast("int").alias("term_id"))
                .crossJoin(spark.range(K).select(F.col("id").cast("int").alias("topic")))
                .join(F.broadcast(seeds), ["topic", "term_id"], "left")
                .select(
                    "term_id",
                    "topic",
                    F.when(F.col("seed"), F.lit(float(LOG_ETA_SEED)))
                    .otherwise(F.lit(float(LOG_ETA_OTHER)))
                    .alias("log_eta"),
                ),
                self.checkpoint,
            )
        if "gamma" not in corpus.columns:
            return None
        return self.ckpt_gc.cut(
            corpus.select("doc_id", "gamma"), self.checkpoint, slot="gamma"
        )

    def estep_rows(self):
        return _join_rows(self.tall, self.beta, len(self.state.alpha)), None

    def mstep(self, out: DataFrame) -> None:
        lam = _combine_phi(out)
        if self.eta is None:
            # Uninformed η = 1e-12: the unobserved-term mass is
            # negligible in the normalizer, so the sparse
            # (observed-terms-only) relation suffices.
            lam = lam.select(
                "term_id", "topic",
                log_add(F.col("lse"), F.lit(DEFAULT_LOG_ETA)).alias("log_lambda"),
            )
        else:
            lam = self.eta.join(lam, ["term_id", "topic"], "left").select(
                "term_id", "topic",
                log_add(F.coalesce("lse", F.lit(float("-inf"))), F.col("log_eta"))
                .alias("log_lambda"),
            )
        # β is a distribution per language per topic: the normalizer
        # groups by (lang, topic), L×K scalars, always broadcastable.
        lam = lam.withColumn("lang", _lang_of(F.col("term_id"), self.state.num_terms))
        norms = logsumexp_agg(lam, ["lang", "topic"], "log_lambda", "log_norm")
        beta = (
            lam.join(F.broadcast(norms), ["lang", "topic"])
            .select(
                "term_id",
                "topic",
                (
                    self.digamma(F.exp("log_lambda")) - self.digamma(F.exp("log_norm"))
                ).alias("elog"),
            )
            .groupBy("term_id")
            .agg(F.array_sort(F.collect_list(F.struct("topic", "elog"))).alias("p"))
            .select("term_id", F.col("p.elog").alias("beta"))
        )
        self.beta = self.ckpt_gc.cut(
            beta.repartition(self.n_parts, "term_id"), self.checkpoint, slot="beta"
        )

    def release(self) -> None:
        pass

    def finish(self) -> np.ndarray:
        # API parity: expose β as the stacked matrix (a model-sized
        # pull; the loop never needed it on the driver).
        mat = np.full(self.state.elog_beta.shape, DEFAULT_LOG_ETA)
        for r in self.beta.collect():
            mat[r["term_id"]] = np.asarray(r["beta"])
        return mat


def train(
    spark: SparkSession,
    corpus: DataFrame,
    num_terms,
    num_topics: int,
    max_iterations: int = 30,  # Settings.java:43
    max_gamma_iter: int = 50,  # reference fixes 100 (Settings.java:54)
    alpha_init: float | np.ndarray | None = None,
    symmetric_alpha: bool = False,
    eta_seeds: DataFrame | None = None,
    seed: int = 42,
    converge: float = 1e-6,  # Settings.java:56
    random_start_gamma: bool = False,
    snapshot_dir: str | None = None,
    truncate_beta: int | None = None,
    gamma_tol: float = 0.0,
    estep_backend=None,
    corpus_checkpoint: bool | str = "local",
    beta_mode: str = "broadcast",
    shuffle_partitions: int | None = None,
) -> tuple[DataFrame, LdaState]:
    """Run the EM loop.  Returns ((doc_id, gamma) DataFrame, state).

    ``corpus`` is doc form (doc_id, term_ids, term_counts[, gamma]) or
    tall (doc_id, term_id, term_count); a polylingual corpus adds a
    ``lang`` column (or comes as ``lang_term_ids``/``lang_term_counts``
    slots) and passes ``num_terms`` as the per-language vocabulary
    sizes.  A gamma column warm-starts iteration 1 (the reference's
    -modelindex); ``random_start_gamma`` ignores it.

    ``beta_mode`` places β: "broadcast" (driver matrix) or "join"
    (distributed relation, ``shuffle_partitions`` wide).  ``eta_seeds``
    is the informed-prior seed relation (topic, term_id) —
    ``informed_prior.parse_informed_prior``'s output: seeds smooth at
    log 1000, everything else at log 0.001 (InformedPrior.java:43-44).
    ``truncate_beta`` keeps each topic's top-N terms (broadcast only).

    ``estep_backend`` swaps the per-batch sweep kernel (see
    ``numpy_sweep_backend`` for the contract) in either placement.

    ``corpus_checkpoint`` selects the lineage-cut tier ("local" default
    / "reliable" for preemptible clusters —
    ``operators/lifecycle.cut_corpus_lineage``) for the one-time corpus
    cut and the per-iteration γ/β cuts: a lost block of any of them
    kills a mid-flight training run equally.
    """
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    K = num_topics
    vocab = [int(num_terms)] if np.isscalar(num_terms) else [int(v) for v in num_terms]
    if alpha_init is None:
        alpha = np.full(K, 1.0 / K)  # VariationalInference.java:159-160 spirit
    elif np.isscalar(alpha_init):
        alpha = np.full(K, float(alpha_init))
    else:
        alpha = np.asarray(alpha_init, dtype=np.float64).copy()
    state = LdaState(
        alpha=alpha,
        elog_beta=np.vstack(
            [init_elog_beta(v, K, seed + lang) for lang, v in enumerate(vocab)]
        ),
        num_terms=vocab,
    )

    # Reliable mode: superseded per-iteration γ/β checkpoints are
    # deleted at the next loop top (never at supersede time — the
    # persisted E-step output may still re-read them on eviction),
    # bounding checkpoint-store disk at the live generation.
    ckpt_gc = ReliableCheckpointSweeper(spark)
    placement = {"broadcast": _BroadcastBeta, "join": _JoinBeta}[beta_mode](
        spark, state, ckpt_gc, corpus_checkpoint, eta_seeds, truncate_beta,
        shuffle_partitions or spark.sparkContext.defaultParallelism,
    )
    gamma_df = placement.load(unified_corpus(corpus, vocab))
    if random_start_gamma:
        gamma_df = None

    num_docs = 0
    prev_elbo = None
    for it in range(max_iterations):
        iter_t0 = time.perf_counter()
        ckpt_gc.sweep()  # generation it-2 is unreachable now
        rows, beta = placement.estep_rows()
        out = _estep(
            rows, gamma_df, state.alpha, beta, max_gamma_iter, True,
            gamma_tol, estep_backend,
        ).persist()
        elbo, docs, tokens, alpha_ss = _pull_stats(out, K)
        if it == 0:
            # D and N as the E-step saw them: empty documents (P7) are
            # in neither.
            num_docs, state.total_tokens = docs, tokens
            if tokens <= 0:
                out.unpersist()
                placement.release()
                raise EmptyCorpusError("corpus has no tokens: every document is empty")
        placement.mstep(out)
        gamma_df = ckpt_gc.cut(  # D×K doubles; cuts lineage
            out.filter(F.col("kind") == "doc").select(
                F.col("id").alias("doc_id"), F.col("vec").alias("gamma")
            ),
            corpus_checkpoint,
            slot="gamma",
        )
        out.unpersist()
        placement.release()

        if symmetric_alpha:
            # Keep α symmetric: the scalar update on the summed
            # statistic, reference-style.
            a = update_alpha_scalar(K, num_docs, float(state.alpha[0]), float(alpha_ss.sum()))
            state.alpha = np.full(K, a)
        else:
            state.alpha = update_alpha_vector(num_docs, state.alpha, alpha_ss)
        state.elbo = elbo
        state.history.append(elbo)
        state.iter_seconds.append(round(time.perf_counter() - iter_t0, 3))
        if state.total_tokens > 0:
            # Per-token perplexity from the variational bound — the
            # reference's LOG_LIKELIHOOD counter, normalized.
            state.perplexity_history.append(math.exp(-elbo / state.total_tokens))
        if snapshot_dir is not None:
            _write_snapshot(snapshot_dir, it + 1, gamma_df, state)
        if prev_elbo is not None and abs((elbo - prev_elbo) / prev_elbo) <= converge:
            break
        prev_elbo = elbo

    ckpt_gc.sweep()  # last superseded generation; the live one backs
    # the returned γ (and, in join mode, β)
    state.elog_beta = placement.finish()
    return gamma_df, state


def _write_snapshot(out_dir: str, iteration: int, gamma_df: DataFrame, state: LdaState) -> None:
    """Per-iteration snapshot set (the reference's alpha-<i> / beta-<i>
    / gamma-<i> directories, VariationalInference.java:346-379): gamma
    parquet + alpha/instrumentation JSON.  Beta is model-sized and
    recoverable from state; written on demand via beta_dataframe."""
    import json
    import os

    gamma_df.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"gamma-{iteration}")
    )
    with open(os.path.join(out_dir, f"alpha-{iteration}.json"), "w") as fh:
        json.dump(
            {
                "alpha": state.alpha.tolist(),
                "elbo": state.elbo,
                "iter_seconds": state.iter_seconds,
                "perplexity": state.perplexity_history,
            },
            fh,
        )


def infer(
    spark: SparkSession,
    corpus: DataFrame,
    state: LdaState,
    max_gamma_iter: int = 50,
    gamma_tol: float = 0.0,
    estep_backend=None,
) -> DataFrame:
    """Test/held-out mode (-test: learning=false, single γ-only pass —
    VariationalInferenceOptions.java:166-178; the polylingual -test of
    polylda/VariationalInference.java:90).  ``corpus`` takes any form
    ``train`` does.  Returns (doc_id, gamma, doc_ll).

    β placement follows ``state.elog_beta``: a matrix is broadcast; a
    ``beta_relation`` DataFrame is joined — it never materializes on
    the driver, and below the broadcast threshold AQE broadcasts the
    join on its own."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    corpus = unified_corpus(corpus, state.num_terms)
    if isinstance(state.elog_beta, DataFrame):
        rows, beta = _join_rows(_tall_form(corpus), state.elog_beta, len(state.alpha)), None
    else:
        rows = _doc_form(corpus).select(
            "doc_id", "term_ids", "term_counts",
            *(["gamma"] if "gamma" in corpus.columns else []),
        )
        beta = spark.sparkContext.broadcast(state.elog_beta)
    out = _estep(rows, None, state.alpha, beta, max_gamma_iter, False,
                 gamma_tol, estep_backend)
    return out.filter(F.col("kind") == "doc").select(
        F.col("id").alias("doc_id"), F.col("vec").alias("gamma"),
        F.col("ll").alias("doc_ll"),
    )


def beta_dataframe(spark: SparkSession, state: LdaState) -> DataFrame:
    """Materialize E[log β] as the tall BETA table (schemas.BETA), one
    row per (topic, term id) with block starts skipped.

    Built from the ndarray via one vectorized pandas frame (Arrow
    transfer) — at V=100k, K=100 the V×K rows would otherwise crawl
    through a 10M-tuple Python list and row-at-a-time pickle."""
    from mr_lda_spark.schemas import BETA

    V1, K = state.elog_beta.shape
    ids = np.setdiff1d(np.arange(V1), term_offsets(state.num_terms)).astype(np.int32)
    pdf = pd.DataFrame(
        {
            "topic": np.tile(np.arange(K, dtype=np.int32), len(ids)),
            "term_id": np.repeat(ids, K),
            "log_beta": state.elog_beta[ids].ravel().astype(np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema=BETA)


def beta_relation(beta_tall: DataFrame) -> DataFrame:
    """Fold the tall BETA table (term_id, topic, log_beta — the
    engine's stored model layout) into the join placement's row form
    (term_id, beta ARRAY<DOUBLE>[K]).  One shuffle on term_id, K rows
    per key — the relational inverse of ``beta_dataframe``; never
    touches the driver."""
    return (
        beta_tall.groupBy("term_id")
        .agg(F.array_sort(F.collect_list(F.struct("topic", "log_beta"))).alias("p"))
        .select("term_id", F.col("p.log_beta").alias("beta"))
    )
