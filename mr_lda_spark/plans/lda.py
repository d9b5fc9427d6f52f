"""Native variational-EM LDA — the reference's VariationalInference
re-expressed Spark-first (SURVEY.md §3.2, §7 path B), for mono and
polylingual corpora and for either placement of β.

One EM iteration in the reference is one MapReduce job: an E-step map
phase (per-doc coordinate ascent on φ/γ, DocumentMapper.java:184-259),
a combiner/reducer M-step (log-space φ aggregation into β,
TermCombiner.java / TermReducer.java) with the ELBO and α statistics
as job counters, and a driver-side Newton–Raphson α update
(VariationalInference.java:409-511).  Here one loop (``train``) runs
one E-step (``_estep_kernel`` around ``numpy_sweep_backend``) ONCE
per iteration, for every mode:

- E-step: ``mapInArrow`` over the corpus cut's own partitions.  The
  kernel pads each Arrow batch to ``(B, n_max, K)`` with one scatter
  from the list offsets, runs the sweeps, and emits doc rows (γ, ll
  and the document's bag), per-partition φ partials and one stats row
  (the reference's counters, A6/A7) as Arrow record batches.  Its
  output is cut lazily: the M-step's job runs it, and the next
  iteration reads γ from the cut — the broadcast placement maps its
  doc rows as they are, the reference's Document written back with
  its γ (DocumentMapper.java:341-346).  The φ combine and the
  driver's pulls (``toArrow``) exchange Arrow too.
- M-step: one shuffle sums the φ partials per term id, the stats row
  riding along, and each reducer maps λ = η + Σ c·φ to ψ(λ); the
  normalizer ψ(Σ_v λ) is the stats row's Σ c·φ per (language, topic)
  plus the η mass.  The reference sums in log space (``LogMath.add``)
  because its E-step did; linear sums are exact for λ: η ≥ 1e-12, so
  φ mass small enough to underflow cannot change η + Σ c·φ.

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
  token.  Jobs per iteration: E-step, φ pull (2).
- ``"join"``: β is a (term_id, ψ(λ)) relation that never touches the
  driver inside the loop — the scale path once V×K outgrows executor
  memory (SURVEY.md §7.3).  The corpus joins β on term_id and regroups
  by document, so each row carries its tokens' β slices.  Jobs per
  iteration: β broadcast, doc regroup, E-step, stats pull (4).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from mr_lda_spark.functions.alpha import update_alpha_scalar, update_alpha_vector
from mr_lda_spark.functions.special import digamma, gammaln
from mr_lda_spark.operators.informed_prior import LOG_ETA_OTHER, LOG_ETA_SEED
from mr_lda_spark.operators.lifecycle import (
    ReliableCheckpointSweeper,
    cut_corpus_lineage,
    drop_cut,
)

DEFAULT_ETA = 1e-12  # Settings.java:58
DEFAULT_LOG_ETA = math.log(DEFAULT_ETA)
# Informed prior (InformedPrior.java:43-44): seeds at 1000, the rest 0.001.
_ETA_SEED, _ETA_OTHER = float(np.exp(LOG_ETA_SEED)), float(np.exp(LOG_ETA_OTHER))

# E-step output: 'doc' rows (id = doc_id, vec = γ, ll = doc ELBO, and
# the document's bag, so the row is the next E-step's input), 'phi'
# rows (id = term id, vec = the partition's Σ c·φ) and one 'stats' row
# per partition (id = -1, vec = [ELBO, documents, tokens, α sufficient
# statistic (K), Σ c·φ per (language, topic) (L×K)]); no bag on either.
_BAG = pa.list_(pa.int32())
_ESTEP_ARROW = pa.schema([("kind", pa.string()), ("id", pa.int64()),
                          ("vec", pa.list_(pa.float64())), ("ll", pa.float64()),
                          ("term_ids", _BAG), ("term_counts", _BAG)])
_ESTEP_SCHEMA = from_arrow_schema(_ESTEP_ARROW)
_STATS_HEAD = 3

# φ accumulator flush bound (terms per partition before a partial is
# emitted): a vocabulary past executor memory degrades to more
# partials, never to OOM.
_PHI_FLUSH = 1 << 18


class EmptyCorpusError(ValueError):
    """The corpus has no tokens: every document is empty (P7), so there
    is nothing to fit α or β to."""


def _check_gamma_iter(max_gamma_iter: int) -> None:
    """At least one sweep: with none the E-step has no φ to emit."""
    if max_gamma_iter < 1:
        raise ValueError(f"max_gamma_iter must be >= 1, got {max_gamma_iter}")


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


def _lang_index(ids: np.ndarray, offsets) -> np.ndarray:
    """Inverse of ``lang_term_id`` on the language: how many block
    starts past the first lie at or below each id."""
    return np.searchsorted(np.asarray(offsets[1:], dtype=np.int64), ids, side="right")


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


def _doc_rows(corpus: DataFrame) -> DataFrame:
    """The kernel's doc-form input: (doc_id, term_ids, term_counts[, gamma])."""
    if "term_ids" not in corpus.columns:
        from mr_lda_spark.operators.parse import corpus_to_doc_form

        corpus = corpus_to_doc_form(corpus)
    gamma = ["gamma"] if "gamma" in corpus.columns else []
    return corpus.select("doc_id", "term_ids", "term_counts", *gamma)


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


# E-step batches whose smallest φ normalizer in any linear-space sweep
# falls below this re-run in log space: the mass the linear form can
# lose to underflow is then below 1e-120 relative.
_NORM_FLOOR = 1e-200


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
    three inputs to device memory, run the same contractions, return
    host ndarrays.  Everything outside this function (Arrow decode,
    padding, φ accumulation) stays unchanged, and the backend callable
    is shipped to executors via the normal closure-serialization path,
    one resolve per task.

    Inputs: ``elb`` (B, n_max, K) E[log β] per token slot;
    ``counts_pad`` (B, n_max) token counts, 0 on padding; ``gamma``
    (B, K) the warm-start state (mutated freely); ``alpha`` (K,).
    Returns ``(gamma, lpn, phi)`` with ``lpn`` the log-normalized φ of
    the LAST sweep, both (B, n_max, K).

    The sweeps run in linear space, the exp(E[log β]) form of online VB
    (Hoffman, Blei & Bach 2010).  E[log β] is exponentiated once per
    batch, shifted so each token's largest entry is exactly 1; each
    sweep is then two contractions over (B, n_max, K) instead of the
    reference's per-token logsumexp (DocumentMapper.java:209-247):

        eb   = exp(elb − max_k elb)                 once per batch
        et   = exp(ψ(γ) − max_k ψ(γ))                (B, K)
        norm = eb · et                               (B, n_max)
        γ    = α + et ⊙ ((c / norm) · eb)            (B, K)

    and φ = eb ⊙ et / norm is formed only after the last sweep, in log
    space.  With both factors shifted, ``norm`` is at least the
    document's ``et`` on the token's best topic; a batch where some
    ``norm`` still drops below ``_NORM_FLOOR`` (tiny α and a token whose
    mass sits on a topic the document lacks) re-runs from its starting
    γ in log space (``_log_sweep``).
    """
    gamma0 = gamma
    shifted = elb - elb.max(axis=2, keepdims=True)
    eb = np.exp(shifted)
    for _ in range(max_gamma_iter):
        dg = digamma(gamma)
        dg -= dg.max(axis=1, keepdims=True)
        et = np.exp(dg)
        norm = np.matmul(eb, et[:, :, None])[:, :, 0]
        if norm.min() < _NORM_FLOOR:
            return _log_sweep(
                elb, counts_pad, gamma0, alpha, max_gamma_iter, gamma_tol
            )
        prev_gamma = gamma
        gamma = alpha[None, :] + et * np.matmul(
            (counts_pad / norm)[:, None, :], eb
        )[:, 0, :]
        if _converged(gamma, prev_gamma, gamma_tol):
            break
    # lpn = log(eb ⊙ et / norm), in place of the no-longer-needed shift.
    lpn = shifted
    lpn += dg[:, None, :]
    lpn -= np.log(norm)[:, :, None]
    return gamma, lpn, np.exp(lpn, out=eb)


def _log_sweep(elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol):
    """``numpy_sweep_backend`` in log space: a per-token logsumexp each
    sweep, so no normalizer can underflow.  Several times slower; the
    fallback for batches the linear form cannot represent."""
    # Shifting each token's E[log β] to a max of 0 keeps ψ(γ) from being
    # rounded away on tokens whose every entry sits at the ψ(η) floor.
    shifted = elb - elb.max(axis=2, keepdims=True)
    for _ in range(max_gamma_iter):
        lp = shifted + digamma(gamma)[:, None, :]
        m = lp.max(axis=2, keepdims=True)
        lpn = lp - (m + np.log(np.exp(lp - m).sum(axis=2, keepdims=True)))
        phi = np.exp(lpn)
        prev_gamma = gamma
        gamma = alpha[None, :] + np.einsum("bn,bnk->bk", counts_pad, phi)
        if _converged(gamma, prev_gamma, gamma_tol):
            break
    return gamma, lpn, phi


def _converged(gamma, prev_gamma, gamma_tol: float) -> bool:
    """Convergence-gated sweeps (SURVEY §7.3): the reference burns a
    fixed 100 sweeps per doc per iteration (Settings.java:54) —
    warm-started iterations converge in a handful.  Off at tol 0."""
    return gamma_tol > 0.0 and np.max(np.abs(gamma - prev_gamma) / prev_gamma) < gamma_tol


class _PhiSums:
    """Σ c·φ per term id as one sorted (ids, sums) pair, merged batch by
    batch: the E-step's in-mapper combine (A3), emitted as a partial
    past ``_PHI_FLUSH`` terms, and the M-step reducers' sum."""

    def __init__(self, K: int):
        self.ids = np.empty(0, dtype=np.int64)
        self.sums = np.empty((0, K))

    def add(self, terms, cphi):
        n = self.ids.size
        ids, inv = np.unique(np.concatenate([self.ids, terms]), return_inverse=True)
        sums = np.zeros((ids.size, self.sums.shape[1]))
        sums[inv[:n]] = self.sums  # accumulated ids are distinct
        np.add.at(sums, inv[n:], cphi)
        self.ids, self.sums = ids, sums

    def drain(self, final: bool):
        if self.ids.size and (final or self.ids.size > _PHI_FLUSH):
            yield self.ids, self.sums
            self.ids, self.sums = self.ids[:0], self.sums[:0]


def _lens(lists) -> np.ndarray:
    """Per-row lengths of an Arrow list column, 0 for a null list."""
    return pc.list_value_length(lists).fill_null(0).to_numpy()


def _values(lists) -> np.ndarray:
    """The list column's values in ``_lens`` order: ``list_flatten``
    honours a slice's offset and skips the segments of null lists."""
    return pc.list_flatten(lists).to_numpy()


def _rows(ids, vecs: np.ndarray, kind=None, ll=None, bags=None) -> pa.RecordBatch:
    """``_ESTEP_ARROW`` rows from (n,) ids and (n, w) vecs (null ll and
    bags when ``ll`` or the doc batch ``bags`` is None), or only their
    (id, vec) columns when ``kind`` is."""
    n, w = vecs.shape
    cols = [pa.array(ids, pa.int64()), pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * w + 1, w), pa.int32()), pa.array(vecs.ravel()))]
    if kind is None:
        return pa.RecordBatch.from_arrays(cols, names=["id", "vec"])
    ll = pa.nulls(n, pa.float64()) if ll is None else pa.array(ll, pa.float64())
    bag = [pa.nulls(n, _BAG)] * 2 if bags is None else [
        bags.column(c).cast(_BAG) for c in ("term_ids", "term_counts")]
    return pa.RecordBatch.from_arrays([pa.repeat(kind, n), *cols, ll, *bag], schema=_ESTEP_ARROW)


def _split(rows, K: int):
    """(id, vec) rows → ((m, w) stats vecs or None, term ids, (n, K)
    vecs): stats rows are the ids below 0."""
    is_stats = rows.column("id").to_numpy() < 0
    stats, terms = rows.filter(is_stats), rows.filter(~is_stats)
    vecs = _values(stats.column("vec")).reshape(len(stats), -1) if len(stats) else None
    return vecs, terms.column("id").to_numpy(), _values(terms.column("vec")).reshape(-1, K)


def _estep_kernel(
    alpha: np.ndarray,
    max_gamma_iter: int,
    learning: bool,
    gamma_tol: float = 0.0,
    sweep_backend=None,
    elog_beta=None,
    offsets=(0,),
    beta_norm=None,
):
    """Build the mapInArrow function for one E-step pass.

    Input rows: (doc_id, term_ids, term_counts, gamma) plus, when
    ``elog_beta`` is None (join placement), ``betas`` — each token's β
    slice, less ``beta_norm[lang]`` when given.  Otherwise ``elog_beta``
    is the stacked matrix or a ``sparkContext.broadcast`` of it (one
    torrent copy per executor instead of a per-task closure pickle),
    gathered per token.  ``offsets``: the ``term_offsets`` block starts.
    ``learning=False`` is the reference's -test mode
    (VariationalInferenceOptions.java:166-178): no φ rows.  Each doc
    row keeps its input bag (term_ids, term_counts as int32 lists).

    Per document (DocumentMapper.java:184-259 semantics):
      γ⁰ = carried γ of width K, else α + N/K
      sweeps (``sweep_backend``, default ``numpy_sweep_backend``):
        logφ_w = E[log β_w] + ψ(γ), normalized;  γ = α + Σ_w c_w φ_w
      doc ELBO = L_α + Σ lnΓ(γ) − lnΓ(Σγ) + Σ_w c_w φ_w (E[log β_w] − logφ_w)
    """
    K, L = len(alpha), len(offsets)
    l_alpha = float(gammaln(alpha.sum()) - gammaln(alpha).sum())
    # Looked up here, at kernel build, so a swapped module attribute
    # (a timing wrapper) reaches every mode.
    sweep = sweep_backend if sweep_backend is not None else numpy_sweep_backend

    def run(batches):
        eb = elog_beta.value if hasattr(elog_beta, "value") else elog_beta
        phi_acc = _PhiSums(K)
        stats = np.zeros(_STATS_HEAD + K + L * K)
        lang_sums = stats[_STATS_HEAD + K :].reshape(L, K)  # a view

        for batch in batches:
            # Batch-vectorized E-step: every doc of the Arrow batch is
            # scattered into (B, n_max) at (row, col) from the list
            # lengths, and all sweeps run as whole-batch tensor ops.
            lens = _lens(batch.column("term_ids"))
            if not lens.all():  # P7: documents without terms are skipped
                batch, lens = batch.filter(lens > 0), lens[lens > 0]
            if not lens.size:
                continue
            B, n_max = lens.size, int(lens.max())
            row = np.repeat(np.arange(B), lens)
            col = np.arange(row.size) - np.repeat(np.cumsum(lens) - lens, lens)
            terms_pad = np.zeros((B, n_max), dtype=np.int64)
            terms_pad[row, col] = _values(batch.column("term_ids"))
            counts_pad = np.zeros((B, n_max))
            counts_pad[row, col] = _values(batch.column("term_counts"))
            lang = _lang_index(terms_pad, offsets)
            if eb is not None:
                elb = eb[terms_pad]  # (B, n_max, K)
            else:
                elb = np.full((B, n_max, K), DEFAULT_LOG_ETA)
                elb[row, col] = _values(pc.list_flatten(batch.column("betas"))).reshape(-1, K)
                if beta_norm is not None:
                    elb -= beta_norm[lang]

            n_tokens = counts_pad.sum(axis=1)  # (B,)
            gamma = np.tile(alpha, (B, 1)) + n_tokens[:, None] / K
            if "gamma" in batch.schema.names:
                # A null or wrong-width γ cold-starts.
                glens = _lens(batch.column("gamma"))
                warm = glens == K
                start = (np.cumsum(glens) - glens)[warm]
                gamma[warm] = _values(batch.column("gamma"))[start[:, None] + np.arange(K)]

            gamma, lpn, phi = sweep(
                elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol
            )
            ll_phi = (counts_pad[:, :, None] * phi * (elb - lpn)).sum(axis=(1, 2))
            sum_gamma = gamma.sum(axis=1)
            ll_gamma = gammaln(gamma).sum(axis=1) - gammaln(sum_gamma)
            doc_ll = l_alpha + ll_gamma + ll_phi
            stats[:_STATS_HEAD] += (doc_ll.sum(), B, n_tokens.sum())
            stats[_STATS_HEAD : _STATS_HEAD + K] += (
                digamma(gamma) - digamma(sum_gamma)[:, None]
            ).sum(axis=0)

            # Doc rows carry γ beside the document's own bag, so the
            # next E-step maps them with no join (DocumentMapper.java:341-346).
            yield _rows(batch.column("doc_id").to_numpy(), gamma, "doc", doc_ll, batch)
            if learning:
                valid = counts_pad > 0
                cphi = counts_pad[valid][:, None] * phi[valid]
                lang_sums += np.eye(L)[lang[valid]].T @ cphi
                phi_acc.add(terms_pad[valid], cphi)
                yield from (_rows(i, v, "phi") for i, v in phi_acc.drain(final=False))

        if stats[1]:  # documents seen
            yield from (_rows(i, v, "phi") for i, v in phi_acc.drain(final=True))
            yield _rows([-1], stats[None, :], "stats")

    return run


def _estep(rows, alpha, elog_beta, max_gamma_iter, learning, gamma_tol,
           sweep_backend, offsets=(0,), beta_norm=None) -> DataFrame:
    """Run the kernel over doc rows (a missing γ column cold-starts)."""
    kernel = _estep_kernel(alpha, max_gamma_iter, learning, gamma_tol,
                           sweep_backend, elog_beta, offsets, beta_norm)
    return rows.mapInArrow(kernel, schema=_ESTEP_SCHEMA)


def _combine_phi(out: DataFrame, K: int, n_parts: int, post=None) -> DataFrame:
    """(id, vec): the φ partials summed per term id in ONE shuffle to
    ``n_parts`` reducers (TermCombiner/TermReducer), the stats rows
    summed under id -1 on the way; ``post(ids, sums)`` maps a reducer's
    sums before they leave it."""

    def run(batches):
        acc, stats = _PhiSums(K), []
        for batch in batches:
            st, ids, vecs = _split(batch, K)
            if st is not None:
                stats.append(st)
            acc.add(ids, vecs)
        for ids, sums in acc.drain(final=True):
            yield _rows(ids, sums if post is None else post(ids, sums))
        if stats:
            yield _rows([-1], np.concatenate(stats).sum(axis=0, keepdims=True))

    return (
        out.filter(F.col("kind") != "doc")
        .select("id", "vec")
        .repartition(n_parts, "id")
        .mapInArrow(run, schema="id long, vec array<double>")
    )


def _split_combined(rows: pa.Table, K: int, L: int):
    """Combined rows → (term ids, (n, K) vecs, (elbo, documents, tokens,
    α statistic, (L, K) Σ c·φ)); zero stats when no token was seen."""
    st, ids, vecs = _split(rows, K)
    v = np.zeros(_STATS_HEAD + K + L * K) if st is None else st[0]
    stats = (float(v[0]), int(v[1]), float(v[2]), v[_STATS_HEAD : _STATS_HEAD + K],
             v[_STATS_HEAD + K :].reshape(L, K))
    return ids, vecs, stats


def _prior(eta_seeds, num_terms, K: int):
    """η as (base, seed term ids, seed topics): 1e-12 everywhere, or the
    informed prior's 0.001 with each in-range seed (topic, term_id) at
    1000 (InformedPrior.java:43-44); a seed list is small."""
    none = np.zeros(0, dtype=np.int64)
    if eta_seeds is None:
        return DEFAULT_ETA, none, none
    offsets = term_offsets(num_terms)
    rows = offsets[-1] + num_terms[-1] + 1
    pairs = {(r["term_id"], r["topic"]) for r in eta_seeds.select("term_id", "topic").collect()}
    pairs = sorted((v, k) for v, k in pairs if 0 < v < rows and v not in offsets and 0 <= k < K)
    tv, tk = np.array(pairs, dtype=np.int64).reshape(-1, 2).T
    return _ETA_OTHER, tv, tk


def _eta(prior, ids: np.ndarray, K: int) -> np.ndarray:
    """Dense η rows for the sorted stacked ``ids``."""
    base, tv, tk = prior
    eta = np.full((ids.size, K), base)
    if ids.size and tv.size:
        pos = np.minimum(np.searchsorted(ids, tv), ids.size - 1)
        hit = ids[pos] == tv
        eta[pos[hit], tk[hit]] = _ETA_SEED
    return eta


def _psi_lambda(prior, K: int):
    """The reducers' map ψ(λ) = ψ(η + Σ c·φ); the normalizer ψ(Σ_v λ)
    needs a whole language, so the driver forms it from the stats."""
    return lambda ids, sums: digamma(sums + _eta(prior, ids, K))


def _assemble(shape, num_terms, prior, norm, ids, psi_lam) -> np.ndarray:
    """Stacked E[log β] = ψ(λ) − ψ(Σ_v λ) (TermReducer.java:157-235) from
    ψ(λ) rows ``ids`` and the (L, K) ``norm``; unseen terms hold λ = η,
    block starts the floor."""
    offsets = term_offsets(num_terms)
    rest = np.setdiff1d(np.arange(shape[0]), np.concatenate([offsets, ids]))
    mat = np.full(shape, DEFAULT_LOG_ETA)
    mat[rest] = digamma(_eta(prior, rest, shape[1])) - norm[_lang_index(rest, offsets)]
    mat[ids] = psi_lam - norm[_lang_index(ids, offsets)]
    return mat


def _doc_state(cut: DataFrame, bag: bool = False) -> DataFrame:
    """An E-step cut's doc rows as (doc_id[, term_ids, term_counts], gamma)."""
    keep = ["term_ids", "term_counts"] if bag else []
    doc = F.col("kind") == "doc"
    return cut.filter(doc).select(F.col("id").alias("doc_id"), *keep, F.col("vec").alias("gamma"))


def _fits_broadcast(spark: SparkSession, n_rows: int, K: int) -> bool:
    """Whether ``n_rows`` (id, vec[K]) rows fit the broadcast threshold.
    The loop knows the size; a cut's plan estimate multiplies upstream
    join sizes, so the corpus side would be shuffled before AQE."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= n_rows * (K + 4) * 8 <= limit


class _Placement:
    """Shared by both β placements: settings, η mass, the corpus cut."""

    def __init__(self, spark, state, ckpt_gc, checkpoint, prior, n_parts):
        self.spark, self.state, self.ckpt_gc = spark, state, ckpt_gc
        self.checkpoint, self.prior, self.n_parts = checkpoint, prior, n_parts
        self.K, self.L = len(state.alpha), len(state.num_terms)
        base, tv, tk = prior  # Σ_v η per (language, topic)
        self.eta_mass = np.outer(state.num_terms, np.full(self.K, base))
        lang = _lang_index(tv, term_offsets(state.num_terms))
        np.add.at(self.eta_mass, (lang, tk), _ETA_SEED - base)
        self.base = None

    def combine(self, out: DataFrame) -> DataFrame:
        """The φ combine, each reducer mapping its sums to ψ(λ)."""
        return _combine_phi(out, self.K, self.n_parts, _psi_lambda(self.prior, self.K))

    def close(self) -> None:
        drop_cut(self.base)

    def finish(self) -> np.ndarray:
        return self.state.elog_beta


class _BroadcastBeta(_Placement):
    """β as one driver matrix, broadcast (torrent, one copy per
    executor) to every E-step.  The corpus is cut ONCE as doc rows
    partitioned by doc_id.  From iteration 2 each E-step maps the last
    E-step's doc rows, which carry the bag beside γ, and the corpus cut
    is freed: no join, and no document moves again at any D."""

    def __init__(self, *args, truncate_beta=None):
        super().__init__(*args)
        self.truncate_beta, self._bc = truncate_beta, None

    def load(self, corpus: DataFrame) -> None:
        self.base = cut_corpus_lineage(  # the ONE materialization of the input
            _doc_rows(corpus).repartition(self.n_parts, "doc_id"), self.checkpoint
        )

    def estep_rows(self, prev):
        rows = self.base
        if prev is not None:  # the doc rows carry the corpus from here on
            drop_cut(self.base)
            self.base, rows = None, _doc_state(prev, bag=True)
        self._bc = self.spark.sparkContext.broadcast(self.state.elog_beta)
        return rows, self._bc, None

    def mstep(self, out: DataFrame):
        state = self.state
        # ~V rows of ψ(λ) plus the stats row: one Arrow pull.
        ids, psi_lam, stats = _split_combined(self.combine(out).toArrow(), self.K, self.L)
        self._bc.unpersist()  # the E-step has run
        norm = digamma(self.eta_mass + stats[4])
        elog = _assemble(state.elog_beta.shape, state.num_terms, self.prior, norm, ids, psi_lam)
        n = self.truncate_beta
        for o, v in zip(term_offsets(state.num_terms), state.num_terms):
            if n is not None and n < v:
                # The reference's designed (then disabled) -truncatebeta
                # (TermReducer.java:34-38): keep each topic's top N.
                eb = elog[o + 1 : o + v + 1]
                kth = np.partition(eb, -n, axis=0)[-n]
                eb[eb < kth[None, :]] = DEFAULT_LOG_ETA
        state.elog_beta = elog
        return stats

    def close(self) -> None:
        super().close()
        if self._bc is not None:
            self._bc.unpersist()


def _join_rows(tall: DataFrame, beta: DataFrame, K: int, gamma=None,
               n_parts=None) -> DataFrame:
    """Doc rows carrying their tokens' β slices: corpus ⋈ β on term_id,
    regrouped by doc_id (into ``n_parts`` partitions when given).
    ``gamma`` (doc_id, gamma) rows ride the same regroup.  Terms absent
    from β score at the η floor."""
    floor = F.array_repeat(F.lit(float(DEFAULT_LOG_ETA)), K)
    tokens = tall.join(beta, "term_id", "left").select(
        "doc_id", "term_id", "term_count", F.coalesce("beta", floor).alias("beta")
    )
    carried = []
    if gamma is not None:
        tokens = tokens.unionByName(gamma, allowMissingColumns=True)
        carried = [F.first("gamma", ignorenulls=True).alias("gamma")]
    if n_parts is not None:
        tokens = tokens.repartition(n_parts, "doc_id")
    return tokens.groupBy("doc_id").agg(
        F.collect_list("term_id").alias("term_ids"),
        F.collect_list("term_count").alias("term_counts"),
        F.collect_list("beta").alias("betas"),
        *carried,
    )


def _matrix_relation(spark: SparkSession, elog_beta: np.ndarray, num_terms) -> DataFrame:
    """Stacked E[log β] → (term_id, beta[K]) rows (block starts
    skipped), built from one Arrow table."""
    ids = np.setdiff1d(np.arange(elog_beta.shape[0]), term_offsets(num_terms))
    rows = _rows(ids, elog_beta[ids])
    return spark.createDataFrame(
        pa.table([rows["id"].cast(pa.int32()), rows["vec"]], names=["term_id", "beta"])
    )


class _JoinBeta(_Placement):
    """β as a (term_id, ψ(λ)) relation that never reaches the driver in
    the loop: the reducers' lazily cut output, normalized by an L×K
    driver constant the next E-step subtracts.  The corpus is cut ONCE
    as tall rows; each E-step joins β onto it (broadcast while V×K fits
    the threshold, so the cut never moves) and regroups by doc_id into
    ``n_parts`` partitions with the previous γ riding along: the one
    corpus-sized shuffle per iteration."""

    def __init__(self, *args, truncate_beta=None):
        if truncate_beta is not None:
            raise ValueError("truncate_beta needs beta_mode='broadcast'")
        super().__init__(*args)
        self.norm = self.sums = None  # ψ(Σ_v λ) (L, K); β's cut

    def load(self, corpus: DataFrame) -> None:
        self.base = cut_corpus_lineage(
            _tall_form(corpus).repartition(self.n_parts, "term_id"),
            self.checkpoint,
        )
        self.beta = _matrix_relation(self.spark, self.state.elog_beta, self.state.num_terms)
        self.gamma0 = corpus.select("doc_id", "gamma") if "gamma" in corpus.columns else None

    def estep_rows(self, prev):
        beta = self.beta
        if _fits_broadcast(self.spark, sum(self.state.num_terms), self.K):
            beta = F.broadcast(beta)
        gamma = self.gamma0 if prev is None else _doc_state(prev)
        rows = _join_rows(self.base, beta, self.K, gamma, self.n_parts)
        return rows, None, self.norm

    def mstep(self, out: DataFrame):
        sums = self.ckpt_gc.cut(self.combine(out), self.checkpoint, slot="beta", eager=False)
        # Materializes the cut: the one job after the E-step's.
        _, _, stats = _split_combined(sums.filter(F.col("id") < 0).toArrow(), self.K, self.L)
        drop_cut(self.sums)  # the previous β: this E-step has read it
        self.sums = sums
        self.beta = sums.filter(F.col("id") >= 0).select(
            F.col("id").cast("int").alias("term_id"), F.col("vec").alias("beta")
        )
        self.norm = digamma(self.eta_mass + stats[4])
        return stats

    def close(self) -> None:
        super().close()
        drop_cut(self.sums)

    def finish(self) -> np.ndarray:
        # API parity: expose β as the stacked matrix (a model-sized
        # pull; the loop never needed it on the driver).
        state = self.state
        if self.norm is None:
            return state.elog_beta
        ids, psi_lam, _ = _split_combined(self.sums.toArrow(), self.K, self.L)
        return _assemble(state.elog_beta.shape, state.num_terms, self.prior, self.norm, ids, psi_lam)


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
    (distributed relation); every E-step runs on ``shuffle_partitions``
    partitions (default: the session's parallelism).  ``eta_seeds`` is
    the informed-prior seed relation (topic, term_id) of
    ``informed_prior.parse_informed_prior``.  ``truncate_beta`` keeps
    each topic's top-N terms (broadcast only).  ``estep_backend`` swaps
    the sweep kernel (contract: ``numpy_sweep_backend``).

    ``corpus_checkpoint`` selects the lineage-cut tier ("local" default
    / "reliable" for preemptible clusters —
    ``operators/lifecycle.cut_corpus_lineage``) of the corpus cut and
    the per-iteration E-step/β cuts, all freed on return, failure
    included; only the returned γ's own cut outlives the call.
    """
    from mr_lda_spark.session import ensure_package_shipped

    _check_gamma_iter(max_gamma_iter)
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

    # Reliable mode: superseded per-iteration E-step/β checkpoints are
    # deleted at the next loop top (never at supersede time — a task
    # retry of the running iteration may still re-read them), bounding
    # checkpoint-store disk at the live generation.
    ckpt_gc = ReliableCheckpointSweeper(spark)
    placement = {"broadcast": _BroadcastBeta, "join": _JoinBeta}[beta_mode](
        spark, state, ckpt_gc, corpus_checkpoint, _prior(eta_seeds, vocab, K),
        shuffle_partitions or spark.sparkContext.defaultParallelism,
        truncate_beta=truncate_beta,
    )
    corpus = unified_corpus(corpus, vocab)
    if random_start_gamma and "gamma" in corpus.columns:
        corpus = corpus.drop("gamma")
    offsets = term_offsets(vocab)

    num_docs = 0
    prev_elbo = None
    gamma_df = None
    live = []  # E-step cuts not yet freed; the last one feeds the next E-step
    try:
        placement.load(corpus)
        for it in range(max_iterations):
            iter_t0 = time.perf_counter()
            ckpt_gc.sweep()  # generation it-2 is unreachable now
            rows, beta, beta_norm = placement.estep_rows(live[-1] if live else None)
            live.append(ckpt_gc.cut(
                _estep(rows, state.alpha, beta, max_gamma_iter, True,
                       gamma_tol, estep_backend, offsets, beta_norm),
                corpus_checkpoint, slot="estep", eager=False,
            ))
            # One pass: the M-step's job runs the E-step into the cut.
            elbo, docs, tokens, alpha_ss, _ = placement.mstep(live[-1])
            while len(live) > 1:  # the previous γ has been read
                drop_cut(live.pop(0))
            if it == 0:
                # D and N as the E-step saw them: empty documents (P7)
                # are in neither.
                num_docs, state.total_tokens = docs, tokens
                if tokens <= 0:
                    raise EmptyCorpusError("corpus has no tokens: every document is empty")

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
                _write_snapshot(snapshot_dir, it + 1, _doc_state(live[-1]), state)
            if prev_elbo is not None and abs((elbo - prev_elbo) / prev_elbo) <= converge:
                break
            prev_elbo = elbo

        if live:  # D×K doubles, cut apart from the E-step's φ rows
            gamma_df = ckpt_gc.cut(_doc_state(live[-1]), corpus_checkpoint, slot="gamma")
            ckpt_gc.retire("estep")
        ckpt_gc.sweep()  # superseded generations and the last E-step
        state.elog_beta = placement.finish()
    finally:
        for df in live:
            drop_cut(df)
        placement.close()
    return gamma_df, state


def _write_snapshot(out_dir: str, iteration: int, gamma_df: DataFrame, state: LdaState) -> None:
    """Per-iteration snapshot (the reference's alpha-<i> / gamma-<i>,
    VariationalInference.java:346-379): gamma parquet + alpha JSON;
    β is written on demand via ``beta_dataframe``."""
    import json
    import os

    gamma_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"gamma-{iteration}"))
    with open(os.path.join(out_dir, f"alpha-{iteration}.json"), "w") as fh:
        json.dump({"alpha": state.alpha.tolist(), "elbo": state.elbo,
                   "iter_seconds": state.iter_seconds,
                   "perplexity": state.perplexity_history}, fh)


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
    ``beta_relation`` DataFrame is joined (AQE broadcasts it below the
    threshold), never materializing on the driver."""
    from mr_lda_spark.session import ensure_package_shipped

    _check_gamma_iter(max_gamma_iter)
    ensure_package_shipped(spark)
    corpus = unified_corpus(corpus, state.num_terms)
    if isinstance(state.elog_beta, DataFrame):
        rows, beta = _join_rows(_tall_form(corpus), state.elog_beta, len(state.alpha)), None
    else:
        rows, beta = _doc_rows(corpus), spark.sparkContext.broadcast(state.elog_beta)
    out = _estep(rows, state.alpha, beta, max_gamma_iter, False,
                 gamma_tol, estep_backend)
    return out.filter(F.col("kind") == "doc").select(
        F.col("id").alias("doc_id"), F.col("vec").alias("gamma"),
        F.col("ll").alias("doc_ll"),
    )


def beta_dataframe(spark: SparkSession, state: LdaState) -> DataFrame:
    """Materialize E[log β] as the tall BETA table (schemas.BETA), one
    row per (topic, term id) with block starts skipped, through one
    Arrow table (a V×K tuple list would crawl)."""
    from mr_lda_spark.schemas import BETA

    V1, K = state.elog_beta.shape
    ids = np.setdiff1d(np.arange(V1), term_offsets(state.num_terms)).astype(np.int32)
    table = pa.table(
        [np.tile(np.arange(K, dtype=np.int32), len(ids)), np.repeat(ids, K),
         state.elog_beta[ids].ravel()],
        names=["topic", "term_id", "log_beta"],
    )
    return spark.createDataFrame(table, schema=BETA)


def beta_relation(beta_tall: DataFrame) -> DataFrame:
    """Fold the stored tall BETA table (term_id, topic, log_beta) into the
    join placement's (term_id, beta[K]) rows: one shuffle on term_id,
    the relational inverse of ``beta_dataframe``."""
    return (
        beta_tall.groupBy("term_id")
        .agg(F.array_sort(F.collect_list(F.struct("topic", "log_beta"))).alias("p"))
        .select("term_id", F.col("p.log_beta").alias("beta"))
    )
