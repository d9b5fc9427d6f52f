"""Online (streaming) LDA: incremental topic-model updates over a
document stream.

The reference is batch-only; this is the Structured-Streaming-native
extension: each micro-batch runs one E-step against the current model
(the same vectorized kernel as plans.lda) and folds its sufficient
statistics into λ with the stochastic variational update of Hoffman,
Blei & Bach (2010, "Online Learning for Latent Dirichlet Allocation"):

    λ ← (1 − ρ_t)·λ + ρ_t·λ̂,   ρ_t = (τ0 + t)^(−κ)

where λ̂ is the batch's stats rescaled to corpus size D.  MLlib's
online optimizer uses the same update — here it runs over an unbounded
``readStream`` source with the engine's own kernel, so informed priors
and the engine's β/γ schemas keep working.

State lives driver-side (model-sized: λ is V×K) exactly like the batch
loop's broadcast model; the corpus-sized work stays in executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_lda_spark.functions.special import digamma
from mr_lda_spark.operators import parse
from mr_lda_spark.plans.lda import (
    DEFAULT_LOG_ETA,
    _combine_phi,
    _estep,
    _split_combined,
)


@dataclass
class OnlineLdaModel:
    """Driver-held online-VB model state."""

    alpha: np.ndarray  # (K,)
    lam: np.ndarray  # (V+1, K) variational lambda (exp space)
    corpus_size_estimate: float
    tau0: float = 64.0
    kappa: float = 0.7
    t: int = 0
    batch_perplexities: list = field(default_factory=list)
    docs_seen: int = 0

    @property
    def elog_beta(self) -> np.ndarray:
        out = np.full_like(self.lam, DEFAULT_LOG_ETA)
        norm = self.lam[1:].sum(axis=0)
        out[1:] = digamma(self.lam[1:]) - digamma(norm)[None, :]
        return out


def init_online_model(
    num_terms: int,
    num_topics: int,
    corpus_size_estimate: float,
    alpha: float | None = None,
    seed: int = 42,
    tau0: float = 64.0,
    kappa: float = 0.7,
) -> OnlineLdaModel:
    K = num_topics
    rng = np.random.default_rng(seed)
    lam = rng.gamma(100.0, 1.0 / 100.0, (num_terms + 1, K))
    lam[0] = 1e-12
    return OnlineLdaModel(
        alpha=np.full(K, alpha if alpha is not None else 1.0 / K),
        lam=lam,
        corpus_size_estimate=float(corpus_size_estimate),
        tau0=tau0,
        kappa=kappa,
    )


def process_micro_batch(
    batch_corpus_doc: DataFrame, model: OnlineLdaModel, max_gamma_iter: int = 20
) -> OnlineLdaModel:
    """One online-VB step: E-step over the micro-batch with the current
    model, then λ ← (1−ρ)λ + ρ·λ̂."""
    K = len(model.alpha)
    spark = batch_corpus_doc.sparkSession
    eb_bc = spark.sparkContext.broadcast(model.elog_beta)
    out = _estep(
        batch_corpus_doc, model.alpha, eb_bc, max_gamma_iter, True, 0.0, None
    )
    # φ sums and the stats row in one Arrow pull.
    ids, sums, (ll, n_docs, n_tokens, _, _) = _split_combined(
        _combine_phi(out, K, spark.sparkContext.defaultParallelism).toArrow(), K, 1
    )
    eb_bc.unpersist()
    if n_docs == 0:
        return model

    # λ̂: batch stats rescaled as if the whole corpus looked like it.
    stats = np.zeros_like(model.lam)
    stats[ids] = sums
    scale = model.corpus_size_estimate / n_docs
    eta_prior = 1e-3  # symmetric topic-word prior
    lam_hat = eta_prior + scale * stats

    rho = (model.tau0 + model.t) ** (-model.kappa)
    model.lam = (1.0 - rho) * model.lam + rho * lam_hat
    model.lam[0] = 1e-12
    model.t += 1
    model.docs_seen += n_docs
    if n_tokens:
        model.batch_perplexities.append(float(np.exp(-ll / n_tokens)))
    return model


def train_online_from_stream(
    spark: SparkSession,
    sf_dir: str,
    dictionary: DataFrame,
    num_topics: int,
    corpus_size_estimate: float,
    docs_per_batch: int = 200,
    max_gamma_iter: int = 15,
    seed: int = 42,
    timeout_sec: int = 300,
) -> OnlineLdaModel:
    """Drive the documents table as a rate-limited file stream through
    foreachBatch online updates.  (File source stands in for
    Kafka/Kinesis; one parquet file per trigger.)"""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    num_terms = dictionary.count()
    model = init_online_model(
        num_terms, num_topics, corpus_size_estimate, seed=seed
    )
    dict_b = dictionary.select("term", "term_id").persist()
    dict_b.count()

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    from mr_lda_spark.streaming import sources

    stream = sources.read_stream(
        spark, "file", path=sf_dir, schema=schema, glob="documents.parquet"
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Chunk the file-batch so several online steps happen per file
        # (simulates finer-grained triggers).
        batch_df = batch_df.persist()
        total = batch_df.count()
        for lo in range(0, total, docs_per_batch):
            chunk = batch_df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + docs_per_batch)
            )
            tokens = parse.tokenize(chunk)
            corpus = parse.encode_corpus(tokens, dict_b)
            doc_form = parse.corpus_to_doc_form(corpus)
            process_micro_batch(doc_form, model, max_gamma_iter)
        batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    dict_b.unpersist()
    return model
