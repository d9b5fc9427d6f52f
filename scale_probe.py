#!/usr/bin/env python3
"""Scale probe: time linear-path operators at 1× and N× the sf0.1
corpus (synthesized by unioning the documents table with doc-id
offsets — the sf1-equivalent tier), printing ONE JSON line with
per-op ratios.

The probed ops are the corpus-linear pipelines whose 100 TB story
depends on staying shuffle-light: parse→dictionary→encode, exact
dedup, MinHash signatures, SimHash fingerprints, trigram language ID,
and one LDA EM iteration.  Near-dup PAIR ops are excluded by design:
unioning clones multiplies true near-dup pairs quadratically, so
their cost is output-bound, not scale-bound.

Usage: python3 scale_probe.py [factor]   (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def synth_union(docs, factor: int):
    from pyspark.sql import functions as F

    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe(spark, docs) -> dict[str, float]:
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import curation, dedup, parse, textops
    from mr_lda_spark.plans import lda
    from mr_lda_spark.session import no_auto_broadcast

    times: dict[str, float] = {}

    def t(name, fn):
        t0 = time.perf_counter()
        fn()
        times[name] = round(time.perf_counter() - t0, 3)

    def parse_pipeline():
        tokens = parse.tokenize(docs)
        dictionary = parse.build_dictionary(
            parse.term_stats(tokens), docs.count()
        )
        parse.encode_corpus(tokens, dictionary).count()

    t("parse_encode", parse_pipeline)
    t("dedup_exact", lambda: dedup.exact_duplicates(docs).count())
    t(
        "minhash_signatures",
        lambda: dedup.minhash_signatures(docs, num_hashes=8).count(),
    )
    t("simhash", lambda: dedup.simhash(docs).count())
    t(
        "language_id",
        lambda: textops.language_id(docs)
        .agg(F.sum("hits_en"))
        .collect(),
    )
    # Span-dedup cost is the explode + span-hash window + per-doc
    # reassembly — scan-bound; cloning makes every span "hot" so the
    # OUTPUT shrinks, but the shuffled volume is identical.
    t(
        "boilerplate_spans",
        lambda: textops.remove_boilerplate_spans(docs).count(),
    )
    t(
        "quality_model_score",
        lambda: textops.quality_model_score(docs).count(),
    )
    # r8 ops: first-occurrence segment dedup (corpus scope shuffles
    # segment digests — under cloning every clone's segments go
    # non-first, shrinking the OUTPUT while the digest shuffle stays
    # linear, same caveat as boilerplate_spans; doc scope is fully
    # clone-invariant) and Lee-et-al. exact-substring dedup (sliding
    # digest windows — the ×n window explode is the dominant linear
    # term).  Forced with a noop-sink WRITE, not count(): these end in
    # an outer join against a unique-keyed rebuild, which Catalyst
    # eliminates under count(1) — counting would time a filtered scan.
    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    t(
        "segments_corpus",
        lambda: _force(dedup.segment_dedup(docs, width=8, scope="corpus")),
    )
    t(
        "segments_intradoc",
        lambda: _force(dedup.segment_dedup(docs, width=4, scope="doc")),
    )
    t(
        "exact_substring",
        lambda: _force(dedup.exact_substring_dedup(docs, n=10)),
    )
    t(
        "shuffle_shards",
        lambda: curation.shuffle_shards(docs, n_shards=32).count(),
    )
    # r3 ops: per-domain window (thousands of independent partitions)
    # and the one-scan multi-column profile.
    t(
        "domain_cap",
        lambda: curation.domain_cap(
            docs, max_per_domain=50, domain_col="source"
        ).count(),
    )
    t(
        "table_profile",
        lambda: __import__(
            "mr_lda_spark.operators.profile", fromlist=["table_profile"]
        ).table_profile(docs, ["doc_id", "lang", "source"]).count(),
    )
    # r4 op: per-group scalar quality thresholds (broadcast back, no
    # corpus shuffle).  Near-dup pair ops (incl. the incremental path)
    # stay excluded — cloning plants duplicates, making their cost
    # output-bound (see module docstring).
    # Late-r4 corpus-linear ops: retrieval scoring (query-filtered
    # token shuffle) and the corpus-trained bigram LM (model agg +
    # scoring join).  Containment/near-dup pair ops stay excluded —
    # output-bound under cloning.
    t(
        "bm25_topk",
        lambda: textops.bm25_topk(
            docs, ["hash", "join", "scan"], k=20
        ).count(),
    )
    t(
        "bigram_lm",
        lambda: textops.bigram_lm_scores(docs).count(),
    )
    t(
        "adaptive_quality",
        lambda: curation.adaptive_quality_filter(docs).count(),
    )
    # r7-changed pipeline (persist fix): the full CCNet-style filter —
    # LM scoring + 1-row threshold + filter — timed end-to-end.
    t(
        "lm_perplexity_filter",
        lambda: curation.lm_perplexity_filter(docs).count(),
    )
    # r5 corpus-linear ops: Gopher repetition signals (three doc-keyed
    # aggs) and token-budget selection (histogram offsets + per-bucket
    # windows; budget set selection-complete so the measured cost is
    # the scan+window work, not the output truncation).
    t(
        "repetition_scores",
        lambda: textops.repetition_scores(docs).count(),
    )

    def token_budget():
        scored = textops.quality_scores(docs).select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            "quality_score",
        )
        curation.token_budget_select(scored, budget_tokens=10**15).count()

    t("token_budget", token_budget)

    def dsir():
        # Target = the English slice; two corpus passes + bucket-sized
        # aggs + broadcast log-ratio table (operators/curation.py).
        curation.dsir_weights(
            docs, docs.filter(F.col("lang") == "en"), n_buckets=1024
        ).count()

    t("dsir_weights", dsir)

    def bpe_pair_counts():
        # BPE training's corpus-pass part: word counts + first-round
        # pair counts.  Per-merge cost afterwards is vocab-sized, so
        # this IS the scale-bound piece of the trainer.
        from mr_lda_spark.operators import bpe

        bpe.pair_counts(
            bpe._initial_symbols(bpe.word_counts(docs))
        ).count()

    t("bpe_pair_counts", bpe_pair_counts)

    def lda_one_iter():
        tokens = parse.tokenize(docs)
        dictionary = parse.build_dictionary(
            parse.term_stats(tokens), docs.count()
        )
        corpus_doc = parse.corpus_to_doc_form(
            parse.encode_corpus(tokens, dictionary)
        )
        lda.train(
            spark,
            corpus_doc,
            num_terms=dictionary.count(),
            num_topics=8,
            max_iterations=1,
            max_gamma_iter=25,
            converge=0.0,
            seed=1,
        )

    t("lda_one_iteration_k8", lda_one_iter)

    def lda_join_one_iter():
        # The distributed-β path for V×K past the broadcast cliff
        # (VERDICT r4 next #7): force the β join to stay a SHUFFLE
        # join (kill auto-broadcast — at probe scale β is small enough
        # that Spark/AQE would otherwise degenerate the probe back to
        # broadcast mode) and time one EM iteration end-to-end against
        # the broadcast path above at the same tier.
        tokens = parse.tokenize(docs)
        dictionary = parse.build_dictionary(
            parse.term_stats(tokens), docs.count()
        )
        tall = parse.encode_corpus(tokens, dictionary)
        with no_auto_broadcast(spark):
            lda.train(
                spark,
                tall,
                num_terms=dictionary.count(),
                num_topics=8,
                max_iterations=1,
                max_gamma_iter=25,
                converge=0.0,
                seed=1,
                beta_mode="join",
            )

    t("lda_join_one_iteration_k8", lda_join_one_iter)

    def _poly_prep():
        # Scalable polylingual corpus: doc pairs (floor(doc_id / 2))
        # form one multilingual doc — poly-doc count grows linearly
        # with the tier, unlike the registry's fixed %150 grouping.
        tall, _, num_terms = parse.polylingual_corpus(
            docs, ["en", "es"], F.floor(F.col("doc_id") / 2)
        )
        return tall, num_terms

    def polylda_one_iter():
        tall, num_terms = _poly_prep()
        lda.train(
            spark, tall, num_terms, num_topics=4,
            max_iterations=1, max_gamma_iter=25, converge=0.0, seed=1,
        )

    t("polylda_one_iteration_k4", polylda_one_iter)

    def polylda_join_one_iter():
        # Distributed per-language β (VERDICT r5 next #1): force the β
        # join to stay a SHUFFLE join, same protocol as the mono tier.
        tall, num_terms = _poly_prep()
        with no_auto_broadcast(spark):
            lda.train(
                spark, tall, num_terms, num_topics=4,
                max_iterations=1, max_gamma_iter=25, converge=0.0, seed=1,
                beta_mode="join",
            )

    t("polylda_join_one_iteration_k4", polylda_join_one_iter)

    # r8 held-out tiers (VERDICT r7 next #5): the -test γ-only pass in
    # BOTH execution regimes, paired in this same process against the
    # training iterations above.  Prep (parse + one training
    # iteration) runs outside the timed window; the timed op is the
    # inference pass end-to-end, including the β-relation build for
    # the join path.  Done-bar: each held-out tier ≤ its one-training-
    # iteration sibling at the same tier.
    def as_relation(state):
        beta = lda.beta_relation(lda.beta_dataframe(spark, state))
        return lda.LdaState(state.alpha, beta, num_terms=state.num_terms)

    tokens = parse.tokenize(docs)
    dictionary = parse.build_dictionary(
        parse.term_stats(tokens), docs.count()
    )
    tall = parse.encode_corpus(tokens, dictionary).persist()
    corpus_doc = parse.corpus_to_doc_form(tall).persist()
    corpus_doc.count()
    _, state = lda.train(
        spark, corpus_doc, num_terms=dictionary.count(), num_topics=8,
        max_iterations=1, max_gamma_iter=25, converge=0.0, seed=1,
    )
    t(
        "lda_infer_heldout_k8",
        lambda: lda.infer(spark, corpus_doc, state, max_gamma_iter=25)
        .agg(F.sum("doc_ll"))
        .collect(),
    )

    def infer_join_forced():
        join_state = as_relation(state)
        with no_auto_broadcast(spark):
            lda.infer(
                spark, tall, join_state, max_gamma_iter=25
            ).agg(F.sum("doc_ll")).collect()

    t("lda_infer_heldout_join_k8", infer_join_forced)
    tall.unpersist()
    corpus_doc.unpersist()

    tall_p, num_terms_p = _poly_prep()
    tall_p = tall_p.persist()
    tall_p.count()
    _, pstate = lda.train(
        spark, tall_p, num_terms_p, num_topics=4,
        max_iterations=1, max_gamma_iter=25, converge=0.0, seed=1,
    )
    t(
        "polylda_infer_heldout_k4",
        lambda: lda.infer(spark, tall_p, pstate, max_gamma_iter=25)
        .agg(F.sum("doc_ll"))
        .collect(),
    )

    def poly_infer_join_forced():
        join_state = as_relation(pstate)
        with no_auto_broadcast(spark):
            lda.infer(
                spark, tall_p, join_state, max_gamma_iter=25
            ).agg(F.sum("doc_ll")).collect()

    t("polylda_infer_heldout_join_k4", poly_infer_join_forced)
    tall_p.unpersist()
    return times


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mr_lda_spark.session import get_spark, read_table

    spark = get_spark("mr-lda-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = read_table(spark, sf_dir, "documents").persist()
    n_base = base.count()
    big = synth_union(base, factor).persist()
    n_big = big.count()

    t1 = probe(spark, base)
    tn = probe(spark, big)

    # Embedding-side linear path: PQ encode (one Arrow matmul per
    # subspace per batch; zero shuffle).
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings").persist()
    emb.count()
    emb_big = emb
    for i in range(1, factor):
        emb_big = emb_big.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        )
    emb_big = emb_big.persist()
    emb_big.count()
    books = similarity.pq_train(emb, n_subspaces=16, n_codes=32)
    for name, e in (("pq_encode", emb), ("pq_encode_Nx", emb_big)):
        t0 = time.perf_counter()
        similarity.pq_encode(e, books).count()
        dt = round(time.perf_counter() - t0, 3)
        if name == "pq_encode":
            t1[name] = dt
        else:
            tn["pq_encode"] = dt
    # Frozen Lloyd: corpus × k-row broadcast assignment + one k×dim
    # update shuffle — the clustering scale shape.
    for name, e in (("kmeans_frozen", emb), ("kmeans_frozen_Nx", emb_big)):
        t0 = time.perf_counter()
        similarity.kmeans_frozen(e, k=8, iterations=1).count()
        dt = round(time.perf_counter() - t0, 3)
        if name == "kmeans_frozen":
            t1[name] = dt
        else:
            tn["kmeans_frozen"] = dt
    # r8 op: trained frozen quantizer at partial probe — per training
    # round one corpus × k-row broadcast argmax + one (k × dim)
    # partial-sum shuffle; the probe/candidate join is query-sized.
    queries = emb.filter(F.col("vec_id") < 5)
    for name, e in (
        ("ivf_kmeans_frozen_topk", emb),
        ("ivf_kmeans_frozen_topk_Nx", emb_big),
    ):
        t0 = time.perf_counter()
        similarity.ivf_kmeans_frozen_topk(
            e, queries, k=3, n_clusters=16, nprobe=4, train_iterations=2
        ).count()
        dt = round(time.perf_counter() - t0, 3)
        if name == "ivf_kmeans_frozen_topk":
            t1[name] = dt
        else:
            tn["ivf_kmeans_frozen_topk"] = dt

    ratios = {
        k: round(tn[k] / t1[k], 2) if t1[k] > 0 else None for k in t1
    }
    out = {
        "metric": "scale_probe",
        "factor": factor,
        "docs_1x": n_base,
        "docs_Nx": n_big,
        "sec_1x": t1,
        "sec_Nx": tn,
        "ratio": ratios,
        "sf_dir": sf_dir,
    }
    # The broadcast-cliff contract (VERDICT r4 #7): at the big tier the
    # forced-shuffle-join iteration should be within ~2x of the
    # broadcast iteration — the price of two extra corpus shuffles.
    if "lda_join_one_iteration_k8" in tn and tn.get("lda_one_iteration_k8"):
        out["lda_join_vs_broadcast_Nx"] = round(
            tn["lda_join_one_iteration_k8"] / tn["lda_one_iteration_k8"], 2
        )
    if "polylda_join_one_iteration_k4" in tn and tn.get(
        "polylda_one_iteration_k4"
    ):
        out["polylda_join_vs_broadcast_Nx"] = round(
            tn["polylda_join_one_iteration_k4"]
            / tn["polylda_one_iteration_k4"],
            2,
        )
    # Held-out done-bar (VERDICT r7 next #5): a γ-only inference pass
    # should cost no more than one training iteration at the same tier
    # (it is a training iteration minus the M-step and the γ carry).
    for key_out, ho, tr in (
        ("lda_heldout_vs_train_iter_Nx",
         "lda_infer_heldout_k8", "lda_one_iteration_k8"),
        ("lda_heldout_join_vs_train_iter_Nx",
         "lda_infer_heldout_join_k8", "lda_join_one_iteration_k8"),
        ("polylda_heldout_vs_train_iter_Nx",
         "polylda_infer_heldout_k4", "polylda_one_iteration_k4"),
        ("polylda_heldout_join_vs_train_iter_Nx",
         "polylda_infer_heldout_join_k4", "polylda_join_one_iteration_k4"),
    ):
        if tn.get(ho) and tn.get(tr):
            out[key_out] = round(tn[ho] / tn[tr], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
