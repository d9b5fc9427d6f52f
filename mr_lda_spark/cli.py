"""CLI mirroring the reference's five entry points (SURVEY.md §2.10) so
a Mr.LDA user can switch tool-for-tool:

  cc.mrlda.ParseCorpus          → mr_lda_spark.cli parse
  cc.mrlda.VariationalInference → mr_lda_spark.cli train
  cc.mrlda.InformedPrior        → mr_lda_spark.cli informed-prior
  cc.mrlda.DisplayTopic         → mr_lda_spark.cli display-topic
  cc.mrlda.DisplayDocument      → mr_lda_spark.cli display-document

Flag names follow the reference options classes
(ParseCorpusOptions.java:54-114, VariationalInferenceOptions.java:55-120)
with conventional dashes.  Outputs are Parquet tables in the engine
schemas plus JSON sidecars for model-sized state (alpha).
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np


def _spark(app):
    from mr_lda_spark.session import get_spark

    return get_spark(app)


class TruncatedSnapshotError(ValueError):
    """A ``--model-index`` γ snapshot whose write never finished (no
    ``_SUCCESS`` marker) or that lacks documents the corpus has:
    resuming from it would cold-start part of the corpus silently."""


def _resume_gamma(spark, path: str, corpus_doc):
    """The (doc_id, gamma) snapshot at ``path``, checked whole before
    any EM job runs.  Documents without tokens are never in a snapshot
    (the E-step skips them), so only the others must be covered."""
    from pyspark.sql import functions as F

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(spark._jvm.org.apache.hadoop.fs.Path(jpath, "_SUCCESS")):
        raise TruncatedSnapshotError(f"{path}: no _SUCCESS marker; the write did not finish")
    gamma = spark.read.parquet(path).select("doc_id", "gamma")
    missing = (
        corpus_doc.filter(F.size("term_ids") > 0).select("doc_id")
        .join(gamma, "doc_id", "left_anti").count()
    )
    if missing:
        raise TruncatedSnapshotError(
            f"{path}: {missing} documents of the corpus have no gamma in the snapshot"
        )
    return gamma


def _scored_totals(spark, path: str) -> dict:
    """``documents`` and ``total_log_likelihood`` of a written scoring
    output, read back from the files instead of re-running its plan."""
    from pyspark.sql import functions as F

    total = spark.read.parquet(path).agg(
        F.sum("doc_ll").alias("ll"), F.count(F.lit(1)).alias("docs")
    ).collect()[0]
    return {"documents": total["docs"], "total_log_likelihood": total["ll"]}


def _apply_parallelism(args) -> None:
    """Reference parity for `-mapper N -reducer N`
    (VariationalInferenceOptions.java): on Spark the same levers are
    local cores / shuffle partitions, consumed by the session factory
    via environment before the JVM starts."""
    if getattr(args, "parallelism", None):
        os.environ["SPARK_GRAFT_CPUS"] = str(args.parallelism)
    if getattr(args, "shuffle_partitions", None):
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(
            args.shuffle_partitions
        )


def cmd_parse(args) -> None:
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.sources.corpus import read_raw_corpus, write_table

    spark = _spark("mrlda-parse")
    if args.format == "raw":
        raw = read_raw_corpus(spark, args.input)
        titles = parse.build_title_index(raw, "title")
        docs = raw.join(titles, "title").select(
            "doc_id", F.col("body").alias("text")
        )
        write_table(titles, os.path.join(args.output, "title"))
    else:
        docs = spark.read.parquet(args.input).select(
            F.col(args.doc_id_col).alias("doc_id"),
            F.col(args.text_col).alias("text"),
        )

    stopwords = None
    if args.stoplist:
        with open(args.stoplist) as fh:
            stopwords = [w.strip() for w in fh if w.strip()]

    analyzer = None
    if getattr(args, "analyzer", None):
        from mr_lda_spark.operators.analyzers import by_name

        analyzer = by_name(args.analyzer)
    tokens = parse.tokenize(docs, stopwords=stopwords, analyzer=analyzer)
    num_docs = docs.count()
    stats = parse.term_stats(tokens)
    dictionary = parse.build_dictionary(
        stats,
        num_docs,
        min_df_frac=args.minimum_document_frequency,
        max_df_frac=args.maximum_document_frequency,
    )
    corpus = parse.encode_corpus(tokens, dictionary)
    term_dir = os.path.join(args.output, "term")
    document_dir = os.path.join(args.output, "document")
    write_table(dictionary, term_dir)
    write_table(corpus, document_dir)
    # Counts from the WRITTEN parquet (footer metadata): counting the
    # lineage would re-run tokenize → term_stats → encode.
    print(
        json.dumps(
            {
                "documents": num_docs,
                "vocabulary": spark.read.parquet(term_dir).count(),
                "encoded_cells": spark.read.parquet(document_dir).count(),
                "output": args.output,
            }
        )
    )


def cmd_train(args) -> None:
    from mr_lda_spark.operators import parse as parse_ops
    from mr_lda_spark.plans import lda
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-train")
    alpha_init = None
    if getattr(args, "input_format", "parquet") == "sequencefile":
        # Migrate a reference run mid-training: the Mr.LDA corpus /
        # document-<iter> directory carries γ embedded in each Document
        # record (VariationalInference.java:358-379), so a warm resume
        # needs no separate snapshot; `--alpha-index` imports the
        # matching alpha-<iter> SequenceFile.
        from mr_lda_spark.sources import sequencefile as seqf

        corpus_doc = seqf.read_corpus(spark, args.input)
        if args.term is None:
            raise SystemExit(
                "--term is required with --input-format sequencefile "
                "(the reference CLI has the same requirement: -term)"
            )
        if getattr(args, "alpha_index", None):
            rows = seqf.read_alpha(spark, args.alpha_index).collect()
            alpha_init = np.array(
                [a for _, a in sorted((r["topic"], r["alpha"]) for r in rows)]
            )
            if len(alpha_init) != args.topic:
                raise SystemExit(
                    f"--alpha-index has K={len(alpha_init)} topics but "
                    f"--topic is {args.topic}; a resumed run must keep "
                    "the original topic count"
                )
    else:
        corpus_tall = spark.read.parquet(os.path.join(args.input, "document"))
        corpus_doc = parse_ops.corpus_to_doc_form(corpus_tall)
    if args.model_index:
        # Resume (-modelindex): join the gamma snapshot back onto the
        # corpus so training warm-starts from iteration N's posterior.
        gamma = _resume_gamma(spark, args.model_index, corpus_doc)
        corpus_doc = corpus_doc.drop("gamma").join(gamma, "doc_id", "left")
    num_terms = args.term or spark.read.parquet(
        os.path.join(args.input, "term")
    ).count()

    eta = None
    if args.informed_prior:
        if _is_sequencefile_path(args.informed_prior):
            # The reference's own informed-prior artifact
            # (SequenceFile<IntWritable, ArrayListOfIntsWritable>,
            # InformedPrior.java:126) — ingest it directly.
            from mr_lda_spark.sources.sequencefile import read_eta

            eta = read_eta(spark, args.informed_prior)
        else:
            eta = spark.read.parquet(args.informed_prior)

    # --beta-mode join keeps β a distributed relation — the scale path
    # when V×K exceeds executor memory.  The informed prior is collected
    # once as its (topic, term_id) seed pairs in either placement.
    final_gamma, state = lda.train(
        spark,
        corpus_doc,
        num_terms=num_terms,
        num_topics=args.topic,
        max_iterations=args.iteration,
        max_gamma_iter=args.gamma_iteration,
        alpha_init=alpha_init,
        symmetric_alpha=args.symmetric_alpha,
        eta_seeds=eta,
        seed=args.seed,
        random_start_gamma=args.random_start,
        corpus_checkpoint=args.corpus_checkpoint,
        beta_mode=getattr(args, "beta_mode", "broadcast"),
    )
    out = args.output
    write_table(
        lda.beta_dataframe(spark, state), os.path.join(out, f"beta-{len(state.history)}")
    )
    write_table(final_gamma, os.path.join(out, f"gamma-{len(state.history)}"))
    with open(os.path.join(out, f"alpha-{len(state.history)}.json"), "w") as fh:
        json.dump(
            {
                "alpha": state.alpha.tolist(),
                "elbo_history": state.history,
                "iterations": len(state.history),
            },
            fh,
        )
    print(
        json.dumps(
            {
                "iterations": len(state.history),
                "final_elbo": state.elbo,
                "alpha_sum": float(state.alpha.sum()),
                "output": out,
            }
        )
    )


def _newest_snapshot(model: str, pattern: str) -> str:
    """The file matching ``pattern`` in ``model`` with the largest
    iteration suffix, parsed as an int (lexicographic order puts
    alpha-9 after alpha-10 — ADVICE r6)."""
    import glob
    import re

    def it(p: str) -> int:
        m = re.search(r"-(\d+)(?:\.json)?$", p)
        return int(m.group(1)) if m else -1

    found = glob.glob(os.path.join(model, pattern))
    if not found:
        raise FileNotFoundError(
            f"model directory {model} has no {pattern} (an incomplete "
            "model, or --language larger than the model's)"
        )
    return max(found, key=it)


def cmd_train_poly(args) -> None:
    """polylda.ParseCorpus + polylda.VariationalInference equivalent:
    raw polylingual corpus (docId \\t text_lang0 \\t text_lang1 ...,
    literal 'null' = missing language) → per-language dictionaries →
    shared-gamma training.  ``--test <modeldir>`` mirrors the
    reference's own mode switch (polylda/VariationalInference.java:90):
    encode the corpus with the MODEL's dictionaries and run the γ-only
    held-out pass with β joined as a relation (no driver β
    materialization) instead of training."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.plans import lda
    from mr_lda_spark.sources.corpus import read_raw_corpus_poly, write_table

    model = getattr(args, "test", None)
    if model:  # the whole model is found before any Spark job
        alpha_path = _newest_snapshot(model, "alpha-*.json")
        beta_paths = [
            _newest_snapshot(model, f"beta-lang{lang}-*") for lang in range(args.language)
        ]
    spark = _spark("mrlda-train-poly")
    raw = read_raw_corpus_poly(spark, args.input, args.language)
    titles = parse.build_title_index(raw, "title")
    docs = raw.join(titles, "title").select("doc_id", "lang", "body")
    tokens = docs.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("body", r"\s+"), lambda t: t != "")).alias(
            "term"
        ),
    )
    if model:
        dicts = spark.read.parquet(os.path.join(model, "term"))
    else:
        dicts = parse.build_dictionary_per_lang(tokens)
    tall, num_terms = parse.encode_corpus_poly(tokens, dicts, args.language)
    if model:
        with open(alpha_path) as fh:
            alpha = np.asarray(json.load(fh)["alpha"])
        beta_tall = None
        for lang, path in enumerate(beta_paths):
            part = spark.read.parquet(path).withColumn(
                "term_id", lda.lang_term_id(F.lit(lang), F.col("term_id"), num_terms)
            )
            beta_tall = part if beta_tall is None else beta_tall.unionByName(part)
        state = lda.LdaState(
            alpha=alpha, elog_beta=lda.beta_relation(beta_tall), num_terms=num_terms
        )
        out = lda.infer(spark, tall, state, max_gamma_iter=args.gamma_iteration)
        write_table(out, args.output)
        print(json.dumps({**_scored_totals(spark, args.output), "output": args.output}))
        return
    final_gamma, state = lda.train(
        spark,
        tall,
        num_terms,
        args.topic,
        max_iterations=args.iteration,
        max_gamma_iter=args.gamma_iteration,
        seed=args.seed,
        corpus_checkpoint=args.corpus_checkpoint,
    )
    out = args.output
    write_table(dicts, os.path.join(out, "term"))
    write_table(titles, os.path.join(out, "title"))
    write_table(final_gamma, os.path.join(out, f"gamma-{len(state.history)}"))
    for lang, eb in enumerate(state.elog_betas):
        write_table(
            lda.beta_dataframe(spark, lda.LdaState(alpha=state.alpha, elog_beta=eb)),
            os.path.join(out, f"beta-lang{lang}-{len(state.history)}"),
        )
    with open(os.path.join(out, f"alpha-{len(state.history)}.json"), "w") as fh:
        json.dump(
            {"alpha": state.alpha.tolist(), "elbo_history": state.history}, fh
        )
    print(
        json.dumps(
            {
                "languages": args.language,
                "vocab_per_language": num_terms,
                "iterations": len(state.history),
                "final_elbo": state.elbo,
                "output": out,
            }
        )
    )


def cmd_infer(args) -> None:
    """Held-out inference (the reference's -test mode,
    VariationalInferenceOptions.java:166-178): load a trained model
    (beta parquet + alpha json), run a single gamma-only E-step pass
    over a corpus, write gamma + per-doc log-likelihood.

    β stays a relation (``lda.infer``'s join placement): the stored
    tall β folds to (term_id, beta[K]) rows and joins the corpus — it
    never materializes on the driver, so a V×K past executor memory
    scores the same way a broadcastable one does (below the threshold
    AQE broadcasts the join on its own)."""
    from mr_lda_spark.plans import lda
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-infer")
    with open(args.alpha) as fh:
        alpha = np.asarray(json.load(fh)["alpha"])
    state = lda.LdaState(
        alpha=alpha, elog_beta=lda.beta_relation(spark.read.parquet(args.beta))
    )
    corpus_tall = spark.read.parquet(os.path.join(args.input, "document"))
    out = lda.infer(
        spark, corpus_tall.select("doc_id", "term_id", "term_count"),
        state, max_gamma_iter=args.gamma_iteration,
    )
    write_table(out, args.output)
    print(json.dumps({**_scored_totals(spark, args.output), "output": args.output}))


def cmd_informed_prior(args) -> None:
    from mr_lda_spark.operators.informed_prior import parse_informed_prior
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-informed-prior")
    dictionary = spark.read.parquet(args.index)
    eta = parse_informed_prior(spark, args.input, dictionary)
    if getattr(args, "output_format", "parquet") == "sequencefile":
        # The reference's own single-file layout (InformedPrior.java:
        # 122-167) so the artifact feeds either engine's train step.
        from mr_lda_spark.sources.sequencefile import write_eta

        write_eta(eta, args.output)
    else:
        write_table(eta, args.output)
    print(json.dumps({"seed_entries": eta.count(), "output": args.output}))


def cmd_curate(args) -> None:
    """Training-data curation pipeline over a documents parquet:
    language filter → quality gate → exact dedup → near-dup removal,
    written as parquet, with a one-row per-stage audit on stdout."""
    from mr_lda_spark.operators.curation import _curate_stages
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-curate")
    docs = spark.read.parquet(args.input)
    scored, after_lang, final = _curate_stages(
        docs,
        keep_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        jaccard_threshold=args.jaccard_threshold,
        max_shingle_df=args.max_shingle_df,
        min_entropy=args.min_entropy,
    )
    write_table(final, args.output)
    print(
        json.dumps(
            {
                "total_docs": scored.count(),
                "after_lang_filter": after_lang.count(),
                "min_entropy": args.min_entropy,
                "final_docs": spark.read.parquet(args.output).count(),
                "output": args.output,
            }
        )
    )


def cmd_stats(args) -> None:
    """Corpus-analysis reports over a documents parquet: per-source
    character-entropy aggregates, lexical diversity (Simpson/hapax/
    TTR), or the pairwise Jensen-Shannon divergence matrix — the
    curation diagnostics, written as parquet with a JSON audit."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import textops
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-stats")
    docs = spark.read.parquet(args.input)
    if args.op == "entropy":
        ent = textops.char_entropy_stateless(
            docs, keep_cols=("source",)
        ).filter(F.col("n_chars") > 0)
        out = ent.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("entropy_bits").alias("min_entropy"),
            F.max("entropy_bits").alias("max_entropy"),
        )
    elif args.op == "diversity":
        out = textops.lexical_diversity(docs)
    else:  # js-divergence
        out = textops.source_divergence(docs)
    write_table(out, args.output)
    n = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "op": args.op,
                "input_docs": docs.count(),
                "output_rows": n,
                "output": args.output,
            }
        )
    )


def cmd_media(args) -> None:
    """Multimodal feature extraction over a documents parquet: the
    docs become REAL PNG/WAV/Y4M payloads (the same synthesis the
    oracle-backed registry rows prove byte-for-byte) and the chosen
    op runs its Arrow-batched decode kernel; features land as parquet
    with a JSON audit."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import multimodal as mm
    from mr_lda_spark.session import ensure_package_shipped
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-media")
    ensure_package_shipped(spark)
    docs = spark.read.parquet(args.input)
    media = mm.real_media_from_documents(docs)
    if args.op == "png-dhash":
        out = mm.png_dhash(media)
    elif args.op == "wav-fingerprint":
        out = mm.wav_fingerprint(media)
    elif args.op == "scene-cuts":
        out = mm.y4m_scene_cuts(media)
    else:  # image-near-dupes
        from mr_lda_spark.operators import dedup

        fp = mm.png_dhash(media).select(
            F.col("media_id").alias("doc_id"), "dhash"
        )
        out = dedup.hamming_banded_pairs(
            fp, bits=56, max_hamming=args.max_hamming, hash_col="dhash"
        )
    write_table(out, args.output)
    n = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "op": args.op,
                "input_docs": docs.count(),
                "output_rows": n,
                "output": args.output,
            }
        )
    )


def cmd_sample(args) -> None:
    """Deterministic weighted sample of a documents parquet: each row
    races min(weight, cap) md5 tickets, the k smallest keys win; the
    winners' FULL rows are written (rank column attached) plus a JSON
    audit.  Same draw on every engine and every run."""
    from mr_lda_spark.operators.curation import weighted_sample
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-sample")
    docs = spark.read.parquet(args.input)
    picked = weighted_sample(
        docs,
        args.weight_col,
        k=args.k,
        id_col=args.id_col,
        weight_cap=args.weight_cap,
    )
    out = docs.join(
        picked.select(args.id_col, "rank"), args.id_col
    )
    write_table(out, args.output)
    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "k": args.k,
                "weight_col": args.weight_col,
                "sampled_docs": n_out,
                "output": args.output,
            }
        )
    )


def cmd_decontaminate(args) -> None:
    """Standalone eval-set decontamination over a documents parquet:
    flag (default) or surgically cut (``--mode spans``) every training
    span sharing an n-gram with the eval corpus, write the cleaned
    table, print a JSON audit."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import textops
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-decontaminate")
    docs = spark.read.parquet(args.input)
    ev = spark.read.parquet(args.eval)
    n_in = docs.count()
    if args.mode == "flag":
        flagged = textops.decontaminate(docs, ev, n=args.ngram)
        survivors = docs.join(
            flagged.filter(~F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        write_table(survivors, args.output)
        n_out = spark.read.parquet(args.output).count()
        audit = {
            "mode": "flag",
            "input_docs": n_in,
            "removed_docs": n_in - n_out,
            "surviving_docs": n_out,
        }
    else:  # spans
        cleaned = textops.decontaminate_spans(docs, ev, n=args.ngram)
        out = docs.drop("text").join(
            cleaned.select(
                "doc_id", "n_removed", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
        write_table(out, args.output)
        stats = cleaned.agg(
            F.sum("n_removed").alias("cut"),
            F.sum((F.col("n_removed") > 0).cast("int")).alias("touched"),
        ).collect()[0]
        audit = {
            "mode": "spans",
            "input_docs": n_in,
            "docs_touched": int(stats["touched"] or 0),
            "tokens_removed": int(stats["cut"] or 0),
        }
    audit["output"] = args.output
    print(json.dumps(audit))


def cmd_dedup(args) -> None:
    """Standalone dedup over a documents parquet: pick a method, write
    the surviving corpus (+ optional pair report), print a JSON audit.

    Methods map to the operator family (operators/dedup.py): ``exact``
    (md5 groups), ``jaccard`` (capped inverted-index exact pairs),
    ``minhash`` (MinHash→LSH→verify), ``simhash`` (banded hamming),
    ``containment`` (directional subset detection).  Survivor policy
    for pair methods: ``--survivor-policy min-id`` (default,
    connected-component collapse to the minimum doc_id) or
    ``quality`` (keep the highest heuristic-quality member per
    component — dedup_survivors_by_score over textops.quality_scores;
    "keep the best copy")."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import dedup
    from mr_lda_spark.sources.corpus import write_table

    spark = _spark("mrlda-dedup")
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    if args.method == "exact":
        groups = dedup.exact_duplicates(docs)
        keep = groups.select(
            F.col("canonical_doc_id").alias("doc_id")
        )
        survivors = docs.join(keep, "doc_id", "left_semi")
        n_pairs = 0
    else:
        if args.method == "jaccard":
            pairs = dedup.jaccard_near_dupes_exact(
                docs,
                threshold=args.threshold,
                max_shingle_df=args.max_shingle_df,
            )
        elif args.method == "minhash":
            pairs = dedup.near_duplicates_minhash(
                docs, threshold=args.threshold
            )
        elif args.method == "simhash":
            pairs = dedup.simhash_near_dupes(
                docs, max_hamming=args.max_hamming
            )
        else:  # containment
            pairs = dedup.containment_pairs(
                docs,
                threshold=args.threshold,
                max_shingle_df=args.max_shingle_df,
            )
        pairs = pairs.persist()
        n_pairs = pairs.count()  # eager: survivors + optional report
        if args.pairs_output:
            write_table(pairs, args.pairs_output)
        if getattr(args, "survivor_policy", "min-id") == "quality":
            from mr_lda_spark.operators.textops import quality_scores

            survivors = dedup.dedup_survivors_by_score(
                docs, pairs, quality_scores(docs)
            )
        else:
            survivors = dedup.dedup_survivors(docs, pairs)
    write_table(survivors, args.output)
    n_out = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "method": args.method,
                "input_docs": n_in,
                "dup_pairs": n_pairs,
                "removed": n_in - n_out,
                "surviving_docs": n_out,
                "output": args.output,
            }
        )
    )


def _is_sequencefile_path(path: str) -> bool:
    """SEQ-magic sniff that also accepts the reference's single-FILE
    layouts (informed prior, alpha) alongside part-* directories."""
    if os.path.isfile(path):
        try:
            with open(path, "rb") as fh:
                return fh.read(3) == b"SEQ"
        except OSError:
            return False
    return _is_sequencefile_dir(path)


def _is_sequencefile_dir(path: str) -> bool:
    """True when ``path`` holds Hadoop SequenceFile part files (sniffed
    by the SEQ magic) rather than parquet — lets the Display commands
    accept the reference's own output directories verbatim."""
    import glob as globlib

    for p in sorted(globlib.glob(os.path.join(path, "part-*"))):
        try:
            with open(p, "rb") as fh:
                head = fh.read(3)
        except OSError:
            continue
        if head == b"SEQ":
            return True
        if head:  # non-empty part that isn't a SequenceFile
            return False
    return False


def cmd_display_topic(args) -> None:
    from mr_lda_spark.operators.display import top_terms_per_topic

    spark = _spark("mrlda-display-topic")
    if _is_sequencefile_dir(args.input):
        # The reference's DisplayTopic flow (DisplayTopic.java:110-138)
        # reads the trained-β SequenceFile directory directly; so do we
        # (read_beta handles the PairOfIntFloat/HMapIDW wire format and
        # the importBeta normalization).
        from mr_lda_spark.sources.sequencefile import read_beta

        beta = read_beta(spark, args.input)
    else:
        beta = spark.read.parquet(args.input)
    term_dict = spark.read.parquet(args.index) if args.index else None
    top = top_terms_per_topic(beta, term_dict, k=args.top_display)
    for row in top.orderBy("topic", "rank").collect():
        term = row["term"] if "term" in row.__fields__ else row["term_id"]
        print(f"topic {row['topic']}\t{term}\t{row['log_beta']:.6f}")


def cmd_display_document(args) -> None:
    from mr_lda_spark.operators.display import display_document

    spark = _spark("mrlda-display-document")
    gamma = spark.read.parquet(args.input)
    out = display_document(gamma).orderBy("doc_id").limit(args.limit)
    for row in out.collect():
        dist = " ".join(f"{x:.4f}" for x in row["topic_distribution"])
        print(f"{row['doc_id']}\t{dist}")


def cmd_convert(args) -> None:
    """Mr.LDA SequenceFile interop (README.md:297 layout): ingest a
    reference on-disk corpus / dictionary / title / alpha / trained-beta
    directory into engine parquet, or export any of those parquet
    relations back to the reference's Writable part files (corpus,
    term dict, title index, alpha, beta — eta goes through
    `informed-prior --output-format sequencefile`)."""
    from mr_lda_spark.sources import sequencefile as sf

    spark = _spark("mrlda-convert")
    if args.direction == "to-parquet":
        reader = {
            "corpus": sf.read_corpus,
            "poly-corpus": sf.read_poly_corpus,
            "term": sf.read_term_dict,
            "title": sf.read_title_index,
            "alpha": sf.read_alpha,
            "beta": sf.read_beta,
        }[args.what]
        df = reader(spark, args.input)
        df.write.mode("overwrite").parquet(args.output)
        # Row count from the WRITTEN parquet: footer metadata only —
        # cheaper than counting the decode lineage, which would re-read
        # and re-decode every SequenceFile a second time.
        print(json.dumps({"rows": spark.read.parquet(args.output).count(),
                          "output": args.output}))
    else:  # to-sequencefile: every reference artifact is exportable
        df = spark.read.parquet(args.input)
        writer = {
            "beta": sf.write_beta,
            "term": sf.write_term_dict,
            "title": sf.write_title_index,
            "alpha": sf.write_alpha,
            "corpus": sf.write_corpus,
        }.get(args.what)
        if writer is None:
            raise SystemExit(
                f"--what {args.what} has no to-sequencefile exporter"
            )
        n = writer(df, args.output, compression=args.compression)
        print(json.dumps({"part_files": n, "output": args.output}))


def cmd_export_ldac(args) -> None:
    """Export β + α in Blei's lda-c layout (`<prefix>.beta` /
    `<prefix>.other`) — the reference's documented held-out-likelihood
    workflow (README.md:169-224) feeds `lda inf` with exactly these two
    files.  Rows are per-topic log-probabilities over term ids 1..V in
    id order; E[log β] is renormalized per topic (logsumexp) so each
    row is a proper distribution, matching what lda-c expects."""
    spark = _spark("mrlda-export-ldac")
    beta = spark.read.parquet(args.beta).collect()  # model-sized: V×K
    with open(args.alpha) as fh:
        alpha_doc = json.load(fh)
    alpha = alpha_doc["alpha"] if isinstance(alpha_doc, dict) else alpha_doc
    K = 1 + max(r["topic"] for r in beta)
    V = max(r["term_id"] for r in beta)
    mat = np.full((K, V), np.log(1e-12))
    for r in beta:
        mat[r["topic"], r["term_id"] - 1] = r["log_beta"]
    # Per-topic renormalization in log space.
    m = mat.max(axis=1, keepdims=True)
    mat = mat - (m + np.log(np.exp(mat - m).sum(axis=1, keepdims=True)))
    with open(args.prefix + ".beta", "w") as fh:
        for k in range(K):
            fh.write(" ".join(f"{x: .10f}" for x in mat[k]))
            fh.write("\n")
    mean_alpha = float(np.mean(alpha))
    with open(args.prefix + ".other", "w") as fh:
        fh.write(f"num_topics {K}\n")
        fh.write(f"num_terms {V}\n")
        fh.write(f"alpha {mean_alpha:.10f}\n")
    print(json.dumps({"num_topics": K, "num_terms": V, "alpha": mean_alpha,
                      "beta_file": args.prefix + ".beta"}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mr_lda_spark", description=__doc__)
    p.add_argument(
        "--parallelism",
        type=int,
        default=None,
        help="local cores (reference -mapper equivalent; cluster: set "
        "via spark-submit instead)",
    )
    p.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="shuffle partition count (reference -reducer equivalent)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("parse", help="ParseCorpus equivalent")
    pp.add_argument("--input", required=True)
    pp.add_argument("--output", required=True)
    pp.add_argument("--format", choices=["raw", "parquet"], default="parquet")
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--doc-id-col", default="doc_id")
    pp.add_argument("--stoplist", default=None)
    pp.add_argument(
        "--analyzer",
        default=None,
        help="named analyzer (engine short name or Lucene class name, "
        "reference -analyzer equivalent): standard | whitespace | cjk | "
        "org.apache.lucene.analysis.*",
    )
    pp.add_argument(
        "--minimum-document-frequency", type=float, default=0.0
    )
    pp.add_argument(
        "--maximum-document-frequency", type=float, default=1.0
    )
    pp.set_defaults(fn=cmd_parse)

    pt = sub.add_parser("train", help="VariationalInference equivalent")
    pt.add_argument("--input", required=True, help="parse output dir")
    pt.add_argument("--output", required=True)
    pt.add_argument(
        "--input-format",
        choices=["parquet", "sequencefile"],
        default="parquet",
        help="sequencefile = a reference Mr.LDA corpus/document-<iter> "
        "dir (gamma embedded in Document records; requires --term)",
    )
    pt.add_argument(
        "--alpha-index",
        default=None,
        help="reference alpha-<iter> SequenceFile dir to import as the "
        "starting alpha (with --input-format sequencefile)",
    )
    pt.add_argument("--topic", type=int, required=True)
    pt.add_argument("--term", type=int, default=None)
    pt.add_argument("--iteration", type=int, default=30)
    pt.add_argument("--gamma-iteration", type=int, default=50)
    pt.add_argument("--symmetric-alpha", action="store_true")
    pt.add_argument("--random-start", action="store_true")
    pt.add_argument("--informed-prior", default=None)
    pt.add_argument(
        "--beta-mode",
        choices=["broadcast", "join"],
        default="broadcast",
        help="join = distributed-beta EM (plans.lda beta_mode='join'), "
        "the scale path past broadcastable VxK; supports --informed-prior",
    )
    pt.add_argument(
        "--model-index",
        default=None,
        help="gamma-<i> snapshot dir to resume from (reference -modelindex)",
    )
    pt.add_argument(
        "--corpus-checkpoint",
        choices=["local", "reliable"],
        default="local",
        help="lineage-cut tier for the EM loop: local = "
        "localCheckpoint (fast, executor-resident); reliable = "
        "checkpoint() to spark's checkpoint dir (set "
        "spark.sparkContext.setCheckpointDir / "
        "spark.checkpoint.dir) - survives executor loss on "
        "preemptible clusters",
    )
    pt.add_argument("--seed", type=int, default=42)
    pt.set_defaults(fn=cmd_train)

    pif = sub.add_parser("infer", help="held-out inference (-test mode)")
    pif.add_argument("--input", required=True, help="parse output dir")
    pif.add_argument("--beta", required=True, help="beta parquet dir")
    pif.add_argument("--alpha", required=True, help="alpha json file")
    pif.add_argument("--output", required=True)
    pif.add_argument("--gamma-iteration", type=int, default=50)
    pif.set_defaults(fn=cmd_infer)

    ptp = sub.add_parser(
        "train-poly", help="polylda ParseCorpus+VariationalInference equivalent"
    )
    ptp.add_argument("--input", required=True, help="raw polylingual corpus")
    ptp.add_argument("--output", required=True)
    ptp.add_argument("--language", type=int, required=True)
    ptp.add_argument("--topic", type=int, required=True)
    ptp.add_argument("--iteration", type=int, default=10)
    ptp.add_argument("--gamma-iteration", type=int, default=20)
    ptp.add_argument("--seed", type=int, default=42)
    ptp.add_argument(
        "--test",
        default=None,
        metavar="MODELDIR",
        help="held-out mode (the reference's -test): score the corpus "
        "under a trained model dir instead of training",
    )
    ptp.add_argument(
        "--corpus-checkpoint",
        choices=["local", "reliable"],
        default="local",
        help="lineage-cut tier for the EM loop (see train)",
    )
    ptp.set_defaults(fn=cmd_train_poly)

    pi = sub.add_parser("informed-prior", help="InformedPrior equivalent")
    pi.add_argument("--input", required=True)
    pi.add_argument("--output", required=True)
    pi.add_argument("--index", required=True, help="term dictionary parquet")
    pi.add_argument(
        "--output-format",
        choices=["parquet", "sequencefile"],
        default="parquet",
        help="sequencefile = the reference's single-file eta layout",
    )
    pi.set_defaults(fn=cmd_informed_prior)

    pdt = sub.add_parser("display-topic", help="DisplayTopic equivalent")
    pdt.add_argument(
        "--input",
        required=True,
        help="beta parquet, or a reference SequenceFile beta directory",
    )
    pdt.add_argument("--index", default=None, help="term dictionary parquet")
    pdt.add_argument("--top-display", type=int, default=10)
    pdt.set_defaults(fn=cmd_display_topic)

    pdd = sub.add_parser("display-document", help="DisplayDocument equivalent")
    pdd.add_argument("--input", required=True, help="gamma parquet")
    pdd.add_argument("--limit", type=int, default=20)
    pdd.set_defaults(fn=cmd_display_document)

    pc = sub.add_parser(
        "convert", help="Mr.LDA SequenceFile ↔ engine parquet interop"
    )
    pc.add_argument(
        "--direction",
        choices=["to-parquet", "to-sequencefile"],
        default="to-parquet",
    )
    pc.add_argument(
        "--what",
        choices=["corpus", "poly-corpus", "term", "title", "alpha", "beta"],
        default="corpus",
        help="which reference output layout to decode / encode",
    )
    pc.add_argument("--input", required=True)
    pc.add_argument("--output", required=True)
    pc.add_argument(
        "--compression",
        choices=["none", "record", "block"],
        default="record",
        help="SequenceFile compression for to-sequencefile",
    )
    pc.set_defaults(
        fn=lambda a: cmd_convert(_fix_compression(a))
    )

    pl = sub.add_parser(
        "export-ldac",
        help="write <prefix>.beta/.other for Blei's lda-c held-out eval",
    )
    pl.add_argument("--beta", required=True, help="beta parquet dir")
    pl.add_argument("--alpha", required=True, help="alpha json file")
    pl.add_argument("--prefix", required=True, help="output file prefix")
    pl.set_defaults(fn=cmd_export_ldac)

    pcu = sub.add_parser(
        "curate",
        help="training-data curation: lang filter -> quality gate -> "
        "exact dedup -> near-dup removal (beyond the reference)",
    )
    pcu.add_argument("--input", required=True, help="documents parquet")
    pcu.add_argument("--output", required=True)
    pcu.add_argument("--langs", default="en", help="comma-separated keep list")
    pcu.add_argument("--min-quality", type=float, default=0.3)
    pcu.add_argument("--jaccard-threshold", type=float, default=0.5)
    pcu.add_argument("--max-shingle-df", type=int, default=100)
    pcu.add_argument(
        "--min-entropy",
        type=float,
        default=None,
        help="optional char-entropy floor in bits (Gopher-style "
        "noise/boilerplate gate); omit to skip the stage",
    )
    pcu.set_defaults(fn=cmd_curate)

    psa = sub.add_parser(
        "sample",
        help="deterministic weighted sampling without replacement "
        "(md5 min-hash race; beyond the reference)",
    )
    psa.add_argument("--input", required=True, help="documents parquet")
    psa.add_argument("--output", required=True, help="sampled parquet")
    psa.add_argument("--k", type=int, required=True)
    psa.add_argument("--weight-col", default="n_chars")
    psa.add_argument("--weight-cap", type=int, default=64)
    psa.add_argument("--id-col", default="doc_id")
    psa.set_defaults(fn=cmd_sample)

    pme = sub.add_parser(
        "media",
        help="multimodal feature extraction: png-dhash | "
        "wav-fingerprint | scene-cuts | image-near-dupes "
        "(real codec round-trips; beyond the reference)",
    )
    pme.add_argument("--input", required=True, help="documents parquet")
    pme.add_argument("--output", required=True)
    pme.add_argument(
        "--op",
        choices=["png-dhash", "wav-fingerprint", "scene-cuts",
                 "image-near-dupes"],
        default="png-dhash",
    )
    pme.add_argument("--max-hamming", type=int, default=6)
    pme.set_defaults(fn=cmd_media)

    pst = sub.add_parser(
        "stats",
        help="corpus-analysis reports: entropy | diversity | "
        "js-divergence (beyond the reference)",
    )
    pst.add_argument("--input", required=True, help="documents parquet")
    pst.add_argument("--output", required=True)
    pst.add_argument(
        "--op",
        choices=["entropy", "diversity", "js-divergence"],
        default="entropy",
    )
    pst.set_defaults(fn=cmd_stats)

    pdu = sub.add_parser(
        "dedup",
        help="standalone corpus dedup: exact | jaccard | minhash | "
        "simhash | containment (beyond the reference)",
    )
    pdu.add_argument("--input", required=True, help="documents parquet")
    pdu.add_argument("--output", required=True, help="survivors parquet")
    pdu.add_argument(
        "--method",
        choices=["exact", "jaccard", "minhash", "simhash", "containment"],
        default="exact",
    )
    pdu.add_argument(
        "--threshold",
        type=float,
        default=0.5,
        help="jaccard/minhash similarity or containment threshold",
    )
    pdu.add_argument("--max-shingle-df", type=int, default=100)
    pdu.add_argument(
        "--survivor-policy",
        choices=["min-id", "quality"],
        default="min-id",
        help="per near-dup component keep the minimum doc_id or the "
        "highest heuristic-quality member",
    )
    pdu.add_argument("--max-hamming", type=int, default=6)
    pdu.add_argument(
        "--pairs-output", default=None, help="also write the dup-pair report"
    )
    pdu.set_defaults(fn=cmd_dedup)

    pdc = sub.add_parser(
        "decontaminate",
        help="eval-set decontamination: drop flagged docs or cut only "
        "the contaminated spans (beyond the reference)",
    )
    pdc.add_argument("--input", required=True, help="documents parquet")
    pdc.add_argument("--eval", required=True, help="eval corpus parquet")
    pdc.add_argument("--output", required=True)
    pdc.add_argument("--mode", choices=["flag", "spans"], default="flag")
    pdc.add_argument("--ngram", type=int, default=5)
    pdc.set_defaults(fn=cmd_decontaminate)

    return p


def _fix_compression(args):
    if getattr(args, "compression", None) == "none":
        args.compression = None
    return args


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    _apply_parallelism(args)
    args.fn(args)


if __name__ == "__main__":
    main()
