#!/usr/bin/env python3
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is forced with a cheap count() action (results are small;
the work is the scan/shuffle/compute, which count() cannot skip since
every query aggregates or ranks first).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "events_hourly",
    "events_sessionize",
    "events_cube",
    "orders_running_total",
    "parse_term_dict",
    "parse_encoded_corpus",
    "top_terms_per_lang",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "dedup_jaccard_pairs",
    "text_quality",
    "text_language_id",
    "similarity_cosine_topk",
    "events_asof_join",
    "text_npmi_coherence",
    "curation_pipeline",
    "lda_train_topics",
    "dedup_embedding_cosine_lsh",
]

# Recorded alongside the headline numbers but not in the total (the
# total tracks the same query set round-over-round): the banded
# SimHash pair search (was O(n²) — now equi-join) and the polylingual
# EM throughput.
EXTRA = [
    "dedup_simhash_pairs",
    "dedup_minhash_near_dupes",
    # r3 additions (recorded, not in the round-over-round total):
    "similarity_knn_classify",
    "curation_domain_cap",
    "documents_profile",
    # r4 additions (recorded, not in the round-over-round total):
    "similarity_ivfpq_topk",
    "similarity_rp_topk",
    "lineitem_salted_join_revenue",
    "dedup_semdedup_pairs",
    "dedup_incremental_pairs",
    "curation_adaptive_quality",
    "quality_model_serve",
    "text_bm25_topk",
    "dedup_containment_pairs",
    "text_bigram_lm_scores",
    # r5 additions (recorded, not in the round-over-round total):
    "similarity_pq_fullprobe_topk",
    "similarity_lsh_frozen_topk",
    "multimodal_y4m_stats",
    "text_repetition_scores",
    "curation_token_budget",
    "multimodal_wav_resample_stats",
    "dedup_source_overlap",
    "dedup_source_overlap_minhash",
    # r6 additions (recorded, not in the round-over-round total):
    "dedup_embedding_cosine_lsh_frozen",
    "curation_perplexity_filter_lm",
    "multimodal_png_rgb_stats",
    "lda_heldout_perplexity_join",
    "polylda_join_mode_topics",
    "events_distinct_users_exact",
    "curation_dsir_weights",
    "similarity_kmeans_frozen",
    "dedup_semdedup_kmeans",
    "similarity_ivfflat_frozen_topk",
    "text_bpe_pair_counts",
    "curation_temperature_sample",
    "curation_modern_pipeline",
    # r8 additions (recorded, not in the round-over-round total):
    "dedup_segments_corpus",
    "dedup_segments_intradoc",
    "dedup_exact_substring",
    "similarity_ivfflat_recall",
    "text_decontaminate_bloom",
    # ends in an aggregate: count() computes the full pipeline — no
    # noop forcing needed.
    "text_heavy_hitters_cms",
    # r9 additions (recorded, not in the round-over-round total):
    "events_rolling_24h_spend",
    "events_hourly_gapfill",
    "events_rolling_24h_spend_salted",
    "curation_hash_split",
    "dedup_edit_distance_pairs",
    "graph_pagerank_suppliers",
    # eager (histogram rounds run at construction, like the BPE
    # rows); count() forces only the final survivor ranking.
    "lineitem_exact_price_quantiles",
    "lineitem_price_quantiles_by_flag",
    # join+distinct+refine survive under count() (filter needs them);
    # only the trivial overlap projection is pruned.
    "events_session_overlap_pairs",
    # ends in TakeOrderedAndProject: count() computes the top-k.
    "curation_weighted_sample",
    "events_funnel_conversion",
    # inner joins of grouped (unique-keyed) aggregates: count() cannot
    # eliminate an inner join, so the sketch + exact audit both run.
    "text_hll_distinct_shingles",
    "text_hll_merge",
    # ends in a groupBy aggregate over the triangle relation: count()
    # computes orientation, wedges, and the closing join.
    "graph_triangles_parts",
    "customer_priority_scd2",
    "lineitem_zorder_extents",
    "events_attribution_touch",
    # final filter carries the threshold levenshtein: count() runs
    # the sort, candidate windows, and the verify joins.
    "dedup_sorted_neighborhood",
    "events_hourly_anomalies",
    # inner join of two aggregates: count() computes the window pass
    # and both groupBys.
    "events_markov_transitions",
    # the streaming drain is eager at construction (availableNow to a
    # memory sink, like the quantile histogram rounds); count() forces
    # only the batch estimator over the m-row register table.
    "documents_stream_hll_shingles",
    # ends in the fused-rank window filter: count() computes both
    # retrieval rankings and the fusion join.
    "similarity_rrf_fusion",
    # ends in a grouped aggregate over the join: count() runs the
    # bitset build, the map-side prefilter, and the exact join.
    "lineitem_bloom_join_revenue",
    # inner+left joins of grouped aggregates (cardinality = the pair
    # estimate relation): count() computes sketch and exact audit.
    "text_hll_source_overlap",
    # ends in the (doc, rank) arg-min groupBy: count() computes the
    # bucket join.
    "curation_negative_samples",
    # streaming sketch drain is eager at construction; count() forces
    # the batch prefilter + exact verify (ends in a HAVING filter).
    "documents_stream_heavy_hitters_cms",
    "curation_score_calibration",
    # inner join of grouped aggregates (sketch curve + exact audit).
    "text_hll_cumulative_sources",
    "events_funnel_windowed",
    "lineitem_correlations",
    # left-anti join sets the cardinality: count() computes the pair
    # graph, components, and the quality arg-max.
    "dedup_survivors_by_quality",
    # inner joins of a HAVING-filtered pair agg with the marginals:
    # count() computes the basket explode and all three aggregates.
    "lineitem_copurchase_lift",
    # ends in the per-item rank window filter: count() computes the
    # pair relation and the cosine ordering.
    "lineitem_item_similarity_topk",
    # scalar audit: both pair pipelines run eagerly at construction
    # (like the quantile/BPE rows); count() forces the 1-row result.
    "dedup_minhash_recall",
    # cross join of two 1-row aggregates: count() computes both the
    # cell table and the exact F2 audit.
    "dedup_selfjoin_mass_estimate",
    "dedup_selfjoin_mass_ams",
    # ends in the per-source aggregate: count() computes the windows.
    "curation_pareto_report",
    # r10 additions (recorded, not in the round-over-round total).
    # The eight *_golden rows are deliberately NOT benched:
    # they ignore sf_dir (frozen sf0.001 corpus) so they measure
    # nothing about sf0.1 throughput.
    # inner join of grouped aggregates (sketch + exact audit).
    "events_distinct_users_hll",
    # the funnel feasibility closure runs eagerly at construction
    # (localCheckpoint); count() forces the global agg + k-row explode.
    "events_funnel_dropoff",
    # streaming cell drain is eager at construction; count() forces
    # the estimator tail + exact F2 audit (cross join of aggregates).
    "documents_stream_ams",
    # ends in the per-query arg-max aggregate over the rank window:
    # count() computes the broadcast scan + ranking + margin.
    "similarity_margin_mining",
    # r11 additions (recorded, not in the round-over-round total).
    # The four heldout *_golden rows are NOT benched (frozen sf0.001
    # corpus — they measure nothing about sf0.1 throughput).
    # ends in the per-query margin aggregate: count() computes the
    # bucketing matmuls, the cross-set bucket join, pair dedup, the
    # rehydration joins, and the rank window.
    "similarity_margin_mining_lsh",
    # r11 continuation additions (recorded, not in the total).
    # text_bpe_encode_golden is NOT benched (golden-row policy).
    # the peel materializes at construction (localCheckpoint);
    # count() forces only the final survivor-degree agg.
    "graph_kcore_parts",
    # ends in a left-anti join over the HAVING-filtered wedge agg:
    # count() computes the degree cap, wedge join, and both aggs.
    "graph_linkpred_parts",
    # ends in the (i,j) moment groupBy: count() computes the Arrow
    # matmul blocks and the decimal combine.
    "embedding_gram_exact",
    # gram collect + driver power iteration run at construction;
    # count() forces the 64-row result.
    "embedding_pca_power",
    # streaming drain is eager at construction (availableNow memory
    # sink); count() forces the drained 2145-row table.
    "embeddings_stream_gram",
    # frontier rounds run eagerly at construction (localCheckpoint +
    # isEmpty); count() forces the final visited relation.
    "graph_bfs_levels_parts",
    # second r11 continuation batch (recorded, not in the total).
    # ends in the per-source aggregate over per-doc entropies:
    # count() computes the char explode and both aggregations.
    "text_char_entropy_by_source",
    # ends in TakeOrderedAndProject over the per-id ticket minima.
    "curation_weighted_sample_tickets",
    # inner join of grouped aggregates (pair relation cardinality):
    # count() computes the term join and the quantized JS fold.
    "text_source_js_divergence",
    # streaming drain is eager at construction (availableNow parquet
    # sink); count() forces the drained per-doc gate table.
    "documents_stream_entropy_gate",
    # single grouped aggregate: count() computes the token explode
    # and the decimal simpson fold.
    "text_lexical_diversity",
    # left join of the sketch estimates with the exact audit agg:
    # count() computes both (inner cardinality = pair relation).
    "text_kmv_source_overlap",
    # stateful streaming drain is eager at construction (availableNow
    # memory sink + applyInPandasWithState); count() forces only the
    # sources x k exploded sketch relation.
    "documents_stream_kmv",
    # ends in the per-source rank window over per-id ticket minima.
    "curation_weighted_sample_per_source",
    # doc_id-keyed join of the language-ID projection with labels,
    # then one grouped count: count() computes the classifier scan.
    "text_lang_confusion",
    # cross join of three 1-row aggregates (merged/direct/exact):
    # count() computes both sketch constructions and the exact audit.
    "text_kmv_merge",
    # query-keyed joins of two eager rankings (frozen IVF + exact):
    # count() computes both rankings and the metric aggregates.
    "similarity_ivf_ranking_quality",
    # broadcast vocab probe + grouped count: count() computes the
    # dictionary build and the token-stream membership join.
    "text_oov_rate_by_source",
    # Arrow-batched real-PNG decode kernel: count() runs the decode
    # (the hash column is the kernel's output, nothing prunable).
    "multimodal_png_dhash",
    # Arrow-batched real-WAV / real-Y4M decode kernels, same forcing.
    "multimodal_wav_fingerprint",
    "multimodal_y4m_scene_cuts",
    # the banded pair search materializes at construction
    # (localCheckpoint, the funnel lifecycle); count() forces only the
    # checkpointed pair relation.
    "multimodal_image_near_dupes",
    # three-way join of grouped aggregates (both sketches + exact
    # audit): count() computes all three.
    "text_kmv_vs_hll_distinct",
    # quantile refinement rounds run eagerly at construction (the
    # exact-quantile histogram protocol); count() forces the
    # sources x ps result.
    "text_entropy_quantiles_by_source",
    # r12 addition (recorded, not in the total): gram end-consumer —
    # the gram pass materializes at construction (localCheckpoint,
    # the funnel lifecycle — REQUIRED: group-key filters push into
    # each consumer's exchange and defeat ReuseExchange, so the lazy
    # plan would re-run the corpus kernel 6x); count() forces the
    # broadcast correlation joins over the checkpointed relation.
    "embedding_correlation_pairs",
]

# Queries whose top shape is an outer join against a unique-keyed
# rebuild: under `.count()` Catalyst ELIMINATES the join (and with it
# the whole dedup/rebuild subtree — audited r8: joins 2-3 → 0 in the
# optimized count plan), so counting would time a filtered scan, not
# the operator.  These are forced with a noop-sink write instead,
# which computes every output row.  Historical entries stay on
# `.count()` — their r1–r7 numbers were all taken under the same
# action, so the round-over-round comparison is protocol-consistent
# (the same partial pruning affects text_language_id /
# text_npmi_coherence / text_repetition_scores; documented in
# PERF_NOTES_r08 §4 with isolated noop-forced medians on record).
NOOP_FORCE = {
    # scd2 ends in a lead() window: count() prunes it (cardinality is
    # fixed by the run groupBy) — noop-force so interval chaining runs.
    "customer_priority_scd2",
    # count() keeps the cell groupBy (cardinality) but prunes the
    # min/max extent aggregates and the probe verdict — noop-force.
    "lineitem_zorder_extents",
    # cardinality is the purchase filter alone: count() prunes both
    # ignore-nulls attribution windows — noop-force.
    "events_attribution_touch",
    # cardinality is the spine join: count() prunes the trailing
    # sums and the z-test — noop-force.
    "events_hourly_anomalies",
    # cardinality is the input: count() prunes both rank windows.
    "curation_score_calibration",
    # left joins of unique-keyed step aggregates: count() eliminates
    # them (the funnel_conversion lesson) — noop-force.
    "events_funnel_windowed",
    # count() of the literal-length exploded array could fold away
    # the stats aggregate — noop-force so the scan runs.
    "lineitem_correlations",
    "dedup_segments_corpus",
    "dedup_segments_intradoc",
    "dedup_exact_substring",
    "similarity_ivfflat_recall",
    # ends in docs ⟕ unique-keyed overlap counts: count() eliminates
    # the join and with it the whole bloom+verify subtree.
    "text_decontaminate_bloom",
    # r9, decided at birth (audited optimized count() plans): the
    # rolling window is column-pruned to a filtered scan under
    # count(); the gapfill keeps only the spine explode — the hourly
    # agg, left join, and forward-fill window all vanish.
    "events_rolling_24h_spend",
    "events_hourly_gapfill",
    # salted rolling: count() prunes both in-bucket Window passes (the
    # actual work) while keeping the stitch joins — noop-force.  The
    # other r9 rows keep count(): hash_split ends in an aggregate,
    # edit-distance's final join carries the levenshtein filter, and
    # pagerank's sort survives under the LIMIT (audited plans, r9).
    "events_rolling_24h_spend_salted",
    # funnel: count() eliminates EVERY join (output rows = step-1
    # users; the left joins are unique-keyed and the step-2/3 inner
    # joins only feed them) — audited optimized plan: joins 3 -> 0,
    # aggs 4 -> 2.  Noop-force so the funnel chain actually runs.
    "events_funnel_conversion",
}

# The warm-up set: one representative of each major plan shape (see
# main); tools/perf.py profile warms with the same set.
WARM_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "orders_running_total",
    "parse_term_dict",
    "dedup_jaccard_pairs",
    "lda_train_topics",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from mr_lda_spark.session import get_spark
    from mr_lda_spark import queries_registry

    spark = get_spark("mr-lda-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen on the tiny sf so first-query JIT cost
    # doesn't land on a headline number — one representative of each
    # major plan shape (scan-agg, join-topk, window, token pipeline,
    # shingle self-join, the Arrow E-step).  The LDA warm-up matters
    # most: the FIRST E-step (mapInArrow) of a session forks the Python
    # worker fleet (32 workers × numpy/pyarrow import; measured ~29 s of
    # the 32 s first-iteration time at sf0.1 when the E-step was still
    # mapInPandas and imported pandas too); on a real cluster that spawn
    # happens once per executor lifetime, so letting it land on one
    # headline query would measure deployment cost, not the operator.
    for warm in WARM_QUERIES:
        queries_registry.QUERIES[warm](spark, "/root/testdata/sf0.001").count()

    # Noise discipline: the single-shot protocol is kept per PASS
    # (each pass starts cold — session-level operator caches cleared —
    # so every pass measures exactly what r1–r3 measured), and the
    # reported number is the per-query MIN over passes.  On this
    # round's host, identical code swings 1.5–3× between back-to-back
    # runs from scheduler/load noise alone (PERF_NOTES_r04.md); min-of
    # cold passes reports the operator, not the noise.  Default raised
    # 2 → 3 in r13 (VERDICT r12 "Next round" #6): the min-of-2
    # aggregate moved +6% on a round with ZERO per-row regressions
    # (one pass hit a 13× intra-run host swing —
    # BENCH_FULL_r12_runA.json), so one more cold pass tightens the
    # round-over-round tripwire at ~1 pass of extra wall.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    per_query: dict[str, float] = {}
    pass1: dict[str, float] = {}
    for _pass in range(passes):
        # Cold-start discipline: drop the cross-query persisted state
        # so each pass pays the same cache-fill cost the first did.
        queries_registry.WORKSPACE.release()
        spark.catalog.clearCache()
        for name in HEADLINE + EXTRA:
            fn = queries_registry.QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if name in NOOP_FORCE:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = round(time.perf_counter() - t0, 3)
            if _pass == 0:
                pass1[name] = dt
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt
    total = sum(per_query[n] for n in HEADLINE if n in per_query)

    # Round-over-round trend: the sum over the query set BENCH_r01
    # measured (the headline set gained dedup_embedding_cosine_lsh in
    # r2, so the raw total is not directly comparable).  ADVICE r4:
    # min-of-N is systematically lower than a single shot even on
    # identical code (JVM/JIT + OS page cache stay warm across passes),
    # so BOTH totals are reported — `single_shot_*` (pass 1 only) is
    # the number to compare against the r1–r3 single-shot baselines;
    # the min-of-N total is the lower-noise estimate of the operators.
    r2_additions = {"dedup_embedding_cosine_lsh"}

    def _comparable(d: dict[str, float]) -> float:
        return round(
            sum(v for k, v in d.items()
                if k in HEADLINE and k not in r2_additions),
            3,
        )

    per_query["r1_comparable_total"] = _comparable(per_query)
    per_query["single_shot_r1_comparable_total"] = _comparable(pass1)
    per_query["single_shot_headline_total"] = round(
        sum(pass1[n] for n in HEADLINE if n in pass1), 3
    )

    # Engine-reported LDA throughput (BASELINE.md instrumentation
    # mirror: sec/iteration at fixed K and sweep count).
    lda_metrics, lda_iter_seconds = _lda_per_iteration(spark, sf_dir)
    per_query.update(lda_metrics)
    per_query.update(_polylda_per_iteration(spark, sf_dir))

    # Complete per-query table committed to the repo (VERDICT r10
    # "Next round" #4): the driver's BENCH_rN.json keeps only a ~2 KiB
    # tail of this stdout line, so round-over-round regression diffs
    # covered only the last ~50 rows.  BENCH_FULL_rN.json carries
    # EVERY row (min-of-N and single-shot), protocol-stamped, so the
    # round-close notes can diff the full set.  Round number from
    # SPARK_GRAFT_ROUND, else inferred as max(BENCH_r*.json)+1 (the
    # driver snapshots BENCH_r{N} after this run).
    full_path = None
    try:
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            import glob as _glob

            prev = [
                int(mm.group(1))
                for p in _glob.glob(os.path.join(_REPO, "BENCH_r*.json"))
                if (mm := re.search(r"BENCH_r(\d+)\.json$", p))
            ]
            rnd = str(max(prev) + 1 if prev else 1)
        full_path = os.path.join(_REPO, f"BENCH_FULL_r{int(rnd):02d}.json")
        with open(full_path, "w") as fh:
            json.dump(
                {
                    "metric": "bench_full_per_query",
                    "protocol": (
                        "same process/session as the stdout line: "
                        "sf0.1 local[32], warm-up on sf0.001, per "
                        "pass cold caches (registry memos + spark "
                        "catalog cleared), min_of_n = per-query min "
                        f"over {passes} passes, single_shot = pass 1 "
                        "only (the r1-comparable protocol)"
                    ),
                    "sf": sf,
                    "bench_passes": passes,
                    "min_of_n": {k: per_query[k] for k in sorted(per_query)},
                    "single_shot": {k: pass1[k] for k in sorted(pass1)},
                    "lda_iter_seconds": lda_iter_seconds,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
    except (OSError, ValueError):
        # OSError: read-only checkout; ValueError: a non-numeric
        # SPARK_GRAFT_ROUND.  Either way the stdout JSON line (which
        # the driver snapshot parses) must still print below —
        # BENCH_FULL is supplementary, never load-bearing.
        full_path = None

    # The stdout line must PARSE in the driver's snapshot, which keeps
    # only a ~2 KiB tail of it (VERDICT r13 "What's wrong" #3: r13's
    # 4 KiB line was clipped mid-JSON and recorded `parsed: null`).
    # Keep the contract ({metric, value, unit, queries, sf}) but limit
    # `queries` to the HEADLINE rows + the aggregate/instrument keys
    # (~1.5 KiB); every EXTRA row still lands in BENCH_FULL_rN.json,
    # pointed at by `full_table`.
    agg_keys = {
        "r1_comparable_total",
        "single_shot_r1_comparable_total",
        "single_shot_headline_total",
    }
    stdout_queries = {
        k: v
        for k, v in per_query.items()
        if k in HEADLINE
        or k in agg_keys
        or k.startswith(("lda_", "polylda_"))
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": stdout_queries,
                "full_table": full_path,
                # Per-iteration E+M wall times from the engine's own
                # instrumentation (LdaState.iter_seconds) — makes an
                # iteration-level regression visible without deriving
                # it from the query total.
                "lda_iter_seconds": lda_iter_seconds,
                # Per-query numbers are min over this many cold passes
                # (caches cleared per pass — each pass is protocol-
                # identical to the r1–r3 single-shot run).
                "bench_passes": passes,
                "sf": sf,
            }
        )
    )


def _lda_per_iteration(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F  # noqa: F401

    from mr_lda_spark.operators import parse
    from mr_lda_spark.plans import lda

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tokens = parse.tokenize(docs)
    dictionary = parse.build_dictionary(parse.term_stats(tokens), docs.count())
    corpus_doc = parse.corpus_to_doc_form(parse.encode_corpus(tokens, dictionary))
    num_terms = dictionary.count()
    t0 = time.perf_counter()
    iters = 3
    _, state = lda.train(
        spark,
        corpus_doc,
        num_terms=num_terms,
        num_topics=8,
        max_iterations=iters,
        max_gamma_iter=25,
        converge=0.0,
        seed=1,
    )
    dt = time.perf_counter() - t0
    iter_seconds = list(state.iter_seconds)
    # VERDICT r12 "Next round" #4: the headline instrument mixes
    # session-fixed overhead (corpus cache fill, first-β broadcast)
    # with the marginal per-iteration cost, so host-day drift on the
    # fixed part read as throughput drift two rounds running.
    # Decomposed into separate BENCH keys:
    #   lda_sec_per_iteration_steady = median of iterations 2+ (the
    #     marginal cost — regresses iff the E/M kernels do),
    #   lda_iter_overhead_sec = iteration 1 minus that median (the
    #     session-fixed share — regresses with host/session noise).
    # The legacy dt/iters key stays for round-over-round continuity.
    metrics = {"lda_sec_per_iteration_k8": round(dt / iters, 3)}
    if len(iter_seconds) >= 2:
        steady_iters = sorted(iter_seconds[1:])
        mid = len(steady_iters) // 2
        steady = (
            steady_iters[mid]
            if len(steady_iters) % 2
            else (steady_iters[mid - 1] + steady_iters[mid]) / 2.0
        )
        metrics["lda_sec_per_iteration_steady"] = round(steady, 3)
        metrics["lda_iter_overhead_sec"] = round(
            iter_seconds[0] - steady, 3
        )
    return metrics, iter_seconds


def _polylda_per_iteration(spark, sf_dir: str) -> dict[str, float]:
    """Polylingual EM throughput (vectorized packing + broadcast
    state): sec/iteration at K=4 over the en/es slice."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse
    from mr_lda_spark.plans import lda

    tall, _, num_terms = parse.polylingual_corpus(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")),
        ["en", "es"],
        F.col("doc_id") % 1500,
    )
    iters = 3
    t0 = time.perf_counter()
    _, state = lda.train(
        spark, tall, num_terms, num_topics=4,
        max_iterations=iters, max_gamma_iter=15, converge=0.0, seed=1,
    )
    dt = time.perf_counter() - t0
    # Same decomposition as the mono instrument (VERDICT r12 #4),
    # same estimator too (ADVICE r13 #5): iters raised 2 → 3 so
    # "steady" is the MEDIAN of iterations 2+ rather than a single
    # iteration-2 sample inheriting full single-shot host noise.
    metrics = {"polylda_sec_per_iteration_k4": round(dt / iters, 3)}
    iter_seconds = list(state.iter_seconds)
    if len(iter_seconds) >= 2:
        tail = sorted(iter_seconds[1:])
        mid = len(tail) // 2
        steady = (
            tail[mid]
            if len(tail) % 2
            else (tail[mid - 1] + tail[mid]) / 2.0
        )
        metrics["polylda_sec_per_iteration_steady"] = round(steady, 3)
        metrics["polylda_iter_overhead_sec"] = round(
            iter_seconds[0] - steady, 3
        )
    return metrics


if __name__ == "__main__":
    main()
