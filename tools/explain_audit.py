#!/usr/bin/env python3
"""Dump `.explain(formatted)` physical plans for a representative set
of registered queries into a markdown report — the plan-level evidence
(pushdown, broadcast vs shuffle joins, no cartesian products, codegen
spans) behind the scale claims in README.md.

Usage: python3 tools/explain_audit.py [out.md] [--runtime] [query ...]

``--runtime`` additionally EXECUTES each query and appends the final
adaptive plan's reuse/kernel node counts.  Rationale (the r13 probe
lesson, SCALING_r13_materialize.json): static plan-node multiplicity
is an UPPER BOUND on runtime recompute — post-exchange branches that
print N times in the static plan may share one shuffle at execution
(ReusedExchange in the ``isFinalPlan=true`` plan), while pre-exchange
map kernels (MapInPandas, MapInArrow) replicate for real.  The static
dump stays the review gate; the runtime counts say which
multiplicities cost.
"""
from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

DEFAULT = [
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_jaccard_pairs",
    "dedup_incremental_pairs",
    "dedup_semdedup_pairs",
    "curation_adaptive_quality",
    "embedding_random_projection",
    "similarity_cosine_topk",
    "curation_interleave_domains",
    "events_asof_join",
    "similarity_rp_topk",
    "similarity_ivfpq_topk",
    "lineitem_salted_join_revenue",
    # r5 additions: the no-broadcast tfidf df join, the per-bucket
    # token-budget window, the corpus-linear repetition signals, and
    # the frozen-model ANN scans.
    "text_tfidf_top_terms",
    "curation_token_budget",
    "text_repetition_scores",
    "similarity_pq_fullprobe_topk",
    "similarity_lsh_frozen_topk",
    # r6 additions: the frozen banded-LSH dedup, the relational LM
    # perplexity gate, the BPE trainer's inner pair-count shuffle, the
    # DSIR scorer, the temperature mixer, and the four-stage modern
    # curation composition.
    "dedup_embedding_cosine_lsh_frozen",
    "curation_perplexity_filter_lm",
    "text_bpe_pair_counts",
    "curation_dsir_weights",
    "curation_temperature_sample",
    "curation_modern_pipeline",
    # r8 additions: the sliding-digest exact-substring dedup, the
    # Bloom-bitset decontamination gate, and the count-min heavy
    # hitters — the sketch-prefilter + exact-verify family.
    "dedup_exact_substring",
    "text_decontaminate_bloom",
    "text_heavy_hitters_cms",
    # r9 additions: the trailing RANGE window and its hot-key-safe
    # salted decomposition, the per-group spine gap-fill, the
    # LSH-blocked bounded-Levenshtein dedup, and the integer-exact
    # join-iterated PageRank.
    "events_rolling_24h_spend",
    "events_rolling_24h_spend_salted",
    "events_hourly_gapfill",
    "dedup_edit_distance_pairs",
    "graph_pagerank_suppliers",
    # r9b additions: the HLL register/estimator path, degree-ordered
    # triangles, SCD2 run-collapse, Morton-cell extents, ignore-nulls
    # attribution, blocked sorted-neighborhood, the densified
    # integer z-test, and integer-RRF fusion.
    "text_hll_distinct_shingles",
    "graph_triangles_parts",
    "customer_priority_scd2",
    "lineitem_zorder_extents",
    "events_attribution_touch",
    "dedup_sorted_neighborhood",
    "events_hourly_anomalies",
    "events_markov_transitions",
    "similarity_rrf_fusion",
    # late-r9: runtime-filter join, negative sampling, calibration,
    # cumulative sketch curves, exact windowed funnel, decimal-stat
    # correlations, quality-aware survivor collapse.
    "lineitem_bloom_join_revenue",
    "curation_negative_samples",
    "curation_score_calibration",
    "text_hll_source_overlap",
    "text_hll_cumulative_sources",
    "events_funnel_windowed",
    "lineitem_correlations",
    "dedup_survivors_by_quality",
    # r11 continuation: the zero-shuffle entropy projection and its
    # map-side-combined by-source aggregate, the vocabulary-sized JS
    # term join, the bounded-ticket samplers (TakeOrderedAndProject /
    # salted per-group windows), the salted two-stage bottom-k KMV
    # sketch with sketch-sized pair algebra, the broadcast-vocab OOV
    # probe, and the ranking-quality metric joins.
    "text_char_entropy_by_source",
    "text_source_js_divergence",
    "text_lexical_diversity",
    "curation_weighted_sample_tickets",
    "curation_weighted_sample_per_source",
    "text_kmv_source_overlap",
    "text_kmv_vs_hll_distinct",
    "text_oov_rate_by_source",
    "text_lang_confusion",
    "similarity_ivf_ranking_quality",
]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runtime = "--runtime" in args
    args = [a for a in args if a != "--runtime"]
    out_path = args[0] if args and args[0].endswith(".md") else "PLANS.md"
    names = [a for a in args if not a.endswith(".md")] or DEFAULT

    from mr_lda_spark.session import get_spark
    from mr_lda_spark import queries_registry

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    lines = [
        "# Physical plan audit",
        "",
        f"`df.explain(formatted)` output for {len(names)} registered "
        f"queries at `{sf_dir}` (auto-generated by "
        "`tools/explain_audit.py`).  Things to check: `PushedFilters`"
        " reach the parquet scans, `ReadSchema` is pruned, small sides"
        " broadcast, no `CartesianProduct`, WholeStageCodegen spans"
        " cover the hot projections.",
        "",
    ]
    for name in names:
        fn = queries_registry.QUERIES.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
        if runtime:
            # Execute WITHOUT materializing rows on the driver (ADVICE
            # r13: collect() on a corpus-sized registered row would
            # OOM the audit tool).  The count must run on the SAME
            # QueryExecution whose plan we print — a df.count() or
            # noop write builds a separate QE and the original's
            # adaptive plan would never finalize — so act on the
            # executedPlan's own RDD: a JVM-side row count, nothing
            # crosses to Python.
            qe = df._jdf.queryExecution()
            qe.executedPlan().execute().count()
            fin = qe.executedPlan().toString()
            # non-adaptive (map-only) plans have nothing to finalize
            final = (
                "isFinalPlan=true" in fin
                or "AdaptiveSparkPlan" not in fin
            )
            # the finalized string prints the Initial Plan section
            # too — count the final section only, or every node
            # doubles
            fin = fin.split("== Initial Plan ==")[0]
            lines += [
                "Runtime (final adaptive plan): "
                f"ReusedExchange={fin.count('ReusedExchange')} "
                f"MapInPandas+MapInArrow="
                f"{fin.count('MapInPandas') + fin.count('MapInArrow')} "
                f"WindowGroupLimit={fin.count('WindowGroupLimit')} "
                f"final={final}",
                "",
            ]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path} ({len(names)} plans)")


if __name__ == "__main__":
    main()
