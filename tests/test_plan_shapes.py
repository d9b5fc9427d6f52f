"""Plan-shape regression guards: the physical plans that make these
operators scale must not silently degrade (SURVEY.md §4 — what Catalyst
gives us is only a win if we keep the plans in the shapes that use it).
"""

import pytest
from pyspark.sql import functions as F

from mr_lda_spark import queries_registry as qr

SF = "/root/testdata/sf0.01"


def _plan(spark, name):
    df = qr.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString(), df


def _explain(spark, name):
    import io
    from contextlib import redirect_stdout

    df = qr.QUERIES[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _explain(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed"
    # Column pruning: only the 6 needed columns reach the scan.
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q3_broadcast_dim_join(spark):
    plan = _explain(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, "segment filter not pushed"


def test_encode_corpus_broadcasts_dictionary(spark):
    plan = _explain(spark, "parse_encoded_corpus")
    assert "BroadcastHashJoin" in plan, "dictionary join must broadcast"
    assert "SortMergeJoin" not in plan


def test_topk_uses_window_group_limit(spark):
    plan = _explain(spark, "top_terms_per_lang")
    assert "WindowGroupLimit" in plan, "rank-limit pushdown lost"


def test_cosine_topk_broadcasts_queries(spark):
    plan = _explain(spark, "similarity_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "LessThan(vec_id,5)" in plan, "query-side filter not pushed"


def test_asof_join_single_shuffle(spark):
    """The as-of join must cost exactly one exchange for the union
    (hash on the by-key) — no join node, no range explosion."""
    plan = _explain(spark, "events_asof_join")
    assert "Join" not in plan.replace("join", ""), plan[:400]  # no *Join exec
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_npmi_semi_join_prunes_corpus(spark):
    """Co-occurrence work must be bounded by the set vocabulary: the
    corpus side passes through a (broadcast) semi join before the
    self-join."""
    plan = _explain(spark, "text_npmi_coherence")
    assert "LeftSemi" in plan, plan[:400]


def test_events_hourly_partial_agg(spark):
    plan = _explain(spark, "events_hourly")
    assert "partial_count" in plan or "HashAggregate" in plan
    # exactly one exchange for the single groupBy
    assert plan.count("Exchange hashpartitioning") <= 2


def test_simhash_pairs_banded_no_cartesian(spark):
    """Pigeonhole banding must keep the SimHash pair search an
    equi-join — a CartesianProduct here is the 100 TB scale-killer.
    materialize=False: the registered row eagerly localCheckpoints
    (the r11 cache-lifecycle refactor), so its executed plan is just a
    checkpoint scan — the REAL lazy join plan must be inspected
    (the triangles-guard vacuity lesson, ADVICE r10 #1)."""
    from mr_lda_spark.operators import dedup

    lazy = dedup.simhash_near_dupes(
        spark.read.parquet(f"{SF}/documents.parquet"),
        max_hamming=6,
        materialize=False,
    )
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:400]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:400]


def test_embedding_near_dupes_default_is_bucketed(spark):
    """The default embedding near-dup path must be the LSH bucket
    equi-join, never all-pairs."""
    plan = _explain(spark, "dedup_embedding_cosine_lsh")
    assert "CartesianProduct" not in plan, plan[:400]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:400]


def test_language_id_filter_no_reexpansion(spark):
    """Filtering on pred_lang must not re-inline the trigram scoring
    into the pushed-down predicate: the aggregation barrier keeps
    exactly one scoring pipeline (one sequence-generator) in the plan."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import textops
    from mr_lda_spark.session import read_table

    docs = read_table(spark, SF, "documents")
    df = textops.language_id(docs).filter(F.col("pred_lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("sequence(") <= 1, plan[:600]


def test_simhash_single_shuffle(spark):
    """The SimHash fingerprint must aggregate bit votes as columns —
    one exchange for the (doc, term) counts, one per-doc — with no
    exploded (doc, bit) relation in between."""
    plan = _explain(spark, "dedup_simhash")
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:600]


def test_q5_pushdown_and_dim_broadcast(spark):
    """The 6-way snowflake must push both selective filters to the
    scans and broadcast the dimension tables."""
    plan = _explain(spark, "q5_local_supplier_volume")
    assert "GreaterThanOrEqual(o_orderdate" in plan, "date filter not pushed"
    assert "EqualTo(r_name,ASIA)" in plan, "region filter not pushed"
    assert "BroadcastHashJoin" in plan


def test_decontamination_broadcasts_eval_ngrams(spark):
    plan, _ = _plan(spark, "text_decontamination")
    # The eval n-gram set must reach the corpus side as a broadcast
    # hash join — a shuffle join would move the 100 TB side.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q18_preaggregates_lineitem_before_join(spark):
    plan, _ = _plan(spark, "q18_large_volume_orders")
    # The sum(l_quantity) HAVING aggregate must sit BELOW the join with
    # orders: raw lineitem rows never reach the join.
    # In executed-plan text the tree prints top-down: the join consumes
    # the aggregate, so a Join node must appear ABOVE (before) the
    # lineitem HashAggregate, and partial aggregation (two HashAggregate
    # levels, map-side combine) must be present.
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1 and join_pos < agg_pos
    assert plan.count("HashAggregate") >= 2


def test_q22_anti_join_after_scalar_broadcast(spark):
    plan, _ = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    # The date slice must be pushed into the orders scan.
    assert "o_orderdate" in plan


def test_quality_filter_threshold_is_broadcast(spark):
    plan, _ = _plan(spark, "curation_quality_filter")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_cartesian_and_partial_agg(spark):
    plan, df = _plan(spark, "text_tfidf_top_terms")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan
    # The df (document-frequency) relation is vocabulary-sized — it
    # grows with the corpus, so it must NEVER carry a forced broadcast
    # hint (VERDICT r4 "What's wrong" #3).  The only hinted broadcast
    # allowed in this plan is the 1-row n_docs scalar.  AQE may still
    # *choose* a broadcast at runtime when df is genuinely small;
    # the guard is on the planner-forced hint in the logical plan.
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("strategy=broadcast") <= 1, optimized


def test_multimodal_scan_prunes_to_id_and_text(spark):
    """The media pipeline must push column pruning to the documents
    scan: only (doc_id, text) feed the payload synthesis — reading the
    other columns for a binary-decode query is wasted IO at 100 TB."""
    plan = _explain(spark, "multimodal_y4m_stats")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read


def test_token_budget_no_global_window(spark):
    """curation_token_budget's running sum must stay a PER-BUCKET
    window (histogram offsets supply the cross-bucket part) — a
    single-partition global window would serialize the whole corpus
    through one task."""
    plan, _ = _plan(spark, "curation_token_budget")
    assert "SinglePartition" not in plan, plan[:600]
    assert "_bucket" in plan  # the window partitions by the score bucket


def test_label_centroids_single_shuffle(spark):
    plan, _ = _plan(spark, "embedding_label_centroids")
    # posexplode + one (label, pos) aggregation: exactly one KEYED
    # exchange.  The scale-adaptive scan spread (session.spread_scan,
    # r14 optimization) may add one round-robin exchange right above a
    # small scan — that one carries raw rows, not aggregation state,
    # and disappears at production split counts, so the pin is on the
    # hash-partitioned shuffle alone.
    assert plan.count("hashpartitioning") == 1
    assert plan.count("Exchange") <= 2


def test_q6_all_predicates_pushed(spark):
    plan = _explain(spark, "q6_forecast_revenue")
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to the scan"
    assert "Join" not in plan.replace("join", "")


def test_q19_disjunction_pushed_to_part_scan(spark):
    """The OR-of-ANDs predicate must split: the part-only disjuncts
    (brand/size) reach the part scan as a pushed Or filter instead of
    evaluating post-join on every lineitem row."""
    plan = _explain(spark, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    part_scans = [l for l in plan.splitlines()
                  if "PushedFilters" in l and "p_brand" in l]
    assert part_scans and "Or(" in part_scans[0], "part disjuncts not pushed"


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = _explain(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in plan, "NOT IN must run as an anti join"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_single_lineitem_scan(spark):
    """The window decorrelation must keep ONE lineitem scan — the
    aggregate-and-join-back plan would scan and shuffle it twice."""
    plan = _explain(spark, "q21_waiting_supplier")
    scans = [l for l in plan.splitlines()
             if "Location" in l and "lineitem" in l]
    assert len(scans) == 1, f"expected 1 lineitem scan, got {len(scans)}"


def test_q2_window_min_no_extra_exchange(spark):
    """The decorrelated min runs as a window over the part key; the
    correlated-subquery plan (a second aggregate + self join) must not
    come back."""
    plan = _explain(spark, "q2_min_cost_supplier")
    assert "Window" in plan
    # li + 4 dims, each scanned once — no self-join re-scan
    scans = [l for l in plan.splitlines() if "Location" in l]
    assert len(scans) == 5, f"expected 5 scans, got {len(scans)}"
    li_scans = [l for l in scans if "lineitem" in l]
    assert len(li_scans) == 1


@pytest.mark.slow
def test_registry_sweep_no_cartesian_no_pickled_udf(spark):
    """Registry-wide guard: every lazily-planned query must compile
    without a CartesianProduct (the 100 TB scale-killer) and without a
    row-at-a-time pickled Python UDF (BatchEvalPython) anywhere in its
    physical plan.  Action-running queries (iterative training,
    streaming sinks, MERGE, audit counts, codebook training) are
    skipped — their scale properties are pinned by dedicated tests.
    The one sanctioned CartesianProduct is dedup_embedding_cosine,
    the explicit all-pairs ORACLE path behind `n_planes=0`."""
    skip_substr = (
        "lda_", "polylda", "stream", "merge_upsert", "curation_report",
        "interop_", "quality_distilled", "multimodal",
        "similarity_ivf", "similarity_pq", "similarity_lsh",
        # action-running (iterative trainer / eager-persisted
        # clustering): planned only after driver-side loops run.
        "text_bpe_merges", "text_bpe_tokenize", "semdedup_kmeans",
        "kmeans_frozen",
    )
    allow_cartesian = {"dedup_embedding_cosine"}
    # Kernel-multiplicity guard (the r12 recompute class): a lazy
    # relation referenced N times replays its corpus kernel N times,
    # because filters on group keys push through the aggregate into
    # each consumer's exchange and the canonicalized exchanges then
    # differ — ReuseExchange never fires (found 3 real instances in
    # r12: correlation_pairs 6x gram kernel, ranking_quality 18
    # WindowGroupLimit, kmv_pair_set_ops 34).  The audited benign
    # flags are allowlisted WITH their reasons; any new name tripping
    # a threshold is either a real recompute (fix: the funnel/graph
    # materialize lifecycle) or a new benign case to be justified
    # here.  Calibration (the r13 probe, SCALING_r13_materialize):
    # static multiplicity is an UPPER BOUND on runtime recompute —
    # post-exchange branches (WindowGroupLimit) may share one shuffle
    # at execution via runtime exchange reuse, while pre-exchange map
    # kernels (MapInPandas/MapInArrow/ArrowEval) replicate for real;
    # MapInPandas and MapInArrow count together.  The guard
    # deliberately gates on the static upper bound: it is the review
    # invariant that survives reuse-disabled engines and AQE config
    # drift (verify a flagged plan's runtime cost with
    # tools/explain_audit.py --runtime before allowlisting).
    multiplicity_allow = {
        # persist-and-count at construction: toString prints the
        # InMemoryRelation's child plan per reference, over-counting
        # nodes while runtime computes once (PERF_NOTES_r12 §4b").
        "dedup_embedding_cosine_lsh",
        "dedup_embedding_cosine_lsh_frozen",
        "dedup_semdedup_pairs",
        # distinct constructions by design: the row's point is to
        # compare independently-built relations.
        "text_kmv_merge",
        # six DIFFERENT rankings/rank stages, each referenced once
        # in rrf_fuse's outer-join chain.
        "similarity_rrf_fusion",
    }
    swept = 0
    offenders = []
    for name in qr.QUERIES:
        if any(s in name for s in skip_substr):
            continue
        plan, _ = _plan(spark, name)
        swept += 1
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if "CartesianProduct" in plan and name not in allow_cartesian:
            offenders.append((name, "CartesianProduct"))
        map_kernels = plan.count("MapInPandas") + plan.count("MapInArrow")
        if name not in multiplicity_allow and (
            map_kernels >= 3
            or plan.count("ArrowEvalPython") >= 4
            or plan.count("WindowGroupLimit") >= 6
        ):
            offenders.append(
                (name, "kernel-multiplicity",
                 map_kernels,
                 plan.count("ArrowEvalPython"),
                 plan.count("WindowGroupLimit"))
            )
    assert swept >= 60, f"sweep unexpectedly small: {swept}"
    assert not offenders, offenders


def test_interleave_domains_no_global_sort(spark):
    """VERDICT r3 #4: the interleave position must come from the
    range-partitioned rank + offset join, never a single-partition
    global window — no Exchange SinglePartition anywhere in the plan."""
    plan, _ = _plan(spark, "curation_interleave_domains")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_mllib_vector_assembly_is_arrow_batched(spark):
    """VERDICT r3 #5: the MLlib cross-check's vector assembly must not
    be a row-pickled Python UDF — Arrow-batched (ArrowEvalPython) only.
    This extends the no-pickled-UDF sweep to the lda_-prefixed path the
    registry sweep skips."""
    from mr_lda_spark.plans.mllib_lda import corpus_to_vectors

    corpus = spark.createDataFrame(
        [(1, [1, 3], [2, 1]), (2, [2], [5])],
        "doc_id long, term_ids array<int>, term_counts array<int>",
    )
    vecs = corpus_to_vectors(corpus, num_terms=4)
    plan = vecs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_zorder_no_global_sort(spark):
    """Morton-cell layout must never SORT or window the corpus — the
    cell id is a shift of the key (embarrassingly parallel), which is
    the operator's whole scale claim.  (A SinglePartition exchange
    does appear for the 1-ROW quantization-bounds aggregate — that is
    the broadcast scalar, not a data path.)"""
    plan, _ = _plan(spark, "lineitem_zorder_extents")
    assert "Window" not in plan
    assert "Sort " not in plan and "+- Sort" not in plan


def test_scd2_and_attribution_shuffle_on_entity_key_only(spark):
    """All windows in SCD2 / attribution hash-partition on the entity
    key — no unpartitioned (single-task) window anywhere."""
    for name in ("customer_priority_scd2", "events_attribution_touch"):
        plan, _ = _plan(spark, name)
        assert "Window" in plan, name
        assert "SinglePartition" not in plan, name


def test_windowed_funnel_joins_carry_equi_keys(spark):
    """The feasibility range joins must plan as equi-joins on the user
    key with the time residual as a post-join filter — never a
    BroadcastNestedLoopJoin over the event stream.  Inspected with
    materialize=False: the production path localCheckpoints the
    result (cache-release, ADVICE r9 #1), which would reduce the
    registry query's plan to a checkpoint scan and make this guard
    vacuous."""
    from mr_lda_spark.operators.funnel import funnel_steps_windowed
    from mr_lda_spark.session import read_table

    df = funnel_steps_windowed(
        read_table(spark, SF, "events"),
        ["view", "click", "purchase"],
        max_gap_us=7 * 24 * 3600 * 1_000_000,
        materialize=False,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangles_plan_is_two_equi_joins(spark):
    """The compact-forward triangle count must stay two node-keyed
    equi-joins (wedge + closure) — no CartesianProduct, no nested
    loop.  materialize=False for the same reason as the funnel
    guard."""
    from mr_lda_spark.operators.graph import triangles
    from mr_lda_spark.session import read_table

    li = read_table(spark, SF, "lineitem").select(
        F.col("l_suppkey").alias("a"), F.col("l_partkey").alias("b")
    ).distinct().limit(2000)
    plan = (
        triangles(li, materialize=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_stays_jvm_codegen(spark):
    """lineitem_bloom_join_revenue's docstring claims the map-side
    bitset probe is pure JVM codegen (element_at/shiftright over the
    broadcast word array) — the r9 probe measured the Arrow
    round-trip alternative at 40× slower at 100×.  No Python
    evaluation node of any kind may appear in the row path, and the
    xxhash64 probe must be present."""
    plan, _ = _plan(spark, "lineitem_bloom_join_revenue")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "xxhash64" in plan


def test_exact_substring_digest_agg_is_partial(spark):
    """dedup_exact_substring's docstring claims the canonical-location
    reduction partial-aggregates map-side (min(struct(doc,start)) per
    digest before the shuffle) and that no corpus-wide window/sort
    exists — the 'digests-only shuffle' scale claim."""
    ex = _explain(spark, "dedup_exact_substring")
    assert "partial_min" in ex
    plan, _ = _plan(spark, "dedup_exact_substring")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hll_register_agg_is_partial(spark):
    """The register reduction must partial-aggregate map-side (the
    'keys never shuffle' claim): the plan shows a partial
    HashAggregate below the exchange for max(rho)."""
    ex = _explain(spark, "text_hll_distinct_shingles")
    assert "partial_max" in ex or "partial max" in ex.lower()


def test_sorted_neighborhood_window_is_block_partitioned(spark):
    plan, _ = _plan(spark, "dedup_sorted_neighborhood")
    assert "SinglePartition" not in plan


def test_char_entropy_agg_is_partial_no_python(spark):
    """char_entropy's scale claim: the (doc,char) count map-side
    combines to <= alphabet rows per doc BEFORE the doc_id shuffle
    (partial_count below the exchange), and the whole row path is
    JVM codegen — no Arrow/pickled Python anywhere."""
    ex = _explain(spark, "text_char_entropy_by_source")
    assert "partial_count" in ex
    plan, _ = _plan(spark, "text_char_entropy_by_source")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_source_js_divergence_equi_join_only(spark):
    """source_divergence's vocabulary-sized claim: the pair generation
    is an equi-join on term (SortMergeJoin/ShuffledHashJoin carrying
    the term key) with the a.g < b.g predicate as a post-join filter —
    never a CartesianProduct or nested-loop over the vocabulary; the
    tiny per-source totals broadcast."""
    plan, _ = _plan(spark, "text_source_js_divergence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # totals dimension
    assert "partial_count" in _explain(spark, "text_source_js_divergence")


def test_weighted_sample_topk_no_full_sort(spark):
    """weighted_sample's top-k claim: global selection runs as
    TakeOrderedAndProject (per-partition heap), not a full Sort over
    an all-to-one exchange; the per-id min partial-aggregates."""
    ex = _explain(spark, "curation_weighted_sample_tickets")
    assert "TakeOrderedAndProject" in ex
    assert "partial_min" in ex


def test_lexical_diversity_agg_is_partial(spark):
    """lexical_diversity's one-aggregation claim: the (source,term)
    count partial-aggregates map-side; no joins, no window, no
    Python in the plan."""
    ex = _explain(spark, "text_lexical_diversity")
    assert "partial_count" in ex
    plan, _ = _plan(spark, "text_lexical_diversity")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
