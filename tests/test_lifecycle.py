"""materialize tiers (operators/lifecycle.py — VERDICT r13 #2): the
DEPLOY.md checkpoint-tier rule as selectable behavior.

Three pins per site class:
- VALUE: the reliable tier returns exactly what the local tier does.
- PLAN: reliable cuts via persist (InMemoryTableScan in the executed
  plan, lineage retained) where local cuts via localCheckpoint
  (ExistingRDD scan, lineage truncated).
- RECOMPUTE: after ``unpersist()`` a reliable result still collects to
  the same rows — the retained-lineage recovery path that is the
  tier's whole reason to exist (a localCheckpoint relation has no
  lineage to recompute through).
Plus the cache lifecycle: iterative operators release every per-round
handle, leaving at most the final result cached.
"""

import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators.lifecycle import cut_lineage


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _plan(df):
    # Derive a FRESH QueryExecution (select("*") wraps the same
    # logical plan): persist() returns self, and the original df's
    # executedPlan is a lazy val that may have been forced before the
    # CacheManager entry existed — the fresh plan goes through cache
    # lookup and shows the InMemoryTableScan a downstream consumer
    # would actually get.
    return df.select("*")._jdf.queryExecution().executedPlan().toString()


def _cached_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_cut_lineage_rejects_unknown_mode(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="reliable"):
        cut_lineage(df, "eager")
    with pytest.raises(ValueError, match="reliable"):
        cut_lineage(df, 2)


def test_cut_lineage_tiers_plan_shape(spark):
    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    agg = src.groupBy("g").agg(F.sum("id").alias("s"))
    local = cut_lineage(agg, True)
    assert "ExistingRDD" in _plan(local)  # true truncation
    reliable = cut_lineage(agg, "reliable")
    p = _plan(reliable)
    assert "InMemoryTableScan" in p  # persist-backed
    assert _rows(local) == _rows(reliable)
    # RECOMPUTE pin: drop the cache — lineage is retained, so the
    # relation rebuilds instead of failing.
    reliable.unpersist()
    assert _rows(reliable) == _rows(local)
    assert cut_lineage(agg, False) is agg
    assert cut_lineage(agg, None) is agg


def test_correlation_pairs_reliable_tier(spark):
    import numpy as np

    from mr_lda_spark.operators.linalg import correlation_pairs

    rng = np.random.default_rng(41)
    src = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in
         enumerate(rng.normal(size=(40, 4)).tolist())],
        "vec_id long, embedding array<float>",
    )
    local = correlation_pairs(src, dim=4)
    reliable = correlation_pairs(src, dim=4, materialize="reliable")
    assert _rows(local) == _rows(reliable)
    assert "InMemoryTableScan" in _plan(reliable)
    reliable.unpersist()  # release the caller-owned cache


def test_kmv_pair_set_ops_reliable_tier(spark):
    from mr_lda_spark.operators import kmv

    rows = [(i, f"s{i % 4}", f"key{i % 90}") for i in range(400)]
    src = spark.createDataFrame(rows, ["id", "source", "key"])
    sk = kmv.kmv_sketch(src, "key", ["source"], k=16)
    local = kmv.kmv_pair_set_ops(sk, "source", k=16)
    reliable = kmv.kmv_pair_set_ops(sk, "source", k=16, materialize="reliable")
    assert _rows(local) == _rows(reliable)
    assert "InMemoryTableScan" in _plan(reliable)


def test_ranking_quality_reliable_tier(spark):
    from mr_lda_spark.operators.similarity import ranking_quality

    rank = spark.createDataFrame(
        [(q, r, q * 10 + r) for q in range(5) for r in range(1, 4)],
        "query_id int, rank int, neighbor_id int",
    )
    local = ranking_quality(rank, rank, k=3)
    reliable = ranking_quality(rank, rank, k=3, materialize="reliable")
    assert _rows(local) == _rows(reliable)
    assert "InMemoryTableScan" in _plan(reliable)


def _edges(spark):
    e = [(i, (i * 3 + 1) % 17) for i in range(17)] + [
        (i, (i + 1) % 17) for i in range(17)
    ]
    canon = sorted({(min(a, b), max(a, b)) for a, b in e if a != b})
    return spark.createDataFrame(canon, "a long, b long")


@pytest.mark.slow
def test_graph_reliable_tier_values_and_release(spark):
    """pagerank / kcore / bfs under the reliable tier: identical
    relations, per-round handles released (at most the final result
    remains cached — deterministic, not GC-timed)."""
    from mr_lda_spark.operators import graph

    ed = _edges(spark)
    directed = ed.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(ed.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    seeds = spark.createDataFrame([(0,)], "node long")

    for op, args in [
        (graph.pagerank, (directed, 3)),
        (graph.kcore, (ed, 2, 4)),
        (graph.bfs_levels, (ed, seeds, 4)),
        (graph.triangles, (ed,)),
    ]:
        local = op(*args)
        before = _cached_rdd_ids(spark)
        reliable = op(*args, materialize="reliable")
        after = _cached_rdd_ids(spark)
        assert _rows(local) == _rows(reliable), op.__name__
        # every per-round intermediate released; only the returned
        # relation's persist may remain
        assert len(after - before) <= 1, op.__name__
        reliable.unpersist()
        # retained lineage: still collectable after the cache drops
        assert _rows(reliable) == _rows(local), op.__name__


def test_funnel_reliable_tier(spark):
    from mr_lda_spark.operators.funnel import funnel_steps_windowed

    import datetime

    base = datetime.datetime(2024, 1, 1)
    evs = []
    for u in range(6):
        for j, s in enumerate(["view", "cart", "buy"][: (u % 3) + 1]):
            evs.append((u, s, base + datetime.timedelta(minutes=u + j)))
    df = spark.createDataFrame(
        evs, "user_id long, event_type string, ts timestamp"
    )
    steps = ["view", "cart", "buy"]
    local = funnel_steps_windowed(df, steps, 3_600_000_000)
    before = _cached_rdd_ids(spark)
    reliable = funnel_steps_windowed(
        df, steps, 3_600_000_000, materialize="reliable"
    )
    after = _cached_rdd_ids(spark)
    assert _rows(local) == _rows(reliable)
    assert len(after - before) <= 1  # feasible caches released
    reliable.unpersist()
    assert _rows(reliable) == _rows(local)


def _tiny_corpus(spark):
    rows = [
        (d, [1 + (d + j) % 5 for j in range(3)], [1 + j % 2 for j in range(3)])
        for d in range(12)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, term_ids array<int>, term_counts array<int>",
    )


@pytest.mark.slow
def test_corpus_checkpoint_reliable_requires_dir_then_matches_local(
    spark, tmp_path
):
    """The CORPUS tier (cut_corpus_lineage / corpus_checkpoint):
    'reliable' refuses loudly without a checkpoint directory, and with
    one set the EM loop produces bit-identical state to the 'local'
    tier (deterministic seed, fixed iterations)."""
    import numpy as np

    from mr_lda_spark.operators.lifecycle import cut_corpus_lineage
    from mr_lda_spark.plans import lda

    corpus = _tiny_corpus(spark)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            cut_corpus_lineage(corpus, "reliable")
    sc.setCheckpointDir(str(tmp_path / "ckpt"))

    kw = dict(
        num_terms=5, num_topics=3, max_iterations=2,
        max_gamma_iter=10, converge=0.0, seed=7,
    )
    g_local, s_local = lda.train(
        spark, corpus, corpus_checkpoint="local", **kw
    )
    g_rel, s_rel = lda.train(
        spark, corpus, corpus_checkpoint="reliable", **kw
    )
    assert np.allclose(s_local.elog_beta, s_rel.elog_beta, atol=0, rtol=0)
    assert s_local.elbo == s_rel.elbo
    a = sorted((r["doc_id"], tuple(r["gamma"])) for r in g_local.collect())
    b = sorted((r["doc_id"], tuple(r["gamma"])) for r in g_rel.collect())
    assert a == b
    # the reliable cut is a REAL reliable checkpoint: files on disk
    import glob
    assert glob.glob(str(tmp_path / "ckpt" / "**" / "rdd-*"), recursive=True)


@pytest.mark.slow
def test_corpus_checkpoint_reliable_join_mode(spark, tmp_path):
    """Equality pin for the distributed-beta trainer (the scale path a
    preemptible cluster is most likely to run).

    Unlike the mono trainer (whose sufficient statistics merge through
    a fixed-order driver-side combine and pin bit-exact above), the
    join-mode β is reduced by DataFrame ``sum`` over a shuffle, so the
    partial-aggregation merge order varies with task completion order.
    Measured run-to-run spread at THE SAME tier: up to ~9e-16 absolute
    (local vs local) and ~3e-12 on an unseen-term cell near -852
    (reliable vs reliable) — i.e. accumulated double ULPs, tier-
    independent.  The pin therefore asserts agreement to 1e-9 relative
    (6 decades above the measured noise floor, ~6 below any real
    divergence a wrong checkpoint cut would cause)."""
    import numpy as np

    from mr_lda_spark.plans import lda

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    rows = [
        (d, 1 + (d + j) % 5, 1 + j % 2)
        for d in range(12)
        for j in range(3)
    ]
    tall = spark.createDataFrame(
        rows, "doc_id long, term_id int, term_count int"
    )
    kw = dict(
        num_terms=5, num_topics=3, max_iterations=2,
        max_gamma_iter=10, converge=0.0, seed=7, beta_mode="join",
    )
    g_local, s_local = lda.train(
        spark, tall, corpus_checkpoint="local", **kw
    )
    g_rel, s_rel = lda.train(
        spark, tall, corpus_checkpoint="reliable", **kw
    )
    assert np.allclose(s_local.elog_beta, s_rel.elog_beta, rtol=1e-9)
    a = {r["doc_id"]: np.asarray(r["gamma"]) for r in g_local.collect()}
    b = {r["doc_id"]: np.asarray(r["gamma"]) for r in g_rel.collect()}
    assert a.keys() == b.keys()
    for doc_id in a:
        assert np.allclose(a[doc_id], b[doc_id], rtol=1e-9), doc_id


@pytest.mark.slow
def test_dedup_reliable_tier(spark):
    """hamming_banded_pairs + connected_components under the reliable
    tier: identical relations, per-round handles released, retained
    lineage collects after unpersist."""
    from mr_lda_spark.operators.dedup import (
        connected_components,
        hamming_banded_pairs,
    )

    fp = spark.createDataFrame(
        [(i, (i * 37) % 64) for i in range(60)], "doc_id long, h long"
    )
    local = hamming_banded_pairs(fp, bits=16, max_hamming=2, hash_col="h")
    reliable = hamming_banded_pairs(
        fp, bits=16, max_hamming=2, hash_col="h", materialize="reliable"
    )
    assert _rows(local) == _rows(reliable)
    assert "InMemoryTableScan" in _plan(reliable)
    reliable.unpersist()
    assert _rows(reliable) == _rows(local)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "a long, b long"
    )
    c_local = connected_components(pairs)
    before = _cached_rdd_ids(spark)
    c_rel = connected_components(pairs, materialize="reliable")
    after = _cached_rdd_ids(spark)
    assert _rows(c_local) == _rows(c_rel)
    assert len(after - before) <= 1  # only the final labels may stay


def _rdd_dirs_under(root):
    import glob as _glob

    return sorted(
        _glob.glob(str(root) + "/**/rdd-*", recursive=True)
    )


def test_reliable_sweeper_deletes_superseded_only(spark, tmp_path):
    """ReliableCheckpointSweeper: cutting a slot twice queues the first
    generation; sweep() deletes exactly it — the live generation stays
    readable and slot-less (permanent) cuts are never touched."""
    from mr_lda_spark.operators.lifecycle import ReliableCheckpointSweeper

    spark.sparkContext.setCheckpointDir(str(tmp_path / "gc"))
    gc = ReliableCheckpointSweeper(spark)

    corpus = gc.cut(spark.range(50), "reliable")  # slot=None: permanent
    gen1 = gc.cut(spark.range(10), "reliable", slot="gamma")
    n_after_gen1 = len(_rdd_dirs_under(tmp_path / "gc"))
    gen2 = gc.cut(spark.range(20), "reliable", slot="gamma")
    # both generations (plus the permanent cut) on disk before sweep
    assert len(_rdd_dirs_under(tmp_path / "gc")) == n_after_gen1 + 1
    gc.sweep()
    assert len(_rdd_dirs_under(tmp_path / "gc")) == n_after_gen1
    # live generation and permanent cut still readable from disk
    assert gen2.count() == 20
    assert corpus.count() == 50
    # idempotent / empty-queue sweep is a no-op
    gc.sweep()
    # local tier passes through untracked (no checkpoint-dir activity)
    n = len(_rdd_dirs_under(tmp_path / "gc"))
    gc.cut(spark.range(5), "local", slot="gamma")
    gc.sweep()
    assert len(_rdd_dirs_under(tmp_path / "gc")) == n
    del gen1


@pytest.mark.slow
def test_corpus_checkpoint_reliable_disk_bounded(spark, tmp_path):
    """The checkpoint-store footprint of a reliable-tier training run
    is O(live generation), not O(iterations): the same number of
    rdd-* directories remains after 1 and after 4 EM iterations, for
    both the mono and the join-mode trainer."""
    from mr_lda_spark.plans import lda

    corpus = spark.createDataFrame(
        [(d, [1 + d % 5, 1 + (d + 1) % 5], [2, 1]) for d in range(12)],
        "doc_id long, term_ids array<int>, term_counts array<int>",
    )
    tall = spark.createDataFrame(
        [(d, 1 + (d + j) % 5, 1 + j % 2) for d in range(12) for j in range(3)],
        "doc_id long, term_id int, term_count int",
    )
    kw = dict(
        num_terms=5, num_topics=3, max_gamma_iter=10, converge=0.0, seed=7
    )

    counts = {}
    for mode, it in (("mono", 1), ("mono", 4), ("join", 1), ("join", 4)):
        d = tmp_path / f"{mode}{it}"
        spark.sparkContext.setCheckpointDir(str(d))
        if mode == "mono":
            lda.train(
                spark, corpus, corpus_checkpoint="reliable",
                max_iterations=it, **kw,
            )
        else:
            lda.train(
                spark, tall, corpus_checkpoint="reliable",
                max_iterations=it, beta_mode="join", **kw,
            )
        counts[(mode, it)] = len(_rdd_dirs_under(d))

    # mono: corpus base + live gamma; join: tall + live beta + live gamma
    assert counts[("mono", 1)] == counts[("mono", 4)] == 2
    assert counts[("join", 1)] == counts[("join", 4)] == 3


def test_reliable_sweeper_exact_attribution(spark, tmp_path):
    """The sweeper attributes each cut to the exact rdd-* directory on
    the returned plan (LogicalRDD.rdd.getCheckpointFile), so a FOREIGN
    checkpoint taken between two generations of the same slot is never
    swept — the failure mode a pure directory-diff would have under
    concurrent trainers."""
    from mr_lda_spark.operators.lifecycle import ReliableCheckpointSweeper

    spark.sparkContext.setCheckpointDir(str(tmp_path / "xa"))
    gc = ReliableCheckpointSweeper(spark)

    gen1 = gc.cut(spark.range(10), "reliable", slot="gamma")
    # exact attribution: the recorded slot dir IS the plan's checkpoint file
    assert gc._slots["gamma"] == [gc._checkpoint_file(gen1)]
    foreign = spark.range(77).checkpoint()  # another trainer's cut
    gen2 = gc.cut(spark.range(20), "reliable", slot="gamma")
    assert gc._slots["gamma"] == [gc._checkpoint_file(gen2)]
    gc.sweep()
    # gen1 swept; gen2 AND the foreign checkpoint survive
    assert gen2.count() == 20
    assert foreign.count() == 77
    remaining = _rdd_dirs_under(tmp_path / "xa")
    assert len(remaining) == 2
