"""One EM iteration as Spark runs it: jobs per iteration, the E-step's
partitioning and plan, owner-safe release of the per-iteration cuts,
and the CLI's refusal to resume from an incomplete γ snapshot.

The trainer runs on ``N_PARTS`` partitions, fewer than the session's
shuffle partitions: that is the geometry in which a re-shuffled or
un-coalesced E-step shows."""

import contextlib
import re

import numpy as np
import pytest

from mr_lda_spark import cli, session
from mr_lda_spark.plans import lda

N_PARTS = 3
V, K = 30, 3
# Steady jobs per EM iteration: E-step, φ pull (broadcast β); β
# broadcast, doc regroup, E-step, stats pull (join β).
STEADY_JOBS = {"broadcast": 2, "join": 4}


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(3)
    rows = []
    for d in range(40):
        terms = sorted(set(rng.integers(1, V + 1, 6).tolist()))
        rows.append((d, terms, rng.integers(1, 4, len(terms)).tolist()))
    return spark.createDataFrame(
        rows, "doc_id long, term_ids array<int>, term_counts array<int>"
    )


def _train(spark, corpus, beta_mode, iterations, **kw):
    return lda.train(
        spark, corpus, V, K, max_iterations=iterations, max_gamma_iter=3,
        converge=0.0, beta_mode=beta_mode, shuffle_partitions=N_PARTS, **kw,
    )


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("beta_mode, past_threshold", [
    pytest.param("broadcast", False, id="broadcast"),
    pytest.param("join", False, id="join"),
    pytest.param("broadcast", True, id="broadcast-past-threshold"),
])
def test_steady_iteration_jobs_and_estep_plan(
    spark, corpus, monkeypatch, beta_mode, past_threshold
):
    """Steady jobs per iteration (3 iterations − 2, from the status
    tracker) stay pinned; the last E-step runs as ``N_PARTS`` tasks,
    and its executed plan shuffles nothing but the join placement's
    one doc regroup — never the corpus cut.  The broadcast placement's
    E-step maps the previous E-step's doc rows: no exchange and no join
    at any size, also with auto-broadcast off (a γ past the threshold)."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != N_PARTS
    esteps = []

    def spy(*args, **kwargs):
        esteps.append(real(*args, **kwargs))
        return esteps[-1]

    real = lda._estep
    monkeypatch.setattr(lda, "_estep", spy)
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    jobs = {}
    threshold = session.no_auto_broadcast(spark) if past_threshold else contextlib.nullcontext()
    try:
        with threshold:
            for iterations in (2, 3):
                group = f"lda-iteration-{beta_mode}-{past_threshold}-{iterations}"
                sc.setJobGroup(group, group)
                _, state = _train(spark, corpus, beta_mode, iterations)
                assert len(state.history) == iterations
                jobs[iterations] = len(tracker.getJobIdsForGroup(group))
            executed = esteps[-1]._jdf.queryExecution().executedPlan()
            assert executed.execute().getNumPartitions() == N_PARTS
    finally:
        sc.setJobGroup(None, None)
    assert jobs[3] - jobs[2] == STEADY_JOBS[beta_mode]

    final = executed.toString().split("== Initial Plan ==")[0]
    if beta_mode == "broadcast":
        # No exchange, so AQE does not wrap the plan at all.
        assert "Exchange" not in final and "Join" not in final, final
        return
    assert "isFinalPlan=true" in final
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\)", final)
    assert exchanges == [("doc_id", str(N_PARTS))], final


def test_broadcast_corpus_cut_freed_before_second_estep(spark, corpus, monkeypatch):
    """From iteration 2 the broadcast placement's E-step reads only the
    previous E-step's doc rows, so the corpus cut is unpersisted before
    iteration 2's E-step (run by its M-step's job) starts."""
    cuts, persisted = [], []
    real_cut, real_mstep = lda.cut_corpus_lineage, lda._BroadcastBeta.mstep

    def cut(*args, **kwargs):
        cuts.append(real_cut(*args, **kwargs))
        return cuts[-1]

    def mstep(self, out):
        base = cuts[0]._jdf.queryExecution().analyzed().rdd().id()
        persisted.append(base in _persistent_rdds(spark))
        return real_mstep(self, out)

    monkeypatch.setattr(lda, "cut_corpus_lineage", cut)
    monkeypatch.setattr(lda._BroadcastBeta, "mstep", mstep)
    _train(spark, corpus, "broadcast", 3)
    assert persisted == [True, False, False]


@pytest.mark.parametrize("beta_mode", ["broadcast", "join"])
def test_mstep_failure_releases_every_cut(spark, corpus, monkeypatch, beta_mode):
    """An M-step that raises after its job ran leaves no persisted
    E-step output, β cut or corpus cut behind: ``train`` owns them and
    frees them on the way out."""
    placement = {"broadcast": lda._BroadcastBeta, "join": lda._JoinBeta}[beta_mode]
    real = placement.mstep

    def failing(self, out):
        real(self, out)
        raise RuntimeError("injected M-step failure")

    monkeypatch.setattr(placement, "mstep", failing)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected"):
        _train(spark, corpus, beta_mode, 2)
    assert _persistent_rdds(spark) - before == set()


def _write_parsed(spark, root, corpus):
    from pyspark.sql import functions as F

    tall = corpus.select(
        "doc_id", F.explode(F.arrays_zip("term_ids", "term_counts")).alias("z")
    ).select(
        "doc_id",
        F.col("z.term_ids").alias("term_id"),
        F.col("z.term_counts").alias("term_count"),
    )
    tall.write.parquet(str(root / "document"))


def test_resume_from_incomplete_snapshot_is_a_named_error(
    spark, corpus, tmp_path, monkeypatch
):
    """``train --model-index`` refuses a γ snapshot with no ``_SUCCESS``
    marker, one missing documents of the corpus, or one whose γ has
    another width than ``--topic``, before any EM job; a whole snapshot
    reaches the trainer as the corpus γ."""
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions")
    )
    _write_parsed(spark, tmp_path / "parsed", corpus)
    gamma = corpus.selectExpr("doc_id", "array(1.0D, 2.0D, 3.0D) AS gamma")
    gamma.write.parquet(str(tmp_path / "whole"))
    gamma.filter("doc_id < 30").write.parquet(str(tmp_path / "partial"))
    corpus.selectExpr("doc_id", "array(1.0D, 2.0D) AS gamma").write.parquet(
        str(tmp_path / "narrow")
    )
    gamma.write.parquet(str(tmp_path / "unfinished"))
    (tmp_path / "unfinished" / "_SUCCESS").unlink()

    seen = []

    def no_em(spark, corpus_doc, *args, **kwargs):
        seen.append(corpus_doc.filter("gamma IS NOT NULL").count())
        raise RuntimeError("EM reached")

    monkeypatch.setattr(lda, "train", no_em)

    def train(snapshot):
        cli.main([
            "train", "--input", str(tmp_path / "parsed"),
            "--output", str(tmp_path / "model"), "--topic", str(K),
            "--term", str(V), "--iteration", "1",
            "--model-index", str(tmp_path / snapshot),
        ])

    with pytest.raises(cli.TruncatedSnapshotError, match="_SUCCESS"):
        train("unfinished")
    with pytest.raises(cli.TruncatedSnapshotError, match="10 documents"):
        train("partial")
    with pytest.raises(cli.TruncatedSnapshotError, match="40 documents .*width 2.*--topic is 3"):
        train("narrow")
    assert seen == []
    with pytest.raises(RuntimeError, match="EM reached"):
        train("whole")
    assert seen == [40]
