"""Tests of the benchmark's own code: generator, event-log reader, checks.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.eventlog import GroupStats, parse_event_log
from perfbench.probes import numpy_kernel_rate, wrap_sweep_kernel


# ---- generator -------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a = gen.generate_mono(7, 50, 20, 300, 5)
    b = gen.generate_mono(7, 50, 20, 300, 5)
    c = gen.generate_mono(8, 50, 20, 300, 5)
    assert a[1] == b[1] and a[2] == b[2] and a[3] == b[3]
    assert a[1] != c[1]


def test_generator_files_match_truth(tmp_path):
    truth = gen.write_mono(str(tmp_path), 3, 40, 15, 200, 4)
    table = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    assert table["doc_id"] == list(range(1, 41))
    assert sum(len(t.split()) for t in table["text"]) == truth["tokens"]
    assert truth["documents"] == 40
    assert len(truth["top_words"]) == 4
    assert all(len(t) == 10 for t in truth["top_words"])
    again = tmp_path / "again"
    gen.write_mono(str(again), 3, 40, 15, 200, 4)
    assert (again / "truth.json").read_text() == (tmp_path / "truth.json").read_text()


def test_poly_generator_splits_held_out_documents(tmp_path):
    truth = gen.write_poly(str(tmp_path), 4, 30, 12, 150, 3)
    again = gen.write_poly(str(tmp_path / "again"), 4, 30, 12, 150, 3)
    assert truth == again
    train = (tmp_path / "train.txt").read_text().splitlines()
    held = (tmp_path / "heldout.txt").read_text().splitlines()
    assert (len(train), len(held)) == (27, 3)
    assert (truth["documents"], truth["heldout_documents"]) == (27, 3)
    fields = [line.split("\t") for line in train + held]
    assert all(len(f) == 3 for f in fields)
    assert all(w.startswith("a") for f in fields for w in f[1].split())
    assert all(w.startswith("b") for f in fields for w in f[2].split())
    assert truth["tokens"] == sum(
        len(f[1].split()) + len(f[2].split()) for f in fields[:27])
    # scored held-out tokens are the ones whose word occurs in training
    seen = {w for f in fields[:27] for side in f[1:] for w in side.split()}
    assert truth["heldout_scored_tokens"] == sum(
        w in seen for f in fields[27:] for side in f[1:] for w in side.split())


def test_generated_words_follow_their_topics():
    # One topic per document (tiny alpha would be noisy): with K=1 every
    # token is drawn from the single topic, so its top word dominates.
    _, texts, _, tops = gen.generate_mono(5, 200, 50, 100, 1)
    words = " ".join(texts).split()
    counts = {w: words.count(w) for w in set(words)}
    assert max(counts, key=counts.get) == tops[0][0]


# ---- event log -------------------------------------------------------

def _event_lines(events):
    return "\n".join(json.dumps(e) for e in events) + "\n"


def test_event_log_aggregates_by_group(tmp_path):
    props = {"spark.jobGroup.id": "train"}
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Result Size": 2048,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096},
        },
    }
    failed = dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    log = tmp_path / "app"
    log.write_text(_event_lines([
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0], "Properties": props},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0}, "Properties": props},
        task, task, failed,
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2500, "Stage IDs": [1], "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 5000, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]))
    groups = parse_event_log(str(log))
    train = groups["train"]
    assert (train.jobs, train.tasks, train.failed_tasks) == (2, 3, 1)
    assert train.task_s == pytest.approx(4.5)
    assert train.gc_s == pytest.approx(0.3)
    assert (train.result_bytes, train.shuffle_write_bytes) == (6144, 12288)
    # jobs 0 and 1 overlap: [1000, 4000] is covered once
    assert train.busy_ms_within(0, 10_000) == 3000
    assert train.busy_ms_within(2000, 3500) == 1500
    assert groups[""].jobs == 1


def test_busy_time_of_disjoint_jobs():
    g = GroupStats(job_spans=[(0, 10), (20, 30), (25, 40)])
    assert g.busy_ms_within(0, 100) == 30
    assert g.busy_ms_within(5, 22) == 7


def test_event_log_of_a_tiny_spark_run(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
        sc.setJobGroup("count", "count")
        assert sc.parallelize(range(10), 2).count() == 10
        sc.setJobGroup("shuffle", "shuffle")
        pairs = sc.parallelize(range(12), 3).map(lambda x: (x % 2, x))
        assert dict(pairs.reduceByKey(lambda a, b: a + b, 2).collect()) == {
            0: 30, 1: 36}
    finally:
        spark.stop()
    groups = parse_event_log(str(log_dir / app_id))
    assert (groups["count"].jobs, groups["count"].tasks) == (1, 2)
    shuffle = groups["shuffle"]
    assert (shuffle.jobs, shuffle.tasks) == (1, 5)  # 3 map + 2 reduce
    assert shuffle.shuffle_write_bytes > 0
    assert shuffle.failed_tasks == 0
    assert shuffle.busy_ms_within(0, 2**62) > 0


# ---- checks ----------------------------------------------------------

def test_documents_and_iterations_checks():
    assert checks.documents({"documents": 5}, 5) is None
    assert checks.documents({"documents": 4}, 5) is not None
    assert checks.documents({}, 5) is not None
    assert checks.iterations({"iterations": 3}, 3) is None
    assert checks.iterations({"iterations": 2}, 3) is not None


def test_elbo_history_check():
    assert checks.elbo_history([-10.0, -8.0, -8.0], 3) is None
    assert checks.elbo_history([-10.0, -8.0, -9.0], 3) is not None
    assert checks.elbo_history([-10.0, float("nan"), -8.0], 3) is not None
    assert checks.elbo_history([-10.0, -8.0], 3) is not None


def test_same_elbo_check():
    assert checks.same_elbo([-1234.5, -1234.5 * (1 + 1e-12)]) is None
    assert checks.same_elbo([-1234.5, -1234.6]) is not None


def test_display_checks():
    good = [f"topic {k}\tw{k * 10 + r}\t-{r + 1}.250000"
            for k in range(2) for r in range(10)]
    assert checks.display_lines(good, 2) is None
    assert checks.display_lines(good[:-1], 2) is not None
    assert checks.display_lines(good[:-1] + ["topic 1\tw5"], 2) is not None
    learned = list(checks.topics_from_display(good).values())
    truth = [[f"w{i}" for i in range(10)], [f"w{i}" for i in range(10, 20)]]
    assert checks.topic_recovery(learned, truth) == 1.0
    assert checks.recovery_floor(1.0, 0.5) is None
    shuffled = [[f"x{i}" for i in range(10)]] * 2
    assert checks.topic_recovery(shuffled, truth) == 0.0
    assert checks.recovery_floor(0.0, 0.5) is not None
    assert checks.recovery_floor(float("nan"), 0.5) is not None


def test_topic_recovery_matches_one_to_one():
    truth = [[f"w{i}" for i in range(k * 10, k * 10 + 10)] for k in range(3)]
    assert checks.topic_recovery(truth[::-1], truth) == 1.0
    # learned topics collapsed onto one generating topic: one is matched
    assert checks.topic_recovery([truth[0]] * 3, truth) == pytest.approx(1 / 3)
    # the best pair is taken first; the other learned topic gets the rest
    learned = [truth[0][:6] + truth[1][:4], truth[0][6:] + truth[1][4:]]
    assert checks.topic_recovery(learned, truth) == pytest.approx((6 + 6) / 20)
    assert checks.recovery_floor(
        checks.topic_recovery([truth[0]] * 3, truth), 0.5) is not None


def test_perplexity_check():
    assert checks.perplexity(350.0) is None
    assert checks.perplexity(math.inf) is not None
    assert checks.perplexity(math.nan) is not None
    assert checks.perplexity(0.5) is not None


# ---- probes ----------------------------------------------------------

class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, x):
        self.value += x


def test_wrapped_kernel_counts_calls_and_returns_inner_result():
    busy, calls = _Acc(), _Acc()
    wrapped = wrap_sweep_kernel(lambda *a: ("out", a[4]), busy, calls)
    assert wrapped(None, None, None, None, 7, 0.0) == ("out", 7)
    assert wrapped(None, None, None, None, 8, 0.0) == ("out", 8)
    assert calls.value == 2 and busy.value >= 0.0


def test_numpy_kernel_rate_is_positive():
    from mr_lda_spark.plans.lda import numpy_sweep_backend

    rate = numpy_kernel_rate(numpy_sweep_backend, (8, 6, 4), 3, seconds=0.05)
    assert rate > 0 and np.isfinite(rate)


def test_tree_rss_skips_just_spawned_children():
    import os
    import subprocess
    import time

    from perfbench.probes import MIN_AGE_S, tree_rss

    child = subprocess.Popen(["sleep", "30"])
    try:
        assert "sleep" not in tree_rss(os.getpid())
        time.sleep(MIN_AGE_S + 0.5)
        assert tree_rss(os.getpid())["sleep"] > 0
    finally:
        child.kill()
        child.wait()


# ---- same-ELBO record ------------------------------------------------

def test_elbo_record_compares_runs_of_the_same_code_only(tmp_path):
    from perfbench.run import check_elbo_record, code_digest

    assert len(code_digest()) == 16 and code_digest() == code_digest()
    corpus = str(tmp_path)
    assert check_elbo_record(corpus, "aaaa", [-1234.5]) is None  # recorded
    assert check_elbo_record(corpus, "aaaa", [-1234.5, -1234.5]) is None
    assert check_elbo_record(corpus, "aaaa", [-1234.6]) is not None
    # other code may change the arithmetic: it gets its own record
    assert check_elbo_record(corpus, "bbbb", [-1234.6]) is None
    assert check_elbo_record(corpus, "bbbb", [-1234.6]) is None

