"""Benchmark of the reference workflow through the public CLI.

Each workload generates a seeded corpus, sets up one Spark session and
runs the reference's commands in order through ``mr_lda_spark.cli.main``
in this process: ``parse`` -> ``train`` -> ``infer`` ->
``display-topic``.  One closed-loop caller issues one CLI stage at a
time on ``local[<cores>]``; nothing else generates load.  One ``parse``
of a small corpus of the same shape runs first, untimed, so class
loading and code generation do not swamp the measured stages.  Passes
repeat while they fit in ``--seconds``; at least one always runs.

    python3 perfbench/run.py --workload bcast_workflow --seed 1 \
        --seconds 30 --trace 0

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
pass with job groups, an event log and a timed sweep kernel, adds
direct calls into the parse layer and a ``train-poly`` /
``train-poly --test`` round on a small polylingual corpus, and reports
the per-layer metrics instead.  The last stdout line is the result
JSON; the line before it records the pinned environment, the stage
walls and the topic recovery.  Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Sizes are scaled so one pass fits the run; each keeps its shape.
# recovery_floor sits below the topic recovery of every seed tried and
# above that of twenty topics all listing the corpus's ten most frequent
# words (at most 0.06 on either workload).
WORKLOADS = {
    # The reference's default path: beta is broadcast and train runs the
    # reference's fixed 100 gamma sweeps per document (Settings.java:54),
    # so the E-step sweep kernel carries about half of the train stage's
    # task time (kernel.task_share ~0.5 on 4 cores).
    "bcast_workflow": dict(
        beta_mode="broadcast", docs=2400, mean_len=80, vocab=5000,
        topics=20, iterations=2, sweeps=100, recovery_floor=0.2,
    ),
    # Distributed beta: job count, shuffles and driver collects dominate;
    # this trainer inlines its own sweep, so the kernel is not reached.
    "join_workflow": dict(
        beta_mode="join", docs=400, mean_len=50, vocab=10000,
        topics=20, iterations=2, sweeps=20, recovery_floor=0.07,
    ),
}
# gamma sweeps per document of the infer stage, on every workload
INFER_SWEEPS = 20
# The untimed warm-up parse reads a corpus this small, of the
# workload's shape otherwise: its cost is class loading, not data.
WARMUP_DOCS = 200
# Traced runs also train and score a small polylingual corpus (L=2),
# so the per-language EM loop and the held-out scorer are measured.
POLY = dict(docs=600, mean_len=40, vocab=3000, topics=10, iterations=2,
            sweeps=20)
SETUP_CYCLES = 3
# (B, n_max, K) of one bcast_workflow Arrow batch: docs per core, the
# longest doc's distinct terms, topics.  The rate is per sweep, so a few
# sweeps per call keep the microbenchmark near a second.
KERNEL_SHAPE = (600, 105, 20)
KERNEL_SWEEPS = 10


def pin_environment() -> dict:
    """Pin the variables the engine reads; keep every file in WORK."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"],
              os.path.join(WORK, "results"), os.path.join(WORK, "trace")):
        os.makedirs(d, exist_ok=True)
    return env


def cached_corpus(write, seed: int, *shape):
    """Generate ``write(dir, seed, *shape)`` once per (kind, seed, shape)
    in the checkout, outside any timed region; returns (dir, truth)."""
    key = (write.__name__, seed) + shape
    out = os.path.join(WORK, "corpus", "-".join(map(str, key)))
    truth_path = os.path.join(out, "truth.json")
    if not os.path.exists(truth_path):
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp, seed, *shape)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(truth_path) as fh:
        return out, json.load(fh)


def corpus_for(cfg: dict, seed: int):
    from perfbench import gen

    return cached_corpus(gen.write_mono, seed, cfg["docs"], cfg["mean_len"],
                         cfg["vocab"], cfg["topics"])


def spark_conf(traced: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4's defaults (zstd, rolling directories) are not
            # readable with the standard library.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(conf: dict, spans: list):
    """Start, ship and warm a session SETUP_CYCLES times; the first cycle
    also launches the JVM.  Returns (session, per-cycle timings)."""
    from mr_lda_spark.session import ensure_package_shipped, get_spark

    cycles, spark = [], None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        spark = get_spark("mrlda-bench", extra_conf=conf)
        t1 = time.time()
        ensure_package_shipped(spark)
        t2 = time.time()
        n = spark.sparkContext.defaultParallelism
        spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
        t3 = time.time()
        cycles.append({"spark_start_s": t1 - t0, "ship_s": t2 - t1,
                       "worker_warm_s": t3 - t2, "total_s": t3 - t0})
        spans.append({"name": "setup", "start": t0, "end": t3,
                      "parent": "run"})
    return spark, cycles


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class StageFailed(Exception):
    pass


# A failed stage, or a stage output that is missing or unreadable.
BAD_OUTPUT = (StageFailed, OSError, ValueError, KeyError, IndexError)


def run_stage(name: str, argv: list, spark, traced: bool, spans: list):
    """One CLI command in this process; returns (wall_s, stdout lines)."""
    from mr_lda_spark import cli

    if traced:
        spark.sparkContext.setJobGroup(name, name)
    buf = io.StringIO()
    t0 = time.time()
    try:
        with contextlib.redirect_stdout(buf):
            cli.main(argv)
    except (Exception, SystemExit) as exc:
        traceback.print_exc()
        raise StageFailed(f"{name}: {exc!r}") from exc
    finally:
        t1 = time.time()
        spans.append({"name": name, "start": t0, "end": t1, "parent": "pass"})
    return t1 - t0, buf.getvalue().splitlines()


def last_json(lines: list) -> dict:
    return json.loads(lines[-1])


def parse_sublayers(spark, docs_path: str, parsed: str, spans: list) -> dict:
    """Direct forced calls into the parse layer's public functions, each
    in its own job group (traced run only, outside the workflow)."""
    from mr_lda_spark.operators import parse

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    sc = spark.sparkContext
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    steps = {
        "dictionary": lambda: force(parse.build_dictionary(
            parse.term_stats(parse.tokenize(docs)), docs.count())),
        "encode": lambda: force(parse.encode_corpus(
            parse.tokenize(docs), spark.read.parquet(f"{parsed}/term"))),
        "doc_form": lambda: force(parse.corpus_to_doc_form(
            spark.read.parquet(f"{parsed}/document"))),
    }
    for name, fn in steps.items():
        sc.setJobGroup(f"parse.{name}", name)
        t0 = time.time()
        fn()
        t1 = time.time()
        out[name] = t1 - t0
        spans.append({"name": f"parse.{name}", "start": t0, "end": t1,
                      "parent": "pass"})
    return out


def workflow_pass(workload, corpus_dir, spark, traced, spans, kernel_accs):
    """parse -> train -> infer -> display-topic.  Returns a dict of stage
    walls, stage outputs and, when traced, parse sub-layer timings."""
    from mr_lda_spark.plans import lda
    from perfbench.probes import dir_bytes, wrap_sweep_kernel

    cfg = WORKLOADS[workload]
    out = os.path.join(WORK, "out", workload)
    shutil.rmtree(out, ignore_errors=True)
    docs = os.path.join(corpus_dir, "documents.parquet")
    parsed, model, infer = (os.path.join(out, d)
                            for d in ("parsed", "model", "infer"))
    it, sweeps = str(cfg["iterations"]), str(cfg["sweeps"])
    beta = os.path.join(model, f"beta-{it}")
    alpha = os.path.join(model, f"alpha-{it}.json")
    stages = [
        ("parse", ["parse", "--input", docs, "--output", parsed], parsed),
        ("train", ["train", "--input", parsed, "--output", model,
                   "--topic", str(cfg["topics"]), "--iteration", it,
                   "--gamma-iteration", sweeps,
                   "--beta-mode", cfg["beta_mode"]], model),
        ("infer", ["infer", "--input", parsed, "--beta", beta,
                   "--alpha", alpha, "--output", infer,
                   "--gamma-iteration", str(INFER_SWEEPS)], infer),
        ("display", ["display-topic", "--input", beta,
                     "--index", f"{parsed}/term"], None),
    ]
    res = {"wall": {}, "lines": {}, "window": {}, "output_bytes": 0}
    for name, argv, out_dir in stages:
        original = lda.numpy_sweep_backend
        if traced and name == "train":
            lda.numpy_sweep_backend = wrap_sweep_kernel(original, *kernel_accs)
        try:
            wall, lines = run_stage(name, argv, spark, traced, spans)
        finally:
            lda.numpy_sweep_backend = original
        res["wall"][name] = wall
        res["lines"][name] = lines
        res["window"][name] = (spans[-1]["start"], spans[-1]["end"])
        if out_dir is not None:
            res["output_bytes"] += dir_bytes(out_dir)
        if traced and name == "parse":
            res["parse_sub"] = parse_sublayers(spark, docs, parsed, spans)
    with open(alpha) as fh:
        res["elbo_history"] = json.load(fh)["elbo_history"]
    return res


def code_digest() -> str:
    """Hash of the engine's sources; runs of the same code share it."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mr_lda_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def check_elbo_record(corpus_dir: str, digest: str, final_elbos: list):
    """The same code on the same seeded corpus ends on the same ELBO:
    every pass of this run is compared with the first run of this code
    (``digest``) recorded for the corpus in the checkout.  Runs of other
    code are never compared, since a change may alter the arithmetic."""
    from perfbench import checks

    record = os.path.join(corpus_dir, f"final_elbo-{digest}.json")
    if os.path.exists(record):
        with open(record) as fh:
            final_elbos = [json.load(fh)] + final_elbos
    else:
        with open(record, "w") as fh:
            json.dump(final_elbos[0], fh)
    return checks.same_elbo(final_elbos)


def poly_probe(corpus_dir, truth, spark, spans):
    """``train-poly`` then ``train-poly --test`` on the held-out tenth.
    Returns (stage walls, failure reasons, held-out perplexity)."""
    from perfbench import checks

    out = os.path.join(WORK, "out", "poly")
    shutil.rmtree(out, ignore_errors=True)
    model, test = os.path.join(out, "model"), os.path.join(out, "test")
    common = ["--language", "2", "--topic", str(POLY["topics"]),
              "--gamma-iteration", str(POLY["sweeps"])]
    train_s, train_lines = run_stage("poly.train", [
        "train-poly", "--input", f"{corpus_dir}/train.txt", "--output", model,
        "--iteration", str(POLY["iterations"])] + common, spark, True, spans)
    test_s, test_lines = run_stage("poly.test", [
        "train-poly", "--input", f"{corpus_dir}/heldout.txt", "--output",
        test, "--test", model] + common, spark, True, spans)
    with open(os.path.join(model, f"alpha-{POLY['iterations']}.json")) as fh:
        history = json.load(fh)["elbo_history"]
    scored = last_json(test_lines)
    perplexity = math.exp(
        -scored["total_log_likelihood"] / truth["heldout_scored_tokens"])
    results = [
        checks.iterations(last_json(train_lines), POLY["iterations"]),
        checks.elbo_history(history, POLY["iterations"]),
        checks.documents(scored, truth["heldout_documents"]),
        checks.perplexity(perplexity),
    ]
    return {"train": train_s, "test": test_s}, results, perplexity


def check_pass(workload, res, truth) -> list:
    """Every output check of one pass; returns the failure reasons."""
    from perfbench import checks

    cfg = WORKLOADS[workload]
    infer = last_json(res["lines"]["infer"])
    display = res["lines"]["display"]
    learned = list(checks.topics_from_display(display).values())
    recovery = checks.topic_recovery(learned, truth["top_words"])
    res["recovery"] = recovery
    res["perplexity"] = math.exp(
        -infer["total_log_likelihood"] / truth["tokens"]
    )
    results = [
        checks.documents(last_json(res["lines"]["parse"]), truth["documents"]),
        checks.iterations(last_json(res["lines"]["train"]), cfg["iterations"]),
        checks.elbo_history(res["elbo_history"], cfg["iterations"]),
        checks.documents(infer, truth["documents"]),
        checks.perplexity(res["perplexity"]),
        checks.display_lines(display, cfg["topics"]),
        checks.recovery_floor(recovery, cfg["recovery_floor"]),
    ]
    return results


def end_to_end_metrics(passes, truth, cfg, cycles, peak_rss):
    tokens = truth["tokens"]
    stage_med = {s: median([p["wall"][s] for p in passes])
                 for s in passes[0]["wall"]}
    return {
        "setup_s": (median([c["total_s"] for c in cycles]), "s"),
        "workflow_s": (median([sum(p["wall"].values()) for p in passes]), "s"),
        "train_tokens_per_s":
            (tokens * cfg["iterations"] / stage_med["train"], "1/s"),
        "infer_tokens_per_s": (tokens / stage_med["infer"], "1/s"),
        "infer_perplexity": (median([p["perplexity"] for p in passes]), "1"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer_metrics(res, cycles, groups, kernel, cfg, tokens, failed,
                      attempted):
    from perfbench.eventlog import GroupStats
    from perfbench.probes import numpy_kernel_rate
    from mr_lda_spark.plans import lda

    def g(name):
        return groups.get(name, GroupStats())

    mb = 2**20
    parse, train, infer, display = (g(s) for s in
                                    ("parse", "train", "infer", "display"))
    t0, t1 = res["window"]["train"]
    busy_s, calls = kernel
    warm = cycles[1:] or cycles
    return {
        "session.cold_start_s": (cycles[0]["total_s"], "s"),
        "session.spark_start_s":
            (median([c["spark_start_s"] for c in warm]), "s"),
        "session.ship_s": (median([c["ship_s"] for c in warm]), "s"),
        "session.worker_warm_s":
            (median([c["worker_warm_s"] for c in warm]), "s"),
        # A parse of a few seconds swings more from run to run on a
        # shared host than any end-to-end bound allows, so its
        # throughput is a layer metric.
        "parse.tokens_per_s": (tokens / res["wall"]["parse"], "1/s"),
        "parse.dictionary_s": (res["parse_sub"]["dictionary"], "s"),
        "parse.encode_s": (res["parse_sub"]["encode"], "s"),
        "parse.doc_form_s": (res["parse_sub"]["doc_form"], "s"),
        "parse.jobs": (parse.jobs, "count"),
        "parse.task_s": (parse.task_s, "s"),
        "parse.shuffle_write_mb": (parse.shuffle_write_bytes / mb, "MB"),
        "kernel.busy_s": (busy_s, "s"),
        "kernel.calls": (calls, "count"),
        "kernel.task_share":
            (busy_s / train.task_s if train.task_s else 0.0, "share"),
        "kernel.numpy_rate": (numpy_kernel_rate(
            lda.numpy_sweep_backend, KERNEL_SHAPE, KERNEL_SWEEPS), "1/s"),
        "em.jobs": (train.jobs, "count"),
        "em.jobs_per_iter": (train.jobs / cfg["iterations"], "count"),
        "em.tasks": (train.tasks, "count"),
        "em.task_s": (train.task_s, "s"),
        "em.shuffle_write_mb": (train.shuffle_write_bytes / mb, "MB"),
        "em.result_mb": (train.result_bytes / mb, "MB"),
        "em.driver_gap_s": (
            (t1 - t0) - train.busy_ms_within(t0 * 1000, t1 * 1000) / 1000,
            "s"),
        "em.gc_s": (train.gc_s, "s"),
        "infer.jobs": (infer.jobs, "count"),
        "infer.task_s": (infer.task_s, "s"),
        "infer.shuffle_write_mb": (infer.shuffle_write_bytes / mb, "MB"),
        "display.topic_s": (res["wall"]["display"], "s"),
        "display.jobs": (display.jobs, "count"),
        "spark.failed_tasks":
            (sum(x.failed_tasks for x in groups.values()), "count"),
        "io.output_mb": (res["output_bytes"] / mb, "MB"),
        "failed_ops": (failed / attempted, "share"),
        "trace.workflow_s": (sum(res["wall"].values()), "s"),
    }


def poly_metrics(poly, groups):
    from perfbench.eventlog import GroupStats

    train = groups.get("poly.train", GroupStats())
    test = groups.get("poly.test", GroupStats())
    return {
        "poly.train_s": (poly["walls"]["train"], "s"),
        "poly.em_jobs_per_iter": (train.jobs / POLY["iterations"], "count"),
        "poly.em_task_s": (train.task_s, "s"),
        "poly.test_s": (poly["walls"]["test"], "s"),
        "poly.test_jobs": (test.jobs, "count"),
        "poly.heldout_perplexity": (poly["perplexity"], "1"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mr_lda_spark", "cli.py")):
        print(f"no mr_lda_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.eventlog import parse_event_log
    from perfbench.probes import RssSampler

    t_start = time.time()
    env = pin_environment()
    traced = bool(args.trace)
    cfg = WORKLOADS[args.workload]
    corpus_dir, truth = corpus_for(cfg, args.seed)
    warm_dir, _ = corpus_for(dict(cfg, docs=WARMUP_DOCS), args.seed)
    if traced:
        poly_dir, poly_truth = cached_corpus(
            gen.write_poly, args.seed, POLY["docs"], POLY["mean_len"],
            POLY["vocab"], POLY["topics"])
    poly = None
    spans = [{"name": "run", "start": t_start, "end": None, "parent": None}]
    failures: list = []
    attempted = 0
    passes: list = []
    with RssSampler() as rss:
        spark, cycles = set_up(spark_conf(traced), spans)
        sc = spark.sparkContext
        kernel_accs = (sc.accumulator(0.0), sc.accumulator(0))
        # Class loading and code generation happen in an untimed parse
        # of a small corpus first, so the measured stages are not
        # dominated by them.
        attempted += 1
        t_warm = time.time()
        try:
            run_stage("warmup", [
                "parse", "--input", f"{warm_dir}/documents.parquet",
                "--output", os.path.join(WORK, "out", "warmup")],
                spark, traced, spans)
        except StageFailed as exc:
            failures.append(str(exc))
        warmup_s = time.time() - t_warm
        window_start = time.time()
        while True:
            attempted += 4
            try:
                res = workflow_pass(args.workload, corpus_dir, spark, traced,
                                    spans, kernel_accs)
            except BAD_OUTPUT as exc:
                failures.append(str(exc))
                break
            try:
                results = check_pass(args.workload, res, truth)
            except BAD_OUTPUT as exc:
                attempted += 1
                failures.append(f"unreadable output: {exc!r}")
                break
            attempted += len(results)
            failures.extend(r for r in results if r is not None)
            passes.append(res)
            elapsed = time.time() - window_start
            last = sum(res["wall"].values())
            if traced or elapsed + last > args.seconds:
                break
        if passes:
            attempted += 1
            r = check_elbo_record(corpus_dir, code_digest(),
                                  [p["elbo_history"][-1] for p in passes])
            if r is not None:
                failures.append(r)
        if traced and passes:
            attempted += 2
            try:
                walls, results, ppl = poly_probe(
                    poly_dir, poly_truth, spark, spans)
            except BAD_OUTPUT as exc:
                failures.append(str(exc))
            else:
                attempted += len(results)
                failures.extend(r for r in results if r is not None)
                poly = {"walls": walls, "perplexity": ppl}
        app_id = sc.applicationId
        kernel = (kernel_accs[0].value, kernel_accs[1].value)
        shut_down(spark)
    spans[0]["end"] = time.time()

    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    if not passes:
        print("no workflow pass completed", file=sys.stderr)
        return 1
    record = os.path.join(WORK, "results", f"{args.workload}.json")
    info = {}
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        groups = parse_event_log(os.path.join(log_dir, app_id))
        shutil.rmtree(log_dir, ignore_errors=True)
        metrics = per_layer_metrics(passes[0], cycles, groups, kernel, cfg,
                                    truth["tokens"], len(failures), attempted)
        if poly is not None:
            metrics.update(poly_metrics(poly, groups))
        with open(os.path.join(
                WORK, "trace", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(spans, fh)
        if os.path.exists(record):
            with open(record) as fh:
                untraced = json.load(fh)["workflow_s"]
            info["trace_overhead_s"] = metrics["trace.workflow_s"][0] - untraced
        if kernel[1] == 0:
            # this trainer inlines its own sweep: the kernel is not reached
            info["not_applicable"] = [
                "kernel.busy_s", "kernel.calls", "kernel.task_share"]
    else:
        metrics = end_to_end_metrics(passes, truth, cfg, cycles, rss.peak_bytes)
        with open(record, "w") as fh:
            json.dump({"seed": args.seed,
                       "workflow_s": metrics["workflow_s"][0]}, fh)
    print(json.dumps({
        **info,
        "environment": env,
        "stage_walls_s": [p["wall"] for p in passes],
        "recovery": [p["recovery"] for p in passes],
        "run_s": spans[0]["end"] - t_start,
        "warmup_s": warmup_s,
        "peak_rss_mb_by_command": {
            k: v / 2**20 for k, v in rss.peak_by_name.items()},
    }))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
