#!/usr/bin/env python3
"""Paired 1x/10x growth probe for the r12 recompute (kernel-
multiplicity) fixes (VERDICT r12 "Next round" #3): the three fixed
consumers claimed "N corpus passes bought back" on PLAN-node evidence
(6→1 MapInPandas, 18→0 / 34→2 WindowGroupLimit); this probe MEASURES
the claim by running each consumer both ways at two corpus sizes:

- eager  = materialize=True (construction-time localCheckpoint of the
  answer-sized relation — the shipped default),
- lazy   = materialize=False (the plan the fix replaced: every
  reference to the multi-consumed input replays the corpus kernel,
  because group-key predicate pushdown de-canonicalizes the exchanges
  and ReuseExchange never fires).

Protocol (the paired growth protocol recorded in SCALING_r12_polylda.json):
- ×10 clones grow the CORPUS only: documents doc_ids offset by
  10M·rep with sources unchanged (sketch stays groups×k), embeddings
  vec_ids offset by 100k·rep (ANN queries stay the 5 rep-0 vectors,
  the gram stays d²) — the 100 TB shape: inputs grow, answers don't;
- full evaluation is collect() (results are answer-sized: ≤2 145
  rows), timed INCLUDING construction so the eager path pays its
  checkpoint barrier inside the measurement (the honest accounting of
  PERF_NOTES_r12 §4c);
- min of PASSES runs per cell; per-mode executed-plan corpus-kernel
  node counts (MapInPandas / ArrowEvalPython / WindowGroupLimit)
  recorded next to the walls so the slope ties to the plan shape;
- aggregate executor task time is recorded next to wall per cell:
  on local[32] the lazy plan's replicated branches run concurrently
  on idle cores, so wall alone understates recompute — task time is
  what a busy 1000-executor cluster pays;
- expected signature: lazy/eager GROWS with corpus size where the
  replicated kernel is genuinely recomputed.

FINDING (this probe, r13): the claim splits by kernel position.
- correlation_pairs: the replicated kernel is PRE-exchange Arrow map
  work (MapInPandas) — nothing can reuse it; lazy pays ~4x aggregate
  task time at every size and the wall ratio grows 1.6 -> 2.9 by
  x100.  The r12 fix is a real compute win here, probe-pinned.
- ranking_quality / kmv_pair_set_ops: the replicated branches sit
  POST-exchange (WindowGroupLimit over a shuffle of the corpus-side
  relation), and Spark's runtime exchange reuse deduplicates the
  expensive shuffle even though the static plan prints N branches
  (final adaptive plans carry ReusedExchange nodes — counted below);
  measured task-time ratio ~1.0 at x1/x10/x100.  The r12 fix there
  is PLAN HYGIENE (lineage depth, compile size, and a guard for
  environments with spark.sql.exchange.reuse disabled), not compute —
  the r12 "five corpus passes bought back" reading of the WGL count
  overstated runtime recompute for those two ops, and this probe is
  the correction of record.

Usage: python tools/probe_r13_materialize.py [out_json]
"""
from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PASSES = 2
KMV_K = 256
RANK_K = 10


def _clone(df, id_col, step, times):
    from pyspark.sql import functions as F

    parts = [
        df.withColumn(id_col, F.col(id_col) + F.lit(step * rep))
        for rep in range(times)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _plan_nodes(df):
    # Execute FIRST so AQE finalizes: the static plan's node counts
    # overstate runtime recompute wherever runtime exchange reuse
    # fires — ReusedExchange in the FINAL plan is the witness that
    # separates genuinely replicated kernels (pre-exchange map work:
    # MapInPandas) from branches that share one shuffle at runtime.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "MapInPandas": plan.count("MapInPandas"),
        "ArrowEvalPython": plan.count("ArrowEvalPython"),
        "WindowGroupLimit": plan.count("WindowGroupLimit"),
        "ReusedExchange": plan.count("ReusedExchange"),
        "is_final_plan": "isFinalPlan=true" in plan,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        _REPO, "SCALING_r13_materialize.json"
    )

    from pyspark.sql import functions as F

    from mr_lda_spark.operators import kmv, similarity, textops
    from mr_lda_spark.operators.linalg import correlation_pairs
    from mr_lda_spark.session import get_spark

    # UI on: the probe reads cumulative executorRunTime from the
    # status REST API — on local[32] the lazy plan's replicated
    # corpus branches run CONCURRENTLY on idle cores, so WALL clock
    # alone understates the recompute (the cluster-relevant cost is
    # the aggregate task time a busy 1000-executor cluster would pay).
    spark = get_spark(
        "probe-r13-materialize", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    def _cum_run_ms() -> int:
        import urllib.request

        url = (
            "http://localhost:4040/api/v1/applications/"
            f"{app_id}/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=10) as resp:
            stages = json.load(resp)
        return sum(st.get("executorRunTime", 0) for st in stages)

    docs1 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb1 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # ×100 added after the first run: at sf0.1 the ×1/×10 cells are
    # 2-5 s walls dominated by fixed stage/barrier overhead (the
    # local[32] memory-local-shuffle caveat, PERF_NOTES_r09 §1), so
    # the two ops with several-second fixed costs were noise-bound —
    # a third point two decades up lets the corpus-sized recompute
    # dominate the answer-sized checkpoint unambiguously.
    docs10 = _clone(docs1, "doc_id", 10_000_000, 10).localCheckpoint()
    emb10 = _clone(emb1, "vec_id", 100_000, 10).localCheckpoint()
    docs100 = _clone(docs1, "doc_id", 10_000_000, 100).localCheckpoint()
    emb100 = _clone(emb1, "vec_id", 100_000, 100).localCheckpoint()
    n_docs = {
        "x1": docs1.count(), "x10": docs10.count(), "x100": docs100.count()
    }
    n_vecs = {
        "x1": emb1.count(), "x10": emb10.count(), "x100": emb100.count()
    }

    def corr_builder(emb, materialize):
        return correlation_pairs(emb, dim=64, materialize=materialize)

    def rank_builder(emb, materialize):
        queries = emb.filter(F.col("vec_id") < 5)
        approx = similarity.ivfflat_frozen_topk(
            emb, queries, k=RANK_K, n_clusters=8, nprobe=2
        )
        exact = similarity.cosine_topk(emb, queries, k=RANK_K)
        return similarity.ranking_quality(
            approx, exact, k=RANK_K, materialize=materialize
        )

    def kmv_builder(docs, materialize):
        keys = textops.shingles(docs, "text", 3).join(
            docs.select("doc_id", "source"), "doc_id"
        )
        sk = kmv.kmv_sketch(keys, "shingle", ["source"], k=KMV_K)
        return kmv.kmv_pair_set_ops(
            sk, "source", k=KMV_K, materialize=materialize
        )

    ops = {
        "embedding_correlation_pairs": (corr_builder, "emb"),
        "similarity_ivf_ranking_quality": (rank_builder, "emb"),
        "text_kmv_source_overlap_pairs": (kmv_builder, "docs"),
    }
    inputs = {
        "emb": {"x1": emb1, "x10": emb10, "x100": emb100},
        "docs": {"x1": docs1, "x10": docs10, "x100": docs100},
    }

    results: dict[str, dict] = {}
    for name, (builder, kind) in ops.items():
        row: dict[str, dict] = {}
        for mult in ("x1", "x10", "x100"):
            cell: dict[str, float] = {}
            for mode, materialize in (("eager", True), ("lazy", False)):
                walls, cpus = [], []
                for _ in range(PASSES):
                    spark.catalog.clearCache()
                    c0 = _cum_run_ms()
                    t0 = time.perf_counter()
                    out = builder(inputs[kind][mult], materialize)
                    rows = out.collect()
                    walls.append(round(time.perf_counter() - t0, 3))
                    cpus.append(round((_cum_run_ms() - c0) / 1000.0, 3))
                cell[f"{mode}_sec"] = min(walls)
                cell[f"{mode}_tasktime_sec"] = min(cpus)
                cell[f"{mode}_rows"] = len(rows)
            cell["lazy_over_eager"] = round(
                cell["lazy_sec"] / cell["eager_sec"], 3
            )
            cell["lazy_over_eager_tasktime"] = round(
                cell["lazy_tasktime_sec"]
                / max(cell["eager_tasktime_sec"], 1e-9),
                3,
            )
            row[mult] = cell
            print(f"{name} {mult}: {cell}", flush=True)
        # plan-shape witness at x1 (node counts don't change with size)
        row["plan_nodes"] = {
            mode: _plan_nodes(builder(inputs[kind]["x1"], mat))
            for mode, mat in (("eager", True), ("lazy", False))
        }
        row["advantage_growth_x10_over_x1"] = round(
            row["x10"]["lazy_over_eager"] / row["x1"]["lazy_over_eager"], 3
        )
        row["advantage_growth_x100_over_x1"] = round(
            row["x100"]["lazy_over_eager"] / row["x1"]["lazy_over_eager"], 3
        )
        row["tasktime_growth_x100_over_x1"] = round(
            row["x100"]["lazy_over_eager_tasktime"]
            / row["x1"]["lazy_over_eager_tasktime"],
            3,
        )
        results[name] = row

    out = {
        "metric": "materialize_growth_probe_r13",
        "sf_dir": sf_dir,
        "protocol": (
            "each consumer built+collect()ed both ways (eager = "
            f"materialize=True incl. checkpoint cost), min of {PASSES} "
            "runs per cell, corpus x10 by id-offset clones (answers "
            "stay answer-sized), executed-plan corpus-kernel node "
            "counts recorded per mode"
        ),
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "ops": results,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
