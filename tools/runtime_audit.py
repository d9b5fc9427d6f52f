"""Registry-wide runtime exchange-reuse audit — VERDICT r13 "Next
round" #4: turn the r13 materialize probe's lesson (static plan-node
multiplicity is an UPPER BOUND; post-exchange branches often share one
shuffle at runtime via ReusedExchange, while PRE-exchange map kernels
replicate for real) into a per-row round-close artifact covering EVERY
registered query, not just the three probed ones.

For each registry row the audit records:

- ``static``: node counts from the UNEXECUTED physical plan
  (MapInPandas / MapInArrow / WindowGroupLimit / Exchange) — the
  review-gate upper bound,
- ``runtime``: node counts from the FINAL adaptive plan after
  execution (ReusedExchange / MapInPandas / MapInArrow /
  WindowGroupLimit, ``final`` = the plan actually finalized) — what
  the multiplicity COST,
- ``flag``: rows whose final plan still carries ≥ 2 Arrow kernels
  (``MapInPandas + MapInArrow >= 2``) — the pre-exchange-replication
  candidates that need a named explanation (distinct kernels vs true
  recompute) in the round's PERF_NOTES.

Execution is JVM-side only (``executedPlan().execute().count()`` on
the SAME QueryExecution whose plans are printed): no rows cross to the
Python driver, so corpus-sized relations can't OOM the audit (ADVICE
r13 on the --runtime collect()).

Usage:
    python tools/runtime_audit.py 14                # -> AUDIT_r14.json
    python tools/runtime_audit.py 14 --sf /root/testdata/sf0.01
    python tools/runtime_audit.py 14 --only q1,q2   # merge rows
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PROTOCOL = (
    "every registered query built at the given sf, static physical "
    "plan node counts recorded, then executed JVM-side on its own "
    "QueryExecution (executedPlan().execute().count() - no driver "
    "materialization) and the final adaptive plan's node counts "
    "recorded.  flag = final plan carries >=2 MapInPandas + "
    "MapInArrow nodes "
    "(pre-exchange Arrow-kernel replication candidates - runtime "
    "exchange reuse cannot deduplicate pre-exchange map work, so "
    "each flagged row needs a named explanation: distinct kernels "
    "vs true recompute)."
)

NODES_STATIC = ("MapInPandas", "MapInArrow", "WindowGroupLimit", "Exchange")
NODES_RUNTIME = ("ReusedExchange", "MapInPandas", "MapInArrow", "WindowGroupLimit")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from mr_lda_spark import queries_registry
    from mr_lda_spark.session import get_spark

    names = sorted(queries_registry.QUERIES)
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]

    path = os.path.join(_REPO, f"AUDIT_r{args.round:02d}.json")
    out = {
        "metric": "runtime_reuse_audit",
        "sf_dir": args.sf,
        "protocol": PROTOCOL,
        "results": {},
    }
    if args.only and os.path.exists(path):
        with open(path) as fh:
            out = json.load(fh)
        out.setdefault("results", {})

    spark = get_spark("runtime-audit")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    for i, name in enumerate(names, 1):
        t = time.time()
        row: dict = {}
        try:
            df = queries_registry.QUERIES[name](spark, args.sf)
            qe = df._jdf.queryExecution()
            static = qe.executedPlan().toString()
            row["static"] = {n: static.count(n) for n in NODES_STATIC}
            qe.executedPlan().execute().count()
            fin = qe.executedPlan().toString()
            # A map-only plan never enters AQE — there is no adaptive
            # plan to finalize, so "executed" is the honest value, not
            # false.
            is_final = (
                "isFinalPlan=true" in fin
                or "AdaptiveSparkPlan" not in fin
            )
            # A finalized AdaptiveSparkPlan prints BOTH "== Final
            # Plan ==" and "== Initial Plan ==" sections — counting
            # the raw string doubles every node.  Count the final
            # section only.
            fin = fin.split("== Initial Plan ==")[0]
            row["runtime"] = {n: fin.count(n) for n in NODES_RUNTIME}
            row["runtime"]["final"] = is_final
            row["flag"] = row["runtime"]["MapInPandas"] + row["runtime"]["MapInArrow"] >= 2
            row["ok"] = True
        except Exception as exc:  # noqa: BLE001 - audit records, never dies
            row["ok"] = False
            row["error"] = f"{type(exc).__name__}: {exc}"[:400]
            row["flag"] = True
        row["sec"] = round(time.time() - t, 3)
        out["results"][name] = row
        print(
            f"[{i}/{len(names)}] {name} "
            f"{'ok' if row['ok'] else 'ERROR'} {row['sec']}s",
            flush=True,
        )

    res = out["results"]
    out["summary"] = {
        "rows": len(res),
        "ok": sum(1 for r in res.values() if r.get("ok")),
        "errors": sorted(n for n, r in res.items() if not r.get("ok")),
        "flagged": sorted(n for n, r in res.items() if r.get("flag")),
        "with_runtime_reuse": sum(
            1
            for r in res.values()
            if r.get("runtime", {}).get("ReusedExchange", 0) > 0
        ),
        "total_sec": round(time.time() - t0, 1),
    }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(
        f"wrote {path}: {out['summary']['ok']}/{out['summary']['rows']} ok, "
        f"flagged={len(out['summary']['flagged'])}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
