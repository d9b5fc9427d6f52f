#!/usr/bin/env python3
"""Query-level perf tool: time one registered query, A/B two source
trees, or profile queries job group by job group.

    python tools/perf.py isolate <query> [sf_dir] [--warm] [--noop] [--count]
    python tools/perf.py ab <out.json> <reps> <treeA> <treeB> <query> ...
    python tools/perf.py profile <out.json> [query ...] [--top]

The tier defaults to $SPARK_GRAFT_SF_DIR, else sf0.1 (as bench.py).
Every query is forced the way bench.py forces it: count(), or a noop
sink write for the queries in ``bench.NOOP_FORCE`` (count() lets
Catalyst prune the operator those queries exist to time).

isolate  one query in a fresh session; prints one JSON line
         {"query", "sec", "warm", "action"}.  --warm runs the query
         once at sf0.001 first (JIT/codegen warm-up, as bench.py's warm
         loop); --noop forces with a noop write, --count with count()
         (--count wins), overriding the bench.NOOP_FORCE default.
ab       interleaved A/B across two trees: every (rep, query, tree)
         cell is a fresh ``isolate --warm`` process of THIS file, run
         with the tree as cwd and first on sys.path, so a tree without
         this file (a parent commit) is measured the same way.  Reps
         interleave A/B/A/B… so host drift hits both arms equally.
         Rewrites the raw JSON after each rep; prints a median table.
profile  the queries (--top prepends bench.HEADLINE) in ONE session
         after bench.py's warm-up, caches cleared per query, each query
         its own job group.  Jobs, tasks, task seconds and shuffle
         bytes per query come from the session's uncompressed event log
         (perfbench/eventlog.py), so no Spark UI is needed.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    # Appended, not prepended: under `ab` the measured tree is first.
    sys.path.append(_REPO)


def tier(name: str) -> str:
    """A test-data tier directory: bench.py's tiers sit side by side
    with the sf0.001 corpus the registry's goldens read."""
    from mr_lda_spark.queries_registry import GOLDEN_SF_DIR

    return os.path.join(os.path.dirname(GOLDEN_SF_DIR), name)


def default_sf() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR") or tier("sf0.1")

# `python -c _BOOT <tree> <this file> <args>`: runs this file as a
# script with <tree> first on sys.path.
_BOOT = ("import runpy, sys; sys.path.insert(0, sys.argv[1]); "
         "sys.argv = sys.argv[2:]; runpy.run_path(sys.argv[0], run_name='__main__')")


def session(app: str, extra_conf: dict | None = None):
    from mr_lda_spark.session import get_spark

    spark = get_spark(app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df, noop: bool) -> None:
    if noop:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()


def run_query(spark, name: str, sf_dir: str, noop: bool | None = None):
    """Build and force one query; returns (construct_s, action_s)."""
    import bench
    from mr_lda_spark import queries_registry

    if noop is None:
        noop = name in bench.NOOP_FORCE
    t0 = time.perf_counter()
    df = queries_registry.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    force(df, noop)
    return t1 - t0, time.perf_counter() - t1


def cmd_isolate(args) -> None:
    import bench

    noop = (args.query in bench.NOOP_FORCE or args.noop) and not args.count
    spark = session("perf-isolate")
    if args.warm:
        run_query(spark, args.query, tier("sf0.001"), noop)
    sec = sum(run_query(spark, args.query, args.sf_dir or default_sf(), noop))
    print(json.dumps({"query": args.query, "sec": round(sec, 3), "warm": args.warm,
                      "action": "noop" if noop else "count"}))


def isolate_in(tree: str, query: str, sf: str) -> float | None:
    p = subprocess.run(
        [sys.executable, "-c", _BOOT, tree, os.path.abspath(__file__),
         "isolate", query, sf, "--warm"],
        capture_output=True, text=True, cwd=tree, timeout=900,
    )
    for line in reversed((p.stdout or "").splitlines()):
        try:
            return json.loads(line)["sec"]
        except (ValueError, KeyError, TypeError):
            continue
    sys.stderr.write(f"FAILED {tree} {query}:\n{p.stdout[-500:]}\n{p.stderr[-2000:]}\n")
    return None


def cmd_ab(args) -> None:
    trees = {"A": os.path.abspath(args.tree_a), "B": os.path.abspath(args.tree_b)}
    sf = default_sf()
    runs = {q: {"A": [], "B": []} for q in args.queries}
    for rep in range(args.reps):
        for q in args.queries:
            for arm, tree in trees.items():
                sec = isolate_in(tree, q, sf)
                runs[q][arm].append(sec)
                print(f"rep{rep} {q} {arm}({tree}): {sec}", flush=True)
        with open(args.out, "w") as fh:
            json.dump({"tree_a": trees["A"], "tree_b": trees["B"], "sf_dir": sf,
                       "runs": runs}, fh, indent=1)

    def med(xs):
        xs = [x for x in xs if x is not None]
        return statistics.median(xs) if xs else None

    print(f"\n{'query':38s} {'A_med':>7s} {'B_med':>7s}  B/A")
    for q in args.queries:
        a, b = med(runs[q]["A"]), med(runs[q]["B"])
        ratio = f"{b / a:5.2f}" if a and b else "  n/a"
        print(f"{q:38s} {a or 0:7.2f} {b or 0:7.2f}  {ratio}")


def profile_queries(spark, names: list) -> dict:
    """Time each query cold, as its own job group."""
    import bench
    from mr_lda_spark import queries_registry

    sc = spark.sparkContext
    for warm in bench.WARM_QUERIES:
        run_query(spark, warm, tier("sf0.001"))
    results: dict[str, dict] = {}
    for name in names:
        if name not in queries_registry.QUERIES:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        queries_registry.WORKSPACE.release()
        spark.catalog.clearCache()
        sc.setJobGroup(name, name)
        construct, action = run_query(spark, name, default_sf())
        sc.setJobGroup(None, None)
        results[name] = {"construct_s": round(construct, 3),
                         "action_s": round(action, 3),
                         "total_s": round(construct + action, 3)}
        print(f"{name}: total {construct + action:.2f}s "
              f"(construct {construct:.2f}, action {action:.2f})")
    return results


def cmd_profile(args) -> None:
    import bench
    from perfbench.eventlog import parse_event_log

    names = (bench.HEADLINE if args.top else []) + args.queries
    log_dir = tempfile.mkdtemp(prefix="perf-eventlog-")
    try:
        spark = session("perf-profile", {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4's defaults (zstd, rolling directories) are not
            # readable with the standard library.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        try:
            results = profile_queries(spark, names)
        finally:
            app_id = spark.sparkContext.applicationId
            spark.stop()  # closes the event log
        groups = parse_event_log(os.path.join(log_dir, app_id))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for name, row in results.items():
        g = groups.get(name)
        if g is not None:
            row.update(jobs=g.jobs, tasks=g.tasks, task_s=round(g.task_s, 3),
                       shuffle_write_bytes=g.shuffle_write_bytes)
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {args.out}")


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("isolate", help="one query in a fresh session")
    p.add_argument("query")
    p.add_argument("sf_dir", nargs="?")
    p.add_argument("--warm", action="store_true")
    p.add_argument("--noop", action="store_true")
    p.add_argument("--count", action="store_true")  # overrides --noop
    p.set_defaults(fn=cmd_isolate)

    p = sub.add_parser("ab", help="interleaved A/B across two trees")
    p.add_argument("out")
    p.add_argument("reps", type=int)
    p.add_argument("tree_a")
    p.add_argument("tree_b")
    p.add_argument("queries", nargs="+")
    p.set_defaults(fn=cmd_ab)

    p = sub.add_parser("profile", help="per-query job-group profile")
    p.add_argument("out")
    p.add_argument("queries", nargs="*")
    p.add_argument("--top", action="store_true")
    p.set_defaults(fn=cmd_profile)
    return ap


def main(argv=None) -> None:
    args = parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
