#!/usr/bin/env python
"""Interleaved same-session A/B for optimization rounds (guide §1).

Loads the SAME registered query from TWO code roots (e.g. a pristine
HEAD worktree vs the working tree) into one process, and alternates
noop-sink executions rep by rep in ONE SparkSession — so co-tenant
window noise hits both variants symmetrically and the min/median deltas
are attributable to the code change, not the window (the r13
methodology; single-window absolutes swing 1.5-2x on this host).

Each rep times plan construction (build_s) and the noop-sink execution
(exec_s) separately. Persisted frames (e.g. sim07's codebook) live in
each root's OWN module universe, so warm-pass cache reuse matches the
bench's sequential-call methodology per variant.

Usage:
  python tools/ab_interleave.py --a /tmp/r14_head --b /root/repo \
      --query sim07_pq_topk [--query t14_lm_perplexity ...] \
      [--sf-dir /root/testdata/sf0.1] [--reps 5] [--out FILE]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time


def _ours(name: str) -> bool:
    return name == "quacfka_spark" or name.startswith("quacfka_spark.")


@contextlib.contextmanager
def universe(root: str, modules: dict):
    """Resolve ``quacfka_spark`` imports to ``root`` inside the block.

    Operators import helpers inside function bodies (e.g. similarity.py's
    ``with_l2_normalized``), so those imports resolve at CALL time; a
    variant must run with its own modules in ``sys.modules`` and its own
    root first on ``sys.path``, or it silently runs the other root's
    helpers. ``modules`` is the variant's module universe: it is installed
    on entry and collects whatever the block imported on exit. Both
    ``sys.modules`` and ``sys.path`` are restored afterwards."""
    saved = {k: sys.modules.pop(k) for k in list(sys.modules) if _ours(k)}
    sys.modules.update(modules)
    sys.path.insert(0, root)
    try:
        yield
    finally:
        sys.path.remove(root)
        for k in [k for k in sys.modules if _ours(k)]:
            modules[k] = sys.modules.pop(k)
        sys.modules.update(saved)


def load_registry(root: str):
    """Import the quacfka_spark registry from ``root`` into a fresh module
    universe (function objects keep references to their own modules, so
    two universes coexist); returns the queries and that universe."""
    modules: dict = {}
    with universe(root, modules):
        from quacfka_spark.registry import get_queries

        queries = dict(get_queries())
    return queries, modules


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="code root A (baseline)")
    ap.add_argument("--b", required=True, help="code root B (candidate)")
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default="/tmp/ab_interleave.json")
    args = ap.parse_args()

    roots = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    loaded = {key: load_registry(root) for key, root in roots.items()}

    # one session for both universes (same confs: session.py is identical
    # unless the round changed it — then pass the ROOT whose conf is the
    # candidate's as --b and note it in the writeup)
    with universe(roots["B"], loaded["B"][1]):
        from quacfka_spark.session import get_spark

        spark = get_spark("ab-interleave")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name, key, label):
        queries, modules = loaded[key]
        with universe(roots[key], modules):
            spark.sparkContext.setJobDescription(label)
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobDescription(None)
        return t1 - t0, t2 - t1

    results = {}
    for name in args.query:
        # warmup once per variant (JVM/codegen/scan caches) — unreported
        run(name, "A", f"{name} A warmup")
        run(name, "B", f"{name} B warmup")
        recs = {"A": [], "B": []}
        for rep in range(args.reps):
            for key in ("A", "B"):
                b, e = run(name, key, f"{name} {key} rep{rep}")
                recs[key].append((round(b, 3), round(e, 3)))
        summ = {}
        for key in ("A", "B"):
            execs = [e for _, e in recs[key]]
            builds = [b for b, _ in recs[key]]
            summ[key] = {
                "exec_min": round(min(execs), 3),
                "exec_med": round(statistics.median(execs), 3),
                "build_med": round(statistics.median(builds), 3),
                "total_min": round(min(b + e for b, e in recs[key]), 3),
                "reps": recs[key],
            }
        summ["speedup_min"] = round(
            summ["A"]["exec_min"] / max(summ["B"]["exec_min"], 1e-9), 3
        )
        summ["speedup_med"] = round(
            summ["A"]["exec_med"] / max(summ["B"]["exec_med"], 1e-9), 3
        )
        results[name] = summ
        print(
            f"{name}: A exec min/med {summ['A']['exec_min']}/"
            f"{summ['A']['exec_med']}  B {summ['B']['exec_min']}/"
            f"{summ['B']['exec_med']}  speedup(min) {summ['speedup_min']}"
            f"  build A/B {summ['A']['build_med']}/{summ['B']['build_med']}",
            flush=True,
        )
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"-> {args.out}")


if __name__ == "__main__":
    main()
