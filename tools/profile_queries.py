#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds (guide §1).

For every headline query (or a --only subset) this measures, with the
same session + noop-sink methodology as bench.py:

- ``build_s``  — wall time of the Python plan construction call
- ``exec_s``   — wall time of the noop-sink execution (per pass)
- ``jobs`` / ``task_s`` / ``gc_s`` / ``shuffle_mb`` / ``spill_mb`` —
  the last (warm) pass's Spark jobs and their task metrics, read from
  Spark's own event log after the session stops and folded per job
  group by perfbench/measure.fold_event_log (a query that runs N
  collect-style chooser jobs before its main action shows up here as
  N+1 jobs — driver-synchronized round trips the bench pays serially)

Emits JSON to --out (default /tmp/profile_queries.json) sorted by best
exec_s descending. Optionally captures .explain("formatted") for each
profiled query under --plans-dir.

Usage:
  python tools/profile_queries.py [--sf-dir DIR] [--passes 2]
      [--only regex] [--plans-dir plans/r13] [--suffix _before]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default="/tmp/profile_queries.json")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()

    from quacfka_spark.registry import get_queries
    from quacfka_spark.session import get_spark

    import bench as bench_mod
    from perfbench.measure import fold_event_log

    event_dir = tempfile.mkdtemp(prefix="profile-eventlog-")
    spark = get_spark(
        "quacfka-spark-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    queries = get_queries()
    names = [n for n in bench_mod.HEADLINE if n in queries]
    if args.only:
        rx = re.compile(args.only)
        names = [n for n in names if rx.search(n)]

    # Warmup (bench.py methodology)
    queries["q01_scan_count"](spark, args.sf_dir).collect()
    queries["q04_hash_agg"](spark, args.sf_dir).collect()

    prof: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        rec = prof.setdefault(name, {"build_s": [], "exec_s": []})
        for p in range(max(1, args.passes)):
            group = f"prof-{name}-{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                df = fn(spark, args.sf_dir)
            except Exception as e:
                rec["error"] = str(e)[:200]
                break
            t1 = time.perf_counter()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                rec["error"] = str(e)[:200]
                break
            t2 = time.perf_counter()
            rec["build_s"].append(round(t1 - t0, 4))
            rec["exec_s"].append(round(t2 - t1, 4))
            sc.setJobGroup("", "")
            print(
                f"# {name} pass{p}: build {t1 - t0:.3f}s exec {t2 - t1:.3f}s",
                file=sys.stderr,
            )
        if args.plans_dir and "error" not in rec:
            os.makedirs(args.plans_dir, exist_ok=True)
            try:
                df = fn(spark, args.sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    fn(spark, args.sf_dir).explain("formatted")
                plan = buf.getvalue()
            with open(
                os.path.join(args.plans_dir, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

    app_id = sc.applicationId
    spark.stop()
    with open(os.path.join(event_dir, app_id)) as fh:
        groups = fold_event_log(fh).by("group")
    shutil.rmtree(event_dir, ignore_errors=True)
    last = max(1, args.passes) - 1
    for name, rec in prof.items():
        # scheduler work of the LAST pass only (warm)
        jobs = groups.get(f"prof-{name}-{last}", [])
        rec["jobs"] = len(jobs)
        for k in ("task_s", "gc_s", "shuffle_mb", "spill_mb"):
            rec[k] = round(sum(getattr(j, k) for j in jobs), 3)
        if rec["exec_s"]:
            rec["best_exec"] = min(rec["exec_s"])
            rec["best_build"] = min(rec["build_s"])
    ordered = dict(
        sorted(prof.items(), key=lambda kv: -(kv[1].get("best_exec") or 0))
    )
    summary = {
        "sf_dir": args.sf_dir,
        "total_best_exec": round(
            sum(r.get("best_exec") or 0 for r in prof.values()), 2
        ),
        "total_best_build": round(
            sum(r.get("best_build") or 0 for r in prof.values()), 2
        ),
        "queries": ordered,
    }
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({k: summary[k] for k in ("total_best_exec", "total_best_build")}))


if __name__ == "__main__":
    main()
