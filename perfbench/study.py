"""Steadiness study: run workloads over several seeds and summarise each
metric's median and spread.

    python3 perfbench/study.py --workloads ingest_fresh,query_mix \
        --seeds 1-10 [--trace-seeds 11] [--out set2.json] [--against set1.json]

The workloads take turns, seed by seed, so a drift of the machine's speed
hits all of them alike.  The spread is (Q3 - Q1) / median over the seeds,
the figure the benchmark's bounds are checked against.  Traced runs
(``--trace-seeds``) give the tracing overhead: traced minus untraced
medians.  ``--against`` an earlier set records how far each end-to-end
median moved from it (a share of the earlier median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if not spec:
        return []
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    out = {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                      "wall_s": round(out["detail"]["wall_s"], 1),
                      "steal_share": round(out["detail"]["host"]["steal_share"], 4),

                      **{k: round(v["value"], 4) for k, v in out["result"]["metrics"].items()
                         if not trace}}), file=sys.stderr, flush=True)
    return out


def summary(values: list[float]) -> dict:
    out = {"median": statistics.median(values), "n": len(values), "values": values}
    if len(values) >= 2:
        out["iqr_share"] = measure.iqr_share(values)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="")
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    names = args.workloads.split(",")
    runs: dict[str, list] = {w: [] for w in names}
    traced: dict[str, list] = {w: [] for w in names}
    for s in seeds(args.seeds):
        for w in names:
            runs[w].append(run(w, s, seconds, 0))
    for s in seeds(args.trace_seeds):
        for w in names:
            traced[w].append(run(w, s, seconds, 1))
    first = {}
    if args.against:
        with open(args.against) as fh:
            first = json.load(fh)

    report = {}
    for w in names:
        rs = runs[w]
        metrics = {n: summary([r["result"]["metrics"][n]["value"] for r in rs])
                   for n in rs[0]["result"]["metrics"]}
        figures = {n: summary([r["detail"]["figures"][n]["value"] for r in rs])
                   for n in rs[0]["detail"]["figures"]}
        entry = {
            "metrics": metrics,
            "figures": figures,
            "setups_s": [r["detail"]["setups_s"] for r in rs],
            "wall_s": summary([r["detail"]["wall_s"] for r in rs]),
            "failed": sum(r["result"]["failed"] for r in rs),
            "attempted": sum(r["result"]["attempted"] for r in rs),
            "hosts": [r["detail"]["host"] for r in rs],
            "steal_share": summary([r["detail"]["host"]["steal_share"] for r in rs]),
        }
        if traced[w]:
            ts = traced[w]
            layers = {n: summary([t["result"]["metrics"][n]["value"] for t in ts])
                      for n in ts[0]["result"]["metrics"]}
            entry["per_layer"] = layers
            entry["tracing_overhead"] = {
                m: layers[f"trace.{m}"]["median"] - metrics[m]["median"] for m in metrics}
        if w in first:
            entry["vs_first"] = {m: v["median"] / first[w]["metrics"][m]["median"] - 1
                                 for m, v in metrics.items()}
        report[w] = entry
        print(json.dumps({w: {k: {"median": v["median"], "iqr_share": v.get("iqr_share")}
                              for k, v in {**metrics, **figures}.items()},
                          "vs_first": entry.get("vs_first")}), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
