#!/usr/bin/env python
"""Attribute the streaming-wide per-micro-batch fixed cost (r12
verdict #4).

INGEST_WIDE_PASSCURVE.json fits the wide STREAMING ingest at ~656 MB/s
asymptote with ~2.8 s fixed cost per pass vs batch's ~930 / ~1.2 s;
the extra ~1.6 s/epoch is per-micro-batch overhead. This tool runs the
exact bench workload (bench_ingest SHAPES['wide'], same source/codec/
pipeline construction) at TWO payload sizes per epoch and decomposes
each epoch's wall from two independent vantage points:

- the ENGINE's own StreamingQueryProgress durationMs: latestOffset +
  getBatch + queryPlanning (source planning), walCommit +
  commitOffsets (the exactly-once checkpoint barrier), addBatch (our
  foreachBatch body), triggerExecution (the whole epoch);
- Spark's EVENT LOG, folded per epoch by the benchmark's own
  ``perfbench/workloads.pipeline_layers``: task seconds per sink (raw
  write, normalizer write, ledgers, post-SQL runner; summed over
  parallel tasks, so not walls), GC, jobs per epoch, and driver_s — the
  wall of addBatch no Spark job covers. The dominant fixed term is
  picked among the engine's walls only.

Two payload sizes give a two-point linear fit per term: the intercept
is that term's FIXED cost per epoch (what the pass-curve's 2.8 s is
made of), the slope is payload-proportional work. Run SOLO.

Usage: python tools/stream_fixed_cost.py --out STREAM_FIXED_COST.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

_DUR_KEYS = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "addBatch",
    "triggerExecution",
)
# event-log layers fitted like the engine terms (seconds per epoch)
_SPLIT_KEYS = ("raw_task_s", "norm_task_s", "ledger_task_s", "runner_task_s",
               "gc_s", "driver_s")


def run_one(spark, rows: int, epochs: int, work_dir: str) -> tuple[dict, dict]:
    """One run: its report, and what the event-log fold needs."""
    from quacfka_spark.bench_ingest import SHAPES, _codec, _gen_bytes
    from quacfka_spark.plans.normalizer import NormalizerSpec
    from quacfka_spark.streaming import PipelineConfig, StreamingPipeline

    sh = SHAPES["wide"]
    cores = spark.sparkContext.defaultParallelism
    src = os.path.join(work_dir, "src")
    out = os.path.join(work_dir, "out")
    shutil.rmtree(work_dir, ignore_errors=True)
    fmt, encode, decode = _codec(spark, sh)
    mb = _gen_bytes(spark, rows, src, cores * epochs, encode, sh.payload)

    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", str(cores))
        .parquet(src)
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out, dest_table="messages", available_now=True
        ),
        decode=decode,
        normalizer=NormalizerSpec(
            fields=[f"r.{f}" for f in sh.norm_fields],
            aliases=list(sh.norm_aliases),
        ),
    )
    t0 = time.perf_counter()
    q = pipe.start()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    err = pipe.error()
    if err is not None:
        raise RuntimeError(str(err))

    # per-epoch medians skip epoch 0 — it pays stream start + codegen
    # warmup and would skew a median of 8
    prog = [p for p in q.recentProgress if p.batchId != 0]
    dur = {
        k: statistics.median(p.durationMs.get(k, 0) / 1000.0 for p in prog)
        for k in _DUR_KEYS
        if prog
    }
    shutil.rmtree(work_dir, ignore_errors=True)
    report = {
        "rows": rows,
        "epochs": epochs,
        "rows_per_epoch": rows // epochs,
        "mb": round(mb, 1),
        "wall_s": round(wall, 2),
        "mb_per_s": round(mb / wall, 1),
        "median_epoch_durations_s": {k: round(v, 3) for k, v in dur.items()},
    }
    return report, {"query_ids": {str(q.id)}, "progress": prog, "payload_mb": mb}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=8)
    ap.add_argument("--rows-small", type=int, default=400_000)
    ap.add_argument("--rows-large", type=int, default=1_600_000)
    ap.add_argument("--work-dir", default="/tmp/quacfka_stream_fixed")
    ap.add_argument("--out", default="STREAM_FIXED_COST.json")
    args = ap.parse_args()

    import measure
    import workloads
    from quacfka_spark.session import get_spark

    event_dir = tempfile.mkdtemp(prefix="stream-fixed-eventlog-")
    spark = get_spark(
        "stream-fixed-cost",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    rep: dict = {"metric": "stream_fixed_cost", "runs": {}}
    folds = {}
    for name, rows in (("small", args.rows_small), ("large", args.rows_large)):
        rep["runs"][name], folds[name] = run_one(spark, rows, args.epochs, args.work_dir)
        print(f"# {name}: {json.dumps(rep['runs'][name])}", file=sys.stderr)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    with open(os.path.join(event_dir, app_id)) as fh:
        log = measure.fold_event_log(fh)
    shutil.rmtree(event_dir, ignore_errors=True)
    for name, fold in folds.items():
        layers = workloads.pipeline_layers(log, **fold)
        rep["runs"][name]["median_inbatch_split_s"] = {
            k.removeprefix("pipeline."): round(v, 3) for k, v in layers.items()
        }

    # two-point fit per term: fixed = intercept at rows_per_epoch -> 0
    s, l = rep["runs"]["small"], rep["runs"]["large"]
    x1, x2 = s["rows_per_epoch"], l["rows_per_epoch"]
    fit = {}
    for part, keys in (("median_epoch_durations_s", _DUR_KEYS),
                       ("median_inbatch_split_s", _SPLIT_KEYS)):
        for k in keys:
            y1, y2 = s[part].get(k), l[part].get(k)
            if y1 is None or y2 is None or x2 == x1:
                continue
            slope = (y2 - y1) / (x2 - x1)
            fit[k] = {
                "fixed_s": round(y1 - slope * x1, 3),
                "s_per_mrow": round(slope * 1e6, 3),
            }
    rep["per_epoch_fixed_fit"] = fit
    engine_side = sum(
        fit[k]["fixed_s"]
        for k in ("latestOffset", "getBatch", "queryPlanning",
                  "walCommit", "commitOffsets")
        if k in fit
    )
    rep["engine_side_fixed_s"] = round(engine_side, 3)
    if fit:
        dom = max(
            (k for k in _DUR_KEYS[:-1] if k in fit),
            key=lambda k: fit[k]["fixed_s"],
        )
        rep["dominant_fixed_term"] = dom
    with open(args.out, "w") as fh:
        json.dump(rep, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: rep[k] for k in
                      ("per_epoch_fixed_fit", "engine_side_fixed_s",
                       "dominant_fixed_term") if k in rep}))


if __name__ == "__main__":
    main()
