"""One benchmark run: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, from the root of a checkout.

Prints a detail line (host, workload figures, errors) and, last, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: every
end-to-end metric of BENCHMARK.json untraced, every per-layer metric
traced.  Exits non-zero without a result when the program is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# setup_s is the median of this many cold session set-ups per run
SETUPS = 2


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024  # MB
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "loadavg": list(os.getloadavg()),
    }


# the driver heap: the same on every run (a heap sized from the memory
# free at start would change the collector's sizing from run to run on a
# shared host), and no workload here needs more
DRIVER_MEM_MB = 3072


def driver_memory_mb(available_mb: int) -> int:
    """DRIVER_MEM_MB, or half the memory free now if that is less."""
    return min(DRIVER_MEM_MB, available_mb // 2)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM.  The
    next ``get_spark`` launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    sys.path[:0] = [ROOT]
    import quacfka_spark  # noqa: F401  (fails fast when the program is absent)

    h = host()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(h["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb(h['mem_available_mb'])}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    try:
        return measure_run(args, bench, h, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure_run(args, bench: dict, h: dict, work: str, conf: dict) -> int:
    """Prepare the workload's inputs, set up SETUPS sessions (the last one
    runs the workload), and print the detail line and the result line."""
    import measure
    import workloads
    from quacfka_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload]
    ctx = workloads.Ctx(work, os.path.join(os.path.dirname(work), "cache"), args.seed,
                        args.seconds, bool(args.trace))
    steal0 = steal_jiffies()
    t0 = time.perf_counter()
    state = wl.prepare(ctx)
    stage_s = time.perf_counter() - t0

    # set-up i runs from the launch of its session (process start for the
    # first, less staging) to ready; all but the last are torn down again
    setup_s, get_spark_s = [], []
    began = T_START + stage_s
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        get_spark_s.append(time.perf_counter() - t0)
        handle = wl.setup(spark, ctx, state, i)
        setup_s.append(time.perf_counter() - began)
        if i + 1 < SETUPS:
            if hasattr(handle, "discard"):
                handle.discard()
            stop_spark(spark)
            began = time.perf_counter()
    app_id = spark.sparkContext.applicationId
    try:
        res = wl.run(spark, ctx, state, handle)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    steal1 = steal_jiffies()
    # the hypervisor's share of the machine's CPU time during the run: a
    # shared machine's speed drifts, and steal is the visible part of it
    h["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    medians = [statistics.median(v) for v in res.latency.values() if v]
    latency_s = measure.geomean(medians) if medians else 0.0
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": h,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in res.figures.items()},
        "setups_s": setup_s,
        "stage_s": stage_s,
        "wall_s": time.perf_counter() - T_START,
        "errors": res.errors[:20],
    }))

    if args.trace:
        with open(os.path.join(conf["spark.eventLog.dir"], app_id)) as fh:
            log = measure.fold_event_log(fh)
        values = dict(res.layers)
        values.update(workloads.trace_layers(res, log))
        values.update({
            "session.get_spark_s": statistics.median(get_spark_s),
            "gen.stage_s": stage_s,
            "jvm.rss_mb_max": rss,
            "trace.setup_s": statistics.median(setup_s),
            "trace.latency_s": latency_s,
        })
        names = bench["per_layer"]
    else:
        values = {"setup_s": statistics.median(setup_s), "latency_s": latency_s}
        names = bench["end_to_end"]
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
