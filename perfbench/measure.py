"""The benchmark's arithmetic: percentiles, geomean, file->epoch joins and
event-log folding.  Pure functions over plain data, so they are unit
tested without Spark."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(values: list[float], p: float) -> int:
    """Samples strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def supported(values: list[float], p: float) -> bool:
    """A percentile is reported only with at least MIN_BEYOND samples
    beyond it."""
    return bool(values) and beyond(values, p) >= MIN_BEYOND


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quartile method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ---------------------------------------------------------------------------
# file -> epoch, through the file source's checkpoint log


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """Map each input file's basename to the batch (epoch) that read it.

    The file source logs, under ``sources/<n>/``, one file per batch
    (and a ``.compact`` file every few batches) whose lines after the
    version header are JSON entries carrying ``path`` and ``batchId``.
    """
    root = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for name in os.listdir(root):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(root, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


# ---------------------------------------------------------------------------
# Spark event log folding

SINKS = (
    ("/messages_norm/", "norm"),
    ("/_dedup_ledger/", "ledger"),
    ("/messages/", "raw"),
    ("/agg", "runner"),
)
# the formatted plan's node details: "Execute InsertIntoHadoopFsRelationCommand",
# then "Input: ..." and "Arguments: <output path>, ..."
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")


def sink_of(plan: str) -> str:
    """Which sink an SQL execution wrote: the output path of the write
    command in its physical plan.  The scans in the same plan (the raw
    read-back, the ledger probe) name other tables and must not count."""
    m = _WRITE.search(plan)
    if m is None:
        return "other"
    for needle, sink in SINKS:
        if needle in m.group(1) + "/":
            return sink
    return "other"


@dataclass
class JobStats:
    job_id: int
    query: str | None = None
    batch: int | None = None
    group: str | None = None
    sink: str = "other"
    start_ms: int = 0
    end_ms: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    written_mb: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)

    def by(self, key: str) -> dict:
        """Group jobs by ``batch``, ``group`` or ``sink``."""
        out: dict = defaultdict(list)
        for j in self.jobs.values():
            out[getattr(j, key)].append(j)
        return dict(out)


def fold_event_log(lines) -> EventLog:
    """Fold Spark event-log JSON lines into per-job statistics.

    Jobs carry their epoch in the ``streaming.sql.batchId`` property,
    their job group in ``spark.jobGroup.id`` and their SQL execution in
    ``spark.sql.execution.id``; the execution's physical plan names the
    sink it writes.  Task metrics reach a job through its stage ids.
    """
    log = EventLog()
    stage_job: dict[int, int] = {}
    exec_sink: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            batch = props.get("streaming.sql.batchId")
            j = JobStats(
                jid,
                query=props.get("sql.streaming.queryId"),
                batch=int(batch) if batch is not None else None,
                group=props.get("spark.jobGroup.id"),
                start_ms=ev.get("Submission Time", 0),
            )
            log.jobs[jid] = j
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            if "spark.sql.execution.id" in props:
                job_exec[jid] = int(props["spark.sql.execution.id"])
        elif kind == "SparkListenerJobEnd":
            j = log.jobs.get(ev["Job ID"])
            if j is not None:
                j.end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            j = log.jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            mb = 1024 * 1024
            j.task_s += m.get("Executor Run Time", 0) / 1000
            j.gc_s += m.get("JVM GC Time", 0) / 1000
            j.shuffle_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
            j.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
            j.written_mb += m.get("Output Metrics", {}).get("Bytes Written", 0) / mb
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_sink[int(ev["executionId"])] = sink_of(ev.get("physicalPlanDescription", ""))
    for jid, eid in job_exec.items():
        log.jobs[jid].sink = exec_sink.get(eid, "other")
    return log


def covered_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start_ms, end_ms] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000
