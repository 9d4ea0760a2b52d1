"""Unit tests for the benchmark's arithmetic and generator (no Spark
session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [float(i) for i in range(1, 11)]
    assert measure.percentile(xs, 50) == pytest.approx(5.5)
    assert measure.percentile(xs, 90) == pytest.approx(9.1)
    assert measure.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_p90_needs_ten_samples_beyond():
    # 91 samples leave 9 above their p90, 92 leave 10
    assert not measure.supported([float(i) for i in range(91)], 90)
    assert measure.supported([float(i) for i in range(92)], 90)
    # ties at the cut do not count as beyond it
    assert not measure.supported([1.0] * 95 + [2.0] * 9, 90)
    assert not measure.supported([], 50)


def test_geomean_weights_each_value_equally():
    assert measure.geomean([1.0, 4.0]) == pytest.approx(2.0)
    # halving one of many values moves the geomean by 2 ** (1/n)
    base = [0.4, 9.5, 1.0, 2.0]
    faster = [0.2, 9.5, 1.0, 2.0]
    assert measure.geomean(base) / measure.geomean(faster) == pytest.approx(2 ** 0.25)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # the default "exclusive" method: Q1 at rank 2.75, Q3 at rank 8.25
    assert measure.iqr_share(xs) == pytest.approx((17.25 - 11.75) / 14.5)


def _write_source_log(root, name, entries):
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, name), "w") as fh:
        fh.write("v1\n")
        for path, batch in entries:
            fh.write(json.dumps({"path": path, "timestamp": 1, "batchId": batch}) + "\n")


def test_file_batches_joins_files_to_epochs(tmp_path):
    src = tmp_path / "sources" / "0"
    _write_source_log(str(src), "0", [("file:///w/part-00000.parquet", 0)])
    _write_source_log(str(src), "1", [("file:///w/part-00001.parquet", 1),
                                      ("file:///w/part-00002.parquet", 1)])
    # a compacted log repeats earlier batches' entries with their own ids
    _write_source_log(str(src), "9.compact", [("file:///w/part-00000.parquet", 0),
                                              ("file:///w/part-00003.parquet", 9)])
    (src / ".1.crc").write_text("junk")
    assert measure.file_batches(str(tmp_path)) == {
        "part-00000.parquet": 0,
        "part-00001.parquet": 1,
        "part-00002.parquet": 1,
        "part-00003.parquet": 9,
    }
    assert measure.file_batches(str(tmp_path / "missing")) == {}


def _job_start(jid, stages, submitted, **props):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Submission Time": submitted, "Properties": props}


def _task_end(stage, run_ms, gc_ms=0, shuffle=0, written=0, spilled=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "JVM GC Time": gc_ms, "Memory Bytes Spilled": spilled,
        "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Output Metrics": {"Bytes Written": written}}}


def test_fold_event_log_by_batch_sink_and_group():
    mb = 1024 * 1024
    plan = ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (3)\n\n"
            "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
            "Arguments: file:/o/{}/epoch=3, false, Parquet, Overwrite\n")
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "physicalPlanDescription": plan.format("messages")},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 8, "physicalPlanDescription": plan.format("messages_norm")},
        _job_start(0, [0, 1], 1000, **{"streaming.sql.batchId": "3",
                                      "sql.streaming.queryId": "q",
                                      "spark.sql.execution.id": "7"}),
        _job_start(1, [2], 1500, **{"streaming.sql.batchId": "3",
                                   "sql.streaming.queryId": "q",
                                   "spark.sql.execution.id": "8"}),
        _job_start(2, [3], 5000, **{"spark.jobGroup.id": "timed:q04_hash_agg"}),
        _task_end(0, 300, gc_ms=20, written=2 * mb),
        _task_end(1, 200, written=mb),
        _task_end(2, 400),
        _task_end(3, 100, shuffle=3 * mb, spilled=mb),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]
    log = measure.fold_event_log(json.dumps(e) + "\n" for e in events)

    by_batch = log.by("batch")
    assert sorted(j.job_id for j in by_batch[3]) == [0, 1]
    raw, norm = log.jobs[0], log.jobs[1]
    assert (raw.sink, norm.sink) == ("raw", "norm")
    assert raw.task_s == pytest.approx(0.5) and raw.gc_s == pytest.approx(0.02)
    assert raw.written_mb == pytest.approx(3.0)  # both of its stages
    assert norm.task_s == pytest.approx(0.4) and norm.query == "q"

    q = log.by("group")["timed:q04_hash_agg"]
    assert [j.job_id for j in q] == [2]
    assert q[0].shuffle_mb == pytest.approx(3.0) and q[0].spill_mb == pytest.approx(1.0)
    assert q[0].sink == "other" and q[0].batch is None

    # the epoch's jobs cover 1.0 s of wall time: 1000-1800 and 1500-2000
    assert measure.covered_s([(j.start_ms, j.end_ms) for j in by_batch[3]]) == pytest.approx(1.0)


def test_sink_of_reads_the_write_target_not_the_scans():
    def write(target, scans=""):
        return ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (3)\n"
                "+- WriteFiles (2)\n   +- Scan parquet  (1)\n\n"
                f"(1) Scan parquet\nLocation: InMemoryFileIndex [{scans}]\n\n"
                "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
                f"Arguments: file:/o/{target}, false, Parquet, Overwrite\n")

    assert measure.sink_of(write("messages_norm/epoch=1", "file:/o/messages/epoch=1")) == "norm"
    assert measure.sink_of(write("messages/epoch=1", "file:/o/_dedup_ledger/epoch=0")) == "raw"
    assert measure.sink_of(write("_dedup_ledger/epoch=1", "file:/o/messages/epoch=1")) == "ledger"
    assert measure.sink_of(write("agg", "file:/o/messages_norm/epoch=1")) == "runner"
    assert measure.sink_of("Scan parquet file:/o/messages/epoch=1") == "other"


def test_covered_s_merges_overlaps_and_keeps_gaps():
    assert measure.covered_s([]) == 0
    assert measure.covered_s([(0, 1000), (2000, 2500)]) == pytest.approx(1.5)
    assert measure.covered_s([(0, 1000), (500, 1200), (1100, 1300)]) == pytest.approx(1.3)
    assert math.isclose(measure.covered_s([(5, 5)]), 0.0)


def test_generator_bytes_parse_to_the_records_they_encode():
    import gen
    from quacfka_spark.sources.proto_wire import parse_message

    for seq in (0, 1, 2, 3, 99, 100, 998, 12_345, gen.id_base(7) + 5):
        assert parse_message(gen.encode(seq), gen.spec()) == gen.record(seq)
    # seq % 3 deals, and the normalizer's explode count follows it
    assert [len(gen.record(s)["deals"]) for s in range(3)] == [0, 1, 2]
    assert gen.norm_rows(np.arange(6)) == 1 + 1 + 2 + 1 + 1 + 2


def test_mix_rounds_are_fixed_by_seconds():
    import workloads

    assert workloads.mix_rounds(1) == 1
    assert workloads.mix_rounds(10) == 1
    assert workloads.mix_rounds(15) == 2
    assert workloads.mix_rounds(20) == 2


def test_id_base_keeps_varint_lengths_for_every_seed():
    import gen

    seeds = (0, 1, 2, 9, 31, 12_345, gen.SEEDS - 1, gen.SEEDS, 2**40, -3)
    bases = [gen.id_base(s) for s in seeds]
    assert all(gen.ID_BASE <= b < 2 * gen.ID_BASE - 10**8 for b in bases)
    # a run uses fewer than 10^7 ids past its base: ids and deal ids
    lengths = {(len(gen._varint(i)), len(gen._varint(i * 10)))
               for b in bases for i in (b, b + 10**7 - 1)}
    assert len(lengths) == 1
    # distinct seeds below SEEDS get disjoint id ranges
    assert gen.id_base(3) - gen.id_base(2) == gen.SEED_ID_STRIDE
