"""Cross-epoch ingest dedup (PipelineConfig.dedup_keys): rows already
inserted by an earlier epoch never land in a later one, the digest
ledger is the only cross-epoch state (16-byte digests, no payloads),
and a replayed epoch reproduces its first attempt exactly (dedup is
against strictly-earlier epochs, the D19 idempotence rule).

This is the sink-level complement of S5's in-watermark dropDuplicates:
S5 bounds state by event time and forgets; the ledger remembers the
whole ingest history, which is what corpus-scale dedup-on-ingest for a
training-data pipeline needs.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from quacfka_spark.sources.kafka import decode_json
from quacfka_spark.sources.mock import NESTED_SCHEMA, nested_payload
from quacfka_spark.streaming import PipelineConfig, StreamingPipeline


def _write_batches(spark, d: str) -> None:
    """3 single-file batches with known overlap: ids 0-99, 50-149,
    100-199 + an in-batch duplicate of id 100. maxFilesPerTrigger=1
    turns each file into its own epoch."""
    ranges = [(0, 100), (50, 150), (100, 200)]
    for i, (lo, hi) in enumerate(ranges):
        df = spark.range(lo, hi)
        if i == 2:  # in-batch duplicate
            df = df.union(spark.range(100, 101))
        (
            df.select(
                F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias(
                    "value"
                )
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(d)
        )


def _run(spark, src: str, out: str) -> StreamingPipeline:
    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            available_now=True,
            dedup_keys=["r.user_id", "r.amount"],
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
    )
    q = pipe.start()
    q.awaitTermination(180)
    assert pipe.error() is None
    return pipe


def test_cross_epoch_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batches(spark, src)
    pipe = _run(spark, src, out)

    raw = spark.read.parquet(os.path.join(out, "messages"))
    # 301 consumed rows (100+100+101), 200 distinct payload ids ->
    # exactly one row per id
    assert pipe.metrics.records_consumed == 301
    assert pipe.metrics.records_inserted == 200
    assert raw.count() == 200
    assert raw.select("r.user_id", "r.amount").distinct().count() == 200

    # the ledger holds one digest per inserted row, per-epoch, no payloads
    ledger = spark.read.parquet(os.path.join(out, "_dedup_ledger"))
    assert ledger.columns == ["__dedup_digest", "epoch"]
    assert ledger.count() == 200
    per_epoch = {
        r["epoch"]: r["n"]
        for r in ledger.groupBy("epoch").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # epochs arrive in file order: 100 new, 50 new, 50 new
    assert sorted(per_epoch.values(), reverse=True) == [100, 50, 50]


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Re-running epoch N's processing must reproduce it exactly: the
    ledger excludes epoch N itself, so the replay sees the same prior
    state and overwrites the same sink + ledger dirs."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batches(spark, src)
    pipe = _run(spark, src, out)

    last_epoch = max(
        int(p.rsplit("epoch=", 1)[1])
        for p in os.listdir(os.path.join(out, "messages"))
        if p.startswith("epoch=")
    )
    before = (
        spark.read.parquet(os.path.join(out, "messages", f"epoch={last_epoch}"))
        .select("r.user_id")
        .collect()
    )

    # replay the final epoch's batch through the same pipeline object —
    # exactly what foreachBatch does after a task failure or restart
    # the file stream processes in modification-time order, so the
    # latest-written file is the last epoch's batch (part-* names embed
    # random UUIDs — lexicographic order is meaningless)
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    batch = spark.read.schema("value binary").parquet(files[-1])
    pipe._process_batch(batch, last_epoch)

    after = (
        spark.read.parquet(os.path.join(out, "messages", f"epoch={last_epoch}"))
        .select("r.user_id")
        .collect()
    )
    assert sorted(r["user_id"] for r in before) == sorted(
        r["user_id"] for r in after
    )
    # global invariant still holds after the replay
    raw = spark.read.parquet(os.path.join(out, "messages"))
    assert raw.count() == 200
    assert pipe.metrics.records_inserted == 200  # replay guard subtracted


def test_dedup_off_is_unchanged(spark, tmp_path):
    """Without dedup_keys the pipeline keeps every consumed row — the
    feature is strictly opt-in."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batches(spark, src)
    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(output_dir=out, dest_table="messages", available_now=True),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
    )
    q = pipe.start()
    q.awaitTermination(180)
    assert pipe.error() is None
    assert spark.read.parquet(os.path.join(out, "messages")).count() == 301
    assert not os.path.exists(os.path.join(out, "_dedup_ledger"))


def test_dedup_with_raw_sink_off(spark, tmp_path):
    """dedup + write_raw=False exercises the persist fallback (no raw
    read-back to derive from): the normalized sink still sees exactly
    the deduped rows and the ledger still accumulates per epoch."""
    from quacfka_spark.plans.normalizer import NormalizerSpec

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _write_batches(spark, src)
    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            available_now=True,
            write_raw=False,
            dedup_keys=["r.user_id", "r.amount"],
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=NormalizerSpec(
            fields=["r.user_id", "r.amount"], aliases=["user_id", "amount"]
        ),
    )
    q = pipe.start()
    q.awaitTermination(180)
    assert pipe.error() is None
    assert not os.path.exists(os.path.join(out, "messages", "epoch=0"))
    norm = spark.read.parquet(os.path.join(out, "messages_norm"))
    assert norm.count() == 200
    assert norm.select("user_id", "amount").distinct().count() == 200
    assert (
        spark.read.parquet(os.path.join(out, "_dedup_ledger")).count() == 200
    )


def test_ledger_horizon_readmits_old_content(spark, tmp_path):
    """dedup_ledger_epochs=1: epoch N dedups only against epoch N-1, so
    content replayed after the horizon is re-admitted — bounded state,
    the documented trade."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # batch 0: ids 0-99; batch 1: ids 100-199; batch 2 replays ids 0-99
    ranges = [(0, 100), (100, 200), (0, 100)]
    for lo, hi in ranges:
        (
            spark.range(lo, hi)
            .select(
                F.encode(
                    F.to_json(nested_payload(F.col("id"))), "utf-8"
                ).alias("value")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            available_now=True,
            dedup_keys=["r.user_id", "r.amount"],
            dedup_ledger_epochs=1,
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
    )
    q = pipe.start()
    q.awaitTermination(180)
    assert pipe.error() is None
    # the epoch-2 replay of ids 0-99 is OUTSIDE the 1-epoch horizon
    # (epoch 1 held ids 100-199), so all 300 rows land
    assert pipe.metrics.records_consumed == 300
    assert pipe.metrics.records_inserted == 300
    # bounded-state contract: dirs outside every REPLAY-reachable
    # window are PRUNED, not merely skipped. The prune runs before the
    # current epoch's checkpoint commits, so epoch 2's own window
    # [1, 2) must survive: after epoch 2 with horizon 1, epochs 1 and
    # 2 remain and epoch 0 is gone (round-6 advisor finding — the
    # tighter cutoff broke D19 replay idempotence).
    ledger_dirs = sorted(
        p for p in os.listdir(os.path.join(out, "_dedup_ledger"))
        if p.startswith("epoch=")
    )
    assert ledger_dirs == ["epoch=1", "epoch=2"], ledger_dirs
    # unbounded ledger on the same stream would have dropped the replay
    out2 = str(tmp_path / "out2")
    pipe2 = StreamingPipeline(
        spark,
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        PipelineConfig(
            output_dir=out2,
            dest_table="messages",
            available_now=True,
            dedup_keys=["r.user_id", "r.amount"],
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
    )
    pipe2.start().awaitTermination(180)
    assert pipe2.error() is None
    assert pipe2.metrics.records_inserted == 200


def _direct_pipeline(spark, out: str, **cfg) -> StreamingPipeline:
    """A pipeline with no stream: _process_batch is driven directly, as
    foreachBatch would call it on a retry or a replay."""
    from quacfka_spark.plans.normalizer import NormalizerSpec

    return StreamingPipeline(
        spark,
        None,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            available_now=True,
            dedup_keys=["r.user_id", "r.amount"],
            **cfg,
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=NormalizerSpec(
            fields=["r.user_id", "r.amount"], aliases=["user_id", "amount"]
        ),
    )


def _batch(spark, lo: int, hi: int, copies: int = 1):
    """ids lo..hi-1, each ``copies`` times (in-batch duplicates)."""
    df = spark.range(lo, hi)
    for _ in range(copies - 1):
        df = df.union(spark.range(lo, hi))
    return df.select(
        F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value")
    )


def _ledger_rows(spark, out: str, epoch: int) -> tuple[int, int]:
    """(rows, distinct digests) of one epoch's ledger."""
    led = spark.read.parquet(os.path.join(out, "_dedup_ledger", f"epoch={epoch}"))
    return led.count(), led.distinct().count()


def test_failed_ledger_write_fails_epoch_and_replay_heals(spark, tmp_path):
    """The ledger is written concurrently with the derived sinks, but a
    failed ledger write still fails the epoch before anything is
    published; replaying the epoch publishes each path once and leaves
    a ledger of exactly the inserted rows."""
    out = str(tmp_path / "out")
    pipe = _direct_pipeline(spark, out)
    batch = _batch(spark, 0, 100, copies=2)

    def boom(src, epoch_id):
        raise RuntimeError("ledger write failed")

    pipe._write_ledger = boom
    with pytest.raises(RuntimeError, match="ledger write failed"):
        pipe._process_batch(batch, 0)
    assert pipe.completed_paths == []
    assert not os.path.exists(pipe._paths_log)
    assert pipe.metrics.report()["batches"] == 0

    del pipe._write_ledger  # the retry finds the real ledger writer
    pipe._process_batch(batch, 0)
    pipe._process_batch(batch, 0)  # and a replay of the committed epoch
    assert len(pipe.completed_paths) == len(set(pipe.completed_paths)) == 2
    assert sum(1 for _ in open(pipe._paths_log)) == 2
    assert pipe.metrics.records_inserted == 100
    assert _ledger_rows(spark, out, 0) == (100, 100)


def test_ledger_thread_inherits_local_properties(spark, tmp_path):
    """The ledger runs on its own thread, which carries the calling
    thread's local properties (job group, streaming batch id), so
    query.stop() cancels its jobs and the event log attributes them to
    their epoch."""
    out = str(tmp_path / "out")
    pipe = _direct_pipeline(spark, out)
    seen = {}
    write_ledger = pipe._write_ledger

    def spy(src, epoch_id):
        seen["prop"] = spark.sparkContext.getLocalProperty("quacfka.test.epoch")
        seen["thread"] = threading.get_ident()
        write_ledger(src, epoch_id)

    pipe._write_ledger = spy
    spark.sparkContext.setLocalProperty("quacfka.test.epoch", "epoch-3")
    try:
        pipe._process_batch(_batch(spark, 0, 50), 3)
    finally:
        spark.sparkContext.setLocalProperty("quacfka.test.epoch", None)
    assert seen["prop"] == "epoch-3"
    assert seen["thread"] != threading.get_ident()
    assert _ledger_rows(spark, out, 3) == (50, 50)


def test_ledger_rows_equal_inserted_rows_under_in_batch_duplicates(spark, tmp_path):
    """Each epoch's ledger has one row per distinct digest, and that is
    the epoch's inserted count: the rows it hashes were already deduped
    in-batch and against history, so the ledger needs no distinct."""
    out = str(tmp_path / "out")
    pipe = _direct_pipeline(spark, out)
    # epoch 0: ids 0-99 three times; epoch 1: ids 50-149 twice
    pipe._process_batch(_batch(spark, 0, 100, copies=3), 0)
    pipe._process_batch(_batch(spark, 50, 150, copies=2), 1)
    inserted = {e: raw for e, (_, raw, _, _) in pipe.metrics.epoch_rows().items()}
    assert inserted == {0: 100, 1: 50}
    for epoch, n in inserted.items():
        assert _ledger_rows(spark, out, epoch) == (n, n)
    assert pipe.metrics.records_consumed == 500


def test_raw_off_epoch_lands_in_staging_and_cleans_up(spark, tmp_path):
    """With the raw sink off (D14) the epoch still lands its batch once,
    in an unpublished staging dir the normalizer and the ledger read
    back; the dir is gone when the epoch ends, only the norm path is
    published, and the consumed count still comes from the landing."""
    out = str(tmp_path / "out")
    pipe = _direct_pipeline(spark, out, write_raw=False)
    pipe._process_batch(_batch(spark, 0, 100, copies=2), 0)
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert not os.path.exists(os.path.join(out, "messages"))
    assert pipe.completed_paths == [os.path.join(out, "messages_norm", "epoch=0")]
    # (consumed, raw, norm, custom): 200 rows in, 100 distinct land
    assert pipe.metrics.epoch_rows() == {0: (200, 0, 100, 0)}
    assert _ledger_rows(spark, out, 0) == (100, 100)


def test_raw_off_epoch_retry_gives_same_counts_and_feed(spark, tmp_path):
    """A raw-off epoch whose ledger write fails leaves no staging dir and
    publishes nothing; its retry, and a replay after that, give the same
    counts, the same feed and the same sinks."""
    out = str(tmp_path / "out")
    pipe = _direct_pipeline(spark, out, write_raw=False)
    batch = _batch(spark, 0, 100, copies=2)

    def boom(src, epoch_id):
        raise RuntimeError("ledger write failed")

    pipe._write_ledger = boom
    with pytest.raises(RuntimeError, match="ledger write failed"):
        pipe._process_batch(batch, 0)
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert pipe.completed_paths == []
    del pipe._write_ledger

    def feed() -> str:
        with open(pipe._paths_log) as fh:
            return fh.read()

    pipe._process_batch(batch, 0)
    rows, first_feed = pipe.metrics.epoch_rows(), feed()
    pipe._process_batch(batch, 0)
    assert pipe.metrics.epoch_rows() == rows == {0: (200, 0, 100, 0)}
    assert feed() == first_feed
    assert pipe.completed_paths == [os.path.join(out, "messages_norm", "epoch=0")]
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert spark.read.parquet(os.path.join(out, "messages_norm")).count() == 100
    assert _ledger_rows(spark, out, 0) == (100, 100)
