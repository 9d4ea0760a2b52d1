"""End-to-end pipeline test: file stream -> decode -> normalize -> sinks
-> post-SQL -> paths feed -> metrics (reference D13-D24), asserting the
reference's own invariant: consumed == inserted per stage
(/root/reference/metrics.go:142-156)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from quacfka_spark.plans.custom import TransformRegistry
from quacfka_spark.plans.normalizer import NormalizerSpec
from quacfka_spark.sources.kafka import decode_json, strip_confluent_prefix
from quacfka_spark.sources.mock import NESTED_SCHEMA, nested_payload
from quacfka_spark.streaming import PipelineConfig, SQLRunner, StreamingPipeline


@pytest.fixture()
def input_dir(spark, tmp_path):
    """Deterministic 'kafka-ish' input: value:binary JSON payloads."""
    d = str(tmp_path / "input")
    (
        spark.range(0, 300)
        .select(
            F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value")
        )
        .coalesce(2)
        .write.parquet(d)
    )
    return d


def test_pipeline_end_to_end(spark, tmp_path, input_dir):
    out = str(tmp_path / "out")
    source = spark.readStream.schema("value binary").parquet(input_dir)

    agg_results = []

    def callback(s, epoch_id):
        agg_results.append(
            s.sql(
                "SELECT site, COUNT(*) AS n FROM messages_norm "
                "GROUP BY 1 ORDER BY 1"
            ).count()
        )

    # norm spec over the decoded struct column `r`
    norm = NormalizerSpec(
        fields=["r.site.id", "r.user_id", "r.amount", "r.deals.id", "r.deals.kind"],
        aliases=["site", "user_id", "amount", "deal_id", "deal_kind"],
    )
    custom = TransformRegistry()
    custom.add(
        "user_amounts",
        lambda df: df.groupBy("r.user_id").agg(F.round(F.sum("r.amount"), 2).alias("s")),
    )
    runner = SQLRunner(exec=False, fn=callback)

    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            available_now=True,
            sink_partitions=2,
            max_records_per_file=10000,
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=norm,
        custom=custom,
        runner=runner,
    )
    q = pipe.start()
    q.awaitTermination(120)
    assert pipe.error() is None

    # raw sink
    raw = spark.read.parquet(os.path.join(out, "messages"))
    assert raw.count() == 300
    # norm sink: rows 0 mod 3 -> 1 null row; 1 mod 3 -> 1; 2 mod 3 -> 2
    norm_df = spark.read.parquet(os.path.join(out, "messages_norm"))
    assert norm_df.count() == 100 * 1 + 100 * 1 + 100 * 2
    # epoch=N dirs read back as a partition column — downstream scans get
    # partition pruning per rotation unit for free
    assert norm_df.columns == ["site", "user_id", "amount", "deal_id", "deal_kind", "epoch"]
    # custom sink
    custom_df = spark.read.parquet(os.path.join(out, "user_amounts"))
    assert custom_df.count() == custom_df.select("user_id").distinct().count()
    # post-SQL callback ran per epoch
    assert agg_results and all(n > 0 for n in agg_results)
    # D20 completed-paths feed: in-process + JSONL control log agree
    log_path = os.path.join(out, "_completed", "paths.jsonl")
    with open(log_path) as fh:
        logged = [json.loads(line)["path"] for line in fh]
    assert logged == pipe.completed_paths
    assert {os.path.basename(os.path.dirname(p)) for p in logged} == {
        "messages",
        "messages_norm",
        "user_amounts",
    }
    # D24 metrics: the reference's invariant consumed == inserted
    rep = pipe.metrics.report()
    assert rep["records_consumed"] == 300
    assert rep["records_inserted"] == 300
    assert rep["norm_records_inserted"] == 400
    assert rep["batches"] >= 1
    assert rep["records_per_second"] > 0


def test_pipeline_without_raw(spark, tmp_path, input_dir):
    """D14: WithoutDuckIngestRaw - only the norm table is written."""
    out = str(tmp_path / "out2")
    source = spark.readStream.schema("value binary").parquet(input_dir)
    norm = NormalizerSpec(fields=["r.user_id"], aliases=["user_id"])
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(output_dir=out, write_raw=False, available_now=True),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=norm,
    )
    pipe.start().awaitTermination(120)
    assert not os.path.exists(os.path.join(out, "messages"))
    assert spark.read.parquet(os.path.join(out, "messages_norm")).count() == 300
    assert pipe.metrics.report()["records_inserted"] == 0


def test_confluent_prefix_strip(spark):
    """D4: 6-byte prefix strip as a column expression."""
    df = spark.createDataFrame([(b"\x00\x00\x00\x00\x01\x02payload",)], ["value"])
    out = df.select(strip_confluent_prefix("value").alias("v")).first()
    assert bytes(out.v) == b"payload"


def test_ingest_bench_invariants(spark, tmp_path):
    """The ingest bench upholds the reference's correctness proxy:
    records consumed == raw inserted, and norm row count follows the
    explode_outer semantics (metrics.go:142-156)."""
    from quacfka_spark.bench_ingest import run_ingest_bench

    n = 9_000
    r = run_ingest_bench(spark, rows=n, work_dir=str(tmp_path / "ingest"))
    assert r["records_consumed"] == n
    assert r["records_inserted"] == n
    # deals per row cycle 0/1/2 with seq%3; explode_outer keeps the
    # empty-list rows as one null row -> n/3 * (1+1+2) = 4n/3
    assert r["norm_records_inserted"] == n // 3 * 4
    assert r["duration_seconds"] > 0
    assert r["mb_per_second"] > 0
    _assert_fixed_passes(r)


def _assert_fixed_passes(r: dict) -> None:
    """Fixed work: three timed passes, the headline rates from the best
    one, the median pass's total rate alongside."""
    assert r["passes"] == 3 == len(r["pass_seconds"])
    assert r["duration_seconds"] == min(r["pass_seconds"])
    assert 0 < r["median_total_rows_per_second"] <= r["total_rows_per_second"]


def test_streaming_bench_file_grain_output_invariant(spark, tmp_path):
    """file_grain (r10: the wide block's straggler-tail fix) changes
    TASK granularity only — source files and per-trigger quota scale
    together, so batch count, consumed/inserted counts, and norm
    semantics are identical to grain 1."""
    from quacfka_spark.bench_ingest import run_streaming_ingest_bench

    n = 9_000
    r = run_streaming_ingest_bench(
        spark,
        rows=n,
        epochs=2,
        file_grain=2,
        work_dir=str(tmp_path / "stream_grain"),
    )
    assert r["records_consumed"] == n
    assert r["records_inserted"] == n
    assert r["norm_records_inserted"] == n // 3 * 4
    assert r["batches"] == 2  # grain multiplies files AND quota
    _assert_fixed_passes(r)


def test_sqlrunner_exec_mode_with_export(spark, tmp_path, input_dir):
    """D18 exec mode: ordered SQL statements run for effect per completed
    epoch — including the reference's documented COPY TO-style export
    (duck.go:70-72) as INSERT OVERWRITE DIRECTORY."""
    out = str(tmp_path / "out")
    export_dir = str(tmp_path / "export")
    source = spark.readStream.schema("value binary").parquet(input_dir)
    runner = SQLRunner(
        exec=True,
        queries=[
            # aggregate-to-table analog (CTAS-per-epoch would collide on
            # re-run; temp view is this engine's scratch namespace)
            "CREATE OR REPLACE TEMP VIEW site_rollup AS "
            "SELECT site, COUNT(*) AS n FROM messages_norm GROUP BY site",
            # export analog of COPY TO
            f"INSERT OVERWRITE DIRECTORY '{export_dir}' USING parquet "
            "SELECT * FROM site_rollup",
        ],
    )
    norm = NormalizerSpec(
        fields=["r.site.id", "r.user_id", "r.amount", "r.deals.id"],
        aliases=["site", "user_id", "amount", "deal_id"],
    )
    pipe = StreamingPipeline(
        spark,
        source,
        PipelineConfig(output_dir=out, dest_table="messages", available_now=True),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=norm,
        runner=runner,
    )
    q = pipe.start()
    q.awaitTermination(120)
    assert pipe.error() is None
    exported = spark.read.parquet(export_dir)
    assert exported.columns == ["site", "n"]
    assert exported.agg(F.sum("n")).collect()[0][0] == 400


def test_d19_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """D19 lifecycle upgrade (SURVEY §4.3): restarting the pipeline from
    its checkpoint must process ONLY data that arrived since the last
    run — the reference has no offset/commit coordination (a crash
    between Kafka commit and DuckDB write loses/dupes data); the Spark
    engine's checkpoint + file-sink commit log gives exactly-once."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")

    def write_rows(lo, hi):
        (
            spark.range(lo, hi)
            .select(
                F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias(
                    "value"
                )
            )
            .coalesce(1)
            .write.mode("append").parquet(inp)
        )

    def run_once():
        source = spark.readStream.schema("value binary").parquet(inp)
        pipe = StreamingPipeline(
            spark,
            source,
            PipelineConfig(
                output_dir=out,
                dest_table="m",
                available_now=True,
                sink_partitions=1,
            ),
            decode=lambda df: decode_json(df, NESTED_SCHEMA),
        )
        q = pipe.start()
        q.awaitTermination(120)
        assert pipe.error() is None
        return pipe

    write_rows(0, 100)
    p1 = run_once()
    assert p1.metrics.report()["records_consumed"] == 100

    write_rows(100, 150)
    p2 = run_once()
    # second run consumed ONLY the new arrivals...
    assert p2.metrics.report()["records_consumed"] == 50
    # ...and the sink holds each record exactly once across both runs
    raw = spark.read.parquet(os.path.join(out, "m"))
    assert raw.count() == 150


def test_d15_size_based_rotation(spark, tmp_path):
    """D15 size rotation (duck.go:421-429): with rotate_mb set, epoch 1
    writes uncapped and measures bytes/record; epoch 2's files must then
    respect the MB threshold (within parquet's footer/row-group slack,
    like the reference's own approximate check, README.md:182)."""
    import glob

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")

    def write_rows(lo, hi):
        (
            spark.range(lo, hi)
            .select(
                F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(inp)
        )

    rotate_mb = 0.02  # ~20 KB files force several rotations per epoch
    pipe_cfg = PipelineConfig(
        output_dir=out,
        dest_table="m",
        available_now=True,
        sink_partitions=1,
        rotate_mb=rotate_mb,
    )

    def run_once():
        source = spark.readStream.schema("value binary").parquet(inp)
        pipe = StreamingPipeline(
            spark, source, pipe_cfg, decode=lambda df: decode_json(df, NESTED_SCHEMA)
        )
        q = pipe.start()
        q.awaitTermination(120)
        assert pipe.error() is None
        return pipe

    write_rows(0, 2000)
    pipe1 = run_once()
    assert pipe1._bytes_per_record.get("m"), "epoch 1 must record a size estimate"

    # same pipeline OBJECT continues (state lives on the instance); feed
    # a second batch through a fresh query on the same checkpoint
    write_rows(2000, 4000)
    source = spark.readStream.schema("value binary").parquet(inp)
    pipe2 = StreamingPipeline(
        spark, source, pipe_cfg, decode=lambda df: decode_json(df, NESTED_SCHEMA)
    )
    pipe2._bytes_per_record.update(pipe1._bytes_per_record)  # carried state
    q = pipe2.start()
    q.awaitTermination(120)

    epoch_dirs = sorted(glob.glob(f"{out}/m/epoch=*"))
    assert len(epoch_dirs) >= 2
    late_files = glob.glob(f"{epoch_dirs[-1]}/*.parquet")
    assert len(late_files) > 1, "size cap must have split the epoch"
    cap_bytes = rotate_mb * 1024 * 1024
    for f in late_files:
        # 2x slack: parquet footers + dictionary pages on tiny files
        assert os.path.getsize(f) <= cap_bytes * 2, (f, os.path.getsize(f))


def test_sqlrunner_exec_mode_rejects_result_bearing_sql(spark):
    """Exec mode is effect-only (duck.go:70-72): a bare SELECT would be
    silently collect()ed onto the driver — unbounded memory at scale —
    so both the constructor and add_queries reject it up front."""
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(exec=True, queries=["SELECT * FROM messages_norm"])
    runner = SQLRunner(exec=True)
    with pytest.raises(ValueError, match="effect only"):
        runner.add_queries(["  select count(*) from messages"])
    assert runner.queries == []
    # effect statements still accepted, case/whitespace-insensitively
    runner.add_queries(
        [
            "CREATE OR REPLACE TEMP VIEW v AS SELECT 1 AS x",
            "  insert overwrite directory '/tmp/x' using parquet select * from v",
        ]
    )
    assert len(runner.queries) == 2
    # exec=False (callback mode) never guards: fn issues its own queries
    SQLRunner(exec=False, queries=["SELECT 1"])


def test_sqlrunner_exec_mode_cte_and_comment_handling(spark):
    """The guard must see through syntax disguises: a CTE-prefixed bare
    SELECT (WITH c AS (...) SELECT ...) is still result-bearing, a
    CTE-prefixed INSERT is effectful, and leading line comments must
    not hide (or falsely condemn) the real statement."""
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(exec=True, queries=["WITH c AS (SELECT 1) SELECT * FROM c"])
    SQLRunner(
        exec=True,
        queries=["WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM c"],
    )
    SQLRunner(exec=True, queries=["-- nightly rollup\nINSERT INTO t VALUES (1)"])
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(exec=True, queries=["-- looks harmless\nSELECT 1"])


def test_sqlrunner_guard_sees_through_literals_and_block_comments(spark):
    """The top-level-keyword scanner: effect words inside string
    literals or CTE bodies must NOT legitimize a result-bearing CTE
    query; block comments must not condemn an effectful one."""
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(
            exec=True,
            queries=[
                "WITH c AS (SELECT * FROM events WHERE action = 'delete') "
                "SELECT * FROM c"
            ],
        )
    with pytest.raises(ValueError, match="effect only"):
        # 'insert' only inside the CTE body (depth 1) — still a SELECT
        SQLRunner(
            exec=True,
            queries=[
                "WITH c AS (SELECT 1 AS insert_count) SELECT * FROM c "
                "-- insert later"
            ],
        )
    SQLRunner(exec=True, queries=["/* nightly rollup */ INSERT INTO t VALUES (1)"])
    SQLRunner(
        exec=True,
        queries=[
            "WITH RECURSIVE r AS (SELECT 1) INSERT INTO t SELECT * FROM r"
        ],
    )


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch retries an epoch with the SAME epoch_id after a
    transient sink failure; epoch-dir writes must OVERWRITE so the
    retried epoch holds exactly one copy of the batch. With the
    raw-read-back derivation an appending raw sink doubled the raw rows
    on retry and the doubling then amplified into every derived table."""
    out = str(tmp_path / "retry_out")
    batch = spark.range(0, 120).select(
        F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value")
    )
    norm = NormalizerSpec(
        fields=["r.site.id", "r.user_id", "r.amount"],
        aliases=["site", "user_id", "amount"],
    )
    pipe = StreamingPipeline(
        spark,
        None,  # no stream: _process_batch driven directly (retry sim)
        PipelineConfig(output_dir=out, dest_table="messages", available_now=True),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=norm,
    )
    # first attempt + simulated retry of the SAME epoch
    pipe._process_batch(batch, epoch_id=7)
    pipe._process_batch(batch, epoch_id=7)
    raw = spark.read.parquet(os.path.join(out, "messages", "epoch=7"))
    nrm = spark.read.parquet(os.path.join(out, "messages_norm", "epoch=7"))
    assert raw.count() == 120  # not 240: the retry replaced, not appended
    assert nrm.count() == 120
    # the completed-path feed is idempotent too: one entry per path
    assert len(pipe.completed_paths) == len(set(pipe.completed_paths)) == 2
    # ... and so is the metrics surface (D24): the replayed epoch must
    # OVERWRITE its earlier attempt, agreeing with what's on disk
    rep = pipe.metrics.report()
    assert rep["records_consumed"] == 120
    assert rep["records_inserted"] == 120
    assert rep["batches"] == 1
    # a DIFFERENT epoch still lands in its own dir alongside
    pipe._process_batch(batch, epoch_id=8)
    assert spark.read.parquet(os.path.join(out, "messages")).count() == 240
    assert pipe.metrics.report()["batches"] == 2
    # publish-dedup must survive a PROCESS restart (D19/D20): a fresh
    # pipeline on the same output_dir replaying epoch 8 from the
    # checkpoint must not re-append its paths to the persistent feed
    n_lines = sum(1 for _ in open(pipe._paths_log))
    pipe2 = StreamingPipeline(
        spark,
        None,
        PipelineConfig(output_dir=out, dest_table="messages", available_now=True),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=norm,
    )
    pipe2._process_batch(batch, epoch_id=8)
    assert sum(1 for _ in open(pipe2._paths_log)) == n_lines
    assert pipe2.completed_paths == []  # nothing NEW completed in-process


def test_sqlrunner_guard_handles_double_quotes_and_escapes(spark):
    """Spark SQL double-quoted literals and escaped quotes must not
    corrupt the depth/keyword scan: a quoted ')' or a quoted keyword is
    content, not syntax."""
    # false-accept case: quoted ')' and quoted 'insert' once smuggled a
    # result-bearing CTE SELECT past the guard
    with pytest.raises(ValueError):
        SQLRunner(
            exec=True,
            queries=[
                'WITH c AS (SELECT * FROM t WHERE x = ")" OR y = "insert") '
                "SELECT * FROM c"
            ],
        )
    # false-reject case: quoted '(' once left depth stuck above 0 so the
    # real INSERT verb was never seen
    SQLRunner(
        exec=True,
        queries=[
            'WITH c AS (SELECT * FROM t WHERE s = "(") '
            "INSERT INTO u SELECT * FROM c"
        ],
    )
    # backslash-escaped quote inside a single-quoted literal
    SQLRunner(
        exec=True,
        queries=["INSERT INTO u SELECT * FROM t WHERE s = 'don\\'t (really)'"],
    )
    # doubled-quote escape
    with pytest.raises(ValueError):
        SQLRunner(exec=True, queries=["SELECT 'it''s (fine)' AS x"])


def test_sqlrunner_guard_rejects_select_behind_nested_comment(spark):
    """Spark's lexer nests /* */ comments: the first */ closes only the
    inner one, so the INSERT between the two closers is comment and the
    statement is a bare SELECT."""
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(exec=True, queries=["/* a /* b */ INSERT */ SELECT 1"])


def test_sqlrunner_guard_accepts_insert_behind_nested_comment(spark):
    """The mirror case: the SELECT is comment, the statement an INSERT."""
    SQLRunner(
        exec=True, queries=["/* a /* b */ SELECT */ INSERT INTO t VALUES (1)"]
    )


def test_sqlrunner_guard_rejects_sql_scripts(spark):
    """spark.sql collects a SQL script's last result onto the driver, so
    a BEGIN ... END compound is not an effect-only statement."""
    with pytest.raises(ValueError, match="effect only"):
        SQLRunner(
            exec=True, queries=["BEGIN INSERT INTO t VALUES (1); SELECT 1; END"]
        )


def test_sqlrunner_guard_escaped_string_literals_mode(spark):
    """Spark's lexer reads \\' as an escaped quote under either
    spark.sql.parser.escapedStringLiterals setting (the setting changes
    only how a literal's content is unescaped), so a literal ending in a
    backslash never terminates and the statement does not parse; an
    escaped backslash before the quote closes the literal in both."""
    unterminated = [
        "SELECT * FROM t WHERE p = 'dir\\' AND q = ')'",
        "INSERT INTO u SELECT * FROM t WHERE p = 'dir\\'",
    ]
    for mode in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            for q in unterminated:
                with pytest.raises(ValueError, match="cannot parse"):
                    SQLRunner(exec=True, queries=[q])
            SQLRunner(
                exec=True,
                queries=["INSERT INTO u SELECT * FROM t WHERE p = 'dir\\\\'"],
            )
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_sqlrunner_live_mode_revalidation_is_stateless(spark):
    """run() re-validates every statement under the live session's
    parser settings on every epoch: a statement that parses by default
    but not under ANSI reserved keywords fails EVERY run there —
    including retried epochs after a prior failure."""
    ok = SQLRunner(exec=True, queries=["SET spark.quacfka.test.flag=1"])
    # FROM is reserved only under ANSI + enforceReservedKeywords
    r = SQLRunner(exec=True, queries=["INSERT INTO u SELECT 1 AS from"])
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enforceReservedKeywords", "true")
    try:
        ok.run(spark, 0)
        ok.run(spark, 1)  # second epoch: checked again, still accepted

        with pytest.raises(ValueError, match="cannot parse"):
            r.run(spark, 0)
        with pytest.raises(ValueError, match="cannot parse"):  # retried epoch
            r.run(spark, 0)
    finally:
        spark.conf.unset("spark.sql.ansi.enforceReservedKeywords")
        spark.conf.unset("spark.sql.ansi.enabled")
        spark.conf.unset("spark.quacfka.test.flag")


def test_metrics_replay_overwrites_and_memory_bounded():
    """Counters are running totals with subtract-and-replace on epoch
    replay; the replay-detection map is bounded so a long-lived stream
    never grows memory or per-read cost."""
    from quacfka_spark.streaming.pipeline import PipelineMetrics

    m = PipelineMetrics(_recent_max=3)
    for e in range(5):
        m.record_batch(e, 10, 10, 5, 0)
    assert m.batches == 5 and m.records_consumed == 50
    assert len(m._recent) == 3  # evicted down to the bound
    # replay of a RECENT epoch overwrites its contribution
    m.record_batch(4, 12, 12, 6, 0)
    assert m.batches == 5 and m.records_consumed == 52
    assert m.norm_records_inserted == 26


def test_sustained_multi_epoch_streaming_report(spark):
    """The opt-in sustained orchestrator bench (D15 rotation + D20 feed
    over 8 epochs): per-epoch rates must be derivable (engine progress
    durations joined to PipelineMetrics.epoch_rows), the completed-path
    feed must hold exactly one path per table x epoch, and every epoch
    must carry its share of rows. Rate FLATNESS itself is asserted only
    loosely here (the shared CI VM shows documented multi-second
    stalls); the recorded SUSTAINED_INGEST.json artifact carries the
    strict 20% verdict from a full-size run."""
    from quacfka_spark.bench_ingest import run_sustained_streaming_bench

    rep = run_sustained_streaming_bench(
        spark, rows_per_epoch=40_000, epochs=8,
        work_dir="/tmp/quacfka_test_sustained", rotate_mb=8.0,
    )
    assert rep["epochs"] == 8
    assert rep["completed_paths"] == 16 and rep["completed_paths_ok"]
    assert rep["records_consumed"] == 320_000
    assert len(rep["per_epoch"]) == 8
    totals = [p["rows_total"] for p in rep["per_epoch"]]
    assert all(t > 0 for t in totals)
    # every epoch processed ~1/8 of the corpus (maxFilesPerTrigger split)
    assert max(totals) <= 2 * min(totals), totals
    rates = [p["rows_per_second"] for p in rep["per_epoch"] if p["rows_per_second"]]
    assert len(rates) >= 7  # durations resolved from engine progress
    assert max(rates) <= 20 * min(rates)  # sanity, not a perf assertion
    assert rep["steady_median_rows_per_second"] > 0
    assert isinstance(rep["flat_within_20pct"], bool)


def test_completed_feed_torn_tail_repaired_on_open(spark, tmp_path):
    """A crash mid-append leaves a torn last line in the completed-path
    feed. Opening a pipeline must cut the file back to its last newline:
    otherwise the next publish appends onto the fragment, that record
    never parses again, and the following restart (and every external
    feed reader) loses the path."""
    out = str(tmp_path / "out")
    log = os.path.join(out, "_completed", "paths.jsonl")
    os.makedirs(os.path.dirname(log))
    with open(log, "w") as fh:
        fh.write(json.dumps({"epoch": 0, "table": "m", "path": "/p/0"}) + "\n")
        fh.write('{"epoch": 1, "table": "m", "pa')  # torn by a crash
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    cfg = PipelineConfig(output_dir=out, dest_table="m")

    def open_pipeline():
        source = spark.readStream.schema("value binary").parquet(inp)
        return StreamingPipeline(spark, source, cfg)

    pipe = open_pipeline()
    assert pipe._published == {"/p/0"}
    pipe._publish_path("/p/1", 1, "m")
    assert open_pipeline()._published == {"/p/0", "/p/1"}
    with open(log) as fh:
        lines = fh.read().splitlines()
    assert [json.loads(ln)["path"] for ln in lines] == ["/p/0", "/p/1"]
