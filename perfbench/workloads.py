"""The workloads.  Each drives the program only through its public
surface, in three steps: ``prepare`` (untimed, before any Spark session:
the generator's files or tables), ``setup`` (timed: what a session needs
before it takes work) and ``run``, which returns a ``Result``: the
latency samples the end-to-end metrics come from, the workload's own
figures, correctness counts, and (traced runs) per-layer metrics.

- ``ingest_fresh`` open loop: one generator thread moves small files into
  the watched directory on a fixed schedule below capacity; dedup on.
  Per-epoch fixed cost dominates.
- ``query_mix``    closed loop, one client: 16 registered queries per
  round, in a seeded rotating order, each built and run into ``noop``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import measure
from quacfka_spark import registry
from quacfka_spark.catalog import TABLES
from quacfka_spark.plans.normalizer import NormalizerSpec
from quacfka_spark.sources.proto_jvm import decode_protobuf_jvm
from quacfka_spark.streaming import PipelineConfig, SQLRunner, StreamingPipeline
from tests.parity import canon_rows


@dataclass
class Result:
    latency: dict[str, list[float]]  # result kind -> latency samples (s)
    figures: dict[str, tuple[float, str]]  # workload figures, name -> (value, unit)
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    fold: dict = field(default_factory=dict)  # what the event-log fold needs


@dataclass
class Ctx:
    work: str  # scratch dir of this run
    cache: str  # survives runs in this checkout
    seed: int
    seconds: float
    trace: bool


# ---------------------------------------------------------------------------
# streaming pieces


class TimedRunner(SQLRunner):
    """Times every ``run()``: the post-SQL runner's own share of an epoch."""

    def __post_init__(self) -> None:
        super().__post_init__()
        self.run_s: list[float] = []

    def run(self, spark, epoch_id: int) -> None:
        t0 = time.perf_counter()
        super().run(spark, epoch_id)
        self.run_s.append(time.perf_counter() - t0)


class Poller(threading.Thread):
    """Stamps each path the first time it appears on the pipeline's
    completed-path feed."""

    def __init__(self, pipe, interval: float = 0.02):
        super().__init__(daemon=True)
        self.pipe, self.interval = pipe, interval
        self._seen: dict[str, float] = {}
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def run(self) -> None:
        n = 0
        while True:
            paths = self.pipe.completed_paths
            while n < len(paths):
                with self._lock:
                    self._seen[paths[n]] = time.perf_counter()
                n += 1
            if self._halt.wait(self.interval):
                return

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)

    def raw_published(self, out_dir: str) -> dict[int, float]:
        """epoch -> when its raw path reached the completed-path feed."""
        prefix = os.path.join(out_dir, "messages", "epoch=")
        with self._lock:
            seen = list(self._seen.items())
        return {int(p[len(prefix):]): t for p, t in seen if p.startswith(prefix)}


def engine_durations(progress: list) -> dict[str, list[float]]:
    """Per-epoch engine phases (s) of the epochs that had input."""
    out: dict[str, list[float]] = {"trigger": [], "add_batch": [], "offsets": [], "commit": []}
    for p in progress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        out["trigger"].append(d.get("triggerExecution", 0) / 1000)
        out["add_batch"].append(d.get("addBatch", 0) / 1000)
        out["offsets"].append(
            (d.get("latestOffset", 0) + d.get("getBatch", 0) + d.get("queryPlanning", 0)) / 1000)
        out["commit"].append((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000)
    return out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pipeline_layers(log: measure.EventLog, query_ids: set[str], progress: list,
                    payload_mb: float) -> dict[str, float]:
    """Per-epoch medians of the event-log folds over the epochs in
    ``progress``; write amplification over every epoch of the queries."""
    epochs: dict[tuple, list] = {}
    for j in log.jobs.values():
        if j.query in query_ids and j.batch is not None:
            epochs.setdefault((j.query, j.batch), []).append(j)
    add_batch = {(str(p.id), p.batchId): p.durationMs.get("addBatch", 0) / 1000
                 for p in progress if p.numInputRows}
    per: dict[str, list[float]] = {k: [] for k in
                                   ("jobs", "raw", "norm", "ledger", "runner", "gc", "driver")}
    for key, jobs in epochs.items():
        if key not in add_batch:
            continue
        per["jobs"].append(len(jobs))
        for sink in ("raw", "norm", "ledger", "runner"):
            per[sink].append(sum(j.task_s for j in jobs if j.sink == sink))
        per["gc"].append(sum(j.gc_s for j in jobs))
        covered = measure.covered_s([(j.start_ms, j.end_ms) for j in jobs])
        per["driver"].append(max(0.0, add_batch[key] - covered))
    written = sum(j.written_mb for jobs in epochs.values() for j in jobs)
    return {
        "pipeline.jobs_per_epoch": _median(per["jobs"]),
        "pipeline.raw_task_s": _median(per["raw"]),
        "pipeline.norm_task_s": _median(per["norm"]),
        "pipeline.ledger_task_s": _median(per["ledger"]),
        "pipeline.runner_task_s": _median(per["runner"]),
        "pipeline.gc_s": _median(per["gc"]),
        "pipeline.driver_s": _median(per["driver"]),
        "pipeline.write_amp": written / payload_mb,
    }


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                     recursive=True)) / 2**20


def check_ingest(spark, pipe, table: str, consumed: int, raw: int, norm: int) -> list[str]:
    """The exact identities of one ingest: consumed, raw survivors,
    normalized explode count, and the post-SQL ``sum(n)``."""
    rep = pipe.metrics.report()
    got = {
        "consumed": rep["records_consumed"],
        "raw": rep["records_inserted"],
        "norm": rep["norm_records_inserted"],
        "post_sql_sum_n": spark.sql(f"SELECT coalesce(sum(n), 0) FROM {table}").first()[0],
    }
    want = {"consumed": consumed, "raw": raw, "norm": norm, "post_sql_sum_n": norm}
    return [f"{k}: got {got[k]} want {want[k]}" for k in want if got[k] != want[k]]


# ---------------------------------------------------------------------------
# ingest_fresh

# Open loop: FRESH_RATE files/s of FRESH_ROWS small records each, a tenth
# of every file repeating ids of the file before it (the duplicate share
# known by construction).  Files scheduled in the first FRESH_WARM_S
# seconds only warm up and are excluded from latency: the per-file latency
# falls steeply for the first ~15 s of epochs of a session and keeps
# falling slowly after, and the dedup ledger fills to its FRESH_HORIZON
# epochs only after ~18 s.
FRESH_RATE, FRESH_ROWS, FRESH_DUPS = 8.0, 250, 25
FRESH_WARM_S, FRESH_DRAIN_S, FRESH_HORIZON = 25.0, 30.0, 16
# a file renamed later than this after its scheduled arrival is a failed
# operation: its latency would measure the generator, not the pipeline.
# A tenth of the median latency; the generator has run at most 0.06 s late.
LAG_MAX_S = 0.2
# the traced run's codec passes read this many records in CODEC_FILES
# files, so decode and normalizer throughput are set by the codec and
# not by per-job and file-listing fixed cost
CODEC_RECORDS, CODEC_FILES = 1_000_000, 4


def fresh_pipeline(spark, source_dir: str, out_dir: str):
    """Decode -> raw + normalized sinks with cross-epoch dedup -> one
    post-SQL aggregate per epoch into the ``agg`` table."""
    table = "agg_" + hashlib.md5(out_dir.encode()).hexdigest()[:10]
    os.makedirs(os.path.join(out_dir, "agg"))
    spark.sql(f"CREATE TABLE {table} (site BIGINT, n BIGINT, amount DOUBLE) USING parquet "
              f"LOCATION '{os.path.join(out_dir, 'agg')}'")
    runner = TimedRunner(queries=[
        f"INSERT INTO {table} SELECT site, count(*) AS n, sum(amount) AS amount "
        "FROM messages_norm GROUP BY site"])
    spec = gen.spec()
    pipe = StreamingPipeline(
        spark,
        spark.readStream.schema("value binary").parquet(source_dir),
        PipelineConfig(output_dir=out_dir, dest_table="messages",
                       dedup_keys=["r.site.id", "r.user_id", "r.amount"],
                       dedup_ledger_epochs=FRESH_HORIZON),
        decode=lambda df: decode_protobuf_jvm(df, spec),
        normalizer=NormalizerSpec(list(gen.NORM_FIELDS), list(gen.NORM_ALIASES)),
        runner=runner,
    )
    return pipe, runner, table


@dataclass
class Fresh:
    """A started fresh-ingest pipeline and its completed-path poller."""
    pipe: StreamingPipeline
    runner: TimedRunner
    table: str
    poller: Poller
    query: object
    watched: str
    out: str

    def discard(self) -> None:
        self.pipe.stop()
        self.poller.stop()


class IngestFresh:
    @staticmethod
    def prepare(ctx: Ctx) -> dict:
        """Stage every file the generator will move (and, traced, the
        codec passes' input).  File f holds new ids [base + f*n_new,
        +n_new) and repeats the first FRESH_DUPS new ids of file f-1
        (file 0 repeats its own)."""
        n_files = int((FRESH_WARM_S + ctx.seconds) * FRESH_RATE)
        n_new = FRESH_ROWS - FRESH_DUPS
        base = gen.id_base(ctx.seed)
        files = [np.concatenate([base + f * n_new + np.arange(n_new),
                                 base + max(f - 1, 0) * n_new + np.arange(FRESH_DUPS)])
                 for f in range(n_files)]
        staged, payload = gen.write_files(files, os.path.join(ctx.work, "staged"))
        new_ids = base + np.arange(n_files * n_new)
        state = {"staged": staged, "raw": len(new_ids), "norm": gen.norm_rows(new_ids),
                 "consumed": n_files * FRESH_ROWS, "payload_mb": payload / 2**20}
        if ctx.trace:
            ids = base + n_files * n_new + np.arange(CODEC_RECORDS)
            codec = os.path.join(ctx.work, "codec")
            _, payload = gen.write_files(np.array_split(ids, CODEC_FILES), codec)
            state["codec"] = (codec, payload / 2**20, gen.norm_rows(ids))
        return state

    @staticmethod
    def setup(spark, ctx: Ctx, state: dict, i: int) -> Fresh:
        watched = os.path.join(ctx.work, f"watched{i}")
        out = os.path.join(ctx.work, f"out{i}")
        os.makedirs(watched)
        pipe, runner, table = fresh_pipeline(spark, watched, out)
        poller = Poller(pipe)
        poller.start()
        return Fresh(pipe, runner, table, poller, pipe.start(), watched, out)

    @staticmethod
    def run(spark, ctx: Ctx, state: dict, h: Fresh) -> Result:
        staged, q, out = state["staged"], h.query, h.out
        # the generator: one thread, renames on a fixed schedule
        start = time.perf_counter() + 0.5
        due = [start + k / FRESH_RATE for k in range(len(staged))]
        lag: list[float] = []

        def generate() -> None:
            for k, path in enumerate(staged):
                wait = due[k] - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                os.replace(path, os.path.join(h.watched, os.path.basename(path)))
                lag.append(time.perf_counter() - due[k])

        g = threading.Thread(target=generate, daemon=True)
        g.start()
        g.join(timeout=due[-1] - time.perf_counter() + 60)

        # drain: wait, with a bound, until every file's epoch is published
        names = [os.path.basename(p) for p in staged]
        drain_end = time.perf_counter() + FRESH_DRAIN_S
        while time.perf_counter() < drain_end and q.exception() is None:
            files = measure.file_batches(h.pipe.config.checkpoint())
            published = h.poller.raw_published(out)
            if all(n in files and files[n] in published for n in names):
                break
            time.sleep(0.05)
        h.discard()
        files = measure.file_batches(h.pipe.config.checkpoint())
        published = h.poller.raw_published(out)

        errors = []
        if q.exception() is not None:
            errors.append(f"query failed: {q.exception()}")
        lat, measured, unpublished = [], [], 0
        for k, n in enumerate(names):
            if n in files and files[n] in published:
                if due[k] >= start + FRESH_WARM_S:
                    lat.append(published[files[n]] - due[k])
                    measured.append(files[n])
            else:
                unpublished += 1
        if unpublished:
            errors.append(f"{unpublished} files unpublished after a {FRESH_DRAIN_S:.0f} s drain")
        late = sum(1 for x in lag if x > LAG_MAX_S)
        if late:
            errors.append(f"{late} files moved more than {LAG_MAX_S} s late "
                          f"(max {max(lag):.3f} s)")
        bad = check_ingest(spark, h.pipe, h.table, state["consumed"], state["raw"], state["norm"])
        errors += bad
        # the epochs that carried measured files
        progress = [p for p in q.recentProgress if p.batchId >= min(measured, default=0)]
        eng = engine_durations(progress)
        res = Result(
            latency={"file": lat},
            figures={
                "fresh_samples": (len(lat), "count"),
                "epoch_s": (_median(eng["trigger"]), "s"),
                "gen_lag_s_max": (max(lag, default=0.0), "s"),
            },
            attempted=len(staged),
            failed=len(staged) if bad else max(unpublished, late),
            errors=errors,
        )
        if measure.supported(lat, 90):
            res.figures["fresh_s_p90"] = (measure.percentile(lat, 90), "s")
        res.layers["gen.lag_s_max"] = max(lag, default=0.0)
        if ctx.trace:
            consumed = h.pipe.metrics.report()["records_consumed"]
            res.fold = {"progress": progress, "query_ids": {str(q.id)},
                        "payload_mb": state["payload_mb"]}
            res.layers.update(_codec_layers(spark, ctx, *state["codec"]))
            res.layers.update({
                "sql_runner.run_s": _median(h.runner.run_s),
                "pipeline.ledger_mb": _dir_mb(os.path.join(out, "_dedup_ledger")),
                "pipeline.kept_ratio": h.pipe.metrics.report()["records_inserted"] / max(1, consumed),
            })
        return res


def _codec_layers(spark, ctx: Ctx, payload_dir: str, payload_mb: float,
                  norm_rows: int) -> dict[str, float]:
    """Decode and normalizer throughput on their own, each into ``noop``
    over a few MB-scale files: median of three passes.  The normalizer
    reads the decoded records, written once untimed."""
    def rate(df, amount: float) -> float:
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rates.append(amount / (time.perf_counter() - t0))
        return statistics.median(rates)

    decoded = decode_protobuf_jvm(spark.read.parquet(payload_dir), gen.spec())
    raw_dir = os.path.join(ctx.work, "codec_raw")
    decoded.select("r").write.parquet(raw_dir)
    norm = NormalizerSpec(list(gen.NORM_FIELDS), list(gen.NORM_ALIASES))
    return {
        "sources.decode_mb_per_s": rate(decoded, payload_mb),
        "plans.normalize_rows_per_s": rate(norm.apply(spark.read.parquet(raw_dir)), norm_rows),
    }


# ---------------------------------------------------------------------------
# query_mix

MIX = (
    "q04_hash_agg q07_inner_join q11_multiway_join q13_window_rank q30_percentile "
    "s03_session_window x03_range_band_join x06_bucketed_join_agg t08_decontaminate "
    "t11_repetition_rules q48_fuzzy_match d03_minhash_lsh d07_cosine_lsh_pairs "
    "sim10_knn_graph m06_ahash_neardup sim13_knn_communities"
).split()
MIX_SF = 0.01
# The timed rounds are as many rounds of a nominal MIX_ROUND_S as cover
# ``--seconds`` (two at 18 s; a warm round takes 8-13 s on a 4-vCPU
# machine).  Their number is fixed by ``--seconds``, not by how fast the
# rounds go: rounds keep getting faster for about five rounds after the
# cold one, so every run must time the same rounds of that curve.
MIX_ROUND_S = 10.0


def mix_rounds(seconds: float) -> int:
    return max(1, math.ceil(seconds / MIX_ROUND_S))


def _digest(pdf) -> str:
    return hashlib.sha256((repr(sorted(pdf.columns)) + repr(canon_rows(pdf))).encode()).hexdigest()


def mix_tables(cache: str) -> tuple[str, dict[str, str]]:
    """The query-mix tables and DuckDB's answer digests, made once per
    checkout: neither depends on the program under test."""
    import duckdb

    d = os.path.join(cache, f"mix_sf{MIX_SF}")
    digests = os.path.join(d, "oracle_digests.json")
    if not os.path.exists(digests):
        shutil.rmtree(d, ignore_errors=True)
        gen.make_tables(MIX_SF, d)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            oracles = registry.get_oracles()
            out = {q: _digest(con.sql(oracles[q]).df()) for q in MIX}
        finally:
            con.close()
        with open(digests + ".tmp", "w") as fh:
            json.dump(out, fh, indent=1)
        os.replace(digests + ".tmp", digests)
    with open(digests) as fh:
        return d, json.load(fh)


class QueryMix:
    @staticmethod
    def prepare(ctx: Ctx) -> dict:
        sf_dir, want = mix_tables(ctx.cache)
        return {"sf_dir": sf_dir, "want": want}

    @staticmethod
    def setup(spark, ctx: Ctx, state: dict, i: int) -> dict:
        t0 = time.perf_counter()
        queries = registry.get_queries()
        state["registry_s"] = time.perf_counter() - t0
        return queries

    @staticmethod
    def run(spark, ctx: Ctx, state: dict, queries: dict) -> Result:
        sf_dir, want = state["sf_dir"], state["want"]
        errors: list[str] = []
        failed = attempted = 0
        # cold round: every query once, its result checked against DuckDB
        t0 = time.perf_counter()
        for name in MIX:
            attempted += 1
            spark.sparkContext.setJobGroup(f"cold:{name}", name)
            try:
                got = _digest(queries[name](spark, sf_dir).toPandas())
            except Exception as e:  # a failing query is a failed operation
                got = f"error: {type(e).__name__}: {str(e)[:200]}"
            if got != want[name]:
                failed += 1
                errors.append(f"{name}: result differs from the DuckDB oracle ({got[:80]})")
        cold_s = time.perf_counter() - t0

        order = MIX[:]
        random.Random(ctx.seed).shuffle(order)
        build: dict[str, list[float]] = {q: [] for q in MIX}
        wall: dict[str, list[float]] = {q: [] for q in MIX}
        rounds = mix_rounds(ctx.seconds)
        for r in range(rounds):
            for name in order[r % len(order):] + order[: r % len(order)]:
                attempted += 1
                spark.sparkContext.setJobGroup(f"timed:{name}", name)
                try:
                    a = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    b = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    c = time.perf_counter()
                except Exception as e:
                    failed += 1
                    errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                build[name].append(b - a)
                wall[name].append(c - a)
        spark.sparkContext.setJobGroup("", "")

        res = Result(
            latency={q: v for q, v in wall.items() if v},
            figures={
                "round_s": (sum(_median(v) for v in wall.values()), "s"),
                "cold_round_s": (cold_s, "s"),
                "rounds": (rounds, "count"),
            },
            attempted=attempted,
            failed=failed,
            errors=errors,
        )
        res.layers["registry.get_queries_s"] = state["registry_s"]
        res.layers["mix.cold_round_s"] = cold_s
        if ctx.trace:
            res.fold = {"rounds": rounds}
            for q in MIX:
                res.layers[f"query.{q}.build_s"] = _median(build[q])
                res.layers[f"query.{q}.exec_s"] = _median([w - b for w, b in zip(wall[q], build[q])])
        return res


WORKLOADS = {"ingest_fresh": IngestFresh, "query_mix": QueryMix}


def trace_layers(res: Result, log: measure.EventLog) -> dict[str, float]:
    """Per-layer metrics folded from the event log of a traced run."""
    out: dict[str, float] = {}
    if "query_ids" in res.fold:  # an ingest workload
        progress = res.fold["progress"]
        for phase, xs in engine_durations(progress).items():
            out[f"engine.{phase}_s"] = _median(xs)
        out.update(pipeline_layers(log, res.fold["query_ids"], progress, res.fold["payload_mb"]))
    if "rounds" in res.fold:  # the query mix: timed rounds only
        rounds = res.fold["rounds"]
        groups = log.by("group")
        timed = [j for g, js in groups.items() if g and g.startswith("timed:") for j in js]
        for q in MIX:
            jobs = groups.get(f"timed:{q}", [])
            out[f"query.{q}.jobs"] = len(jobs) / rounds
            out[f"query.{q}.shuffle_mb"] = sum(j.shuffle_mb for j in jobs) / rounds
        out["mix.task_s"] = sum(j.task_s for j in timed) / rounds
        out["mix.gc_s"] = sum(j.gc_s for j in timed) / rounds
        out["mix.spill_mb"] = sum(j.spill_mb for j in timed) / rounds
    return out
