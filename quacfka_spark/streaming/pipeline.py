"""The pipeline orchestrator: source -> decode -> flatten/transform ->
per-batch sinks + post-SQL + completed-path feed + metrics.

Reference mapping (SURVEY.md §2a):

- D13 columnar sink: ``foreachBatch`` writing raw/norm/custom parquet —
  replaces the DuckDB connection pool (duck.go:299-546). ``append`` save
  mode auto-creates table dirs like ``IngestCreateAppend``.
- D14 ``write_raw=False`` = ``WithoutDuckIngestRaw`` (quacfka.go:122-126):
  the epoch still lands its batch once, in an unpublished
  ``_staging/epoch=N`` dir that the derived sinks read back and the
  epoch deletes at its end, so both modes share one data path.
- D15/D16 rotation: each micro-batch epoch is one rotation unit
  (``trigger_seconds`` ~ rotation duration, quacfka.go:94-104);
  ``rotate_mb`` enforces the MB threshold with measured bytes-per-record
  feedback between epochs (the reference's own between-batch size check,
  duck.go:421-429 / README.md:182); ``max_records_per_file`` is the
  fixed-count alternative.
- D17 rotation loop: write -> post-SQL -> publish path -> next epoch,
  with checkpointing replacing manual file reopen (duck.go:252-295).
  The dedup ledgers are written on one side thread that overlaps the
  derived sinks and the post-SQL, as the reference's K inserters overlap
  (duck.go:299-546); the epoch joins it before it publishes any path.
- D18 ``SQLRunner``: ordered SQL on each completed epoch, exec mode or
  callback mode, optional delete-when-done (duck.go:38-134). Exec mode
  is effect-only; the session's own SQL parser tells a command from a
  row-returning query, and ``spark.sql`` runs each command eagerly.
- D20 completed-path feed: in-process list + JSONL control log replaces
  the bounded ``chan string`` (quacfka.go:65-70, duck.go:279-285).
- D21 stage toggles: pass any source DataFrame (mock/kafka/file), skip
  decode/normalize by leaving them None (quacfka.go:47-63).
- D22/D23: backpressure and parallelism are source options +
  ``sink_partitions`` (~ ``WithDuckConnections``, duck.go:165-169).
- D24 metrics: per-stage atomic counters + rows/sec report shaped like
  metrics.go:259-282.
- D25 error surface: ``error()`` returns the streaming query exception
  (quacfka.go: Error()).

Scale notes: the sink repartitions to ``sink_partitions`` before write
(writer-task count == the reference's K duck connections); per-epoch
output dirs make downstream consumption embarrassingly parallel; the
post-SQL runs on the *just-written files* (true to the reference's
query-the-closed-file model) so its scans are pruned/pushed down like
any other parquet read.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import OrderedDict
from collections.abc import Callable
from concurrent.futures import Future
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import InheritableThread
from pyspark.errors import ParseException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quacfka_spark.plans.custom import TransformRegistry
from quacfka_spark.plans.normalizer import NormalizerSpec


@dataclass
class PipelineConfig:
    output_dir: str
    dest_table: str = "messages"
    write_raw: bool = True  # D14
    trigger_seconds: int | None = None  # D16
    available_now: bool = False
    max_records_per_file: int | None = None  # D15 fixed-count analog
    # D15 size-based rotation (duck.go:421-429 checks file MB between
    # batches; its own check is approximate, README.md:182): target max
    # parquet file size. The first epoch for a table writes uncapped to
    # learn its bytes/record; every later epoch caps maxRecordsPerFile
    # at rotate_mb / measured-bytes-per-record, re-measured each epoch
    # so schema or payload drift re-adapts. Composes with
    # max_records_per_file (the tighter cap wins).
    rotate_mb: float | None = None
    sink_partitions: int | None = None  # D23 (~ duck connections)
    checkpoint_dir: str | None = None
    # Cross-epoch exact dedup at the sink (beyond the reference, which
    # has no dedup stage; complements S5's in-watermark dropDuplicates):
    # rows whose 128-bit xxhash64 digest of struct(dedup_keys) was
    # inserted by ANY earlier epoch are dropped before every sink. State is a
    # per-epoch digest ledger under output_dir/_dedup_ledger/epoch=N —
    # 16-byte digests only, never payloads — and epoch N deduplicates
    # against strictly-earlier epochs, so a retried/replayed epoch
    # recomputes the identical result (the D19 idempotence rule). At
    # 100 TB the anti-join against the ledger is digest-vs-digest; AQE
    # broadcasts it while small and injects a runtime Bloom filter on
    # the batch side when large (tests/test_runtime_bloom_filter.py);
    # a long-lived deployment buckets the ledger on the digest
    # (layout.write_bucketed) so the probe side joins exchange-free.
    dedup_keys: list[str] | None = None
    # Dedup horizon: only the most recent N ledger epochs participate in
    # the anti-join (None = the whole ingest history). The bounded mode
    # is the middle ground between S5's event-time watermark and the
    # unbounded ledger: state stays O(horizon x epoch-digests) forever,
    # at the cost of re-admitting content older than the horizon — the
    # right trade for topics where duplicates cluster in time
    # (redeliveries, replays) rather than recur forever.
    dedup_ledger_epochs: int | None = None
    # Cross-epoch NEAR-dup gate at the sink: the approximate,
    # signature-level streaming form of d03p. Each row's text column
    # derives 12 seeded-xxhash64 minhashes (the production hash family,
    # operators/dedup.py:186) banded 3-wide into 4 band keys; a row is
    # dropped when >= neardup_min_bands of its band keys were recorded
    # by any earlier epoch (within the same dedup_ledger_epochs
    # horizon). This is candidate-level — no Jaccard verify at the
    # sink, the standard ingest-time LSH-filter trade (verify needs the
    # historical text, which the ledger deliberately never stores; the
    # batch operators d03/d03p are the verified form). min_bands=2
    # trades recall for precision vs any-band collision. Near-dups
    # WITHIN one epoch land together (the gate sees strictly-earlier
    # epochs only — the same replay-idempotence rule as exact dedup);
    # exact in-batch copies still collapse via dedup_keys. State is
    # (band, sig) int rows under output_dir/_neardup_ledger/epoch=N —
    # 12 bytes per key, never payloads.
    neardup_col: str | None = None
    neardup_min_bands: int = 2

    def checkpoint(self) -> str:
        return self.checkpoint_dir or os.path.join(self.output_dir, "_checkpoint")


@dataclass
class PipelineMetrics:
    """D24: per-stage counters + throughput report (metrics.go:15-60)."""

    started_at: float = field(default_factory=time.time)
    records_consumed: int = 0
    records_inserted: int = 0
    norm_records_inserted: int = 0
    custom_records_inserted: int = 0
    batches: int = 0
    # Replay guard (D19): a retried epoch OVERWRITES its earlier
    # attempt's contribution (subtract-and-replace), so the counters
    # agree with the overwrite-mode sinks — what's on disk — not with
    # attempt count. Only recent epochs can replay (foreachBatch retries
    # the in-flight epoch; a restart replays the last uncommitted one),
    # so the map is BOUNDED: evicting an old epoch only forfeits replay
    # detection for an epoch that can no longer replay, keeping memory
    # and counter reads O(1) over an arbitrarily long stream lifetime.
    _recent_max: int = 1024
    _recent: "OrderedDict[int, tuple[int, int, int, int]]" = field(
        default_factory=OrderedDict, repr=False
    )
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record_batch(
        self, epoch_id: int, consumed: int, raw: int, norm: int, custom: int
    ) -> None:
        with self._lock:
            prev = self._recent.pop(epoch_id, None)
            if prev is not None:
                pc, pr, pn, px = prev
                self.records_consumed -= pc
                self.records_inserted -= pr
                self.norm_records_inserted -= pn
                self.custom_records_inserted -= px
                self.batches -= 1
            self._recent[epoch_id] = (consumed, raw, norm, custom)
            while len(self._recent) > self._recent_max:
                self._recent.popitem(last=False)
            self.records_consumed += consumed
            self.records_inserted += raw
            self.norm_records_inserted += norm
            self.custom_records_inserted += custom
            self.batches += 1

    def report(self) -> dict:
        elapsed = max(time.time() - self.started_at, 1e-9)
        with self._lock:
            consumed = self.records_consumed
            raw = self.records_inserted
            norm = self.norm_records_inserted
            custom = self.custom_records_inserted
            batches = self.batches
        total = raw + norm + custom
        return {
            "duration_seconds": round(elapsed, 3),
            "records_consumed": consumed,
            "records_inserted": raw,
            "norm_records_inserted": norm,
            "custom_records_inserted": custom,
            "batches": batches,
            "records_per_second": round(consumed / elapsed, 2),
            "total_rows_per_second": round(total / elapsed, 2),
        }

    def report_json(self) -> str:
        return json.dumps(self.report())

    def epoch_rows(self) -> "dict[int, tuple[int, int, int, int]]":
        """Per-epoch (consumed, raw, norm, custom) counts for the epochs
        still inside the bounded replay window — the per-epoch half of
        the sustained-run report (durations come from the engine's own
        StreamingQueryProgress; joining the two gives per-epoch rates
        without any extra instrumentation in the hot path)."""
        with self._lock:
            return dict(self._recent)


@dataclass
class SQLRunner:
    """D18: ordered SQL statements run against each completed epoch's
    tables (registered as temp views named after their dest tables).

    ``exec=True`` -> statements run for effect (CTAS-style aggregates
    should INSERT/CREATE or be exports); ``exec=False`` -> ``fn`` is
    called with (spark, epoch_id) and issues its own queries
    (duck.go:92-100 callback mode). ``delete_on_done`` removes the
    epoch's raw dir afterwards (duck.go:122-132).

    Exec mode has the reference's effect-only contract (duck.go:70-72:
    "queries that aggregate to another table as well as EXPORT/COPY TO
    statements"). The session's own SQL parser decides what a statement
    is: one that does not parse, parses as a query (it returns rows), or
    is a SQL script (``spark.sql`` collects a script's last result onto
    the driver) is rejected with ``ValueError``. The constructor and
    ``add_queries`` check under the active session when there is one;
    ``run()`` re-checks under the live session, so its parser settings
    (ANSI reserved keywords, escaped literals) always apply.
    """

    queries: list[str] = field(default_factory=list)
    exec: bool = True
    fn: Callable[[SparkSession, int], None] | None = None
    delete_on_done: bool = False

    def __post_init__(self) -> None:
        self._check(SparkSession.getActiveSession(), self.queries)

    def _check(self, spark: SparkSession | None, queries: list[str]) -> None:
        if not self.exec or spark is None:
            return
        parser = spark._jsparkSession.sessionState().sqlParser()
        for q in queries:
            try:
                plan = parser.parsePlan(q)
            except ParseException as e:
                raise ValueError(f"SQLRunner cannot parse {q[:60]!r}") from e
            try:
                parser.parseQuery(q)
                rows = True
            except ParseException:
                rows = plan.nodeName() == "CompoundBody"
            if rows:
                raise ValueError(
                    "SQLRunner(exec=True) statements run for effect only; "
                    f"got a result-bearing statement {q.strip()[:60]!r}. "
                    "Use INSERT/CREATE-style SQL, or exec=False with "
                    "fn=... to consume results yourself."
                )

    def add_queries(self, queries: list[str]) -> None:
        self._check(SparkSession.getActiveSession(), queries)
        self.queries.extend(queries)

    def run(self, spark: SparkSession, epoch_id: int) -> None:
        if self.exec:
            # every statement is checked before any runs; spark.sql runs
            # commands eagerly, so there is nothing to collect
            self._check(spark, self.queries)
            for q in self.queries:
                spark.sql(q)
        elif self.fn is not None:
            self.fn(spark, epoch_id)


def _hash128(key: F.Column) -> F.Column:
    """Two seed-split xxhash64s of ``key`` as a struct<h1, h2> — the
    repo's production hash family (d03p): native, type-aware, null-safe,
    ~3x cheaper than md5(to_json(struct(...))) per row (measured in the
    --dedup ingest bench). 128 bits keeps the birthday-collision
    expectation < 3e-18 per pair — at 10^12 rows the chance of ONE
    wrongly-dropped row is ~3e-8."""
    return F.struct(
        F.xxhash64(key).alias("h1"),
        F.xxhash64(F.lit(0x9E3779B9), key).alias("h2"),
    )


def _epoch_dirs(root: str) -> list[tuple[int, str]]:
    """(N, path) of every ``epoch=N`` dir under ``root``, ascending."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("epoch="):
            try:
                out.append((int(name[len("epoch="):]), os.path.join(root, name)))
            except ValueError:
                continue
    return sorted(out)


class StreamingPipeline:
    """Source -> [decode] -> raw/norm/custom sinks + post-SQL + paths.

    The Spark-first Orchestrator (quacfka.go:153-257): construction wires
    declarative stages; ``start()`` launches one streaming query whose
    micro-batches replay the reference's stage-3 loop (duck.go:252-295).
    """

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        config: PipelineConfig,
        *,
        decode: Callable[[DataFrame], DataFrame] | None = None,
        normalizer: NormalizerSpec | None = None,
        custom: TransformRegistry | None = None,
        runner: SQLRunner | None = None,
    ) -> None:
        self.spark = spark
        self.source = source
        self.config = config
        self.decode = decode
        self.normalizer = normalizer
        self.custom = custom
        self.runner = runner
        self.metrics = PipelineMetrics()
        self.completed_paths: list[str] = []  # D20 in-process feed
        self._paths_log = os.path.join(config.output_dir, "_completed", "paths.jsonl")
        # D19/D20: the publish-dedup guard must survive a process
        # restart — an epoch replayed from the checkpoint after a crash
        # would otherwise re-append its paths to the persistent feed.
        # Seed the seen-set from the on-disk log (the feed itself is the
        # durable record of what was already published); the set gives
        # O(1) membership, the list stays the ordered in-process feed.
        self._published: set[str] = set()
        if os.path.exists(self._paths_log):
            with open(self._paths_log, "rb+") as fh:
                data = fh.read()
                # a crash mid-append leaves a torn last line: cut the
                # file back to its last newline, or the next publish
                # appends onto the fragment and that record never
                # parses again (for this set or for feed readers)
                end = data.rfind(b"\n") + 1
                if end < len(data):
                    fh.truncate(end)
            for line in data[:end].decode().splitlines():
                if line.strip():
                    try:
                        self._published.add(json.loads(line)["path"])
                    except (json.JSONDecodeError, KeyError):
                        continue  # merged by a pre-repair torn write
        self._bytes_per_record: dict[str, float] = {}  # D15 size feedback
        self._ledger_root = os.path.join(config.output_dir, "_dedup_ledger")
        self._neardup_root = os.path.join(config.output_dir, "_neardup_ledger")
        self.query = None

    # -- epoch processing (D13/D17/D18/D20/D24) ----------------------------
    def _epoch_dir(self, table: str, epoch_id: int) -> str:
        return os.path.join(self.config.output_dir, table, f"epoch={epoch_id}")

    # -- cross-epoch ingest dedup (config.dedup_keys) ----------------------
    _DEDUP_COL = "__dedup_digest"
    # ledger reads are schema-pinned: inference would run a footer-read
    # job on the driver every epoch (the r13 readback rule)
    _LEDGER_SCHEMA = f"{_DEDUP_COL} struct<h1: bigint, h2: bigint>"
    _ND_LEDGER_SCHEMA = "band int, sig bigint"

    @cached_property
    def _digest(self) -> "F.Column":
        # 128-bit key (see _hash128) over the dedup keys; the ledger
        # stores 16 bytes of longs instead of a 32-char hex string. Built
        # once per pipeline: each Column call is a py4j round trip, and
        # the expression is the same every epoch.
        return _hash128(F.struct(*self.config.dedup_keys)).alias(self._DEDUP_COL)

    def _ledger_paths(self, epoch_id: int, root: str | None = None) -> list[str]:
        """Ledger dirs for epochs STRICTLY earlier than ``epoch_id`` —
        excluding the current epoch makes a retried/replayed epoch
        deduplicate against exactly the state its first attempt saw.
        Shared by the exact-digest ledger (default root) and the
        near-dup band ledger; both obey the same horizon."""
        horizon = self.config.dedup_ledger_epochs
        # the horizon is relative to the CURRENT epoch, not to how many
        # ledger dirs exist, so a replayed epoch N sees the same window
        # its first attempt saw (D19 idempotence)
        return [
            path
            for e, path in _epoch_dirs(root or self._ledger_root)
            if e < epoch_id and (horizon is None or e >= epoch_id - horizon)
        ]

    def _dedup_against_history(self, df: DataFrame, epoch_id: int) -> DataFrame:
        """Drop rows already inserted by any earlier epoch (plus
        within-batch duplicates). The anti-join probes 16-byte digests,
        never payloads; the payload-side shuffle is avoided while the
        ledger stays broadcastable and Bloom-prefiltered after that."""
        df = df.select("*", self._digest)
        df = df.dropDuplicates([self._DEDUP_COL])
        prior = self._ledger_paths(epoch_id)
        if prior:
            hist = self.spark.read.schema(self._LEDGER_SCHEMA).parquet(*prior)
            df = df.join(hist, self._DEDUP_COL, "left_anti")
        return df.drop(self._DEDUP_COL)

    def _write_ledger(self, src: DataFrame, epoch_id: int) -> None:
        """Record the digests this epoch actually inserted. Overwrite
        per-epoch dir: a replayed epoch rewrites the same state, so a
        crash between sink write and ledger write heals on replay.

        Runs on the ledger thread (see :meth:`_start_ledgers`), so it
        overlaps the derived sinks and the post-SQL. No ``.distinct()``:
        ``src`` already went through ``dropDuplicates`` on this digest
        and the anti-join, so its digests are unique — a distinct would
        only add a shuffle and one more job per epoch."""
        path = os.path.join(self._ledger_root, f"epoch={epoch_id}")
        src.select(self._digest).write.mode("overwrite").parquet(path)
        self._prune_ledger(self._ledger_root, epoch_id)

    def _prune_ledger(self, root: str, epoch_id: int) -> None:
        """Bounded-state contract: ledger epochs that can no longer
        enter ANY future anti-join window are deleted. The prune runs
        INSIDE the current epoch's _process_batch, i.e. BEFORE the
        streaming checkpoint commits epoch_id — so epoch_id itself may
        still be replayed, and its own window [epoch_id - horizon,
        epoch_id) must survive the prune (D19 replay idempotence, see
        _ledger_paths). Epoch ``epoch_id - horizon`` only becomes
        unreachable once epoch_id has committed and epoch_id + 1 runs
        its prune, so the cutoff is ``epoch_id - horizon`` (strictly
        below), one epoch later than the tightest non-replay bound."""
        horizon = self.config.dedup_ledger_epochs
        if horizon is None:
            return
        for e, path in _epoch_dirs(root):
            if e < epoch_id - horizon:
                shutil.rmtree(path, ignore_errors=True)

    # -- cross-epoch NEAR-dup gate (config.neardup_col) --------------------
    _ND_N = 12  # minhashes; banded 3-wide -> 4 band keys (the d03 shape)
    _ND_BAND = 3

    def _nd_band_sigs(self, narrow: DataFrame) -> DataFrame:
        """narrow frame (carrying ``__nd_txt``) + ``__nd_sigs`` array of
        4 band keys: seeded-xxhash64 minhash folds over the text's
        shingles (d03p's production family — native hashes end to end,
        no hex strings). MUST be fed a NARROW projection (id + text):
        on a wide frame downstream column pruning re-derives this
        subtree per consumer and CollapseProject then inlines the
        from_json/tokenizer chain into all 12 folds AND every
        element_at of the shingle window — measured 27 s vs 1 s on a
        100k-row epoch; the narrow-frame + single-consumer shape is
        what keeps the boundary projections intact. A doc shorter than
        one shingle hashes its whole token string (the dedup
        convention), so short exact-ish repeats still gate."""
        from quacfka_spark.functions.text import norm_tokens, shingles

        out = narrow.select(
            "*", norm_tokens(F.col("__nd_txt")).alias("__nd_tk")
        ).drop("__nd_txt")
        out = out.select(
            "*", shingles(F.col("__nd_tk")).alias("__nd_shs")
        ).drop("__nd_tk")

        def mh(i: int) -> F.Column:
            # seed via factory, not a default-arg lambda: a 2-parameter
            # callable would make transform bind (element, index)
            return F.array_min(
                F.transform(F.col("__nd_shs"), lambda s: F.xxhash64(F.lit(i), s))
            )

        bands = F.array(
            *[
                F.xxhash64(*[mh(b * self._ND_BAND + k) for k in range(self._ND_BAND)])
                for b in range(self._ND_N // self._ND_BAND)
            ]
        )
        return out.select("*", bands.alias("__nd_sigs")).drop("__nd_shs")

    def _neardup_against_history(self, df: DataFrame, epoch_id: int) -> DataFrame:
        """Drop rows whose band keys collide with >= neardup_min_bands
        bands recorded by earlier epochs. The history side is 12-byte
        (band, sig) rows — AQE broadcasts it while small, exactly the
        exact-ledger posture. The sig subtree hangs off a NARROW
        (row-digest, text) projection consumed ONLY by the exploded
        collision branch — the probe side carries just the 8-byte row
        digest, so the expensive chain is planned exactly once (see
        _nd_band_sigs) and the batch side shuffles only
        (row-digest, band, sig) triples into the collision count."""
        prior = self._ledger_paths(epoch_id, root=self._neardup_root)
        if not prior:
            return df
        hist = self.spark.read.schema(self._ND_LEDGER_SCHEMA).parquet(*prior).distinct()
        # Row id is 128-bit like _digest: a lone 64-bit xxhash64
        # colliding between a flagged near-dup and an unrelated row in
        # the batch would make the left_anti drop the innocent row too.
        rid = _hash128(F.struct(*[F.col(c) for c in df.columns]))
        base = df.withColumn("__nd_rid", rid)
        narrow = base.select(
            "__nd_rid", F.col(self.config.neardup_col).alias("__nd_txt")
        )
        exploded = self._nd_band_sigs(narrow).select(
            "__nd_rid", F.posexplode_outer("__nd_sigs").alias("band", "sig")
        )
        drop = (
            exploded.join(hist, ["band", "sig"])
            .groupBy("__nd_rid")
            .agg(F.count_distinct("band").alias("__nd_hits"))
            .filter(F.col("__nd_hits") >= self.config.neardup_min_bands)
            .select("__nd_rid")
        )
        return base.join(drop, "__nd_rid", "left_anti").drop("__nd_rid")

    def _write_neardup_ledger(self, src: DataFrame, epoch_id: int) -> None:
        """Record the band keys of what this epoch actually inserted —
        same overwrite-per-epoch replay-healing contract as
        :meth:`_write_ledger` (and the same narrow-projection rule as
        the gate)."""
        path = os.path.join(self._neardup_root, f"epoch={epoch_id}")
        narrow = src.select(F.col(self.config.neardup_col).alias("__nd_txt"))
        (
            self._nd_band_sigs(narrow)
            .select(F.posexplode_outer("__nd_sigs").alias("band", "sig"))
            .distinct()  # unlike row digests, band keys do repeat
            .write.mode("overwrite")
            .parquet(path)
        )
        self._prune_ledger(self._neardup_root, epoch_id)

    def _start_ledgers(self, src: DataFrame, epoch_id: int) -> Future | None:
        """Write this epoch's ledgers from ``src`` on one side thread;
        the returned future completes (or raises) when both are written.
        InheritableThread copies the batch thread's local properties —
        job group and ``streaming.sql.batchId`` — so ``query.stop()``
        still cancels the ledger jobs and the event log still attributes
        them to their epoch."""
        if not (self.config.dedup_keys or self.config.neardup_col):
            return None
        done: Future = Future()

        def run() -> None:
            try:
                if self.config.dedup_keys:
                    self._write_ledger(src, epoch_id)
                if self.config.neardup_col:
                    self._write_neardup_ledger(src, epoch_id)
            except BaseException as e:
                done.set_exception(e)
            else:
                done.set_result(None)

        InheritableThread(target=run, daemon=True).start()
        return done

    def _write(self, df: DataFrame, path: str, table: str) -> int:
        # Row count via Observation: piggybacks on the write job itself
        # (the reference's inline atomic counters, metrics.go:15-60). A
        # separate df.count() would re-run the whole upstream stage —
        # decode included — once per sink.
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if self.config.sink_partitions:
            w = w.repartition(self.config.sink_partitions)
        # overwrite, not append: the target is this table's PER-EPOCH dir,
        # so overwrite makes the write idempotent under foreachBatch
        # retries and epoch replays after restart (exactly-once, D19).
        # Append here meant a retried epoch held the batch twice — and
        # since every derived sink reads the landing back, the doubled
        # rows then amplified into all of them.
        writer = w.write.mode("overwrite")
        cap = self.config.max_records_per_file
        if self.config.rotate_mb and table in self._bytes_per_record:
            size_cap = max(
                1,
                int(
                    self.config.rotate_mb
                    * 1024
                    * 1024
                    / self._bytes_per_record[table]
                ),
            )
            cap = min(cap, size_cap) if cap else size_cap
        if cap:
            writer = writer.option("maxRecordsPerFile", str(cap))
        writer.parquet(path)
        n = int(obs.get["n"])
        if self.config.rotate_mb and n:
            # measure what this epoch actually wrote (the reference's
            # between-batch size check, duck.go:421-429) and feed the
            # next epoch's cap. Encoded bytes/record, not in-memory.
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
            if size:
                self._bytes_per_record[table] = size / n
        return n

    def _publish_path(self, path: str, epoch_id: int, table: str) -> None:
        # idempotent under epoch retries, like the sink writes: a
        # replayed epoch must not feed the same completed path twice to
        # downstream consumers (D20)
        if path in self._published:
            return
        self._published.add(path)
        self.completed_paths.append(path)
        os.makedirs(os.path.dirname(self._paths_log), exist_ok=True)
        with open(self._paths_log, "a") as fh:
            fh.write(json.dumps({"epoch": epoch_id, "table": table, "path": path}) + "\n")

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # The consumed count (pre-decode input rows, D24) piggybacks on
        # the landing write via an Observation BELOW the decode — a
        # separate count() job per epoch cost a full extra pass over the
        # batch bytes.
        consumed_obs = Observation()
        observed = batch_df.observe(consumed_obs, F.count(F.lit(1)).alias("n"))
        decoded = self.decode(observed) if self.decode else observed
        if self.config.dedup_keys:
            # consumed (the observation below) stays the pre-dedup input
            # count, inserted counts what survives — the gap IS the
            # measured dedup, mirroring the reference's consumed vs
            # inserted counter pair (metrics.go:142-156)
            decoded = self._dedup_against_history(decoded, epoch_id)
        if self.config.neardup_col:
            decoded = self._neardup_against_history(decoded, epoch_id)
        # Land the batch once: decode (and the dedup gates) run exactly
        # once, inside this write, and every derived sink, ledger and
        # runner view reads a columnar, pruned, shuffle-free readback of
        # the landed files — the shape the batch ingest path uses. With
        # the raw sink on, the landing IS the raw epoch dir; with it off
        # (D14) it is an unpublished staging dir, overwritten by a retry
        # and deleted when the epoch ends.
        table = self.config.dest_table
        staging = os.path.join(self.config.output_dir, "_staging")
        landing = (
            self._epoch_dir(table, epoch_id)
            if self.config.write_raw
            else os.path.join(staging, f"epoch={epoch_id}")
        )
        ledger: Future | None = None
        try:
            landed_n = self._write(decoded, landing, table)
            # readback with the KNOWN schema (decoded's own) — schema
            # inference re-reads every epoch file's footer on the driver
            # before the first derived job can plan; with the schema
            # pinned the read is pure metadata (r13, measured dominant
            # per-epoch fixed term in STREAM_FIXED_COST).
            landed = self.spark.read.schema(decoded.schema).parquet(landing)
            # The ledgers record what actually landed and run
            # concurrently with the derived sinks and the post-SQL.
            ledger = self._start_ledgers(landed, epoch_id)
            raw_n = landed_n if self.config.write_raw else 0
            norm_n = custom_n = 0
            # (table, path, schema) of each published sink: the schema of
            # what was written rides along so every per-epoch re-read
            # below is schema-pinned
            written: list[tuple[str, str, object]] = (
                [(table, landing, decoded.schema)] if self.config.write_raw else []
            )

            if self.normalizer is not None:
                norm_table = f"{table}_norm"
                p = self._epoch_dir(norm_table, epoch_id)
                norm_df = self.normalizer.apply(landed)
                norm_n = self._write(norm_df, p, norm_table)
                written.append((norm_table, p, norm_df.schema))

            if self.custom is not None:
                for name, df in self.custom.apply_all(landed).items():
                    p = self._epoch_dir(name, epoch_id)
                    custom_n += self._write(df, p, name)
                    written.append((name, p, df.schema))

            # D18: post-SQL over the *written* epoch output (the closed
            # file, not the in-flight batch) — true to DuckRunner.
            if self.runner is not None:
                for name, path, schema in written:
                    # the raw table's view is the readback itself
                    view = (
                        landed
                        if path == landing
                        else self.spark.read.schema(schema).parquet(path)
                    )
                    view.createOrReplaceTempView(name)
                self.runner.run(self.spark, epoch_id)

            # the ledgers land before any path is deleted or published
            if ledger is not None:
                ledger.result()

            if self.runner is not None and self.runner.delete_on_done:
                for _, path, _schema in written:
                    shutil.rmtree(path, ignore_errors=True)

            for name, path, _schema in written:
                self._publish_path(path, epoch_id, name)
            consumed = int(consumed_obs.get["n"])
            self.metrics.record_batch(epoch_id, consumed, raw_n, norm_n, custom_n)
        finally:
            if ledger is not None:
                # a failed epoch must not leave a ledger write racing
                # its retry; the epoch's own exception wins
                ledger.exception()
            if not self.config.write_raw:
                shutil.rmtree(staging, ignore_errors=True)

    # -- lifecycle (D17/D19/D25) -------------------------------------------
    def start(self):
        writer = (
            self.source.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.config.checkpoint())
            .outputMode("update")
        )
        if self.config.available_now:
            writer = writer.trigger(availableNow=True)
        elif self.config.trigger_seconds:
            writer = writer.trigger(processingTime=f"{self.config.trigger_seconds} seconds")
        self.query = writer.start()
        return self.query

    def error(self):
        """D25: the single error surface (``Orchestrator.Error()``)."""
        return self.query.exception() if self.query else None

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
