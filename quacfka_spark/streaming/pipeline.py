"""The pipeline orchestrator: source -> decode -> flatten/transform ->
per-batch sinks + post-SQL + completed-path feed + metrics.

Reference mapping (SURVEY.md §2a):

- D13 columnar sink: ``foreachBatch`` writing raw/norm/custom parquet —
  replaces the DuckDB connection pool (duck.go:299-546). ``append`` save
  mode auto-creates table dirs like ``IngestCreateAppend``.
- D14 ``write_raw=False`` = ``WithoutDuckIngestRaw`` (quacfka.go:122-126).
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
  callback mode, optional delete-when-done (duck.go:38-134).
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

import re
import json
import os
import threading
import time
from collections import OrderedDict, deque
from collections.abc import Callable
from concurrent.futures import Future
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
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
    """

    queries: list[str] = field(default_factory=list)
    exec: bool = True
    fn: Callable[[SparkSession, int], None] | None = None
    delete_on_done: bool = False
    # Spark's default parser treats backslash as an escape inside
    # '...'/"..." literals; sessions running with
    # spark.sql.parser.escapedStringLiterals=true (Hive compat) treat it
    # as a literal character, so 'x\' is a TERMINATED string there. Set
    # this to True to match such a session — otherwise the scanner would
    # swallow the closing quote and run verb/depth detection over
    # literal content (mis-accepting or mis-rejecting statements).
    escaped_string_literals: bool = False

    # Statement prefixes that run for effect (side-effecting DDL/DML) —
    # anything else in exec mode is a result-bearing query whose rows
    # would be materialized ON THE DRIVER by the effect-only .collect(),
    # an unbounded-memory trap at scale. The reference's exec mode has
    # the same effect-only contract (duck.go:70-72: "queries that
    # aggregate to another table as well as EXPORT/COPY TO statements").
    _EFFECT_PREFIXES = (
        "insert", "create", "replace", "drop", "alter", "truncate",
        "delete", "update", "merge", "copy", "export", "cache",
        "uncache", "refresh", "set", "msck", "analyze", "optimize",
        "vacuum",
    )
    # statement keywords that can follow a CTE prologue at depth 0 —
    # used to locate the statement proper after "WITH name AS (...), ..."
    _STMT_KEYWORDS = frozenset(
        {"select", "values", "table", "from"}  # result-bearing forms
        | {"insert", "create", "replace", "merge", "delete", "update",
           "copy", "export"}
    )

    def __post_init__(self) -> None:
        for q in self.queries:
            self._check_effect_only(q)
        # Parser modes whose scan already accepted every statement. The
        # constructor-declared `escaped_string_literals` stays immutable;
        # run() re-validates a DIFFERING live-session mode with a local
        # flag and records success here, so alternating sessions don't
        # re-scan the list every epoch and the accept/reject state never
        # depends on call history.
        self._validated_modes = {self.escaped_string_literals}

    def _top_level_keyword(
        self, q: str, escaped_string_literals: bool | None = None
    ) -> str | None:
        """The statement's first DEPTH-0 keyword, skipping string
        literals, -- and /* */ comments, and parenthesized bodies: for a
        plain statement that is its first word; for a WITH statement it
        is the keyword after the CTE definitions (so "WITH c AS
        (SELECT ...) SELECT" resolves to select, and a 'delete' inside a
        string literal or a CTE body can never masquerade as the
        statement's verb)."""
        esc = (
            self.escaped_string_literals
            if escaped_string_literals is None
            else escaped_string_literals
        )
        depth = 0
        i, n = 0, len(q)
        words: list[str] = []
        while i < n:
            c = q[i]
            if c in ("'", '"', "`"):
                # Spark treats both '...' and "..." as string literals
                # (backslash escapes and doubled-quote escapes active);
                # backticked identifiers can also contain parens/words.
                # All three must be skipped or a quoted ')' / keyword
                # corrupts the depth tracking and the verb detection.
                quote = c
                i += 1
                while i < n:
                    if q[i] == "\\" and quote != "`" and not esc:
                        i += 2
                        continue
                    if q[i] == quote:
                        if i + 1 < n and q[i + 1] == quote:  # '' escape
                            i += 2
                            continue
                        i += 1
                        break
                    i += 1
            elif q.startswith("--", i):
                nl = q.find("\n", i)
                i = n if nl < 0 else nl + 1
            elif q.startswith("/*", i):
                e = q.find("*/", i)
                i = n if e < 0 else e + 2
            elif c == "(":
                depth += 1
                i += 1
            elif c == ")":
                depth = max(0, depth - 1)
                i += 1
            elif depth == 0 and (c.isalpha() or c == "_"):
                m = re.match(r"[A-Za-z_][A-Za-z_0-9]*", q[i:])
                words.append(m.group(0).lower())
                i += len(m.group(0))
            else:
                i += 1
        if not words:
            return None
        if words[0] != "with":
            return words[0]
        for w in words[1:]:  # skip CTE names / AS / RECURSIVE / commas
            if w in self._STMT_KEYWORDS:
                return w
        return None

    def _check_effect_only(
        self, q: str, escaped_string_literals: bool | None = None
    ) -> None:
        if not self.exec:
            return
        kw = self._top_level_keyword(q, escaped_string_literals)
        if kw not in self._EFFECT_PREFIXES:
            raise ValueError(
                "SQLRunner(exec=True) statements run for effect only; "
                f"got a result-bearing statement {q.strip()[:60]!r}. "
                "Use INSERT/CREATE/COPY-style SQL, or exec=False with "
                "fn=... to consume results yourself."
            )

    def add_queries(self, queries: list[str]) -> None:
        for q in queries:
            self._check_effect_only(q)
        self.queries.extend(queries)
        # new statements were scanned only under the constructor mode;
        # any other mode must re-prove itself against the full list
        self._validated_modes = {self.escaped_string_literals}

    def run(self, spark: SparkSession, epoch_id: int) -> None:
        if self.exec:
            # The init-time guard scanned with the constructor's quoting
            # mode; if the LIVE session's parser mode disagrees (Hive
            # compat flips backslash semantics), re-validate with the
            # real mode before executing — a statement mis-classified
            # under the wrong mode is exactly the driver-materialization
            # trap the guard exists to block.
            esc = (
                spark.conf.get(
                    "spark.sql.parser.escapedStringLiterals", "false"
                ).lower()
                == "true"
            )
            if esc not in self._validated_modes:
                # scan with a LOCAL mode flag — the constructor-declared
                # mode stays immutable, so the guard's accept/reject
                # state never depends on call history; record success
                # only after every statement passed, so a failed scan on
                # a retried epoch re-rejects rather than being skipped
                for q in self.queries:
                    self._check_effect_only(q, escaped_string_literals=esc)
                self._validated_modes.add(esc)
            for q in self.queries:
                spark.sql(q).collect()
        elif self.fn is not None:
            self.fn(spark, epoch_id)


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
        # Per-epoch phase trace (r12 verdict #4): monotonic stamps +
        # in-batch phase splits, appended by _process_batch. Together
        # with the engine's own StreamingQueryProgress durationMs
        # (walCommit/commitOffsets/latestOffset/addBatch) this
        # decomposes the per-micro-batch fixed cost: the gap between
        # epoch N's exit and N+1's enter is engine-side (offset WAL,
        # source planning, commit log); the in-batch split shows where
        # addBatch's own time goes; ledger_wait_s is how long the batch
        # thread blocked on the concurrent ledger write. Bounded to the
        # same replay window as PipelineMetrics, so a long-lived stream
        # keeps O(1) trace state.
        self.epoch_trace: deque[dict] = deque(maxlen=self.metrics._recent_max)

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
        # 128-bit key as two seed-split xxhash64s — the repo's production
        # hash family (d03p): native, type-aware, null-safe, ~3x cheaper
        # than md5(to_json(struct(...))) per row (measured in the
        # --dedup ingest bench) and the ledger stores 16 bytes of longs
        # instead of a 32-char hex string. 128 bits keeps the
        # birthday-collision expectation < 3e-18 per pair — at 10^12
        # rows the chance of ONE wrongly-dropped row is ~3e-8. Built once
        # per pipeline: each Column call is a py4j round trip, and the
        # expression is the same every epoch.
        keys = [F.struct(*self.config.dedup_keys)]
        return F.struct(
            F.xxhash64(*keys).alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), *keys).alias("h2"),
        ).alias(self._DEDUP_COL)

    def _ledger_paths(self, epoch_id: int, root: str | None = None) -> list[str]:
        """Ledger dirs for epochs STRICTLY earlier than ``epoch_id`` —
        excluding the current epoch makes a retried/replayed epoch
        deduplicate against exactly the state its first attempt saw.
        Shared by the exact-digest ledger (default root) and the
        near-dup band ledger; both obey the same horizon."""
        if root is None:
            root = self._ledger_root
        if not os.path.isdir(root):
            return []
        epochs = []
        for name in os.listdir(root):
            if not name.startswith("epoch="):
                continue
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if e < epoch_id:
                epochs.append(e)
        epochs.sort()
        horizon = self.config.dedup_ledger_epochs
        if horizon is not None:
            # the horizon is relative to the CURRENT epoch, not to how
            # many ledger dirs exist, so a replayed epoch N sees the
            # same window its first attempt saw (D19 idempotence)
            epochs = [e for e in epochs if e >= epoch_id - horizon]
        return [os.path.join(root, f"epoch={e}") for e in epochs]

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
        import shutil

        cutoff = epoch_id - horizon
        if os.path.isdir(root):
            for name in os.listdir(root):
                if not name.startswith("epoch="):
                    continue
                try:
                    e = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if e < cutoff:
                    shutil.rmtree(
                        os.path.join(root, name), ignore_errors=True
                    )

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
        # Row id is the same two-seed 128-bit family as _digest: a lone
        # 64-bit xxhash64 colliding between a flagged near-dup and an
        # unrelated row in the batch would make the left_anti drop the
        # innocent row too. 128 bits puts that below 3e-18 per pair.
        allcols = F.struct(*[F.col(c) for c in df.columns])
        rid = F.struct(
            F.xxhash64(allcols).alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), allcols).alias("h2"),
        )
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
        from pyspark.sql import Observation

        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if self.config.sink_partitions:
            w = w.repartition(self.config.sink_partitions)
        # overwrite, not append: the target is this table's PER-EPOCH dir,
        # so overwrite makes the write idempotent under foreachBatch
        # retries and epoch replays after restart (exactly-once, D19).
        # Append here meant a retried epoch held the batch twice — and
        # with the raw-read-back strategy in _process_batch the doubled
        # raw rows then amplified into every derived sink.
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
        import time as _time

        from pyspark.sql import Observation

        _t_enter = _time.monotonic()
        _t_raw = _t_der = None

        # The consumed count (pre-decode input rows, D24) piggybacks on
        # the first sink job via an Observation BELOW the decode — a
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
        # Downstream-source strategy: with the raw sink ON, this epoch's
        # raw parquet IS the cache — decode runs exactly once (inside the
        # raw write) and norm/custom derive from a columnar, pruned,
        # shuffle-free read-back of the just-written files, the same
        # shape the batch ingest path uses. persist() of the decoded
        # rows (the previous strategy) materializes fat deserialized
        # rows a second time in executor memory and was the main
        # streaming-vs-batch throughput gap; it remains only as the
        # fallback when the raw sink is toggled off (D14) but derived
        # tables still need the batch more than once.
        derived_sinks = (self.normalizer is not None) + (
            len(self.custom.transforms) if self.custom is not None else 0
        )
        # the dedup ledger write is one more consumer of the decoded
        # batch (it derives from derived_src, so it rides the readback
        # when the raw sink is on)
        ledger_sinks = (1 if self.config.dedup_keys else 0) + (
            1 if self.config.neardup_col else 0
        )
        use_readback = self.config.write_raw and (derived_sinks + ledger_sinks) > 0
        decoded_consumers = int(self.config.write_raw) + (
            0 if use_readback else derived_sinks + ledger_sinks
        )
        to_unpersist = []
        if decoded_consumers > 1:
            decoded = decoded.persist()
            to_unpersist.append(decoded)
        ledger: Future | None = None
        _ledger_wait = 0.0
        try:
            raw_n = norm_n = custom_n = 0
            # (table, path, schema): the schema of what was written rides
            # along so every per-epoch re-read below is schema-pinned —
            # an unpinned read re-infers from parquet footers on the
            # driver each epoch (r13's readback finding, r14 applied to
            # the runner's view reads too)
            written: list[tuple[str, str, object]] = []

            if self.config.write_raw:
                p = self._epoch_dir(self.config.dest_table, epoch_id)
                raw_n = self._write(decoded, p, self.config.dest_table)
                written.append((self.config.dest_table, p, decoded.schema))
            _t_raw = _time.monotonic()

            # readback with the KNOWN schema (decoded's own) — schema
            # inference re-reads every epoch file's footer on the
            # driver before the first derived job can plan; with the
            # schema pinned the read is pure metadata (r13, measured
            # dominant per-epoch fixed term in STREAM_FIXED_COST).
            derived_src = (
                self.spark.read.schema(decoded.schema).parquet(written[0][1])
                if use_readback
                else decoded
            )
            # The ledgers record what actually landed, so they derive
            # from the landed raw files and run concurrently with the
            # derived sinks and the post-SQL. In the persist fallback
            # they start after the derived sinks: the first consumer of
            # a persisted frame must fill the cache alone, because the
            # consumed Observation counts only the partitions its own
            # job's tasks compute.
            if use_readback:
                ledger = self._start_ledgers(derived_src, epoch_id)

            if self.normalizer is not None:
                norm_table = f"{self.config.dest_table}_norm"
                p = self._epoch_dir(norm_table, epoch_id)
                norm_df = self.normalizer.apply(derived_src)
                norm_n = self._write(norm_df, p, norm_table)
                written.append((norm_table, p, norm_df.schema))

            if self.custom is not None:
                for table, df in self.custom.apply_all(derived_src).items():
                    p = self._epoch_dir(table, epoch_id)
                    custom_n += self._write(df, p, table)
                    written.append((table, p, df.schema))
            if not use_readback:
                ledger = self._start_ledgers(derived_src, epoch_id)
            _t_der = _time.monotonic()

            # D18: post-SQL over the *written* epoch output (the closed
            # file, not the in-flight batch) — true to DuckRunner.
            if self.runner is not None:
                for table, path, schema in written:
                    # schema-pinned: the file was just written from a
                    # frame whose schema we hold — inference would
                    # re-read every footer on the driver, per epoch.
                    # The raw table's view is the readback itself.
                    view = (
                        derived_src
                        if use_readback and path == written[0][1]
                        else self.spark.read.schema(schema).parquet(path)
                    )
                    view.createOrReplaceTempView(table)
                self.runner.run(self.spark, epoch_id)

            # the ledgers land before any path is deleted or published
            if ledger is not None:
                _t_wait = _time.monotonic()
                ledger.result()
                _ledger_wait = _time.monotonic() - _t_wait

            if self.runner is not None and self.runner.delete_on_done:
                import shutil

                for _, path, _schema in written:
                    shutil.rmtree(path, ignore_errors=True)

            for table, path, _schema in written:
                self._publish_path(path, epoch_id, table)
            # no sink materialized the batch (all stages toggled off):
            # count directly, else read the piggybacked observation (the
            # ledger write also fires it — it consumes the observed node)
            materialized = bool(written) or bool(
                self.config.dedup_keys or self.config.neardup_col
            )
            consumed = int(consumed_obs.get["n"]) if materialized else decoded.count()
            self.metrics.record_batch(epoch_id, consumed, raw_n, norm_n, custom_n)
        finally:
            if ledger is not None:
                # a failed epoch must not leave a ledger write racing
                # its retry; the epoch's own exception wins
                ledger.exception()
            for df in to_unpersist:
                df.unpersist()
            _t_exit = _time.monotonic()
            self.epoch_trace.append(
                {
                    "epoch": int(epoch_id),
                    "enter": _t_enter,
                    "exit": _t_exit,
                    "raw_s": round((_t_raw or _t_exit) - _t_enter, 3),
                    "derived_s": round(
                        (_t_der or _t_raw or _t_exit)
                        - (_t_raw or _t_exit),
                        3,
                    ),
                    "epilogue_s": round(
                        _t_exit - (_t_der or _t_raw or _t_exit), 3
                    ),
                    "ledger_wait_s": round(_ledger_wait, 3),
                }
            )

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
