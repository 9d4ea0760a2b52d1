"""Occupancy-driven auto-tuning for the LSH scale knobs: band WIDTH
(d07/sim10 ``bits``) and bucket SALT (d07 ``salt_buckets``, sim10
``salt_groups``) — and, at the end of the module, the banded sign-LSH
exchange both families run on (``_bucket_exchange``).

Two knobs, two failure modes (round-8 verdict #1):

- **salt** spreads a hot bucket with ZERO recall cost (the pair set
  is engine-tested identical at any S), but caps at MAX_SALT=16: a
  bucket bigger than target * 16 leaves sub-buckets over the
  per-task budget no matter the salt.
- **bits** bounds the BENIGN crowding term that drives buckets past
  that cap. With B sign bits per band there are 2^B buckets per
  band, so even a well-spread corpus packs ~N / 2^B vectors into
  its largest bucket — at fixed B=4 that grows LINEARLY with corpus
  size, and the pairs kernel's per-task verify work ((occ/S)^2 with
  S saturated at 16) turns quadratic past ~4-8M vectors
  (17,100 * 16 buckets * 16 salt ~= 4.4M). Cost: a wider band is a
  STRICTER collision filter, so candidate recall drops for
  genuinely-similar pairs whose extra sign bits disagree — measured
  -44%/-67% pairs at +2/+4 bits on the clustered probe corpus
  (SCALE_PROBE_BITS_250K.json); raise ``bands`` to buy recall back
  (classic LSH bands-vs-width trade).

The choosers are therefore SALT-FIRST: ``choose_band_bits`` picks
the smallest B with N / 2^B <= target * max_salt (one driver-side
count, no extra job over the data), clamped to
[min_bits, dim // bands] — i.e. width engages exactly where salt
saturates, and occupancy stays bounded at any corpus size the
embedding dim can address (dim 64, 4 bands -> B <= 16 -> 65,536
buckets/band: ~1.5k benign occupancy at 100M vectors).
``choose_band_bits_measured`` hardens the analytic guess: measure
real occupancy (one narrow agg), escalate B only while the hottest
bucket both exceeds the salt budget AND demonstrably shrinks with
width — when occupancy stops responding to bits, the residual is
near-identical cluster mass and the salt chooser (below) takes over.

The round-6 probes showed fixed band bits + a hand-picked salt is the
wrong production interface: the right salt depends on the corpus's
bucket occupancy (a clustered corpus concentrates mass in few
signatures; with B sign bits per band there are only 2^B buckets per
band, so max occupancy ~= N / 2^B even for benign corpora once N is
large). ``choose_salt`` replaces the manual pick with one cheap
aggregation over the banded frame:

    S = clamp(ceil(max_bucket_occupancy / target_rows), 1, max_salt)

``target_rows`` is the largest sub-bucket SIDE a single verify task
should face: per-task work after salting is ~(occ/S)^2 <= target^2
cosine terms. The defaults are MEASURED optima on the scale-probe
generator (tools/scale_probe.py), not the round-6 manual picks —
where they differ, the probes show the chooser's pick ties or beats
the manual one:

- d07 (all verified pairs emitted): total verify work is
  salt-INVARIANT (the triangle decomposition repartitions, never
  shrinks, the pair work), so the right S is the SMALLEST one giving
  adequate spread — extra salt only buys replication cost. Target
  17,100 -> S=2 at the 250k probe (occ 17,376: measured 23.4 s, a
  TIE with the manual salt-4's 23.5 s, vs 65.3 s unsalted) and S=4
  at 1M (occ 68,086: the measured-best 339.7 s, where the earlier
  5,000-row target's S=14 paid 410.7 s in 14x band replication —
  identical 563M-pair output, SCALE_PROBE_D07_AUTO_*.json).
- sim10 (top-k kernel: emission capped at k per member per band, a
  finer spread pays at every measured scale): the OCCUPANCY rule is
  the wrong model here — salt 6 wins at BOTH probe scales (250k: 45.7
  s vs 83 s for the occupancy rule's S=2; 1M: 1110 s) — so sim10 uses
  ``choose_salt_topk``: SIM10_TARGET_ROWS (12,000) is only the ENGAGE
  gate, and S is sized by the CLUSTER (smallest S with
  hot_buckets * S(S+1)/2 >= 40 * cores sub-bucket tasks), which
  reproduces the measured-best S=6 on the probe corpora at 32 cores
  and scales S with the hardware in production.

The d07 value is a two-point fit (S=2 at occ 17,376 AND S=4 at occ
68,086 pin the target to [17,022, 17,375]); treat it as "sub-bucket
sides up to ~17k are one task's worth of pairs work", not a magic
constant — the measured surface is flat around it (23.44 vs 23.47 s
for S=2 vs S=4 at 250k).

Cost of auto mode: ONE extra narrow aggregation over (band, sig) —
column pruning drops the vector payload from that scan, partial
aggregation reduces it map-side to <= 2^B rows per band per task, and
the result is a single scalar. The collect is a plan-control decision
made once before the expensive exchange (the same runtime-statistics
pattern AQE applies inside a stage); the chosen S is deterministic for
a given corpus, so reruns plan identically. Output equality with any
manual salt (including S=1) is the existing engine-tested invariant —
the chooser only picks WHICH identical-output plan runs.

Reference analog: none — the reference has no ANN/LSH surface; this
tunes the extension operators' scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# largest verify-task side per operator family (see module docstring)
D07_TARGET_ROWS = 17_100
SIM10_TARGET_ROWS = 12_000
# band-width floor: 4 bits = the registered fixture-scale default
# (16 buckets/band); the chooser never narrows below it
MIN_BAND_BITS = 4
# Salt ceiling — measured, not asserted (SCALE_PROBE_SIM10_SALTCURVE
# .json, r8): past the saturated optimum the top-k kernel's wall time
# is pure band-replication + sub-bucket scheduling cost, rising +12%
# at S=11 and +18% at S=16 over S=6, then a KNEE (~2.1x at S=24/32 —
# 133.0/128.2 s vs 63.3 s at 250k vectors, identical output). 16 sits
# just before the knee, and it never de-saturates a cluster: even the
# engage gate's minimum hot-bucket shape (64) yields 64*136 = 8,704
# sub-bucket tasks >= 4 per core at 2,048 cores — only the
# 40-tasks/core smoothing headroom is shaved, and real cluster-scale
# corpora carry far more hot buckets, which restores it (64x cores
# with 64x hot buckets re-picks the measured S=6). Callers with a
# measured flatter curve on their corpus can raise max_salt per-call.
MAX_SALT = 16


def sign_band_cols(
    bits: int, bands: int, col: str = "embedding"
) -> list[F.Column]:
    """The d07/sim10 deterministic sign-LSH band family, width-
    parameterized: band b is the concatenation of ``bits`` '0'/'1'
    sign characters of dims [b*bits+1 .. (b+1)*bits] (1-based, the
    leading bands*bits dims feed the bands). Axis-aligned projections
    — no shared RNG, so any engine (the DuckDB oracle included)
    replicates the bucketing exactly. try_element_at, not element_at:
    ANSI mode throws on out-of-range while the oracle's CASE on
    embedding[k] yields NULL -> '0'; try_ gives the same degradation.
    Shared by dedup._cosine_lsh_pairs and similarity.knn_edges so the
    two kernels can never drift on band construction."""
    # one F.expr per band (vs ~6 py4j round trips per BIT for the
    # composed-Column form — pure build-time, the parsed tree is
    # identical; r13)
    def _band(b: int) -> str:
        bits_sql = ", ".join(
            f"CASE WHEN try_element_at({col}, {b * bits + k + 1}) > 0"
            " THEN '1' ELSE '0' END"
            for k in range(bits)
        )
        return f"concat({bits_sql})"

    return [F.expr(_band(b)).alias(f"band{b}") for b in range(bands)]


def sign_band_sql(
    bits: int,
    bands: int,
    src: str = "embeddings",
    where: str = "",
    col: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`sign_band_cols`: a UNION ALL of one
    (vec_id, band, sig) select per band — the oracle half of the
    width-parameterized band family, so parity is checkable at ANY
    (bits, bands), not only the registered 4-bit x 4-band default.
    ``col`` names the vector column (matching sign_band_cols' col
    argument) so a non-default ``src`` whose embedding column differs
    still renders correct SQL."""
    selects = []
    for b in range(bands):
        chars = " || ".join(
            f"(CASE WHEN {col}[{b * bits + k + 1}] > 0 "
            "THEN '1' ELSE '0' END)"
            for k in range(bits)
        )
        selects.append(
            f"SELECT vec_id, {b} AS band, ({chars}) AS sig FROM {src}{where}"
        )
    return " UNION ALL ".join(selects)


def choose_band_bits(
    n_vectors: int,
    *,
    dim: int,
    bands: int,
    target_rows: int = D07_TARGET_ROWS,
    min_bits: int = MIN_BAND_BITS,
    max_salt: int = MAX_SALT,
) -> int:
    """Smallest band width B whose benign-corpus occupancy model
    N / 2^B stays inside what the SALT knob can still spread:
    target_rows * max_salt. Salt-first by design — salting splits a
    hot bucket with ZERO recall cost (the pair set is engine-tested
    identical), while every extra sign bit is a stricter collision
    filter that drops genuine candidates (measured: -44% pairs at
    +2 bits on the clustered probe corpus,
    SCALE_PROBE_BITS_250K.json). So width engages only
    where salt SATURATES: occ/max_salt > target means even the
    max-salted sub-buckets exceed the per-task budget — at the
    4-bit floor that is N > 17,100 * 16 * 16 ~= 4.4M vectors,
    exactly the 4-8M blow-up region the fixed width hits. Clamped to
    [min_bits, dim // bands] (bands consume the leading bands*B
    dims). Pure arithmetic on the corpus count — no Spark job;
    deterministic, so reruns plan identically. The model is exact
    for sign-balanced corpora and an UNDER-estimate for clustered
    ones — fine, because the residual is cluster mass that more bits
    cannot split anyway (the measured escalation below stops on it)."""
    max_bits = max(int(min_bits), int(dim) // max(1, int(bands)))
    budget = target_rows * max(1, int(max_salt))
    b = int(min_bits)
    while b < max_bits and n_vectors > budget * (1 << b):
        b += 1
    return b


def choose_band_bits_measured(
    bands_builder,
    n_vectors: int,
    *,
    dim: int,
    bands: int,
    target_rows: int = D07_TARGET_ROWS,
    min_bits: int = MIN_BAND_BITS,
    max_salt: int = MAX_SALT,
    keys: tuple[str, ...] = ("band", "sig"),
) -> tuple[int, int]:
    """Occupancy-adaptive band width: start at the analytic
    :func:`choose_band_bits` guess, MEASURE the real max bucket
    occupancy (one narrow (band, sig) count agg — column pruning
    drops the vector payload), and escalate B only while the hottest
    bucket both EXCEEDS the salt knob's spreading budget
    (target_rows * max_salt — salt-first, see choose_band_bits: salt
    splits with zero recall cost, so occupancy it can absorb never
    justifies a stricter collision filter) and demonstrably SHRINKS
    with width. Returns (bits, occ) so the caller can hand the final
    measured occupancy straight to the salt chooser without a second
    agg.

    Escalation rule: while occ > target * max_salt and B < dim //
    bands, add ceil(log2(occ / (target * max_salt))) bits — the
    benign model's prediction of the needed split — and re-measure.
    The commit criterion SCALES WITH THE STEP (advisor r9: a flat
    <25% bound let a multi-bit jump commit several bits of recall
    for one bit's worth of relief): an s-bit jump commits only if
    occ shrinks below 0.75 * occ / 2^(s-1) — i.e. every added bit
    beyond the first must fully halve the bucket, and the first
    needs the original 25% (a benign split shrinks by 2^s and always
    passes). A multi-bit jump that under-delivers falls back to ONE
    re-measured bit before stopping, so useful leading bits of a
    partly-splittable bucket aren't discarded with the jump. STOP
    when a single bit fails the 25% bound: sign bits that no longer
    split the bucket mean its mass is near-identical vectors (they
    agree on every dim's sign), which no width can separate; stay at
    the narrower width (recall is the scarce resource) and let salt
    spread the residual. Expected measurements: 1 for benign corpora
    (the analytic guess lands), 2-4 for clustered ones — each a
    cheap aggregation, the same runtime-statistics pattern AQE
    applies.

    ``bands_builder(bits)`` must return the banded frame at that
    width; determinism of the result follows from determinism of the
    corpus (no RNG anywhere in the family)."""
    max_bits = max(int(min_bits), int(dim) // max(1, int(bands)))
    budget = target_rows * max(1, int(max_salt))
    b = choose_band_bits(
        n_vectors,
        dim=dim,
        bands=bands,
        target_rows=target_rows,
        min_bits=min_bits,
        max_salt=max_salt,
    )
    # Memoize measured occupancy per width: after a multi-bit jump
    # under-delivers and the single-bit fallback commits, the next
    # iteration re-derives essentially the same jump — without the
    # cache that re-runs an identical max-occupancy aggregation per
    # committed bit on a partly-splittable bucket (advisor r10).
    measured: dict[int, int] = {}

    def _occ(bits: int) -> int:
        if bits not in measured:
            measured[bits] = max_bucket_occupancy(bands_builder(bits), keys)
        return measured[bits]

    occ = _occ(b)
    while occ > budget and b < max_bits:
        # smallest s with occ / 2^s <= budget — the benign model's
        # prediction of how many extra bits this bucket needs
        step = 1
        while (occ >> step) > budget:
            step += 1
        nb = min(max_bits, b + step)
        step = nb - b
        nocc = _occ(nb)
        if nocc * (1 << (step - 1)) > 0.75 * occ:
            # the jump under-delivered against the step-scaled bound
            # (every bit beyond the first must halve the bucket; the
            # first needs >= 25% shrink — benign splits always pass).
            # Before concluding width stopped helping, probe a SINGLE
            # bit: a partly-splittable bucket can justify its leading
            # bits even when the full jump doesn't.
            if step > 1:
                nb = b + 1
                nocc = _occ(nb)
            if nocc > 0.75 * occ:
                # width stopped helping -> the hot mass is near-
                # identical vectors; stay at the NARROWER width and
                # let salt spread the residual
                return b, occ
        b, occ = nb, nocc
    return b, occ


def collision_p(threshold: float) -> float:
    """Per-projection sign-agreement probability for a pair at cosine
    exactly ``threshold`` under the random-hyperplane model (Charikar
    2002, SimHash): p = 1 - arccos(cos) / pi. The band family's
    projections are axis-aligned rather than random — on normalized
    embeddings with no preferred axes this is the standard
    approximation, and taking p AT the verify threshold makes it the
    conservative floor (every pair the operator can emit has cosine
    >= threshold, hence per-bit agreement >= p)."""
    import math

    return 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi


def bands_for_recall(
    bits: int,
    *,
    dim: int,
    threshold: float,
    base_bits: int = MIN_BAND_BITS,
    base_bands: int = 4,
) -> int:
    """Smallest band count L at width ``bits`` whose analytic sign-LSH
    recall floor 1 - (1 - p^bits)^L matches the BASE family's
    1 - (1 - p^base_bits)^base_bands — the bands-for-recall half of
    the classic LSH trade, so widening for occupancy doesn't silently
    shrink the candidate set. Capped at dim // bits (the bands consume
    the leading bands*bits dims); at 64 dims the cap binds above ~5
    bits and the returned family under-recovers — production
    embedding dims (768+) leave far more headroom. Measured recovery
    at the fixture dim: the capped pick at 6 bits (10 bands) emits
    97.0% of the 4-bit pair set vs 56% at 4 bands
    (SCALE_PROBE_BITS_250K_RECOVERY.json), and restores the 4-bit
    family's driver-hashed certification level (d07wx vs d07x, both
    at the 0.40 recall-vs-d05 gate).
    Cost model for the caller: shuffle volume scales linearly with L
    (each vector rides the exchange L times) — linear replication
    instead of quadratic verify."""
    p = collision_p(threshold)
    base = 1.0 - (1.0 - p ** base_bits) ** base_bands
    cap = max(1, int(dim) // max(1, int(bits)))
    # clamp the starting point too: base_bands can itself exceed the
    # cap at this width (e.g. 4 base bands at 8 bits on 16-dim
    # embeddings), and bands beyond dim//bits hash only out-of-range
    # dims — every vector lands in one '000...' bucket per such band
    L = max(1, min(int(base_bands), cap))
    while L < cap and 1.0 - (1.0 - p ** bits) ** L < base:
        L += 1
    return L


def max_bucket_occupancy(
    bands: DataFrame, keys: tuple[str, ...] = ("band", "sig")
) -> int:
    """Largest (band, sig) bucket in the banded frame — the quantity
    that decides the single-task ceiling. One narrow two-level agg;
    returns 0 for an empty frame."""
    row = (
        bands.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"))
        .collect()[0]
    )
    return int(row["mx"] or 0)


def salt_for_occupancy(
    occ: int, target_rows: int, max_salt: int = MAX_SALT
) -> int:
    """The d07 salt rule on an ALREADY-measured occupancy:
    S = clamp(ceil(occ / target), 1, max_salt). Split out so the
    auto-bits path can reuse its final occupancy measurement instead
    of paying a second (band, sig) agg."""
    if occ <= target_rows:
        return 1
    return max(1, min(int(max_salt), -(-occ // int(target_rows))))


def choose_salt(
    bands: DataFrame,
    target_rows: int,
    max_salt: int = MAX_SALT,
    keys: tuple[str, ...] = ("band", "sig"),
) -> int:
    """Pick the salt S for the banded frame (see module docstring).
    S=1 (no salting, no replication cost) whenever every bucket fits a
    single task's budget."""
    return salt_for_occupancy(
        max_bucket_occupancy(bands, keys), target_rows, max_salt
    )


def choose_salt_topk(
    bands: DataFrame,
    gate_rows: int,
    cores: int,
    tasks_per_core: int = 40,
    max_salt: int = MAX_SALT,
    keys: tuple[str, ...] = ("band", "sig"),
) -> int:
    """Cores-aware chooser for the TOP-K kernel family (sim10).

    Measured (SCALE_PROBE_SIM10_*.json): the top-k kernel's optimal
    salt is ~invariant in bucket occupancy — salt 6 wins at BOTH 250k
    (occ 17,376: 45.7 s vs 83 s at the linear rule's S=2) and 1M (occ
    68,086: 1110 s) on 32 cores — because a sub-bucket's selection
    work shrinks with its side while the task count S(S+1)/2 grows,
    so the right question is "how many sub-bucket tasks do the hot
    buckets need to saturate the cluster", not "how big is a bucket".
    One agg pass returns max occupancy (the engage gate) and the hot
    bucket count; S is the smallest salt giving
    ``hot_buckets * S(S+1)/2 >= tasks_per_core * cores`` sub-bucket
    tasks (tasks_per_core=40 reproduces the measured-best S=6 on the
    probe corpora: 64 hot buckets, 32 cores -> need 20 pairs/bucket).
    On a 1000-executor cluster ``cores`` is the cluster parallelism,
    so S scales with the hardware — the correct production behavior
    for a kernel whose spread, not per-task volume, is the binding
    constraint. S=1 whenever no bucket exceeds ``gate_rows``."""
    row = (
        bands.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.max("c").alias("mx"),
            F.sum(
                F.when(F.col("c") > gate_rows, F.lit(1)).otherwise(F.lit(0))
            ).alias("hot"),
        )
        .collect()[0]
    )
    occ, hot = int(row["mx"] or 0), int(row["hot"] or 0)
    if occ <= gate_rows or hot == 0:
        return 1
    need = tasks_per_core * cores / hot
    s = 1
    while s < int(max_salt) and s * (s + 1) / 2 < need:
        s += 1
    return s


# --------------------------------------------------------------------------
# The banded sign-LSH exchange shared by d07 (dedup._cosine_lsh_pairs)
# and sim10 (similarity.knn_edges); each family supplies only its
# per-bucket block and its salt rule.


def _banded(frame: DataFrame, payload: str, bits: int, bands: int) -> DataFrame:
    """``frame``'s (vec_id, embedding) rows banded at (bits, bands):
    one row per (vector, band) with columns vec_id, embedding, sigs,
    band, sig — the full signature array rides along for d07's
    min-band dedup (sim10 projects it away, which prunes it from the
    exchange). With ``payload="int8"`` the shipped ``embedding`` is
    the int8 quantization (see :func:`_bucket_exchange`); sigs always
    hash the float column."""
    ship = F.col("embedding")
    if payload == "int8":
        from quacfka_spark.functions.vector import with_int8_embedding

        frame, ship = with_int8_embedding(frame), F.col("q8")
    return frame.select(
        "vec_id",
        ship.alias("__emb"),
        F.array(*sign_band_cols(bits, bands)).alias("sigs"),
    ).withColumnRenamed("__emb", "embedding").select(
        "vec_id", "embedding", "sigs",
        F.posexplode_outer(F.col("sigs")).alias("band", "sig"),
    )


def _measured_width(
    frame: DataFrame,
    bits: int,
    bands: int,
    target_rows: int,
    *,
    auto: bool,
    salt: int,
) -> tuple[int, int | None, int | None]:
    """The auto_bits step: one narrow (count, dim) agg, then
    :func:`choose_band_bits_measured` on the float banded face with
    the caller's ``bits`` as the floor. Returns (bits, occ, dim);
    occ/dim are None on an empty corpus (bits unchanged)."""
    n_vecs, dim = frame.agg(
        F.count(F.lit(1)), F.min(F.size("embedding"))
    ).first()
    if not (n_vecs and dim):
        return bits, None, None
    bits, occ = choose_band_bits_measured(
        lambda b: _banded(frame, "float32", b, bands),
        int(n_vecs),
        dim=int(dim),
        bands=bands,
        target_rows=target_rows,
        min_bits=bits,
        # the spreading budget of the salt plan that actually runs: a
        # manual salt must not widen the budget with spreading that
        # never engages (hot buckets would stay unsplit AND unsalted)
        max_salt=MAX_SALT if auto else max(1, int(salt)),
    )
    return bits, occ, int(dim)


def _bucket_kernel(block):
    """applyInArrow function over one (band, sig) bucket or one
    (band, sig, pa, pb) salted sub-bucket. Loads ids and the cosine-
    prepared matrix once, then calls ``block(tbl, band, x, y,
    self_pairs)`` with sides x/y = (ids, mat, norms, rows): the whole
    bucket against itself on an unsalted key or a diagonal pa == pb,
    else the pa-salt rows against the pb-salt rows. ``block`` returns
    lists of (i, j, cos) arrays."""

    def kernel(key, tbl):
        import numpy as np

        from quacfka_spark.operators.arrowkit import (
            cosine_prep, list_matrix, np_col, pairs_table,
        )

        band = key[0].as_py()  # applyInArrow keys are pyarrow scalars
        ids = np_col(tbl, "vec_id")
        # dtype=None keeps the stored payload (float32 or int8);
        # cosine_prep normalizes floats up front / keeps int8 for the
        # exact-SGEMM normalize-after path — see arrowkit
        mat, nrm = cosine_prep(list_matrix(tbl, "embedding", dtype=None))
        if len(key) == 2 or key[2].as_py() == key[3].as_py():
            if len(ids) < 2:
                return pairs_table()
            whole = (ids, mat, nrm, slice(None))
            oi, oj, oc = block(tbl, band, whole, whole, True)
        else:
            slt = np_col(tbl, "slt")
            x, y = (
                (ids[m], mat[m], None if nrm is None else nrm[m], m)
                for m in (slt == key[2].as_py(), slt == key[3].as_py())
            )
            if not len(x[0]) or not len(y[0]):
                return pairs_table()
            oi, oj, oc = block(tbl, band, x, y, False)
        if not oi:
            return pairs_table()
        return pairs_table(
            np.concatenate(oi), np.concatenate(oj), np.concatenate(oc)
        )

    return kernel


def _bucket_exchange(banded: DataFrame, salt: int, block) -> DataFrame:
    """The one (band, sig) exchange of the cosine LSH families: every
    banded row shuffles to its bucket, and ``block`` verifies the
    bucket in numpy (see :func:`_bucket_kernel`). Returns (i, j, cos)
    rows, unrounded.

    Shared mechanism — stated once for d07 and sim10:

    - **Salting invariant.** ``salt`` S > 1 splits hot buckets: each
      vector draws a deterministic salt xxhash64(vec_id) mod S and
      replicates to the S salt-PAIR sub-buckets (pa <= pb) it belongs
      to — the d05 triangle decomposition inside a bucket. Every
      unordered pair meets in exactly ONE (band, sig, pa, pb) sub-
      bucket, so the candidate set (and each family's dedup) is
      identical to the unsalted plan (engine-tested set equality at
      any S), while per-task verify work drops to ~(bucket/S)^2 over
      S(S+1)/2 tasks. Cost: each banded row is exchanged S times.
    - **Salt-first width.** Width (``bits``) is the occupancy knob
      salt is not: at B bits a benign corpus packs ~N/2^B vectors into
      its hottest bucket, so fixed B=4 with MAX_SALT=16 turns
      quadratic past ~4-8M vectors. The auto_bits chooser
      (:func:`_measured_width`) widens only where the recall-free salt
      saturates (hottest bucket > target * MAX_SALT), measuring real
      occupancy before each escalation; unlike salt, width changes
      the CANDIDATE set (a stricter collision filter — recall trade
      measured in SCALE_PROBE_BITS_*.json), so non-default widths have
      their own width-matched oracles (d07w, sim10w). Choosers always
      run on the float banded face: the quantizer is a column-pruning
      barrier, and occupancy depends only on the sigs.
    - **int8 payload.** ``verify_payload="int8"`` ships
      round(127 * x / ||v||) as array<tinyint> (4x fewer bytes per
      banded replica — the term salting multiplies by S) from one
      vectorized Arrow pass (functions/vector.with_int8_embedding)
      before banding, while sigs keep hashing the float32 signs — the
      candidate set is identical at any payload; only the verify
      cosine moves, by <= ~2*sqrt(dim)/127. In-kernel the int8 dots
      are exact integers on the SGEMM path and normalize-after
      matches DuckDB's list_cosine_similarity op for op
      (arrowkit.cosine_prep), so the quantized keys (d07q, sim10q)
      hash-match exact oracles. Zero-norm vectors yield NaN cosines
      and never verify under either payload. Measured: the 4.5M
      S=16 d07 row that died on float (~115 GB band-exchange
      scratch) completes with int8 at 20.3 GB shuffle write
      (SCALE_PROBE_D07_INT8_5M.json); sim10's 1M clustered exchange
      drops 4.98 -> 2.01 GB at +7.5% wall, its kernel being
      selection-dominated (SCALE_PROBE_SIM10_INT8_1M.json)."""
    S = int(salt)
    kernel = _bucket_kernel(block)
    schema = "i bigint, j bigint, cos double"
    if S <= 1:
        return banded.groupBy("band", "sig").applyInArrow(kernel, schema=schema)
    cols = banded.columns
    pair_structs = [
        F.struct(
            F.least(F.col("slt"), F.lit(y)).alias("pa"),
            F.greatest(F.col("slt"), F.lit(y)).alias("pb"),
        )
        for y in range(S)
    ]
    rep = (
        banded.withColumn("slt", F.pmod(F.xxhash64("vec_id"), F.lit(S)))
        .select(*cols, "slt", F.explode(F.array(*pair_structs)).alias("p"))
        .select(*cols, "slt", F.col("p.pa"), F.col("p.pb"))
    )
    return rep.groupBy("band", "sig", "pa", "pb").applyInArrow(
        kernel, schema=schema
    )
