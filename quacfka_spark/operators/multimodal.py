"""Multimodal (binary-payload) column operators over ``documents``.

North-star LLM-data-pipeline surface: image/audio/video payloads are
opaque ``binary`` columns with typed metadata — exactly the reference's
data model for messages (opaque ``[]byte``, /root/reference/kafka.go:151)
promoted to a first-class column. The fixtures carry no real media, so
the payload is the utf-8 encoding of ``text`` and the "decode" is a
deterministic fake; the Spark-side plumbing (binary schema, Arrow-batched
``mapInPandas``, frame slicing, batch shapes) is real and oracle-checked.

Scale design (100 TB): payloads never leave the executor — metadata
extraction is codegen expressions; decode/feature-extract is
``mapInPandas`` over Arrow batches (one Python roundtrip per ~10k-row
batch, not per row); frame sampling explodes bounded slices, never whole
payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quacfka_spark.catalog import load_views
from quacfka_spark.plans.spread import spread_for_cpu
from quacfka_spark.registry import query

_FRAME_BYTES = 16
_FRAME_STRIDE = 4


def _fanout(df: DataFrame) -> DataFrame:
    """Spread a Python-UDF stage across the cluster when the source has
    fewer splits than cores (single-file fixtures, tiny topics): a
    mapInPandas over one input file otherwise runs in ONE task (the t08
    lesson). Conditional on purpose — at real scale input files >> cores
    and an unconditional repartition would shuffle every payload byte
    for nothing. Decision is file-count metadata (plans/spread.py), not
    df.rdd.getNumPartitions(), which eagerly built the RDD plan per call."""
    return spread_for_cpu(df)


def _with_payload(t: dict) -> DataFrame:
    """documents + binary payload column (utf-8 bytes of text)."""
    return t["documents"].select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )


def decode_image(payload: bytes) -> dict:
    """Real image decode — STUB.

    The image/audio libraries are not available in this container; a
    production deployment plugs Pillow/torchvision/ffmpeg in here. The
    pipeline-facing contract (bytes in, typed metadata dict out) is what
    ``m02_feature_extract`` exercises with a deterministic fake.
    """
    raise NotImplementedError("media codecs not available in this environment")


# --------------------------------------------------------------------------
@query(
    "m01_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nbytes,
           substr(hex(CAST(text AS BLOB)), 1, 16) AS hdr_hex
    FROM documents ORDER BY doc_id
    """,
    doc="Typed metadata over an opaque binary column: byte length + "
    "8-byte header hex (magic-number sniffing shape). Pure codegen.",
)
def m01_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_views(spark, sf_dir)
    return (
        _with_payload(t)
        .select(
            "doc_id",
            F.octet_length("payload").cast("bigint").alias("nbytes"),
            F.substring(F.hex(F.col("payload")), 1, 16).alias("hdr_hex"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
_M02_SCHEMA = "doc_id bigint, width bigint, height bigint, checksum bigint"


def _fake_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake decoder standing in for ``decode_image``:
    width/height from the first two payload bytes, checksum = byte sum
    mod 9973. Operates on whole Arrow batches — the real decoder slots
    in with the same signature."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [int(p[0]) for p in payloads],
                "height": [int(p[1]) for p in payloads],
                "checksum": [int(sum(p) % 9973) for p in payloads],
            }
        )


@query(
    "m02_feature_extract",
    oracle="""
    SELECT doc_id,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS width,
           CAST(ascii(substr(text, 2, 1)) AS BIGINT) AS height,
           CAST(list_sum(list_transform(regexp_extract_all(text, '[\\s\\S]'),
                                        c -> ascii(c))) % 9973 AS BIGINT) AS checksum
    FROM documents ORDER BY doc_id
    """,
    doc="mapInPandas decode/feature-extract over Arrow batches of binary "
    "payloads (deterministic fake decoder; real codec is a drop-in, see "
    "decode_image stub). Oracle recomputes the fake in SQL byte math.",
)
def m02_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_views(spark, sf_dir)
    return (
        _fanout(_with_payload(t))
        .mapInPandas(_fake_decode_batches, schema=_M02_SCHEMA)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
@query(
    "m03_frame_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
             octet_length(CAST(text AS BLOB)) // {_FRAME_BYTES} AS nf
      FROM documents),
    f AS (
      SELECT doc_id, hx, unnest(range(0, nf, {_FRAME_STRIDE})) AS fi
      FROM h WHERE nf > 0)
    SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
           substr(hx, CAST(fi AS INTEGER) * {_FRAME_BYTES * 2} + 1,
                  {_FRAME_BYTES * 2}) AS frame_hex
    FROM f ORDER BY doc_id, frame_idx
    """,
    doc=f"Video-style frame sampling: treat the payload as {_FRAME_BYTES}"
    "-byte frames, emit every "
    f"{_FRAME_STRIDE}th frame as hex. Explodes bounded slices via "
    "sequence+posexplode — payload bytes themselves never fan out.",
)
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_views(spark, sf_dir)
    hx = _with_payload(t).select(
        "doc_id",
        F.hex(F.col("payload")).alias("hx"),
        F.floor(F.octet_length("payload") / _FRAME_BYTES).cast("int").alias("nf"),
    )
    frames = hx.filter(F.col("nf") > 0).select(
        "doc_id",
        "hx",
        F.explode(
            F.sequence(F.lit(0), F.col("nf") - 1, F.lit(_FRAME_STRIDE))
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("hx")
        .substr(F.col("frame_idx") * (_FRAME_BYTES * 2) + 1, F.lit(_FRAME_BYTES * 2))
        .alias("frame_hex"),
    ).orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------------
# m04 — modality routing by magic-number sniffing
_MAGICS = (("89504E47", "image_png"), ("FFD8FF", "image_jpeg"), ("52494646", "audio_riff"))


@query(
    "m04_modality_route",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN from_hex('89504E47')
               WHEN 1 THEN from_hex('FFD8FF')
               ELSE from_hex('52494646') END || CAST(text AS BLOB) AS payload
      FROM documents),
    c AS (
      SELECT doc_id,
             CASE WHEN substr(hex(payload), 1, 8) = '89504E47' THEN 'image_png'
                  WHEN substr(hex(payload), 1, 6) = 'FFD8FF' THEN 'image_jpeg'
                  WHEN substr(hex(payload), 1, 8) = '52494646' THEN 'audio_riff'
                  ELSE 'unknown' END AS modality,
             octet_length(payload) AS nbytes
      FROM p)
    SELECT modality, COUNT(*) AS n, CAST(SUM(nbytes) AS BIGINT) AS total_bytes
    FROM c GROUP BY modality ORDER BY modality
    """,
    doc="Modality routing: classify opaque binary payloads by magic "
    "number (PNG/JPEG/RIFF) and aggregate per modality — the dispatch "
    "step before per-modality decode in a multimodal pipeline. The "
    "fixture carries no real media, so headers are synthesized "
    "deterministically (doc_id %% 3) with REAL magic bytes and the "
    "sniffing logic is genuine: hex-prefix CASE, pure codegen, one "
    "aggregation shuffle of 3 modality rows. At 100 TB the CASE "
    "becomes the partition key for per-modality decode stages.",
)
def m04_modality_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_views(spark, sf_dir)
    hdr = (
        F.when(F.col("doc_id") % 3 == 0, F.unhex(F.lit("89504E47")))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit("FFD8FF")))
        .otherwise(F.unhex(F.lit("52494646")))
    )
    p = t["documents"].select(
        "doc_id", F.concat(hdr, F.encode("text", "utf-8")).alias("payload")
    )
    h = F.hex(F.col("payload"))
    modality = (
        F.when(F.substring(h, 1, 8) == "89504E47", "image_png")
        .when(F.substring(h, 1, 6) == "FFD8FF", "image_jpeg")
        .when(F.substring(h, 1, 8) == "52494646", "audio_riff")
        .otherwise("unknown")
    )
    return (
        p.select(modality.alias("modality"), F.octet_length("payload").alias("nbytes"))
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nbytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("modality")
    )


# --------------------------------------------------------------------------
# m05: binary near-dup via piecewise digests — the media-dedup stage of
# a multimodal pipeline. Forensic-style block hashing (the ssdeep/CTPH
# idea reduced to fixed blocks): digest 4 fixed slices of each payload,
# candidate-pair on any shared slice digest, near-dup when >=3 of 4
# slices agree; exact flags byte-identical payloads. Works on OPAQUE
# bytes — no decode, so it applies to any modality before codecs run.
_M05_PIECES = 4
_M05_PIECE_HEX = 64  # hex chars per slice = 32 bytes
_M05_MIN_SHARED = 3


@query(
    "m05_binary_piecewise_dedup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS h FROM documents),
    pieces AS (
      SELECT doc_id, md5(h) AS full_md5, t.i,
             substr(h, CAST(t.i AS INTEGER) * {_M05_PIECE_HEX} + 1,
                    {_M05_PIECE_HEX}) AS pc
      FROM p, range({_M05_PIECES}) t(i)),
    np AS (SELECT doc_id, full_md5, i, md5(pc) AS pmd5
           FROM pieces WHERE pc <> ''),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             (a.full_md5 = b.full_md5) AS exact
      FROM np a JOIN np b
        ON a.i = b.i AND a.pmd5 = b.pmd5 AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 4)
    SELECT i, j, n_shared, exact FROM pairs
    WHERE n_shared >= {_M05_MIN_SHARED}
    ORDER BY i, j
    """,
    doc="Binary near-dup pairs via piecewise digests: 4 fixed 32-byte "
    "slices per payload, md5 each, pair on shared slice digests, keep "
    "pairs agreeing on >= 3 slices; exact marks byte-identical "
    "payloads. Opaque-bytes dedup — runs before any codec.",
)
def m05_binary_piecewise_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale design (100 TB of media): the payload never shuffles — the
    projection reduces each blob to 4 slice digests + one full digest
    (~80 bytes/row), the self-join is HASH-keyed on (slice_idx, digest)
    with fan-out bounded by digest-collision group size (true dup
    clusters), and the pair group-by carries ids only. Same shuffle
    discipline as d03's bands, applied to binary content. Empty slices
    (payloads shorter than a slice boundary) are dropped before the
    join so short blobs can't pair on shared emptiness."""
    t = load_views(spark, sf_dir)
    h = F.hex(F.col("payload"))
    base = _fanout(_with_payload(t)).select(
        "doc_id",
        F.md5(h).alias("full_md5"),
        F.posexplode(
            F.array(
                *[
                    F.substring(h, i * _M05_PIECE_HEX + 1, _M05_PIECE_HEX)
                    for i in range(_M05_PIECES)
                ]
            )
        ).alias("i_piece", "pc"),
    )
    np_ = base.filter(F.col("pc") != "").select(
        "doc_id", "full_md5", "i_piece", F.md5("pc").alias("pmd5")
    )
    a, b = np_.alias("a"), np_.alias("b")
    return (
        a.join(
            b,
            (F.col("a.i_piece") == F.col("b.i_piece"))
            & (F.col("a.pmd5") == F.col("b.pmd5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            (F.col("a.full_md5") == F.col("b.full_md5")).alias("exact"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _M05_MIN_SHARED)
        .select("i", "j", "n_shared", "exact")
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------------
# m06 — perceptual average-hash (aHash) near-dup: the image-dedup
# complement to m05's exact slice digests. m05 pairs payloads whose
# BYTES match slice-for-slice; a perceptual hash pairs payloads whose
# CONTENT DISTRIBUTION matches — a few changed bytes shift one bucket
# mean slightly and usually flip no bits, so re-encoded / lightly
# edited media still pair up. This is the classic aHash pipeline
# (downsample -> per-cell mean -> threshold at the global mean -> bit
# string -> Hamming match), run over the deterministic fake decode
# (payload bytes as pixels — the m02 convention; a real image decode
# is the documented decode_image drop-in) and built ENTIRELY from
# integer codegen expressions: bucket_mean > global_mean is compared
# as bucket_sum * n > total_sum * bucket_len, so there is no float
# anywhere and the oracle matches bit-for-bit.
def _hash_band_pairs(
    bits: DataFrame, col: str, n_bands: int, max_hamming: int
) -> DataFrame:
    """Shared m06/m07 tail: band a 64-bit perceptual hash column into
    ``n_bands`` 8-bit LSH keys, self-join on (band, value) with the
    repartition placed so the second side is a ReusedExchange of the
    first (the d03 one-exchange band join), and verify candidates at
    ``hamming <= max_hamming``. Shuffled join, never a broadcast of
    the full band table — the shape that survives 100 TB."""
    bands = (
        bits.select(
            "doc_id",
            col,
            F.expr(
                f"explode(transform(sequence(0, {n_bands - 1}),"
                f" j -> struct(j AS j, shiftright({col}, 8 * j) & 255 AS bv)))"
            ).alias("band"),
        )
        .select(
            "doc_id", col, F.col("band.j").alias("j"), F.col("band.bv").alias("bv")
        )
        .repartition("j", "bv")
    )
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    # min-band emission instead of DISTINCT (the d07 trick, here as a
    # pure integer codegen predicate): a pair that collides in several
    # bands is emitted only from its FIRST agreeing band — the lowest
    # byte of ha XOR hb that is zero — so no candidate-pair exchange
    # and no dedup hash-agg ever runs. On joined rows band j's bytes
    # are equal by join construction, so the CASE chain always hits.
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    first_band = F.lit(n_bands - 1)
    for j in range(n_bands - 2, -1, -1):
        first_band = F.when(
            F.shiftright(xor, 8 * j).bitwiseAND(F.lit(255)) == 0, F.lit(j)
        ).otherwise(first_band)
    cand = a.join(
        b,
        (F.col("a.j") == F.col("b.j"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col(f"a.{col}").alias("ha"),
        F.col(f"b.{col}").alias("hb"),
        F.col("a.j").alias("j"),
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter((F.col("j") == first_band) & (hamming <= max_hamming))
        .select("da", "db", hamming.cast("bigint").alias("hamming"))
        .orderBy("da", "db")
    )


_M06_BITS = 32
_M06_BANDS = 4          # 4 bands x 8 bits
_M06_MAX_HAMMING = 4


def _bucket_bounds(k: int) -> tuple[str, str]:
    """SQL for the 0-based bounds of bucket ``b`` of ``k`` over an
    ``n``-element array: lo(b) = ceil(b*n/k), hi(b) = ceil((b+1)*n/k),
    i.e. exactly the (pos*k) DIV n == b set the oracles bucket by. The
    product runs in BIGINT — b * n in INT overflows under ANSI past
    ~2^31/k elements (~67M chars at k = 32); each quotient is <= n, so
    it narrows back to INT losslessly."""
    lo = f"CAST((b * CAST(n AS BIGINT) + {k - 1}) DIV {k} AS INT)"
    hi = f"CAST(((b + 1) * CAST(n AS BIGINT) + {k - 1}) DIV {k} AS INT)"
    return lo, hi


@query(
    "m06_ahash_neardup",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[\\s\\S]'),
                            c -> ascii(c)) AS p
      FROM documents),
    h AS (
      SELECT doc_id, p, len(p) AS n, list_sum(p) AS tot
      FROM px WHERE len(p) >= {_M06_BITS}),
    by AS (
      SELECT doc_id, n, tot,
             (pos * {_M06_BITS}) // n AS bucket, p[pos + 1] AS v
      FROM h, unnest(range(0, n)) t(pos)),
    bs AS (
      SELECT doc_id, n, tot, bucket, SUM(v) AS bsum, COUNT(*) AS blen
      FROM by GROUP BY 1, 2, 3, 4),
    bits AS (
      SELECT doc_id,
             SUM(CASE WHEN bsum * n > tot * blen
                      THEN (2**bucket)::BIGINT ELSE 0 END) AS ahash
      FROM bs GROUP BY doc_id),
    bands AS (
      SELECT doc_id, ahash, j, (ahash >> (8*j)) & 255 AS bv
      FROM bits, generate_series(0, {_M06_BANDS - 1}) t(j)),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                      a.ahash AS ha, b.ahash AS hb
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT da, db, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_M06_MAX_HAMMING}
    ORDER BY da, db
    """,
    doc="Perceptual average-hash near-dup over binary payloads: "
    f"{_M06_BITS}-bucket mean threshold hash (integer cross-multiplied "
    "— float-free, engine-exact), banded into "
    f"{_M06_BANDS}x8-bit LSH keys, verified at Hamming <= "
    f"{_M06_MAX_HAMMING}. Robust to local byte edits where m05's "
    "slice digests are not.",
)
def m06_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale design (100 TB): the payload reduces to ONE 8-byte hash
    per row in a single codegen projection (no Python, no shuffle of
    payload bytes); the only exchanges carry (band, 8-bit value,
    hash) rows — the d03/m05 banding posture, candidate-bounded by
    bucket occupancy; the Hamming verify is two integer instructions
    on already-joined rows. A hot band value (e.g. all-dark images
    sharing a band) is the d07 degenerate-bucket case — same salting
    answer. Reference analog: none (opaque bytes, kafka.go:151)."""
    t = load_views(spark, sf_dir)
    B, NB = _M06_BITS, _M06_BANDS
    # r14 (guide §2.4 — remove the exchange outright): the whole 64-bit
    # hash is computed IN-ROW. Bucket b covers positions
    # [ceil(b*n/B), ceil((b+1)*n/B)) — exactly the (pos*B) DIV n == b
    # set — so the 32 bucket sums are slice-aggregates inside ONE
    # transform lambda (bounded expression: the lambda body is ONE tree
    # evaluated per element, unlike the r12 failure that unrolled 32
    # slice-aggregates and re-inlined them per reuse via projection
    # collapse). The layered selects below keep every non-cheap alias
    # (p, n, tot, bs) referenced >= 2x so CollapseProject cannot inline
    # them — each is computed once per row, and the explode + two
    # groupBy exchanges of the old shape disappear entirely: the only
    # exchange left in the query is the band self-join's.
    # length gate on char_length BEFORE building the pixel array (equal
    # to size(p) by construction), so the pushed-down filter compares an
    # int instead of re-evaluating the transform.
    px = _fanout(
        t["documents"].filter(F.expr(f"char_length(text) >= {B}"))
    ).select(
        "doc_id",
        # split('') is the O(n) per-character array (one UTF8String
        # walk); the earlier sequence+substring(text, i, 1) form was
        # O(n^2) per doc — substring must re-scan to char i for every
        # i (guide §1.2 per-task work; value-identical incl. multibyte,
        # ascii() sees the same single-char strings)
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("p"),
    )
    h = px.select(
        "doc_id",
        "p",
        F.size("p").alias("n"),
        F.expr("aggregate(p, 0L, (a, x) -> a + x)").alias("tot"),
    )
    # slice() is 1-based, so start = lo(b)+1; n >= B makes every
    # bucket non-empty.
    lo, hi = _bucket_bounds(B)
    bsf = h.select(
        "doc_id",
        "n",
        "tot",
        F.expr(
            f"transform(sequence(0, {B - 1}), b -> named_struct("
            f"'s', aggregate(slice(p, {lo} + 1, {hi} - ({lo})), 0L,"
            " (a, x) -> a + x),"
            f" 'l', {hi} - ({lo})))"
        ).alias("bs"),
    )
    bits = bsf.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {B - 1}), 0L, (acc, b) -> acc + IF("
            "element_at(bs, b + 1).s * n > tot * element_at(bs, b + 1).l,"
            " shiftleft(1L, b), 0L))"
        ).alias("ahash"),
        # OPTIMIZER FENCE (localCheckpoint of the doc_id+8-byte-hash
        # frame, eager=False): without it, the inner band join's
        # inferred isnotnull(bv) predicates substitute the FULL nested
        # fold tree through the projections (PushPredicateThroughProject
        # rewrites aliases regardless of cost) and each element_at(bs,·)
        # inside the pushed predicate re-evaluates the whole 32-slice
        # transform — measured as a single task pinning one core for
        # >25 min at sf0.1. The old explode+groupBy shape got this fence
        # for free from its Aggregate node; the checkpoint provides it
        # at |docs| x 16 B, trivially bounded at any scale.
    ).localCheckpoint(eager=False)
    # repartition on the band key so the self-join's second side is a
    # ReusedExchange of the first (the d03 one-exchange band join) —
    # the hash pipeline above is computed ONCE, and the shuffled join
    # is the shape that survives 100 TB where broadcasting the full
    # band table would not
    return _hash_band_pairs(bits, "ahash", NB, _M06_MAX_HAMMING)


# --------------------------------------------------------------------------
# m07 — perceptual difference-hash (dHash): m06's gradient-based twin.
# aHash thresholds each cell against the GLOBAL mean, so a uniform
# brightness shift that crosses the mean flips many bits at once;
# dHash compares each cell to its NEIGHBOR (is the signal rising or
# falling here?), which is invariant to any monotone global shift —
# the standard aHash/dHash pair every perceptual-dedup stack ships.
# Same float-free discipline: mean_b > mean_{b+1} is compared as
# bsum_b * blen_{b+1} > bsum_{b+1} * blen_b, pure integer codegen.
_M07_CELLS = 33   # 33 cells -> 32 adjacent comparisons = 64/2 bits
_M07_BANDS = 4
_M07_MAX_HAMMING = 4


@query(
    "m07_dhash_neardup",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[\\s\\S]'),
                            c -> ascii(c)) AS p
      FROM documents),
    h AS (
      SELECT doc_id, p, len(p) AS n
      FROM px WHERE len(p) >= {_M07_CELLS}),
    by AS (
      SELECT doc_id, (pos * {_M07_CELLS}) // n AS bucket, p[pos + 1] AS v
      FROM h, unnest(range(0, n)) t(pos)),
    bs AS (
      SELECT doc_id, bucket, SUM(v) AS bsum, COUNT(*) AS blen
      FROM by GROUP BY 1, 2),
    bits AS (
      SELECT b1.doc_id,
             SUM(CASE WHEN b1.bsum * b2.blen > b2.bsum * b1.blen
                      THEN (2**b1.bucket)::BIGINT ELSE 0 END) AS dhash
      FROM bs b1 JOIN bs b2
        ON b2.doc_id = b1.doc_id AND b2.bucket = b1.bucket + 1
      GROUP BY b1.doc_id),
    bands AS (
      SELECT doc_id, dhash, j, (dhash >> (8*j)) & 255 AS bv
      FROM bits, generate_series(0, {_M07_BANDS - 1}) t(j)),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                      a.dhash AS ha, b.dhash AS hb
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT da, db, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_M07_MAX_HAMMING}
    ORDER BY da, db
    """,
    doc="Perceptual difference-hash (dHash) near-dup over binary "
    f"payloads: {_M07_CELLS} cells, each bit = is this cell's mean "
    "above its right neighbor's (integer cross-multiplied — "
    "float-free, engine-exact), banded into "
    f"{_M07_BANDS}x8-bit LSH keys, verified at Hamming <= "
    f"{_M07_MAX_HAMMING}. Gradient-based, so invariant to global "
    "brightness shifts where m06's global-mean aHash is not.",
)
def m07_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale design (100 TB): identical posture to m06 — the payload
    reduces map-side to 33 narrow (bucket, sum, len) rows per doc
    (partial agg below the exchange, bytes never move), then ONE
    in-row integer fold turns the sorted cell array into the 8-byte
    hash (the adjacent comparison needs no self-join in Spark: 33
    structs per doc fold inside one projection; the oracle's
    bucket+1 self-join is the same arithmetic), and the band
    self-join reuses one exchange (_hash_band_pairs). Reference
    analog: none (opaque bytes, kafka.go:151)."""
    t = load_views(spark, sf_dir)
    C = _M07_CELLS
    px = _fanout(
        t["documents"].filter(F.expr(f"char_length(text) >= {C}"))
    ).select(
        "doc_id",
        # split('') is the O(n) per-character array (one UTF8String
        # walk); the earlier sequence+substring(text, i, 1) form was
        # O(n^2) per doc — substring must re-scan to char i for every
        # i (guide §1.2 per-task work; value-identical incl. multibyte,
        # ascii() sees the same single-char strings)
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("p"),
    )
    # r14 (guide §2.4, the m06 in-row rule): the 33 cell (sum, len)
    # pairs are slice-aggregates inside ONE transform lambda — bucket b
    # covers positions [ceil(b*n/C), ceil((b+1)*n/C)), the exact
    # (pos*C) DIV n == b set — so the explode, BOTH groupBy exchanges
    # and the collect_list sort of the old shape disappear; the cell
    # array is ordered by construction (no array_sort needed). n >= C
    # guarantees every cell non-empty (ANSI-safe element_at below).
    lo, hi = _bucket_bounds(C)
    arr = px.select(
        "doc_id", "p", F.size("p").alias("n")
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {C - 1}), b -> named_struct("
            f"'s', aggregate(slice(p, {lo} + 1, {hi} - ({lo})), 0L,"
            " (a, x) -> a + x),"
            f" 'l', {hi} - ({lo})))"
        ).alias("a"),
    )
    bits = arr.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {C - 2}), 0L, (acc, b) -> acc + IF("
            "element_at(a, b + 1).s * element_at(a, b + 2).l > "
            "element_at(a, b + 2).s * element_at(a, b + 1).l, "
            "shiftleft(1L, b), 0L))"
        ).alias("dhash"),
        # OPTIMIZER FENCE — see m06: keeps the band join's inferred
        # isnotnull predicates from substituting the nested fold tree
    ).localCheckpoint(eager=False)
    return _hash_band_pairs(bits, "dhash", _M07_BANDS, _M07_MAX_HAMMING)
