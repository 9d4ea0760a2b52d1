"""JVM-side protobuf decode/encode — the FAST path for reference D7.

The reference decodes protobuf with generated Go code in a worker pool
(/root/reference/proto.go:78-172). Spark's official equivalent is
``from_protobuf`` in the spark-protobuf connector jar, which cannot be
fetched into this offline environment — so this repo ships its own
JVM codec: a Scala implementation of the public protobuf wire format
(jvm/src/quacfka/jvm/ProtoWire.scala, built by tools/build_jvm.sh into
quacfka_spark/jars/quacfka-jvm.jar) registered as Java UDFs. Decode
stays entirely JVM-side — no Python worker round-trip — which is the
property that matters at 100 TB; the pure-Python twin
(sources/proto_wire.py) remains the dependency-free fallback.

Both codecs share one schema source of truth: the Python ``MessageSpec``
renders to a compact spec string (``spec_string``) that the Scala side
parses and caches. Equivalence of the two decoders is pytest-verified
(tests/test_proto_jvm.py), including property-based round-trips.

Bad-record semantics (D8): the decode UDF returns NULL for any
structurally malformed payload (truncation, bad varint, invalid UTF-8)
and ``decode_protobuf_jvm`` filters those rows — the reference
logs-and-continues (proto.go:131-145). A known field with a mismatched
wire type is NOT malformed: both decoders treat it as an unknown field
(skip the value, keep the row), per standard proto parser semantics.
"""

from __future__ import annotations

import hashlib
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quacfka_spark.session import JAR_PATH
from quacfka_spark.sources.proto_wire import MessageSpec, decode_protobuf_wire

_DECODE_CLASS = "quacfka.jvm.ProtoDecodeUDF"
_ENCODE_CLASS = "quacfka.jvm.ProtoEncodeUDF"

# per-process registry of UDF names already registered, keyed weakly by
# the live session object — id(spark) would be unsafe here because a
# collected session's address can be reused by a new one, silently
# skipping registration on the new session
_registered: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = (
    weakref.WeakKeyDictionary()
)


def _is_registered(spark: SparkSession, name: str) -> bool:
    if name in _registered.get(spark, ()):
        return True
    # The python-side cache is keyed by the SparkSession WRAPPER object;
    # streaming foreachBatch hands each epoch a fresh wrapper around the
    # same JVM session, so identity-keyed lookups miss every batch and
    # re-registration (ADD JAR + registerJavaFunction, several py4j
    # round trips) became a measurable per-epoch tax. The catalog check
    # asks the JVM session itself, which IS stable across epochs.
    try:
        if spark.catalog.functionExists(name):
            _mark_registered(spark, name)
            return True
    except Exception:
        pass
    return False


def _mark_registered(spark: SparkSession, name: str) -> None:
    _registered.setdefault(spark, set()).add(name)


def spec_string(spec: MessageSpec) -> str:
    """Render a MessageSpec to the compact string the Scala side parses:
    ``number:name:type[*]`` joined by ``;``, nested messages as
    ``msg{...}`` — one schema definition drives both decoders."""
    parts = []
    for f in spec.fields:
        if f.type == "message":
            t = "msg{" + spec_string(f.message) + "}"
        else:
            t = f.type
        parts.append(f"{f.number}:{f.name}:{t}" + ("*" if f.repeated else ""))
    return ";".join(parts)


def _add_jar(spark: SparkSession) -> None:
    # ADD JAR is idempotent and works on externally-created sessions
    # (the driver's) — no spark.jars config needed at session build time.
    spark.sql(f"ADD JAR '{JAR_PATH}'")


def jvm_codec_available(spark: SparkSession) -> bool:
    """True if the JVM codec jar can be loaded into this session."""
    try:
        _add_jar(spark)
        spark.udf.registerJavaFunction(
            "qf_proto_probe", _ENCODE_CLASS, T.BinaryType()
        )
        return True
    except Exception:
        return False


def _spec_tag(spec_str: str) -> str:
    return hashlib.md5(spec_str.encode()).hexdigest()[:10]


def register_decoder(spark: SparkSession, spec: MessageSpec) -> tuple[str, str]:
    """Register (once per session) a decode UDF returning this spec's
    struct type. Returns (udf_name, spec_string)."""
    s = spec_string(spec)
    name = f"qf_pdec_{_spec_tag(s)}"
    if not _is_registered(spark, name):
        _add_jar(spark)
        spark.udf.registerJavaFunction(name, _DECODE_CLASS, spec.spark_schema())
        _mark_registered(spark, name)
    return name, s


def register_encoder(spark: SparkSession) -> str:
    """Register (once per session) the encode UDF (struct+spec -> bytes)."""
    name = "qf_penc"
    if not _is_registered(spark, name):
        _add_jar(spark)
        spark.udf.registerJavaFunction(name, _ENCODE_CLASS, T.BinaryType())
        _mark_registered(spark, name)
    return name


def decode_protobuf_jvm(
    df: DataFrame,
    spec: MessageSpec,
    *,
    value_col: str = "value",
) -> DataFrame:
    """protobuf bytes -> struct column ``r``, entirely JVM-side.

    Same output shape as ``decode_protobuf`` (from_protobuf) and
    ``decode_protobuf_wire`` (Python) so pipelines swap decoders freely.
    Malformed rows drop (D8).
    """
    name, s = register_decoder(df.sparkSession, spec)
    out = df.withColumn("r", F.call_function(name, F.col(value_col), F.lit(s)))
    return out.filter(F.col("r").isNotNull())


def encode_protobuf_jvm(
    spark: SparkSession, struct_col: Column, spec: MessageSpec
) -> Column:
    """struct column -> protobuf bytes column (the to_protobuf analog;
    also the bench's reference-sized payload generator — kafka.go:248-255
    generated with protorand, equally outside the timed path)."""
    name = register_encoder(spark)
    return F.call_function(name, struct_col, F.lit(spec_string(spec)))


def decode_protobuf_auto(
    df: DataFrame,
    spec: MessageSpec,
    *,
    value_col: str = "value",
) -> DataFrame:
    """Decode via the JVM codec when its jar loads in this session, else
    fall back to the pure-Python wire decoder (identical output shape).
    Lets registry queries run under ANY session, including the driver's."""
    try:
        return decode_protobuf_jvm(df, spec, value_col=value_col)
    except Exception:
        return decode_protobuf_wire(df, spec, value_col=value_col)
