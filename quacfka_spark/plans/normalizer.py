"""Normalizer: declarative flattening of nested records — reference D10.

The reference's normalizer (`WithNormalizer(fields, aliases,
failOnRangeError)`, /root/reference/quacfka.go:106-120) selects dot-path
fields out of a nested protobuf-derived schema into a second flat table,
because "running aggregation queries on nested data is much slower (by
orders of magnitude)" (quacfka.go:107-108). Its semantics, from
README.md:110-131:

- dot paths address nested struct fields (``site.id``,
  ``timestamp.seconds``);
- a list segment may carry an explicit index (``stores[0]``) to pick one
  element, "otherwise defaults to all elements": the flat output has one
  row per element of the un-indexed repeated field, scalar columns
  duplicated per row, and a NULL row when the list is empty;
- output columns are renamed by the alias list.

In the reference this is imperative builder code the user writes per
message type; here it compiles to ``select`` + ``explode_outer`` — pure
Catalyst, so nested-column pruning and pushdown still apply, and the
explode runs in whole-stage codegen with zero user code.

Scale note: flattening at ingest (materializing the `_norm` table) is a
*design choice* the reference makes for 100 TB-style workloads; we keep
it — the flat table is what downstream aggregations scan, and Parquet on
the flat schema gets column pruning the nested layout can't match.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SEG_RE = re.compile(r"^(?P<name>[A-Za-z_][A-Za-z0-9_]*)(?:\[(?P<idx>\d+)\])?$")


@dataclass(frozen=True)
class _Segment:
    name: str
    index: int | None = None  # 0-based, as in the reference's `stores[0]`


def _parse_path(path: str) -> list[_Segment]:
    segs = []
    for raw in path.split("."):
        m = _SEG_RE.match(raw)
        if not m:
            raise ValueError(f"bad normalizer path segment {raw!r} in {path!r}")
        idx = m.group("idx")
        segs.append(_Segment(m.group("name"), int(idx) if idx is not None else None))
    return segs


@dataclass
class NormalizerSpec:
    """Compiled flattening spec: (fields, aliases) exactly as the
    reference's ``WithNormalizer`` takes them (quacfka.go:114-120)."""

    fields: list[str]
    aliases: list[str]
    fail_on_range_error: bool = False
    _paths: list[list[_Segment]] = field(init=False, repr=False)
    # (input schema, explode column or None, output columns), see apply
    _compiled: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def __post_init__(self) -> None:
        if len(self.fields) != len(self.aliases):
            raise ValueError("fields and aliases must have equal length")
        self._paths = [_parse_path(p) for p in self.fields]

    # -- schema walking ----------------------------------------------------
    def _explode_prefix(self, schema: T.StructType) -> tuple[_Segment, ...] | None:
        """Find the single un-indexed ArrayType prefix across all paths
        (returned with any indexed list segments leading to it, e.g.
        ``stores[0].gallery.deals``).

        The reference explodes exactly one repeated field per normalizer
        (README.md:116-130 — the ``deals`` list); two *different*
        un-indexed lists would mean a cross product and are rejected.
        """
        found: tuple[_Segment, ...] | None = None
        for path in self._paths:
            dtype: T.DataType = schema
            for i, seg in enumerate(path):
                if not isinstance(dtype, T.StructType):
                    raise ValueError(f"path {path} descends through non-struct {dtype}")
                try:
                    f_ = dtype[seg.name]
                except KeyError:
                    raise ValueError(f"unknown field {seg.name!r} in path {path}")
                dtype = f_.dataType
                if isinstance(dtype, T.ArrayType):
                    if seg.index is None:
                        prefix = tuple(path[: i + 1])
                        if found is not None and found != prefix:
                            raise ValueError(
                                f"two un-indexed repeated fields ({found} and {prefix}); "
                                "the normalizer explodes exactly one"
                            )
                        found = prefix
                    dtype = dtype.elementType
        return found

    def _fold(self, segs: tuple[_Segment, ...] | list[_Segment], base: Column | None) -> Column:
        col = base
        for seg in segs:
            c = F.col(seg.name) if col is None else col.getField(seg.name)
            if seg.index is not None:
                # reference indexes are 0-based; element_at is 1-based.
                # failOnRangeError=False (the reference default,
                # quacfka.go:114-120) -> NULL on out-of-range instead of
                # the ANSI INVALID_ARRAY_INDEX error.
                at = F.element_at if self.fail_on_range_error else F.try_element_at
                c = at(c, F.lit(seg.index + 1))
            col = c
        assert col is not None
        return col

    # -- compilation -------------------------------------------------------
    def apply(self, df: DataFrame) -> DataFrame:
        """Compile to select/explode_outer over ``df``.

        explode_outer reproduces the reference's empty-list handling: a
        NULL row is emitted so the scalar columns survive
        (README.md:119-130 ``AppendNull`` on empty ``deals``).

        The compiled columns are kept for the last input schema: a
        streaming epoch applies the same spec to the same schema every
        time, and each Column call is a py4j round trip. One entry keeps
        the cache bounded under schema drift; a new schema recompiles.
        """
        schema = df.schema
        if self._compiled is None or self._compiled[0] != schema:
            prefix = self._explode_prefix(schema)
            explode = (
                F.explode_outer(self._fold(prefix, None)) if prefix is not None else None
            )
            cols = [
                self._compile_path(path, prefix).alias(alias)
                for path, alias in zip(self._paths, self.aliases)
            ]
            self._compiled = (schema, explode, cols)
        _, explode, cols = self._compiled
        if explode is not None:
            df = df.withColumn("__norm_exploded", explode)
        return df.select(*cols)

    def _compile_path(
        self, path: list[_Segment], prefix: tuple[_Segment, ...] | None
    ) -> Column:
        if prefix is not None and tuple(path[: len(prefix)]) == prefix:
            return self._fold(path[len(prefix) :], F.col("__norm_exploded"))
        return self._fold(path, None)


def flatten(df: DataFrame, fields: list[str], aliases: list[str]) -> DataFrame:
    """One-shot normalizer: ``flatten(df, fields, aliases)``."""
    return NormalizerSpec(fields=fields, aliases=aliases).apply(df)
