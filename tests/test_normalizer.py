"""Normalizer (D10) semantics against hand-built expected output —
mirrors the reference README's deals example (README.md:110-131)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from quacfka_spark.plans.custom import CustomField, TransformRegistry, with_custom_fields
from quacfka_spark.plans.normalizer import NormalizerSpec, flatten


@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        Row(
            site=Row(id=1, name="a"),
            deals=[Row(id=10, kind="x"), Row(id=11, kind="y")],
            n=5,
        ),
        Row(site=Row(id=2, name="b"), deals=[], n=7),
        Row(site=Row(id=3, name="c"), deals=[Row(id=30, kind="z")], n=9),
    ]
    return spark.createDataFrame(rows)


def test_explode_with_scalar_duplication_and_null_row(nested_df):
    out = flatten(
        nested_df,
        ["site.id", "n", "deals.id", "deals.kind"],
        ["site", "n", "deal_id", "deal_kind"],
    )
    got = sorted([tuple(r) for r in out.collect()])
    assert got == sorted(
        [
            (1, 5, 10, "x"),
            (1, 5, 11, "y"),  # scalars duplicated per element
            (2, 7, None, None),  # NULL row on empty list (AppendNull)
            (3, 9, 30, "z"),
        ]
    )


def test_indexed_list_access_null_out_of_range(nested_df):
    out = flatten(nested_df, ["site.name", "deals[0].id"], ["s", "first_deal"])
    got = sorted([tuple(r) for r in out.collect()])
    assert got == sorted([("a", 10), ("b", None), ("c", 30)])


def test_fail_on_range_error(nested_df):
    spec = NormalizerSpec(
        fields=["deals[5].id"], aliases=["x"], fail_on_range_error=True
    )
    with pytest.raises(Exception):
        spec.apply(nested_df).collect()


def test_two_unindexed_lists_rejected(nested_df):
    df = nested_df.withColumn("tags", nested_df.deals)
    with pytest.raises(ValueError, match="explodes exactly one"):
        flatten(df, ["deals.id", "tags.kind"], ["a", "b"])


def test_bad_path_rejected(nested_df):
    with pytest.raises(ValueError, match="bad normalizer path"):
        flatten(nested_df, ["deals..id"], ["x"])
    with pytest.raises(ValueError, match="unknown field"):
        flatten(nested_df, ["nope.id"], ["x"])


def test_custom_fields(nested_df):
    from pyspark.sql import functions as F

    out = with_custom_fields(
        nested_df,
        [
            CustomField("ingest_flag", "BOOL", expr=F.lit(True)),
            CustomField("payload_len", "INT64", expr=F.col("n") * 2),
            CustomField("note", "STRING"),
        ],
    )
    r = out.select("ingest_flag", "payload_len", "note").first()
    assert r.ingest_flag is True and r.payload_len == 10 and r.note is None


def test_transform_registry(nested_df):
    reg = TransformRegistry()
    reg.add("site_counts", lambda df: df.groupBy("site.id").count())
    outs = reg.apply_all(nested_df)
    assert set(outs) == {"site_counts"}
    assert outs["site_counts"].count() == 3


def test_compiled_spec_reused_for_same_schema_and_recompiled_on_drift(spark, nested_df):
    """A spec keeps the columns it compiled for the last input schema (a
    streaming epoch applies it to the same schema every time); another
    frame of that schema gets the same rows as a fresh spec, and a
    drifted schema recompiles instead of reusing stale columns."""
    from pyspark.sql import functions as F

    fields = ["site.id", "n", "deals.id"]
    aliases = ["site", "n", "deal_id"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    spec = NormalizerSpec(fields=fields, aliases=aliases)
    first = rows(spec.apply(nested_df))
    compiled = spec._compiled
    other = spark.createDataFrame(
        [Row(site=Row(id=4, name="d"), deals=[Row(id=40, kind="w")], n=1)],
        schema=nested_df.schema,
    )
    assert rows(spec.apply(other)) == rows(
        NormalizerSpec(fields=fields, aliases=aliases).apply(other)
    ) == [(4, 1, 40)]
    assert spec._compiled is compiled  # same schema: nothing recompiled
    assert first == [(1, 5, 10), (1, 5, 11), (2, 7, None), (3, 9, 30)]

    # drift: the repeated field becomes a single struct, so the compiled
    # explode no longer applies — one row per input, no NULL row
    drifted = nested_df.withColumn("deals", F.try_element_at("deals", F.lit(1)))
    assert rows(spec.apply(drifted)) == [(1, 5, 10), (2, 7, None), (3, 9, 30)]
    assert spec._compiled[0] == drifted.schema
    # and back: the original schema recompiles to the exploding form
    assert rows(spec.apply(nested_df)) == first
