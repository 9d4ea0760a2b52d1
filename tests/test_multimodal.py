"""m06/m07 in-row bucket bounds at payload lengths past the INT range
of b * n (no 70M-element array is built: the bounds are evaluated on
plain (n, b) rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quacfka_spark.operators.multimodal import (
    _M06_BITS,
    _M07_CELLS,
    _bucket_bounds,
)

# b * n passes 2^31 for b >= 31 at 32 buckets: the INT product
# raises ARITHMETIC_OVERFLOW under ANSI at this length
N = 70_000_000


@pytest.fixture()
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def _bounds(spark, k: int, n: int) -> list[tuple[int, int, int]]:
    lo, hi = _bucket_bounds(k)
    rows = (
        spark.range(1)
        .select(
            F.lit(n).alias("n"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("b"),
        )
        .select("b", F.expr(lo).alias("lo"), F.expr(f"{hi} - ({lo})").alias("len"))
        .orderBy("b")
        .collect()
    )
    return [(r.b, r.lo, r.len) for r in rows]


@pytest.mark.parametrize("k", [_M06_BITS, _M07_CELLS])
def test_bucket_bounds_past_int32_products(ansi, k):
    got = _bounds(ansi, k, N)
    # ceil(b*n/k) with exact integers, contiguous and covering [0, n)
    want = [
        (b, -(-b * N // k), -(-(b + 1) * N // k) - -(-b * N // k))
        for b in range(k)
    ]
    assert got == want
    assert sum(ln for _, _, ln in got) == N
    if k == 32:
        assert got[31][1:] == (67_812_500, 2_187_500)
