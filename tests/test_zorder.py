"""Z-order index: bit-exactness vs a reference implementation and the
locality property that motivates it."""

from __future__ import annotations

import pyspark.sql.functions as F

from environmental_stac_generator_spark.functions.zorder import (
    morton_sql,
    quantize_sql,
)


def _py_spread(v: int) -> int:
    v = (v | (v << 4)) & 0x0F0F
    v = (v | (v << 2)) & 0x3333
    v = (v | (v << 1)) & 0x5555
    return v


def _py_morton(x: int, y: int) -> int:
    return _py_spread(x) | (_py_spread(y) << 1)


def test_morton_matches_reference(spark):
    cells = [(x, y) for x in (0, 1, 3, 5, 127, 255) for y in (0, 2, 5, 200, 255)]
    df = spark.createDataFrame(cells, "xq bigint, yq bigint").withColumn(
        "z", F.expr(morton_sql("xq", "yq"))
    )
    for r in df.collect():
        assert r["z"] == _py_morton(r["xq"], r["yq"]), (r["xq"], r["yq"])


def test_morton_is_bijective_on_grid(spark):
    df = (
        spark.range(256 * 256)
        .select((F.col("id") % 256).alias("xq"), (F.col("id") / 256).cast("bigint").alias("yq"))
        .withColumn("z", F.expr(morton_sql("xq", "yq")))
    )
    stats = df.agg(
        F.countDistinct("z").alias("n"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).first()
    assert stats["n"] == 256 * 256
    assert stats["lo"] == 0 and stats["hi"] == 256 * 256 - 1


def test_zorder_improves_range_locality(spark):
    # All points in a small 2-D box must fall in a narrow band of the
    # z-curve relative to the full code space — that band is what
    # parquet min/max pruning skips to. The index is built the way
    # zorder_spatial builds it: morton_sql over quantize_sql cells.
    pts = [(float(x), float(y)) for x in range(16, 32) for y in range(16, 32)]
    z = morton_sql(quantize_sql("x", 0.0, 256.0), quantize_sql("y", 0.0, 256.0))
    df = spark.createDataFrame(pts, "x double, y double").withColumn(
        "z", F.expr(z)
    )
    lo, hi = df.agg(F.min("z"), F.max("z")).first()
    # a 16x16 box aligned to a z-quadrant spans exactly 256 codes
    assert hi - lo + 1 == 256


def test_quantize_rejects_bits_beyond_mask_width():
    """The Morton spread masks are hard-coded 16-bit; bits > 8 would
    silently destroy high bits and collapse distinct cells onto one z
    value — reject instead."""
    import pytest

    with pytest.raises(ValueError, match=r"\[1, 8\]"):
        quantize_sql("x", 0.0, 1.0, bits=10)
    assert "255" in quantize_sql("x", 0.0, 1.0, bits=8)


def _interleave_bits(x: int, y: int) -> int:
    """Independent per-bit reference: no mask-shift ladder, just the
    DEFINITION of Morton order (x bits in even positions, y in odd).
    A constant typo shared between _spread_sql and _py_spread cannot
    survive this."""
    z = 0
    for i in range(8):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_independent_bitloop_and_literal_anchors(spark):
    # hand-computed literals (worked out on paper, not by either code
    # path): the oracle SQL for zorder_spatial is GENERATED from
    # morton_sql/quantize_sql on both engines, so these anchors are
    # the only check that the shared helpers themselves are right.
    anchors = [
        (0, 0, 0),
        (1, 0, 1),
        (0, 1, 2),
        (3, 5, 39),        # x=011 -> 000101, y=101 -> 100010
        (255, 0, 0x5555),
        (0, 255, 0xAAAA),
        (255, 255, 0xFFFF),
    ]
    df = spark.createDataFrame(
        [(x, y) for x, y, _ in anchors], "xq bigint, yq bigint"
    ).withColumn("z", F.expr(morton_sql("xq", "yq")))
    got = {(r["xq"], r["yq"]): r["z"] for r in df.collect()}
    for x, y, expect in anchors:
        assert got[(x, y)] == expect == _interleave_bits(x, y), (x, y)


def test_quantize_literal_anchors(spark):
    # [0, 500) over 256 cells -> width 1.953125; clamps at both ends
    q = quantize_sql("v", 0.0, 500.0)
    rows = spark.createDataFrame(
        [(-5.0,), (0.0,), (1.9,), (250.0,), (499.9,), (500.0,), (1e9,)],
        "v double",
    ).selectExpr("v", f"{q} AS cell").collect()
    expect = {-5.0: 0, 0.0: 0, 1.9: 0, 250.0: 128, 499.9: 255, 500.0: 255, 1e9: 255}
    for r in rows:
        assert r["cell"] == expect[r["v"]], r["v"]
