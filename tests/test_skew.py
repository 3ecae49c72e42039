"""Salted aggregation/join: exactness + plan-shape checks."""

from __future__ import annotations

import pyspark.sql.functions as F

from environmental_stac_generator_spark.operators.skew import salted_agg, salted_join


def test_salted_agg_exact_on_skewed_data(spark):
    # one hot key (90% of rows) + a long tail
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "key string, v double")
    out = {
        r["key"]: r
        for r in salted_agg(
            df,
            keys=["key"],
            aggs={
                "s": ("sum", "v"),
                "n": ("count", "v"),
                "lo": ("min", "v"),
                "hi": ("max", "v"),
                "m": ("avg", "v"),
            },
            salt_from="v",
            n_salt=8,
        ).collect()
    }
    assert out["hot"]["n"] == 900
    assert out["hot"]["lo"] == 0.0 and out["hot"]["hi"] == 6.0
    expected_sum = sum(float(i % 7) for i in range(900))
    assert abs(out["hot"]["s"] - expected_sum) < 1e-9
    assert abs(out["hot"]["m"] - expected_sum / 900) < 1e-12
    assert out["k5"]["n"] == 1 and out["k5"]["s"] == 5.0


def test_salted_agg_plan_has_two_stages(spark):
    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("key"), F.col("id").cast("double").alias("v")
    )
    plan = (
        salted_agg(df, ["key"], {"s": ("sum", "v")}, salt_from="v", n_salt=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial stage keyed by (key, _salt), final stage keyed by key only
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [("a", i) for i in range(500)] + [("b", i) for i in range(20)],
        "key string, payload int",
    )
    small = spark.createDataFrame([("a", 1), ("b", 2)], "key string, dim int")
    salted = salted_join(big, small, key="key", salt_from="payload", n_salt=8)
    plain = big.join(small, "key")
    assert salted.count() == plain.count() == 520
    assert (
        salted.groupBy("key").agg(F.sum("dim").alias("s")).orderBy("key").collect()
        == plain.groupBy("key").agg(F.sum("dim").alias("s")).orderBy("key").collect()
    )


def test_salted_agg_null_semantics_match_unsalted(spark):
    """avg/count must follow SQL null-skipping exactly like the
    unsalted plan: count(col) counts non-null values, avg divides by
    the non-null count — a count(*) partial would deflate both."""
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("k", 1.0), ("k", None), ("k", 3.0), ("j", None)],
        "g string, x double",
    )
    got = {
        r["g"]: r
        for r in salted_agg(
            df,
            ["g"],
            {
                "a": ("avg", "x"),
                "c": ("count", "x"),
                "rows": ("count", "*"),
                "s": ("sum", "x"),
            },
            salt_from="x",
        ).collect()
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.avg("x").alias("a"),
            F.count("x").alias("c"),
            F.count(F.lit(1)).alias("rows"),
            F.sum("x").alias("s"),
        )
        .collect()
    }
    for g in want:
        for c in ("a", "c", "rows", "s"):
            assert got[g][c] == want[g][c], (g, c, got[g][c], want[g][c])


def test_salted_join_rejects_outer_joins(spark):
    """right/full outer would emit n_salt null-padded duplicates for
    an unmatched small-side row; the function must refuse."""
    import pytest

    from environmental_stac_generator_spark.operators.skew import salted_join

    big = spark.createDataFrame([("a", 1)], "k string, v int")
    small = spark.createDataFrame([("b", 9)], "k string, w int")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, "k", salt_from="v", how=how)
    # left keeps exactly one row for an unmatched big-side key
    left = salted_join(big, small, "k", salt_from="v", how="left").collect()
    assert len(left) == 1 and left[0]["w"] is None


def test_blocked_self_pairs_matches_naive_combinations(spark):
    """blocked_self_pairs must emit exactly the unordered intra-key
    pair set (oriented a_id < b_id), each pair once, across block
    counts S = 1..ceil(n/max_block), with payload columns carried on
    both sides. Sizes straddle the block boundary so same-block,
    cross-block, and single-block keys all occur."""
    import itertools

    from environmental_stac_generator_spark.operators.skew import (
        blocked_self_pairs,
    )

    sizes = {"k1": 1, "k2": 2, "k3": 7, "k4": 8, "k5": 23}
    rows = [
        (k, f"{k}_id{i:02d}", i * 10)
        for k, n in sizes.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, doc string, pay int")
    # carry the true per-key count the way callers do
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("_n"))
    members = df.join(counts, "k")
    out = blocked_self_pairs(members, ["k"], "doc", "_n", max_block=7)
    got = {(r["a_doc"], r["b_doc"], r["a_pay"], r["b_pay"]) for r in out.collect()}
    want = set()
    for k, n in sizes.items():
        ids = sorted((f"{k}_id{i:02d}", i * 10) for i in range(n))
        for (a, pa), (b, pb) in itertools.combinations(ids, 2):
            want.add((a, b, pa, pb))
    assert got == want
    # every pair oriented, none duplicated even where S > 1 (k5 -> S=4)
    assert all(a < b for a, b, _, _ in got)


def test_blocked_self_pairs_requires_non_key_id(spark):
    import pytest

    from environmental_stac_generator_spark.operators.skew import (
        blocked_self_pairs,
    )

    df = spark.createDataFrame([("a", 1, 2)], "k string, doc int, _n int")
    with pytest.raises(ValueError, match="id_col"):
        blocked_self_pairs(df, ["k", "doc"], "doc", "_n", max_block=2)
