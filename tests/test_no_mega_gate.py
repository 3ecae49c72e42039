"""Provably-no-mega bucket gate (r16, guide §2.4 remove shuffles).

`dedup.bucket_pairs` / `similarity.embedding_near_dup` carry a
skew-safe mega-bucket routing (count pass + anti-join + blocked/self
join union). When a driver-known row bound PROVES no bucket can
exceed the cap, that routing is dead plan weight: the r16 gate drops
it via the shared `plan_policy.provably_small` CBO predicate. The
gate must:

- emit the IDENTICAL pair set on both sides (gated vs forced-scale);
- keep the skew-safe plan when stats are unknown or inside
  `scale_plans()` (the shared degradation posture);
- actually simplify the plan when it fires (no anti-join, no union).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from environmental_stac_generator_spark.plan_policy import scale_plans
from environmental_stac_generator_spark.queries.dedup import (
    bands_of,
    bucket_pairs,
)
from environmental_stac_generator_spark.tables import load


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def test_gated_pairs_identical_to_scale_plan(spark, sf_dir):
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    bands = bands_of(load(spark, sf_dir, "documents"))
    gated = _pairs(
        bucket_pairs(bands, ["band", "band_hash"], "doc_id", bound_rows=5_000)
    )
    try:
        with scale_plans():  # forces the full routing
            scale = _pairs(
                bucket_pairs(
                    bands, ["band", "band_hash"], "doc_id", bound_rows=5_000
                )
            )
    finally:
        release_tracked()
    assert gated == scale
    assert len(gated) > 0


def test_gate_simplifies_plan(spark, sf_dir):
    bands = bands_of(load(spark, sf_dir, "documents"))
    plan = (
        bucket_pairs(bands, ["band", "band_hash"], "doc_id", bound_rows=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" not in plan
    assert "Union" not in plan


def test_unknown_bound_keeps_scale_plan(spark, sf_dir):
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    bands = bands_of(load(spark, sf_dir, "documents"))
    plan = (
        bucket_pairs(bands, ["band", "band_hash"], "doc_id", bound_rows=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_tracked()
    assert "LeftAnti" in plan  # the skew-safe anti-join routing stands


def test_bound_over_cap_keeps_scale_plan(spark, sf_dir):
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    bands = bands_of(load(spark, sf_dir, "documents"))
    plan = (
        bucket_pairs(
            bands, ["band", "band_hash"], "doc_id",
            max_bucket=100, bound_rows=101,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_tracked()
    assert "LeftAnti" in plan


def test_embedding_near_dup_gate_parity(spark, sf_dir):
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )
    from environmental_stac_generator_spark.queries.similarity import (
        embedding_near_dup,
    )

    gated = sorted(tuple(r) for r in embedding_near_dup(spark, sf_dir).collect())
    try:
        with scale_plans():
            scale = sorted(
                tuple(r) for r in embedding_near_dup(spark, sf_dir).collect()
            )
    finally:
        release_tracked()
    assert gated == scale
    assert len(gated) > 0


def test_semantic_pairs_gate_identical_to_scale_plan(spark, sf_dir):
    """r17: semantic_pairs_of(bound_rows=) drops the sizes collect +
    assignment checkpoint when the bound proves no mega cluster —
    pair set must be identical to the forced-scale routing, for both
    the fixed-K and auto-K kernels."""
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for kw in ({"bound_rows": 5_000}, {"n_clusters": "auto"}):
        gated = rows(semantic_pairs_of(e, **kw))
        try:
            with scale_plans():
                scale = rows(semantic_pairs_of(e, **kw))
        finally:
            release_tracked()
        assert gated == scale
        assert len(gated) > 0


def test_semantic_pairs_gate_skips_sizes_job(spark, sf_dir):
    """The gated build must schedule no sizes collect: with the bound
    proven, building the frame runs only the Lloyd update job(s) —
    the K-row groupBy().collect() disappears (asserted structurally:
    no checkpoint in the gated plan, checkpoint present when forced)."""
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    gated_plan = (
        semantic_pairs_of(e, bound_rows=5_000)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LogicalRDD" not in gated_plan  # no checkpoint barrier
    with scale_plans():
        scale_plan = (
            semantic_pairs_of(e, bound_rows=5_000)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
    assert "LogicalRDD" in scale_plan  # checkpointed assignment


def test_auto_k_loose_bound_takes_small_plan(spark, sf_dir):
    """Auto-K counts the corpus, and that exact count tightens a
    looser caller bound: a bound far over ``max_bucket`` on a small
    input still takes the gated plan (no checkpoint barrier)."""
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert e.count() <= 10_000  # the default max_bucket
    plan = (
        semantic_pairs_of(e, n_clusters="auto", bound_rows=10**9)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LogicalRDD" not in plan
