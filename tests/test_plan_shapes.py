"""Plan-shape regression tests.

The scale properties PLANS.md documents are load-bearing: a refactor
that silently turns a broadcast join into a shuffle join or adds an
exchange to a map-side signature would still pass value checks while
losing 100 TB viability. These tests pin the plan shapes.
"""

from __future__ import annotations

import re

import pytest

from environmental_stac_generator_spark.plan_policy import scale_plans
from environmental_stac_generator_spark.queries import curation
from environmental_stac_generator_spark.registry import (
    load_full_registry,
    load_registry,
)

FULL = load_full_registry()
CONSOLIDATED = load_registry()
REG = {**FULL, **{n: s for n, s in CONSOLIDATED.items() if n not in FULL}}


def _plan(spark, sf_dir, name):
    return REG[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


# (query, max shuffles, must-broadcast?) — shuffle budgets, not exact
# counts, so plan improvements don't fail the suite.
BUDGETS = [
    ("q1_pricing_summary", 1, False),
    ("band_stats", 1, False),
    ("dedup_exact", 1, False),
    ("tumbling_window_agg", 1, False),
    ("orders_lineitem_join", 1, True),
    ("star_join_enrich", 1, True),
    ("skip_existing_items", 1, True),
    ("upsert_merge", 1, True),
    ("salted_join", 1, True),
    # r9: the materialized-index exact probe's one shuffle is the
    # final ranked sort, same as its on-the-fly twin
    ("ivf_index_probe", 1, False),
]


@pytest.mark.parametrize("name,max_shuffles,needs_bcast", BUDGETS, ids=[b[0] for b in BUDGETS])
def test_shuffle_budget_and_broadcast(spark, sf_dir, name, max_shuffles, needs_bcast):
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) <= max_shuffles, plan
    if needs_bcast:
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize("name", ["minhash_signatures", "simhash", "ann_lsh_buckets", "quality_score", "pq_encode", "pq_ann_probe", "ivfpq_ann_probe", "ivfpq_index_probe"])
def test_map_side_only(spark, sf_dir, name):
    # Zero KEYED exchanges: no hash/range shuffle of corpus rows. The
    # r16 gated scan fan-out (tables.fan_out_scan) may add one
    # round-robin exchange right after an under-split scan — that is
    # width, not a keyed data movement, and _shuffles deliberately
    # does not count it (tests/test_fan_out.py covers its gate).
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) == 0, plan


# Column-merged consolidated entries are single-scan projections —
# zero shuffles, one parquet scan (VERDICT r1 item 10: consolidation
# must not add exchanges or Python nodes).
@pytest.mark.parametrize("name", ["datetime_scalars", "text_profile", "row_scalars"])
def test_column_merged_entries_are_one_scan(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) == 0, plan


def test_union_merged_entries_add_no_exchanges(spark, sf_dir):
    """A typed-union merge's shuffle count must equal the sum of its
    absorbed sub-plans' (UNION ALL itself is exchange-free)."""
    cases = {
        "skip_existing": ["skip_existing_collections", "skip_existing_items"],
        "minhash_lsh": [
            "minhash_signatures",
            "lsh_candidate_pairs",
            "incremental_lsh_dedup",
        ],
        "fact_dim_join": ["star_join_enrich", "orders_lineitem_join"],
    }
    for merged, subs in cases.items():
        merged_shuffles = _shuffles(_plan(spark, sf_dir, merged))
        sub_shuffles = sum(_shuffles(_plan(spark, sf_dir, s)) for s in subs)
        assert merged_shuffles <= sub_shuffles, (merged, merged_shuffles, sub_shuffles)


def test_asof_is_window_not_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join_events")
    assert "Join" not in plan, plan
    assert _shuffles(plan) <= 1


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_join_tiers")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_no_python_in_sql_oracle_plans(spark, sf_dir):
    # every SQL-oracle query must stay JVM-side; pandas/Arrow nodes
    # belong only to the rows-only codec kernels
    offenders = []
    for name, spec in REG.items():
        if spec.sql is None or name in ("bbox_reproject",):  # F13's tiny pandas UDF is by design
            continue
        plan = _plan(spark, sf_dir, name)
        if any(m in plan for m in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas")):
            offenders.append(name)
    assert offenders == []


def test_soak_join_detector_sees_final_adaptive_plan(spark):
    """The soak's degraded-join check must inspect the EXECUTED
    adaptive plan of the frame it is given: a genuine nested-loop
    join is flagged, a broadcastable equi-join is not, and the
    inspected plan is AQE-final (not the never-executed initial
    plan, which a separate noop-write QueryExecution would leave
    behind)."""
    import bench

    a = spark.range(0, 50).withColumnRenamed("id", "x")
    b = spark.range(0, 7).withColumnRenamed("id", "y")
    bad = bench._run_and_bad_joins(a.crossJoin(b))
    assert "BroadcastNestedLoopJoin" in bad or "CartesianProduct" in bad

    good = a.join(b, a.x == b.y)
    assert bench._run_and_bad_joins(good) == set()
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan


def test_forced_scale_gate_flips_every_gated_plan(spark, sf_dir, monkeypatch):
    """scale_plans() must flip ALL three stats-gated operators
    to their scale-side plan (the soak relies on this to measure both
    gate sides): the prefix-sum queries lose their single-reducer
    exchange, span_dedup loses its window without sampling its span
    groups, and components runs the distributed fixpoint instead of
    the driver union-find."""
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
        lsh_candidate_pairs,
    )

    small = {n: _plan(spark, sf_dir, n) for n in
             ("token_budget_select", "sequence_pack", "span_dedup")}
    assert all("Exchange SinglePartition" in small[n]
               for n in ("token_budget_select", "sequence_pack"))
    assert "Window [" in small["span_dedup"]
    _, rounds_small = _components_label(lsh_candidate_pairs(spark, sf_dir))
    assert rounds_small == 0  # proven-small pairs take the driver path

    def refuse(d):
        raise AssertionError("span groups sampled inside scale_plans()")

    monkeypatch.setattr(curation, "span_max_group_bound", refuse)
    with scale_plans():
        forced = {n: _plan(spark, sf_dir, n) for n in
                  ("token_budget_select", "sequence_pack", "span_dedup")}
        assert all("Exchange SinglePartition" not in forced[n]
                   for n in ("token_budget_select", "sequence_pack"))
        assert "Window [" not in forced["span_dedup"]
        _, rounds_forced = _components_label(lsh_candidate_pairs(spark, sf_dir))
        assert rounds_forced >= 1  # distributed fixpoint ran


def test_span_group_bound_gate(spark, sf_dir, monkeypatch):
    """VERDICT r7 #1: past the stats gate, span_dedup's plan choice
    keys on a sampled bound of the LARGEST span-hash group, not corpus
    row count — a large-but-unviral corpus keeps the ~1.7x cheaper
    window plan, and only measured kilo-scale viral spans pay the
    skew-safe premium."""
    # 1. the estimator separates the regimes: 400k docs sharing ONE
    # text (every window hash a 400k-doc group — past the r13
    # measured cap of 262,144) vs 20k docs of fully id-tagged
    # distinct tokens (every group exactly 1 doc)
    shared = " ".join(f"tok{i}" for i in range(20))
    viral = spark.range(400_000).selectExpr(
        "id AS doc_id", f"'{shared}' AS text"
    )
    unviral = spark.range(20000).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 20), "
        "i -> concat('t', id, '_', i))) AS text",
    )
    vb = curation.span_max_group_bound(viral)
    ub = curation.span_max_group_bound(unviral)
    assert vb > curation.SPAN_WINDOW_MAX_GROUP, vb
    assert ub <= curation.SPAN_WINDOW_MAX_GROUP, ub

    # 2. the gate wiring: with footer stats refusing to prove "small",
    # the bound alone must decide the plan (values straddle the r13
    # cap SPAN_WINDOW_MAX_GROUP = 262,144 — a kilo-viral 10k bound
    # now correctly KEEPS the window plan, per the measured cliff
    # sweep in SOAK r13)
    monkeypatch.setattr(curation, "table_rows", lambda sf_dir, name: None)
    monkeypatch.setattr(curation, "span_max_group_bound", lambda d: 300_000)
    assert "Window [" not in _plan(spark, sf_dir, "span_dedup")
    monkeypatch.setattr(curation, "span_max_group_bound", lambda d: 10_000)
    assert "Window [" in _plan(spark, sf_dir, "span_dedup")
