"""The core correctness gate: every registered query must match its
DuckDB oracle at sf0.001 (the driver runs the same check at sf0.01).

Covers BOTH registry views: the fine-grained full registry (debugging
granularity — a failure names the exact operator) and the
consolidated driver-facing entries (what the driver actually hashes,
including the typed-union merge projections)."""

from __future__ import annotations

import pytest

from environmental_stac_generator_spark.registry import (
    load_full_registry,
    load_registry,
)
from environmental_stac_generator_spark.tables import load
from tests.oracle import compare, run_duckdb

FULL = load_full_registry()
CONSOLIDATED = load_registry()
# full registry first, then the merged driver-facing entries
REG = {**FULL, **{n: s for n, s in CONSOLIDATED.items() if n not in FULL}}
SQL_QUERIES = sorted(name for name, spec in REG.items() if spec.sql is not None)
ROWS_ONLY = sorted(name for name, spec in REG.items() if spec.sql is None)


# The exact driver-entry names, IN ORDER, as recorded in
# CORRECTNESS_r06.json. Round-over-round correctness comparability
# rides on these never silently changing: a renamed entry would show
# up driver-side as one query vanishing and an unknown one appearing,
# breaking the per-name history (VERDICT r6 #7). Additions must
# MERGE into an existing consolidated entry (COVERAGE.md merge map);
# renames must be deliberate — update this literal in the same commit
# and say why.
DRIVER_ENTRY_NAMES = [
    "q1_pricing_summary", "band_stats", "collection_extent",
    "agg_counts", "overview_pyramid", "band_pivot", "geojson_bbox",
    "explode_embeddings", "dedup_exact", "minhash_lsh",
    "lsh_verified_pairs", "text_near_dup", "duplicate_clusters",
    "bbox_reproject", "zorder_spatial", "skip_existing",
    "get_or_create_collections", "upsert_merge", "fact_dim_join",
    "datetime_scalars", "classifier_scalars", "row_scalars",
    "md5_multihash", "json_props_extract", "config_guard",
    "cosine_topk", "knn_join", "ann_lsh", "ivf_ann_probe",
    "kmeans_clusters", "exact_percentiles", "salted_agg",
    "salted_join", "asof_join_events", "range_join_tiers",
    "curation_suite", "quality_score", "text_profile",
    "ordered_select", "windowed_aggs", "time_rollup", "event_cube",
    "netcdf_scan", "raster_encode", "stac_pipeline",
    "streaming_suite", "multimodal_pipeline", "asset_probe",
    "storage_layout", "approx_sketches",
]


def test_driver_window():
    """The driver checks the first 50 queries() entries — the whole
    consolidated registry must fit, SQL-checked entries first, and
    the names must match the pinned round-6 list exactly (count and
    order alone would let a silent rename slip through)."""
    names = list(CONSOLIDATED)
    assert names == DRIVER_ENTRY_NAMES
    sql_flags = [CONSOLIDATED[n].sql is not None for n in names]
    assert sql_flags.count(True) == 42, "42 SQL-checked entries"
    assert all(sql_flags[:42]), "SQL entries must lead"


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_oracle_match(spark, sf_dir, name):
    spec = REG[name]
    sdf = spec.fn(spark, sf_dir)
    ddf = run_duckdb(spec.sql, sf_dir)
    errs = compare(sdf, ddf, name)
    assert not errs, "\n".join(errs)


# Consolidated entries whose name COLLIDES with a fine-grained query
# (the merged union kept the original's name) are shadowed out of REG
# by the dict merge above — without this list, the exact entries the
# driver hashes under those names were never parity-tested locally
# (found in r9 when ivf_ann_probe grew its index-probe parts).
DRIVER_MERGED_SHADOWED = sorted(
    n
    for n, s in CONSOLIDATED.items()
    if s.sql is not None and n in FULL and s is not FULL[n]
)


@pytest.mark.parametrize("name", DRIVER_MERGED_SHADOWED)
def test_driver_merged_shadowed_oracle_match(spark, sf_dir, name):
    spec = CONSOLIDATED[name]
    sdf = spec.fn(spark, sf_dir)
    ddf = run_duckdb(spec.sql, sf_dir)
    errs = compare(sdf, ddf, f"driver:{name}")
    assert not errs, "\n".join(errs)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    # > 0, mirroring the driver contract: a rows-only kernel whose
    # output regresses to empty is a failure there, so a vacuous
    # `>= 0` here would keep CI green while the driver flags it
    df = REG[name].fn(spark, sf_dir)
    assert df.count() > 0


def test_sql_defined_entries_leave_no_temp_view(spark, sf_dir):
    """A SQL-defined entry binds its tables through spark.sql's
    temporary views; they are dropped before the frame is returned,
    and the frame still runs without them."""
    from environmental_stac_generator_spark.registry import SQL_DEFINED

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    assert len(SQL_DEFINED) >= 28
    for name in sorted(SQL_DEFINED):
        FULL[name].fn(spark, sf_dir).collect()
    assert temp_views() <= before
    assert not any(v.startswith("_pyspark_") for v in temp_views())


def test_sql_defined_entry_keeps_callers_cache(spark, sf_dir):
    """Catalog.dropTempView also uncaches every cached plan equal to
    the view: through it, one q1 run uncached a persisted lineitem."""
    lineitem = load(spark, sf_dir, "lineitem").persist()
    lineitem.count()
    FULL["q1_pricing_summary"].fn(spark, sf_dir).collect()
    assert lineitem.storageLevel.useMemory or lineitem.storageLevel.useDisk
    lineitem.unpersist()


def test_events_ts_loads_as_timestamp(spark, sf_dir):
    """Schema-drift guard (VERDICT r3): the driver's events.parquet has
    shipped `ts` as both TIMESTAMP(NANOS) and timestamp[us]. Whatever
    the physical type, `load` must yield a plain TIMESTAMP column with
    sane values — a drift here once bricked 13 correctness entries."""
    from pyspark.sql import types as T

    ev = load(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    assert lo.year >= 2000 and hi.year <= 2100, (lo, hi)


def test_duplicate_clusters_with_reliable_checkpoint(spark, sf_dir, tmp_path):
    """VERDICT r1: with a checkpoint dir configured the fixpoint loop
    must use reliable checkpoint() (fault-tolerant at 100 TB) and
    still match the oracle."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        spec = FULL["duplicate_clusters"]
        errs = compare(spec.fn(spark, sf_dir), run_duckdb(spec.sql, sf_dir),
                       "duplicate_clusters+ckpt")
        assert not errs, "\n".join(errs)
    finally:
        # restore "no checkpoint dir" on the shared session fixture
        # (no public unset API; the Scala setter is checkpointDir_=)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def test_events_loader_handles_nanos_parquet(spark, sf_dir, tmp_path):
    """The OTHER physical layout: a TIMESTAMP(NANOS) events.parquet
    (what the driver shipped before the timestamp[us] drift) must load
    to the same TIMESTAMP column values via the nanosAsLong branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = load(spark, sf_dir, "events")
    want = {r["event_id"]: r["ts"] for r in ev.select("event_id", "ts").collect()}

    pdf = ev.toPandas()
    tbl = pa.Table.from_pandas(pdf)
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        idx, pa.field("ts", pa.timestamp("ns")), tbl.column("ts").cast(pa.timestamp("ns"))
    )
    (tmp_path / "events.parquet").mkdir()
    pq.write_table(
        tbl, tmp_path / "events.parquet" / "part-0.parquet",
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,
    )
    from pyspark.sql import types as T

    ev2 = load(spark, str(tmp_path), "events")
    assert isinstance(ev2.schema["ts"].dataType, T.TimestampType)
    got = {r["event_id"]: r["ts"] for r in ev2.select("event_id", "ts").collect()}
    assert got == want
