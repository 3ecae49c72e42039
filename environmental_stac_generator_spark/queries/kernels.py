"""Rows-only registry entries for the non-SQL-expressible kernels
(SURVEY §2.10 U1–U6, §2.9 T1–T3).

These have no DuckDB oracle (the driver records a weaker rows-only
check) but are deterministic end-to-end pipelines: each callable
builds its own temp inputs, runs the real Spark plumbing (binaryFile
scan → mapInPandas / applyInPandas / Structured Streaming), and
returns the result DataFrame. Unit tests in tests/ assert the strong
invariants (grid round-trip, checksums, idempotency).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.registry import register
from environmental_stac_generator_spark.tables import load


# Every kernel invocation creates scratch dirs (fake landing files,
# parquet/checkpoint state) and some register a memory-sink table. A
# driver/bench loop re-running the registry would otherwise
# accumulate unbounded /tmp and driver-memory state: scratch dirs are
# swept at interpreter exit, and each kernel drops its PREVIOUS
# invocation's memory-sink view before registering a new one (the
# current view must outlive the returned DataFrame that reads it).
_SCRATCH_DIRS: list[str] = []
# keyed (session, prefix): temp views are session-scoped, so the
# previous-invocation drop must target the session that registered
# the view — a prefix-only key would aim the drop at whichever
# session called last (the old view then leaks for the session's
# lifetime; names are uuid'd so there is no collision, only the
# leak). Each entry carries a WEAK session ref (ADVICE r15 #3):
# unlike _VIEW_PINS there is nothing to clean up when a session
# dies (its temp views die with it), but the weakref lets access
# prune dead entries — bounding growth under session cycling — and
# guards the drop against a recycled id aiming at a fresh session.
_MEMORY_SINKS: dict[tuple[int, str], tuple["weakref.ref", str]] = {}


@atexit.register
def _sweep_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def _memory_sink_name(spark: SparkSession, prefix: str) -> str:
    import uuid
    import weakref

    # prune entries whose session was collected (their views died
    # with the session; the entries would otherwise accumulate
    # unboundedly under session cycling — ADVICE r15 #3)
    for key, (ref, _n) in list(_MEMORY_SINKS.items()):
        if ref() is None:
            _MEMORY_SINKS.pop(key, None)
    old = _MEMORY_SINKS.get((id(spark), prefix))
    # drop only when the stored ref still points at THIS session — a
    # recycled id over a dead session's entry must not aim the drop
    # at the new session (benign today since names are uuid'd, but
    # the check makes the id-keying self-evidently safe)
    if old is not None and old[0]() is spark:
        spark.catalog.dropTempView(old[1])
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    _MEMORY_SINKS[(id(spark), prefix)] = (weakref.ref(spark), name)
    return name


from functools import lru_cache


@lru_cache(maxsize=8)
def _fake_landing(n_files: int = 2) -> str:
    """Cached per (n_files, session lifetime): the fake decoder seeds
    its synthetic init dates on md5(file path), so a FRESH random
    tempdir per invocation made repeated runs of the same kernel emit
    different item sets (row counts drifting 3<->4 between otherwise
    identical calls). One stable landing path per process keeps every
    re-invocation byte-deterministic — and stops re-creating scratch
    dirs the sweep would otherwise accumulate."""
    d = Path(_scratch_dir("envstac_kernel_")) / "icenet_demo"
    d.mkdir(parents=True)
    for i in range(n_files):
        (d / f"fc{i}.nc").write_bytes(bytes([i]))
    return str(d)


@register(
    "netcdf_scan_long",
    None,
    doc="U1: binaryFile + mapInPandas NetCDF explode to long rows "
    "(deterministic fake decoder; ref stac/generator.py:485,506).",
)
def netcdf_scan_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.sources import netcdf

    return netcdf.scan_netcdf(spark, _fake_landing(), decoder=netcdf.fake_decoder())


@register(
    "netcdf_metadata_scan",
    None,
    doc="S1 attr-only scan: per-file CRS/units/attrs without loading "
    "data slabs (ref utils.py:68-70).",
)
def netcdf_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.sources import netcdf

    return netcdf.scan_netcdf_metadata(
        spark, _fake_landing(), meta_decoder=netcdf.fake_meta_decoder
    )


@register(
    "cog_encode",
    None,
    doc="K2/U2: applyInPandas grid rebuild + multi-band COG encode per "
    "(collection, init, leadtime) with md5 multihash results "
    "(ref cog.py:16-126).",
)
def cog_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.sinks import raster
    from environmental_stac_generator_spark.sources import netcdf

    long_df = netcdf.scan_netcdf(spark, _fake_landing(1), decoder=netcdf.fake_decoder())
    out = _scratch_dir("envstac_cogs_")
    return raster.encode_cogs(long_df, out).drop("path")  # path is tmp-random


@register(
    "netcdf_slice_write",
    None,
    doc="K1/U3: per-init-time sliced NetCDF write (zlib-9 analog, "
    "ref stac/generator.py:961-979).",
)
def netcdf_slice_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.sinks import raster
    from environmental_stac_generator_spark.sources import netcdf

    long_df = netcdf.scan_netcdf(spark, _fake_landing(1), decoder=netcdf.fake_decoder())
    out = _scratch_dir("envstac_nc_")
    return raster.write_netcdf_slices(long_df, out).drop("path")


@register(
    "stac_item_documents",
    None,
    doc="K4/N6: full STAC Item JSON documents assembled from the "
    "scan->info->items->assets plan (ref stac/generator.py:650-803).",
)
def stac_item_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.plans import stac_catalog as sc

    items, assets, _ = _assemble_catalog_frames(spark)
    return sc.items_to_json(items, assets)


def _assemble_catalog_frames(spark: SparkSession):
    """The engine's catalog assembly over the fake landing, shared by
    stac_item_documents and stac_catalog_roundtrip; returns (items,
    assets, info)."""
    from environmental_stac_generator_spark.operators import forecast as fc
    from environmental_stac_generator_spark.plans import stac_catalog as sc
    from environmental_stac_generator_spark.sources import netcdf

    long_df = netcdf.scan_netcdf(spark, _fake_landing(), decoder=netcdf.fake_decoder())
    cat = sc.build_catalog(fc.slab_summary(long_df))
    return cat["items"], cat["assets"], cat["info"]


@register(
    "multimodal_features",
    None,
    doc="Multimodal: binary media columns -> Arrow-batched decode/"
    "feature kernel (deterministic fake codec).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.operators import multimodal as mm

    media = mm.synthesize_media(load(spark, sf_dir, "documents"))
    return mm.extract_features(media)


@register(
    "streaming_incremental_merge",
    None,
    doc="T1/T3: file-source stream -> foreachBatch idempotent keyed "
    "merge (availableNow trigger drains deterministically).",
)
def streaming_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.streaming import incremental

    base = Path(_scratch_dir("envstac_stream_"))
    landing, table, ckpt = base / "landing", base / "table", base / "ckpt"
    sample = (
        load(spark, sf_dir, "orders")
        .limit(500)
        .select(
            F.lit("demo").alias("collection"),
            F.col("o_orderkey").cast("string").alias("item_id"),
            F.col("o_orderdate").alias("forecast_reference_time"),
        )
    )
    sample.write.mode("overwrite").parquet(str(landing))
    stream = incremental.stream_source(
        spark, landing, "collection string, item_id string, forecast_reference_time timestamp"
    )
    q = incremental.start_incremental_merge(
        stream, table, ckpt, ["collection", "item_id"]
    )
    if not q.awaitTermination(300):
        q.stop()  # timed out: fail loudly, never read partial output
        raise TimeoutError("streaming kernel did not drain within 300s")
    return spark.read.parquet(str(table)).select("collection", "item_id")


@register(
    "streaming_windowed_counts",
    None,
    doc="Watermarked tumbling-window streaming agg over the events "
    "stream (memory sink, availableNow). Batch twin with full oracle: "
    "tumbling_window_agg.",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.streaming import windows as sw

    base = Path(_scratch_dir("envstac_winstream_"))
    landing = base / "landing"
    sample = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    sample.write.mode("overwrite").parquet(str(landing))
    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(
        str(landing)
    )
    name = _memory_sink_name(spark, "win_counts")
    q = (
        sw.windowed_event_counts(stream, watermark="2 days")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # timed out: fail loudly, never read partial output
        raise TimeoutError("streaming kernel did not drain within 300s")
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "streaming_stateful_extent",
    None,
    doc="applyInPandasWithState custom stateful operator: per-"
    "collection running (min, max, count) extent in the state store "
    "(ref stac/generator.py:191-207 extent merge, streamed).",
)
def streaming_stateful_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.streaming import incremental
    from environmental_stac_generator_spark.streaming import windows as sw

    base = Path(_scratch_dir("envstac_statestream_"))
    landing = base / "landing"
    sample = (
        load(spark, sf_dir, "orders")
        .limit(500)
        .select(
            F.col("o_orderpriority").alias("collection"),
            F.col("o_orderkey").cast("string").alias("item_id"),
            F.col("o_orderdate").alias("forecast_reference_time"),
        )
    )
    sample.write.mode("overwrite").parquet(str(landing))
    stream = incremental.stream_source(
        spark, landing, "collection string, item_id string, forecast_reference_time timestamp"
    )
    rows: list = []
    q = (
        sw.stateful_running_extent(stream)
        .writeStream.foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # timed out: fail loudly, never read partial output
        raise TimeoutError("streaming kernel did not drain within 300s")
    return spark.createDataFrame(rows, sw.EXTENT_OUTPUT_SCHEMA)


@register(
    "streaming_dedup",
    None,
    doc="Streaming exact dedup: dropDuplicatesWithinWatermark over an "
    "event stream with replayed input — one state-store entry per key "
    "inside the watermark horizon, exactly-once output from an "
    "at-least-once source. Batch twin with full oracle: dedup_exact.",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.streaming import windows as sw

    base = Path(_scratch_dir("envstac_dedupstream_"))
    landing = base / "landing"
    sample = (
        load(spark, sf_dir, "events")
        .limit(500)
        .select("event_id", "ts", "event_type", "value")
    )
    # replayed source: every event delivered twice (at-least-once)
    sample.unionAll(sample).write.mode("overwrite").parquet(str(landing))
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, event_type string, value double"
    ).parquet(str(landing))
    name = _memory_sink_name(spark, "dedup_stream")
    q = (
        sw.dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # timed out: fail loudly, never read partial output
        raise TimeoutError("streaming kernel did not drain within 300s")
    return spark.sql(
        f"SELECT event_type, count(*) AS n_unique FROM {name} GROUP BY event_type"
    )


@register(
    "asset_probe",
    None,
    doc="S5/S6 + F12: distributed format/dtype/byte-order probe over "
    "an asset tree (pure-header TIFF parse, Zarr JSON, NetCDF magic) "
    "— one binaryFile map stage (ref stac/utils.py:96-133).",
)
def asset_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import struct as _struct

    from environmental_stac_generator_spark.sources import raster_probe as rp

    base = Path(_scratch_dir("envstac_assets_"))
    end, bom = "<", b"II"
    entries = [(256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 32),
               (277, 3, 1, 2), (339, 3, 1, 3)]
    ifd = _struct.pack(end + "H", len(entries))
    for tag, typ, count, val in entries:
        ifd += (
            _struct.pack(end + "HHI", tag, typ, count)
            + _struct.pack(end + "H", val)
            + b"\x00\x00"
        )
    ifd += _struct.pack(end + "I", 0)
    (base / "band.tif").write_bytes(bom + _struct.pack(end + "HI", 42, 8) + ifd)
    (base / "store").mkdir()
    (base / "store" / "zarr.json").write_bytes(
        _json.dumps({"zarr_format": 3, "node_type": "array", "data_type": "float64"}).encode()
    )
    (base / "thumb.jpg").write_bytes(b"\xff\xd8\xff\xe0demo")
    return rp.probe_assets(spark, str(base)).select(
        "format", "dtype", "bit_depth", "byte_order", "band_count"
    )


@register(
    "partitioned_roundtrip",
    None,
    doc="Hive-partitioned forecast store: partitionBy(collection, "
    "forecast_date) + sortWithinPartitions(leadtime) write, then a "
    "partition-pruned read (PartitionFilters) of one (collection, "
    "date) — the Spark-native form of the reference's directory "
    "layout (ref stac/generator.py:404-405,689-701).",
)
def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.sinks.table import (
        read_partition,
        write_partitioned,
    )

    base = Path(_scratch_dir("envstac_store_"))
    # Truncate run dates to the year so the demo layout matches the
    # real store's shape — few partitions, many rows each. Raw
    # o_orderdate would make one ~1-row directory per (collection,
    # date): a tiny-file explosion that is exactly the layout this
    # sink exists to avoid.
    long_df = (
        load(spark, sf_dir, "orders")
        .limit(2000)
        .select(
            F.concat(F.lit("coll_"), F.col("o_orderpriority")).alias("collection"),
            F.date_trunc("year", F.col("o_orderdate")).alias(
                "forecast_reference_time"
            ),
            (F.col("o_orderkey") % 5).cast("int").alias("leadtime_idx"),
            F.lit("sic_mean").alias("variable"),
            F.col("o_totalprice").alias("value"),
        )
    )
    write_partitioned(long_df, base / "store")
    first = long_df.select("collection").orderBy("collection").first()["collection"]
    return read_partition(spark, base / "store", first).select(
        "collection", "leadtime_idx", "variable"
    )


@register(
    "stac_catalog_roundtrip",
    None,
    doc="S3 + K4: write the item/collection JSON tree to disk, read "
    "it back with spark.read.json (recursive, multiLine), and "
    "traverse item->collection links — the resume/incremental path "
    "(ref Catalog.from_file, stac/generator.py:130-131).",
)
def stac_catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.plans import stac_catalog as sc
    from environmental_stac_generator_spark.sinks import stac_json as sj

    items, assets, info = _assemble_catalog_frames(spark)
    out = Path(_scratch_dir("envstac_cat_")) / "catalog"
    sj.save_items(sc.items_to_json(items, assets), out)
    sj.save_collections(sc.collections_to_json(sc.build_collections(info)), out)
    tree = sj.load_catalog_tree(spark, out)
    # link traversal: items (type=Feature) joined to their collection
    # docs (type=Collection) on the collection id
    docs = tree.select("type", "id", "collection")
    its = docs.filter(F.col("type") == "Feature").select(
        F.col("id").alias("item_id"), "collection"
    )
    colls = docs.filter(F.col("type") == "Collection").select(
        F.col("id").alias("collection")
    )
    return its.join(colls, "collection").select("collection", "item_id")


@register(
    "bucketed_colocated_join",
    None,
    doc="Bucketed co-located join: both tables written bucketBy(8, "
    "key).sortBy(key), then joined with ZERO exchanges on either side "
    "— the write-time shuffle is amortized over every later join "
    "(plan asserted in tests/test_bucketed.py).",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from environmental_stac_generator_spark.sinks.bucketed import (
        colocated_join,
        write_bucketed,
    )

    import uuid

    # per-invocation table names: fixed globals would let concurrent
    # executions sharing a warehouse overwrite each other's tables
    # mid-scan, or have one run's cleanup DROP + rmtree the files the
    # other is reading
    sfx = uuid.uuid4().hex[:12]
    t_orders, t_lineitem = f"q_b_orders_{sfx}", f"q_b_lineitem_{sfx}"
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, t_orders, "o_orderkey", 8)
    write_bucketed(lineitem, t_lineitem, "o_orderkey", 8)
    try:
        out = (
            colocated_join(spark, t_orders, t_lineitem, "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"))
        )
        rows = out.collect()
        schema = out.schema
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")
        wh = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
        shutil.rmtree(wh / t_orders, ignore_errors=True)
        shutil.rmtree(wh / t_lineitem, ignore_errors=True)
        try:  # remove the warehouse dir itself when empty
            wh.rmdir()
        except OSError:
            pass
    return spark.createDataFrame(rows, schema)


@register(
    "multimodal_frame_sample",
    None,
    doc="Multimodal video plumbing: per-media sampled frame indices "
    "(sequence+explode, payload never moves) unioned with the "
    "metadata-only media summary (binary columns pruned from both) "
    "and the resize kernel's output-byte total (mapInPandas resize "
    "of every image payload to 32x24).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.operators import multimodal as mm

    media = mm.synthesize_media(load(spark, sf_dir, "documents"))
    frames = mm.frame_sample(media, every_n=10)
    summary = mm.media_summary(media)
    resized = mm.resize_media(media, 32, 24).filter(F.col("kind") == "image")
    return (
        frames.groupBy(F.lit("frames").alias("part"))
        .agg(F.count(F.lit(1)).cast("double").alias("metric"))
        .unionByName(
            summary.select(
                F.concat(F.lit("summary_"), "kind").alias("part"),
                F.col("n").cast("double").alias("metric"),
            )
        )
        .unionByName(
            resized.groupBy(F.lit("resized_bytes").alias("part")).agg(
                F.sum(F.length("content")).cast("double").alias("metric")
            )
        )
    )
