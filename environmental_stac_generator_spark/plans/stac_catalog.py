"""STAC catalog assembly as DataFrame derivations.

The reference builds a pystac object tree on the driver
(``stac/generator.py:111-262,650-803``); here Catalog → Collection →
Item → Asset are three DataFrames with deterministic upsert
semantics, so the whole catalog derivation is a lazy plan that scales
with item count:

- collections(collection_id, title, description, license, bbox,
  extent_start, extent_end, hemisphere)
- items(collection_id, item_id, datetime, geometry, bbox,
  properties…)
- assets(collection_id, item_id, asset_key, href, media_type, title,
  description, roles, band_meta…)

Every "get_or_create" is a left-anti + union (J1/J2/W3) and the
extent update is an aggregate merge (J8) — both order-independent,
unlike the reference's first-wins in-memory mutation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from environmental_stac_generator_spark.operators.forecast import (
    FNAME_FMT,
    ISO_FMT,
    band_statistics,
    forecast_info,
    leadtime_counts,
    valid_time,
)

STAC_VERSION = "1.0.0"


def title_case(col: Column | str) -> Column:
    """F6: ``name.capitalize().replace('_',' ').replace('-',' ')``
    (ref ``stac/generator.py:654``). The separator translate runs
    over the WHOLE capitalized string — capitalize() leaves a leading
    '_' untouched and the replace() afterwards turns it into a space,
    so '_icenet' must become ' icenet', not keep the underscore."""
    c = F.col(col) if isinstance(col, str) else col
    capitalized = F.concat(
        F.upper(F.substring(c, 1, 1)), F.lower(F.substring(c, 2, 1 << 30))
    )
    return F.translate(capitalized, "_-", "  ")


def build_collections(
    info: DataFrame, license: str = "other", hemisphere: Column | None = None
) -> DataFrame:
    """Collection rows from forecast_info output
    (ref ``get_or_create_collection`` creation branch,
    ``stac/generator.py:650-659,178-190``)."""
    out = info.select(
        F.col("collection").alias("collection_id"),
        F.col("collection").alias("title"),
        F.concat(title_case("collection"), F.lit(" collection")).alias("description"),
        F.lit(license).alias("license"),
        F.array("xmin", "ymin", "xmax", "ymax").alias("bbox"),
        "geometry",
        "extent_start",
        "extent_end",
        "valid_bands",
        "n_leadtime",
    )
    if hemisphere is not None:
        out = out.withColumn("hemisphere", hemisphere)
    return out


def merge_collections(existing: DataFrame, new: DataFrame) -> DataFrame:
    """J1 + J8: keep existing metadata (first writer wins on
    title/description), merge temporal extents as [min(starts),
    max(ends)] (ref ``stac/generator.py:175-207``)."""
    meta_cols = [c for c in existing.columns if c not in ("extent_start", "extent_end")]
    # ONE union feeds both derivations — a second union of the same
    # inputs for the extents aggregate would scan both relations twice
    tagged = existing.withColumn("_rank", F.lit(0)).unionByName(
        new.select(*existing.columns).withColumn("_rank", F.lit(1))
    )
    w = Window.partitionBy("collection_id").orderBy("_rank")
    meta = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*meta_cols)
    )
    extents = tagged.groupBy("collection_id").agg(
        F.min("extent_start").alias("extent_start"),
        F.max("extent_end").alias("extent_end"),
    )
    return meta.join(extents, "collection_id")


def build_items(
    long_times: DataFrame,
    info: DataFrame,
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
) -> DataFrame:
    """Item rows: one per (collection, forecast init time)
    (ref ``stac/generator.py:664-731``).

    ``long_times`` needs (collection, forecast_reference_time,
    n_leadtime); ``info`` supplies bbox/geometry/crs per collection.
    """
    end_time = valid_time(
        "forecast_reference_time",
        F.col("n_leadtime") - 1,
        leadtime_unit,
        leadtime_step,
    )
    items = long_times.select(
        F.col("collection").alias("collection_id"),
        F.concat(
            F.lit("forecast_init_"),
            F.date_format("forecast_reference_time", FNAME_FMT),
        ).alias("item_id"),
        F.col("forecast_reference_time").alias("datetime"),
        F.date_format("forecast_reference_time", ISO_FMT).alias(
            "forecast_reference_time_str"
        ),
        F.date_format(end_time, ISO_FMT).alias("forecast_end_time_str"),
        "n_leadtime",
    )
    geo = info.select(
        F.col("collection").alias("collection_id"),
        F.array("xmin", "ymin", "xmax", "ymax").alias("bbox"),
        "geometry",
    )
    return items.join(geo, "collection_id")


def merge_items(existing: DataFrame, new: DataFrame) -> DataFrame:
    """J2: composite-key get-or-create — existing items never
    replaced (ref ``stac/generator.py:243-261``)."""
    created = new.join(
        existing.select("collection_id", "item_id"),
        ["collection_id", "item_id"],
        "left_anti",
    )
    return existing.unionByName(created.select(*existing.columns))


def build_netcdf_assets(items: DataFrame) -> DataFrame:
    """The per-item full-forecast NetCDF asset
    (ref ``stac/generator.py:736-751``)."""
    space_fmt = "yyyy-MM-dd HH:mm"
    return items.select(
        "collection_id",
        "item_id",
        F.lit("netcdf").alias("asset_key"),
        F.format_string(
            "./netcdf/%s/%s/%s.nc",
            F.col("collection_id"),
            F.date_format("datetime", "yyyy-MM-dd"),
            F.date_format("datetime", FNAME_FMT),
        ).alias("href"),
        F.lit("application/netcdf").alias("media_type"),
        F.concat(
            F.lit("Full forecast netCDF from "),
            F.date_format("datetime", space_fmt),
        ).alias("title"),
        F.concat(
            F.lit(
                "netCDF file container forecast variables for forecast"
                " initialised at: "
            ),
            F.col("forecast_reference_time_str"),
        ).alias("description"),
        F.array(F.lit("data")).alias("roles"),
        F.lit(None).cast("int").alias("leadtime_idx"),
        F.lit(None).cast("string").alias("valid_time_str"),
        F.lit(None).cast(
            "array<struct<name:string,index:int,min:double,max:double,"
            "mean:double,std:double,valid_percent:double>>"
        ).alias("band_meta"),
    )


def build_cog_assets(
    stats: DataFrame,
    items: DataFrame,
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
) -> DataFrame:
    """Per-leadtime multi-band COG assets with the forecast:bands
    metadata array (ref ``stac/generator.py:871-939``).

    ``stats`` is band_statistics() output. The band index is a
    1-based row_number ordered by variable name (ref ``:882`` uses
    enumerate over valid_bands) and the band list is a
    ``collect_list(struct(...))`` over that deterministic order (N2).
    """
    vt = valid_time(
        "forecast_reference_time", "leadtime_idx", leadtime_unit, leadtime_step
    )
    w = Window.partitionBy(
        "collection", "forecast_reference_time", "leadtime_idx"
    ).orderBy("variable")
    bands = (
        stats.withColumn("index", F.row_number().over(w))
        .groupBy("collection", "forecast_reference_time", "leadtime_idx")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("variable").alias("name"),
                        "index",
                        "min",
                        "max",
                        "mean",
                        "std",
                        "valid_percent",
                    )
                )
            ).alias("band_meta"),
            F.sort_array(F.collect_set("variable")).alias("band_names"),
        )
        .withColumn("valid_time", vt)
    )
    item_keys = items.select(
        F.col("collection_id").alias("collection"),
        F.col("datetime").alias("forecast_reference_time"),
        "item_id",
    )
    lead_fmt = "yyyy-MM-dd_HHmm"  # ref valid_time_str_1 (generator.py:866)
    joined = bands.join(item_keys, ["collection", "forecast_reference_time"])
    return joined.select(
        F.col("collection").alias("collection_id"),
        "item_id",
        F.date_format("valid_time", ISO_FMT).alias("asset_key"),
        F.format_string(
            "./cogs/%s/%s/%s_lead_%s.tif",
            F.col("collection"),
            F.date_format("forecast_reference_time", "yyyy-MM-dd"),
            F.col("item_id"),
            F.date_format("valid_time", lead_fmt),
        ).alias("href"),
        F.lit("image/tiff; application=geotiff; profile=cloud-optimized").alias(
            "media_type"
        ),
        F.concat(
            F.lit("Forecast at "), F.date_format("valid_time", "yyyy-MM-dd HH:mm")
        ).alias("title"),
        F.concat(F.lit("Variables: "), F.concat_ws(", ", "band_names")).alias(
            "description"
        ),
        F.array(F.lit("data")).alias("roles"),
        "leadtime_idx",
        F.date_format("valid_time", ISO_FMT).alias("valid_time_str"),
        "band_meta",
    )


def build_thumbnail_assets(cog_assets: DataFrame) -> DataFrame:
    """K3/J9: one thumbnail per item (leadtime 0) plus the
    collection-level promotion of the FIRST item's thumbnail —
    deterministic via a window ordered by (datetime, item_id), fixing
    the reference's arrival-order dependence
    (ref ``stac/generator.py:795-803,913-921``)."""
    lead0 = cog_assets.filter(F.col("leadtime_idx") == 0).select(
        "collection_id",
        "item_id",
        F.lit("thumbnail").alias("asset_key"),
        F.regexp_replace("href", r"\.tif$", ".jpg").alias("href"),
        F.lit("image/jpeg").alias("media_type"),
        F.lit("Thumbnail").alias("title"),
        F.lit(None).cast("string").alias("description"),
        F.array(F.lit("thumbnail")).alias("roles"),
        F.lit(None).cast("int").alias("leadtime_idx"),
        F.lit(None).cast("string").alias("valid_time_str"),
        F.lit(None).cast(
            "array<struct<name:string,index:int,min:double,max:double,"
            "mean:double,std:double,valid_percent:double>>"
        ).alias("band_meta"),
    )
    w = Window.partitionBy("collection_id").orderBy("item_id")
    collection_thumb = (
        lead0.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("item_id", F.lit(None).cast("string"))
    )
    return lead0.unionByName(collection_thumb)


def rewrite_hrefs(assets: DataFrame, file_server_url: str) -> DataFrame:
    """F8: './x' -> FILE_SERVER_URL + 'x', base URL gets a trailing
    slash (ref ``stac/generator.py:1047-1056``). startswith + concat,
    NOT regexp_replace: Java's replaceAll treats '$' and '\\\\' in the
    REPLACEMENT specially, so a base URL containing '$' would throw
    an illegal-group-reference error at action time (and '\\\\' would
    silently corrupt hrefs)."""
    base = file_server_url if file_server_url.endswith("/") else file_server_url + "/"
    href = F.col("href")
    return assets.withColumn(
        "href",
        F.when(
            href.startswith("./"),
            F.concat(F.lit(base), F.substring(href, 3, 1 << 30)),
        ).otherwise(href),
    )


def build_catalog(
    summary: DataFrame,
    crs_by_collection: DataFrame | None = None,
    bbox_transform=None,
    license: str = "other",
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
    file_server_url: str | None = None,
) -> dict[str, DataFrame]:
    """The whole summary → info → collections/items/assets chain
    (ref ``stac/generator.py:650-803``): COG, NetCDF and thumbnail
    assets, hrefs rewritten onto ``file_server_url`` when given.

    ``summary`` is ``forecast.slab_summary()`` output. Returns
    ``info``, ``leadtime_counts``, ``stats``, ``collections``,
    ``items`` and ``assets``; each is derived from the summary's few
    rows only."""
    info = forecast_info(
        summary, crs_by_collection=crs_by_collection, bbox_transform=bbox_transform
    )
    stats = band_statistics(summary)
    times = leadtime_counts(summary)
    items = build_items(
        times, info, leadtime_unit=leadtime_unit, leadtime_step=leadtime_step
    )
    cog_assets = build_cog_assets(
        stats, items, leadtime_unit=leadtime_unit, leadtime_step=leadtime_step
    )
    assets = cog_assets.unionByName(build_netcdf_assets(items)).unionByName(
        build_thumbnail_assets(cog_assets)
    )
    if file_server_url:
        assets = rewrite_hrefs(assets, file_server_url)
    return {
        "info": info,
        "leadtime_counts": times,
        "stats": stats,
        "collections": build_collections(info, license=license),
        "items": items,
        "assets": assets,
    }


# pystac's ProjectionExtension schema (the extension the reference
# adds to every item, ref stac/generator.py:257-260 — proj.code)
PROJ_EXT_SCHEMA = "https://stac-extensions.github.io/projection/v2.0.0/schema.json"


def _asset_map(assets: DataFrame, keys: list[str]):
    """key->asset map per ``keys`` grain (J9) — shared by the item
    and collection document assemblers."""
    return assets.groupBy(*keys).agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("asset_key"),
                        F.struct(
                            "href", "media_type", "title", "description",
                            "roles", "band_meta",
                        ).alias("asset"),
                    )
                )
            )
        ).alias("assets")
    )


def items_to_json(items: DataFrame, assets: DataFrame, crs_by_collection: DataFrame | None = None) -> DataFrame:
    """N6/K4: assemble full STAC Item documents as JSON strings.

    Assets fold back into a key->asset map via
    ``map_from_entries(collect_list(...))`` (J9). With
    ``crs_by_collection`` (collection_id, crs), the item document
    carries the projection extension exactly as the reference adds it
    (ref ``stac/generator.py:255-260``): the extension schema in
    ``stac_extensions`` and the source CRS as ``proj:code``."""
    asset_map = _asset_map(
        assets.filter(F.col("item_id").isNotNull()),
        ["collection_id", "item_id"],
    )
    doc = items.join(asset_map, ["collection_id", "item_id"], "left")
    crs = F.lit(None).cast("string")
    if crs_by_collection is not None:
        doc = doc.join(
            crs_by_collection.select(
                "collection_id",
                F.when(F.col("crs") == "", None).otherwise(F.col("crs")).alias("_crs"),
            ),
            "collection_id",
            "left",
        )
        crs = F.col("_crs")
    doc = doc.select(
        "collection_id",
        "item_id",
        F.to_json(
            F.struct(
                F.lit("Feature").alias("type"),
                F.lit(STAC_VERSION).alias("stac_version"),
                # to_json drops null fields: items without a known CRS
                # simply omit stac_extensions, like a pystac item with
                # no extension added
                F.when(
                    crs.isNotNull(), F.array(F.lit(PROJ_EXT_SCHEMA))
                ).alias("stac_extensions"),
                F.col("item_id").alias("id"),
                F.col("collection_id").alias("collection"),
                F.col("geometry"),
                F.col("bbox"),
                F.struct(
                    F.date_format("datetime", ISO_FMT).alias("datetime"),
                    crs.alias("proj:code"),
                    F.col("forecast_reference_time_str").alias(
                        "forecast:reference_time"
                    ),
                    F.col("forecast_end_time_str").alias("forecast:end_time"),
                    F.col("n_leadtime").alias("forecast:leadtime_length"),
                ).alias("properties"),
                F.col("assets"),
            )
        ).alias("json"),
    )
    return doc


def collections_to_json(
    collections: DataFrame, assets: DataFrame | None = None
) -> DataFrame:
    """Collection documents as JSON (ref ``stac/generator.py:178-190``).

    ``assets`` — the full assets frame: its ``item_id IS NULL`` rows
    are the collection-LEVEL assets (the J9 thumbnail promotion,
    ``build_thumbnail_assets``; ref ``:795-803``) and fold into the
    collection document here — without this the promoted thumbnail
    was computed and then reached no serialized document."""
    doc = collections
    if assets is not None:
        coll_assets = _asset_map(
            assets.filter(F.col("item_id").isNull()), ["collection_id"]
        )
        doc = doc.join(coll_assets, "collection_id", "left")
    else:
        doc = doc.withColumn(
            "assets",
            F.lit(None).cast("map<string,struct<href:string>>"),
        )
    return doc.select(
        "collection_id",
        F.to_json(
            F.struct(
                F.lit("Collection").alias("type"),
                F.lit(STAC_VERSION).alias("stac_version"),
                F.col("collection_id").alias("id"),
                F.col("title"),
                F.col("description"),
                F.col("license"),
                F.struct(
                    F.struct(F.array("bbox").alias("bbox")).alias("spatial"),
                    F.struct(
                        F.array(
                            F.array(
                                F.date_format("extent_start", ISO_FMT),
                                F.date_format("extent_end", ISO_FMT),
                            )
                        ).alias("interval")
                    ).alias("temporal"),
                ).alias("extent"),
                F.col("assets"),
            )
        ).alias("json"),
    )
