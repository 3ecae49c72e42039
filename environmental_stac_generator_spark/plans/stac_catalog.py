"""STAC catalog assembly as one aggregate chain over the slab summary.

The reference builds a pystac object tree on the driver
(``stac/generator.py:111-262,650-803``); here Catalog → Collection →
Item → Asset is a lazy chain of aggregates over the few rows of
``forecast.slab_summary`` (one per decoded slab), so it scales with
item count, never with cells:

1. per-COG rows, ``groupBy(collection, init, leadtime)``: the
   ``forecast:bands`` list and the COG asset;
2. per-item rows, ``groupBy(collection, init)``: the item's assets
   (COGs, NetCDF, lead-0 thumbnail) and leadtime count;
3. item documents get their collection's bbox through a window over
   the item rows; collection rows are ``groupBy(collection)`` over
   them. Either is one exchange of item rows; the optional
   per-collection CRS is the only join.

With the summary hash-partitioned by :data:`ITEM_KEYS`, steps 1 and 2
run without a shuffle. The documents are ``to_json`` projections of
the item and collection rows. A re-run merges each collection into
its stored document (``sinks.stac_json._merge_collection_doc``, J8);
the registry's ``get_or_create_collections`` and ``extent_merge``
state J1/J2 and J8 as relational queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from environmental_stac_generator_spark.operators.forecast import (
    FNAME_FMT,
    ISO_FMT,
    STAT_COLS,
    band_statistics,
    geometry_json,
    valid_time,
)

STAC_VERSION = "1.0.0"

# the item grain: one STAC item per (collection, forecast init time)
ITEM_KEYS = ["collection", "forecast_reference_time"]

# pystac's ProjectionExtension schema (the extension the reference
# adds to every item, ref stac/generator.py:257-260 — proj.code)
PROJ_EXT_SCHEMA = "https://stac-extensions.github.io/projection/v2.0.0/schema.json"

BAND_META_TYPE = (
    "array<struct<name:string,index:int,min:double,max:double,"
    "mean:double,std:double,valid_percent:double>>"
)
# the fields of an asset entry that its document object carries
_DOC_FIELDS = ["href", "media_type", "title", "description", "roles", "band_meta"]
BBOX_COLS = ["xmin", "ymin", "xmax", "ymax"]


def _bbox_aggs(w: Window | None = None) -> list[Column]:
    """min of the minima, max of the maxima — over ``w`` if given."""

    def agg(f, c):
        a = f(c)
        return (a if w is None else a.over(w)).alias(c)

    return [agg(F.min, "xmin"), agg(F.min, "ymin"), agg(F.max, "xmax"), agg(F.max, "ymax")]


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


def served_href(href: Column, file_server_url: str | None) -> Column:
    """F8: './x' -> FILE_SERVER_URL + 'x', base URL gets a trailing
    slash (ref ``stac/generator.py:1047-1056``); ``href`` unchanged
    without a URL. startswith + concat, NOT regexp_replace: Java's
    replaceAll treats '$' and '\\\\' in the REPLACEMENT specially, so
    a base URL containing '$' would throw an illegal-group-reference
    error at action time (and '\\\\' would silently corrupt hrefs)."""
    if not file_server_url:
        return href
    base = file_server_url if file_server_url.endswith("/") else file_server_url + "/"
    return F.when(
        href.startswith("./"),
        F.concat(F.lit(base), F.substring(href, 3, 1 << 30)),
    ).otherwise(href)


def _asset(
    key, href, media_type, title, description=None, roles="data",
    leadtime_idx=None, valid_time_str=None, band_meta=None,
) -> Column:
    """One asset entry: the document's asset object plus the key and
    the COG's leadtime columns of the ``assets`` frame."""

    def lit(v, type_):
        return v if isinstance(v, Column) else F.lit(v).cast(type_)

    return F.struct(
        lit(key, "string").alias("asset_key"),
        href.alias("href"),
        F.lit(media_type).alias("media_type"),
        title.alias("title"),
        lit(description, "string").alias("description"),
        F.array(F.lit(roles)).alias("roles"),
        lit(leadtime_idx, "int").alias("leadtime_idx"),
        lit(valid_time_str, "string").alias("valid_time_str"),
        lit(band_meta, BAND_META_TYPE).alias("band_meta"),
    )


def _thumbnail(href: Column) -> Column:
    return _asset("thumbnail", href, "image/jpeg", F.lit("Thumbnail"), roles="thumbnail")


def _item_id(init: Column) -> Column:
    return F.concat(F.lit("forecast_init_"), F.date_format(init, FNAME_FMT))


def _cog_rows(summary: DataFrame, unit: str, step: float, url: str | None) -> DataFrame:
    """One row per (collection, init, leadtime): the multi-band COG
    asset with its ``forecast:bands`` metadata (ref
    ``stac/generator.py:871-939``). The 1-based band index is the
    position in the variable-sorted band list (ref ``:882`` enumerates
    valid_bands)."""
    init, lead = F.col("forecast_reference_time"), F.col("leadtime_idx")
    vt = valid_time(init, lead, unit, step)
    bands = (
        summary.groupBy(*ITEM_KEYS, "leadtime_idx")
        .agg(
            F.sort_array(F.collect_list(F.struct("variable", *STAT_COLS))).alias("_b"),
            *_bbox_aggs(),
        )
    )
    band_meta = F.transform(
        "_b",
        lambda b, i: F.struct(
            b["variable"].alias("name"),
            (i + 1).alias("index"),
            *[b[c].alias(c) for c in STAT_COLS],
        ),
    )
    names = F.transform("_b", lambda b: b["variable"])
    href = F.format_string(
        "./cogs/%s/%s/%s_lead_%s.tif",
        F.col("collection"),
        F.date_format(init, "yyyy-MM-dd"),
        _item_id(init),
        # ref valid_time_str_1 (generator.py:866)
        F.date_format(vt, "yyyy-MM-dd_HHmm"),
    )
    return bands.select(
        *ITEM_KEYS,
        "leadtime_idx",
        *BBOX_COLS,
        _asset(
            F.date_format(vt, ISO_FMT),
            served_href(href, url),
            "image/tiff; application=geotiff; profile=cloud-optimized",
            F.concat(F.lit("Forecast at "), F.date_format(vt, "yyyy-MM-dd HH:mm")),
            description=F.concat(F.lit("Variables: "), F.concat_ws(", ", names)),
            leadtime_idx=lead,
            valid_time_str=F.date_format(vt, ISO_FMT),
            band_meta=band_meta,
        ).alias("_cog"),
        F.transform(
            names, lambda v: F.struct(v.alias("variable"), lead.alias("leadtime_idx"))
        ).alias("_var_leads"),
    )


def _item_rows(cogs: DataFrame, unit: str, step: float, url: str | None) -> DataFrame:
    """One row per (collection, init) (ref ``stac/generator.py:
    664-751,901-921``): the leadtime count, the item's assets sorted
    by key — its COGs, the full-forecast NetCDF and the lead-0
    thumbnail — and the (variable, leadtime) pairs it holds."""
    init = F.col("forecast_reference_time")
    rows = cogs.groupBy(*ITEM_KEYS).agg(
        F.count(F.lit(1)).alias("n_leadtime"),
        *_bbox_aggs(),
        F.collect_list("_cog").alias("_cogs"),
        F.max(
            F.when(
                F.col("leadtime_idx") == 0,
                F.regexp_replace(F.col("_cog")["href"], r"\.tif$", ".jpg"),
            )
        ).alias("_thumb"),
        F.sort_array(F.flatten(F.collect_list("_var_leads"))).alias("_var_leads"),
    )
    ref_str = F.date_format(init, ISO_FMT)
    netcdf = _asset(
        "netcdf",
        served_href(
            F.format_string(
                "./netcdf/%s/%s/%s.nc",
                F.col("collection"),
                F.date_format(init, "yyyy-MM-dd"),
                F.date_format(init, FNAME_FMT),
            ),
            url,
        ),
        "application/netcdf",
        F.concat(
            F.lit("Full forecast netCDF from "),
            F.date_format(init, "yyyy-MM-dd HH:mm"),
        ),
        description=F.concat(
            F.lit(
                "netCDF file container forecast variables for forecast"
                " initialised at: "
            ),
            ref_str,
        ),
    )
    thumb = F.when(
        F.col("_thumb").isNotNull(),
        _thumbnail(F.col("_thumb")),
    )
    end_time = valid_time(init, F.col("n_leadtime") - 1, unit, step)
    return rows.select(
        *ITEM_KEYS,
        _item_id(init).alias("item_id"),
        ref_str.alias("forecast_reference_time_str"),
        F.date_format(end_time, ISO_FMT).alias("forecast_end_time_str"),
        "n_leadtime",
        *BBOX_COLS,
        F.sort_array(
            F.array_compact(F.concat("_cogs", F.array(netcdf, thumb)))
        ).alias("assets"),
        "_thumb",
        "_var_leads",
    )


def _located(
    rows: DataFrame, crs_by_collection: dict[str, str | None] | None, bbox_transform
) -> DataFrame:
    """``rows``' collection bbox as GeoJSON ``geometry`` (ref
    ``stac/generator.py:555-585``). With ``crs_by_collection``
    (collection → crs; a collection it lacks gets a NULL crs),
    projected-CRS bboxes reproject to WGS84 BEFORE the geometry is
    built, exactly like the reference's
    ``proj_to_geo`` inside ``_get_bbox_and_geometry`` (``:581-584``),
    and the source CRS becomes ``crs`` (an item's ``proj:code``,
    ``:255-260``); without it the bbox stays in native coordinates
    and ``crs`` is NULL. ``bbox_transform`` overrides the pyproj
    kernel for environments without pyproj."""
    if crs_by_collection is None:
        return geometry_json(rows.withColumn("crs", F.lit(None).cast("string")))
    from environmental_stac_generator_spark.functions import geo

    crs = F.col("crs")
    # a literal map, not a join: a broadcast costs a job per action
    crs_of = F.create_map(
        *[F.lit(x) for kv in crs_by_collection.items() for x in kv]
    ).cast("map<string,string>")
    out = rows.withColumn("crs", crs_of[F.col("collection")])
    # '' (missing attr) and the reference's bare '4326' spelling are
    # both "already WGS84" (ref :582 checks ["EPSG:4326", "4326"]);
    # NULL passes the kernel through. Only '' is an unknown proj:code.
    out = out.withColumn(
        "_src_crs", F.when(crs.isin("", "4326"), None).otherwise(crs)
    ).withColumn("crs", F.when(crs == "", None).otherwise(crs))
    kwargs = {"transform": bbox_transform} if bbox_transform else {}
    return geometry_json(
        geo.reproject_bbox(out, crs_col="_src_crs", **kwargs).drop("_src_crs")
    )


def _with_collection_bbox(items: DataFrame) -> DataFrame:
    """Every item row gets its collection's bbox through a window
    over the item rows — the item document carries the collection's
    bbox and geometry (ref ``stac/generator.py:664-731``)."""
    w = Window.partitionBy("collection")
    return items.select(
        *[c for c in items.columns if c not in BBOX_COLS],
        *_bbox_aggs(w),
    )


def _collection_rows(items: DataFrame) -> DataFrame:
    """One row per collection from its item rows (ref
    ``get_forecast_info``, ``stac/generator.py:461-531``): bbox,
    temporal extent, the full-coverage band list, leadtime count, and
    the FIRST item's thumbnail promoted to a collection asset — first
    by item id, so the choice does not depend on arrival order (ref
    ``:795-803``).

    Band list: ``forecast.infer_valid_bands``'s rule (P1) over the
    distinct (variable, leadtime) pairs; ``collect_set`` keeps one
    copy of each distinct per-item pair list."""
    pairs = F.array_distinct(F.flatten(F.collect_set("_var_leads")))
    first_thumb = F.min(F.when(F.col("_thumb").isNotNull(), F.struct("item_id", "_thumb")))
    rows = items.groupBy("collection").agg(
        *_bbox_aggs(),
        F.min("forecast_reference_time").alias("extent_start"),
        F.max("forecast_reference_time").alias("extent_end"),
        pairs.alias("_pairs"),
        first_thumb["_thumb"].alias("_thumb"),
    )
    variables = F.array_sort(F.array_distinct(F.transform("_pairs", lambda p: p["variable"])))
    n_lead = F.transform(
        variables,
        lambda v: F.size(F.filter("_pairs", lambda p: p["variable"] == v)),
    )
    return rows.select(
        "collection",
        *BBOX_COLS,
        "extent_start",
        "extent_end",
        F.filter(
            variables, lambda v, i: n_lead[i] == F.array_max(n_lead)
        ).alias("valid_bands"),
        F.size(
            F.array_distinct(F.transform("_pairs", lambda p: p["leadtime_idx"]))
        ).cast("long").alias("n_leadtime"),
        F.when(
            F.col("_thumb").isNotNull(), F.array(_thumbnail(F.col("_thumb")))
        ).alias("assets"),
    )


def _asset_rows(owner: DataFrame) -> DataFrame:
    """The ``assets`` frame's rows of ``owner``'s asset arrays."""
    return owner.select(
        F.col("collection").alias("collection_id"),
        "item_id",
        F.explode("assets").alias("a"),
    ).select("collection_id", "item_id", "a.*")


def build_catalog(
    summary: DataFrame,
    crs_by_collection: dict[str, str | None] | None = None,
    bbox_transform=None,
    license: str = "other",
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
    file_server_url: str | None = None,
) -> dict[str, DataFrame]:
    """The whole summary → COG → item → collection chain (module
    docstring; ref ``stac/generator.py:650-803``), hrefs rewritten
    onto ``file_server_url`` when given.

    ``summary`` is ``forecast.slab_summary()`` output, best cached
    repartitioned by :data:`ITEM_KEYS`. Returns projections of the
    chain: ``items`` and ``collections`` (the inputs of
    :func:`items_to_json` / :func:`collections_to_json`), ``assets``
    (one row per asset; collection-level ones have a NULL
    ``item_id``), ``info`` (per collection: the twin of
    ``get_forecast_info``'s 10-tuple), ``leadtime_counts`` and
    ``stats``."""
    cogs = _cog_rows(summary, leadtime_unit, leadtime_step, file_server_url)
    per_item = _item_rows(cogs, leadtime_unit, leadtime_step, file_server_url)
    items = _located(_with_collection_bbox(per_item), crs_by_collection, bbox_transform)
    per_coll = _collection_rows(per_item)
    colls = _located(per_coll, crs_by_collection, bbox_transform)
    info_cols = [
        "collection", *BBOX_COLS, "geometry", "extent_start", "extent_end",
        "valid_bands", "n_leadtime",
    ]
    return {
        "info": colls.select(*info_cols),
        "leadtime_counts": per_item.select(*ITEM_KEYS, "n_leadtime"),
        "stats": band_statistics(summary),
        "collections": colls.select(
            F.col("collection").alias("collection_id"),
            F.col("collection").alias("title"),
            F.concat(title_case("collection"), F.lit(" collection")).alias(
                "description"
            ),
            F.lit(license).alias("license"),
            F.array(*BBOX_COLS).alias("bbox"),
            *info_cols[5:],
            "assets",
        ),
        "items": items.select(
            F.col("collection").alias("collection_id"),
            "item_id",
            F.col("forecast_reference_time").alias("datetime"),
            "forecast_reference_time_str",
            "forecast_end_time_str",
            "n_leadtime",
            F.array(*BBOX_COLS).alias("bbox"),
            "geometry",
            "crs",
            "assets",
        ),
        "assets": _asset_rows(per_item).unionByName(
            _asset_rows(per_coll.withColumn("item_id", F.lit(None).cast("string")))
        ),
    }


def _asset_map(assets: Column) -> Column:
    """key -> asset object (J9), entries in key order."""
    return F.map_from_entries(
        F.transform(
            assets,
            lambda a: F.struct(
                a["asset_key"], F.struct(*[a[f].alias(f) for f in _DOC_FIELDS])
            ),
        )
    )


def items_to_json(items: DataFrame) -> DataFrame:
    """N6/K4: full STAC Item documents as JSON strings, a projection
    of :func:`build_catalog`'s ``items``. An item with a known
    ``crs`` carries the projection extension exactly as the reference
    adds it (ref ``stac/generator.py:255-260``): the extension schema
    in ``stac_extensions`` and the source CRS as ``proj:code``."""
    crs = F.col("crs")
    return items.select(
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
                _asset_map(F.col("assets")).alias("assets"),
            )
        ).alias("json"),
    )


def collections_to_json(collections: DataFrame) -> DataFrame:
    """Collection documents as JSON (ref ``stac/generator.py:178-190``),
    a projection of :func:`build_catalog`'s ``collections``; their
    ``assets`` hold the promoted first-item thumbnail (J9, ref
    ``:795-803``)."""
    return collections.select(
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
                _asset_map(F.col("assets")).alias("assets"),
            )
        ).alias("json"),
    )
