"""Forecast-grid operators over the long-format model.

The reference's per-file, in-memory xarray pipeline
(``stac/generator.py:461-531`` get_forecast_info and helpers)
re-expressed as DataFrame transforms over
``sources.netcdf.LONG_SCHEMA`` rows. Each function is a pure
declarative plan: single shuffle per aggregate, filters pushed to the
scan, everything inside whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
FNAME_FMT = "yyyy-MM-dd'T'HH-mm-ss'Z'"

# P8/F16: units that mean "kilometres" — ONE definition, shared with
# the scan-side conversion (ref stac/generator.py:549-552)
from environmental_stac_generator_spark.sources.netcdf import KM_UNITS  # noqa: E402


def convert_units(df: DataFrame, x_units: Column | str, y_units: Column | str) -> DataFrame:
    """km / '1000 meter' coordinates -> metres (x1000), else pass
    through (ref ``stac/generator.py:533-553``)."""
    xu = F.col(x_units) if isinstance(x_units, str) else x_units
    yu = F.col(y_units) if isinstance(y_units, str) else y_units
    return df.withColumn(
        "xc", F.when(xu.isin(*KM_UNITS), F.col("xc") * 1000).otherwise(F.col("xc"))
    ).withColumn(
        "yc", F.when(yu.isin(*KM_UNITS), F.col("yc") * 1000).otherwise(F.col("yc"))
    )


def hemisphere_expr(lat_min: Column | str) -> Column:
    """[0,90] -> north, [-90,0) -> south, NULL -> '' (missing attr),
    else 'invalid' — the reference raises on invalid
    (ref ``utils.py:47-82``)."""
    lat = F.col(lat_min) if isinstance(lat_min, str) else lat_min
    return (
        F.when(lat.isNull(), "")
        .when(lat.between(0, 90), "north")
        .when((lat >= -90) & (lat < 0), "south")
        .otherwise("invalid")
    )


def nan_to_null(col: Column | str) -> Column:
    """NaN -> NULL so built-in aggregates reproduce numpy's
    nan-skipping semantics (ref ``utils.py:213-259``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.isnan(c), None).otherwise(c)


# the slab grain: one decoded 2-D array per (collection, init time,
# leadtime, variable) — the unit get_forecast_info / get_da_statistics
# see in memory (ref stac/generator.py:461-531, utils.py:213-259)
SLAB_KEYS = ["collection", "forecast_reference_time", "leadtime_idx", "variable"]
STAT_COLS = ["min", "max", "mean", "std", "valid_percent"]


def slab_summary(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """The ONE cell-level aggregate behind the catalog metadata: per
    ``keys`` group (default the slab grain) the band statistics and,
    when the frame has grid coordinates, the coordinate extent
    ``xmin/ymin/xmax/ymax``. Everything else the catalog needs (bbox,
    temporal extent, band list, leadtime counts) is derived from its
    few rows, so a cached summary spares every later catalog action a
    pass over the cells.

    Band statistics match ``get_da_statistics`` (ref
    ``utils.py:213-259``) exactly: NaN skipped, **population** stddev
    (numpy ``np.std``), and valid% = floor(100 * finite/total * 100) /
    100 (ref ``utils.py:250``). The valid count uses ``np.isfinite``
    semantics (±Inf excluded too), while min/max/mean/std keep numpy's
    nan-skipping-only semantics — an Inf-bearing band reports Inf
    stats but a lower valid%.
    """
    keys = keys or SLAB_KEYS
    v = nan_to_null("value")
    d = df.withColumn("v", v).withColumn(
        "v_finite",
        F.when(F.abs(F.col("v")) == float("inf"), None).otherwise(F.col("v")),
    )
    aggs = [
        F.min("v").alias("min"),
        F.max("v").alias("max"),
        F.avg("v").alias("mean"),
        F.stddev_pop("v").alias("std"),
        (F.floor(100.0 * F.count("v_finite") / F.count(F.lit(1)) * 100) / 100).alias(
            "valid_percent"
        ),
    ]
    if {"xc", "yc"} <= set(df.columns):
        aggs += [
            F.min("xc").alias("xmin"),
            F.min("yc").alias("ymin"),
            F.max("xc").alias("xmax"),
            F.max("yc").alias("ymax"),
        ]
    return d.groupBy(*keys).agg(*aggs)


def _as_summary(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """``df`` itself when it already is a :func:`slab_summary`, else
    its summary: the catalog derivations accept either grain."""
    return df if "valid_percent" in df.columns else slab_summary(df, keys)


def bbox(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """A1: [min(x), min(y), max(x), max(y)] per collection
    (ref ``stac/generator.py:555-585``) — min of the slab minima, max
    of the slab maxima. ``df``: cells or their slab summary."""
    keys = keys or ["collection"]
    return _as_summary(df).groupBy(*keys).agg(
        F.min("xmin").alias("xmin"),
        F.min("ymin").alias("ymin"),
        F.max("xmax").alias("xmax"),
        F.max("ymax").alias("ymax"),
    )


def geometry_json(bbox_df: DataFrame) -> DataFrame:
    """N4: GeoJSON Polygon string from bbox corners — pure string
    template, no geometry lib (ref ``stac/generator.py:584``)."""
    tmpl = (
        '{"type": "Polygon", "coordinates": [[[%.6f, %.6f], [%.6f, %.6f], '
        "[%.6f, %.6f], [%.6f, %.6f], [%.6f, %.6f]]]}"
    )
    return bbox_df.withColumn(
        "geometry",
        F.format_string(
            tmpl,
            "xmin", "ymin", "xmax", "ymin", "xmax", "ymax", "xmin", "ymax",
            "xmin", "ymin",
        ),
    )


def temporal_extent(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """A2: first/last forecast init time per collection
    (ref ``stac/generator.py:517-518``). Reads only key columns, so
    cells and their slab summary give the same rows."""
    keys = keys or ["collection"]
    return df.groupBy(*keys).agg(
        F.min("forecast_reference_time").alias("extent_start"),
        F.max("forecast_reference_time").alias("extent_end"),
    )


def band_statistics(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """A3: per-band min/max/mean/stddev + floored valid% — the
    statistics columns of :func:`slab_summary` (semantics there).
    ``df``: cells, or a slab summary for the default keys."""
    keys = keys or SLAB_KEYS
    return _as_summary(df, keys).select(*keys, *STAT_COLS)


def infer_valid_bands(df: DataFrame) -> DataFrame:
    """P1: the 4-D filter analog. In long format every emitted
    variable already has the full dim set; a variable scanned from a
    degenerate (non-4-D) source shows fewer distinct leadtimes than
    the collection's maximum. Keep only full-coverage variables
    (ref ``stac/generator.py:506``). Reads only key columns: cells
    and their slab summary give the same rows."""
    per_var = df.groupBy("collection", "variable").agg(
        F.countDistinct("leadtime_idx").alias("n_lead")
    )
    per_coll = per_var.groupBy("collection").agg(F.max("n_lead").alias("max_lead"))
    return (
        per_var.join(per_coll, "collection")
        .filter(F.col("n_lead") == F.col("max_lead"))
        .select("collection", "variable")
    )


def leadtime_counts(df: DataFrame) -> DataFrame:
    """A6: nleadtime per (collection, init time)
    (ref ``stac/generator.py:647``). ``df``: cells or their slab
    summary."""
    return _as_summary(df).groupBy("collection", "forecast_reference_time").agg(
        F.countDistinct("leadtime_idx").alias("n_leadtime")
    )


def valid_time(
    ref_time: Column | str, leadtime_idx: Column | str, unit: str, step: float = 1.0
) -> Column:
    """F2: calendar-aware valid-time arithmetic,
    ``t + relativedelta(**{unit: i*step})`` (ref
    ``stac/generator.py:855-857``). Delegates to
    :func:`functions.frequency.leadtime_offset` so there is ONE
    implementation of the relativedelta semantics (property-tested):
    fractional hours/days/weeks are exact microsecond durations,
    non-integer month/year offsets raise at evaluation time exactly
    as dateutil does ("Non-integer years and months are ambiguous"),
    and month arithmetic clamps to month end while PRESERVING
    time-of-day — the previous ``add_months(...).cast("timestamp")``
    silently truncated a 06:00 init time to midnight, and its
    fractional branches disagreed with the sibling implementation
    (30-day months here, an error there)."""
    from environmental_stac_generator_spark.functions.frequency import (
        FrequencyParseError,
        leadtime_offset,
    )

    t = F.col(ref_time) if isinstance(ref_time, str) else ref_time
    i = F.col(leadtime_idx) if isinstance(leadtime_idx, str) else leadtime_idx
    plural = unit if unit.endswith("s") else unit + "s"
    try:
        return leadtime_offset(t, plural, i * F.lit(float(step)))
    except FrequencyParseError as exc:
        raise ValueError(f"unknown leadtime unit {unit!r}") from exc


def forecast_info(
    df: DataFrame,
    crs_by_collection: DataFrame | None = None,
    bbox_transform=None,
) -> DataFrame:
    """The distributed twin of ``get_forecast_info``'s 10-tuple
    (ref ``stac/generator.py:461-531``): one row per collection with
    bbox + geometry, temporal extent, band list, leadtime count.
    ``df``: cells or their slab summary — every column is derived from
    the summary's rows.

    ``crs_by_collection`` — optional (collection, crs) frame (from the
    metadata scan): projected-CRS bboxes then reproject to WGS84
    BEFORE the geometry is built, exactly like the reference's
    ``proj_to_geo`` inside ``_get_bbox_and_geometry``
    (``stac/generator.py:581-584``); without it the bbox stays in
    native coordinates (the pre-round-6 behavior, correct only for
    EPSG:4326 sources). ``bbox_transform`` overrides the pyproj
    kernel for environments without pyproj."""
    s = _as_summary(df)
    b = bbox(s)
    if crs_by_collection is not None:
        from environmental_stac_generator_spark.functions import geo

        b = b.join(crs_by_collection, "collection", "left")
        # '' (missing attr) and the reference's bare '4326' spelling
        # are both "already WGS84" (ref :582 checks ["EPSG:4326",
        # "4326"]); normalize to NULL, which the kernel passes through
        b = b.withColumn(
            "crs",
            F.when(F.col("crs").isin("", "4326"), None).otherwise(F.col("crs")),
        )
        kwargs = {"transform": bbox_transform} if bbox_transform else {}
        b = geo.reproject_bbox(b, crs_col="crs", **kwargs).drop("crs")
    b = geometry_json(b)
    t = temporal_extent(s)
    bands = (
        infer_valid_bands(s)
        .groupBy("collection")
        .agg(F.sort_array(F.collect_set("variable")).alias("valid_bands"))
    )
    n_lead = s.groupBy("collection").agg(
        F.countDistinct("leadtime_idx").alias("n_leadtime")
    )
    return b.join(t, "collection").join(bands, "collection").join(n_lead, "collection")
