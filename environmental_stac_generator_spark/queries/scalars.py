"""Scalar functions & predicates (SURVEY §2.3 P3–P8, C1; §2.7 F1–F17).

Every kernel here is pure built-in expressions — no Python UDFs —
so the whole map stage stays inside whole-stage codegen and scales
linearly with input bytes at 100 TB. The per-row classifiers and
string kernels are single SQL texts (``register_sql``); the
frequency parser, datetime suite and JSON extractors keep DataFrame
bodies that share column helpers with the engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.functions.frequency import (
    FREQ_PATTERN,
    freq_unit,
    freq_value,
)
from environmental_stac_generator_spark.functions.rounding import rnd
from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load


@register(
    "freq_parse",
    rf"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_linenumber AS VARCHAR) || CASE CAST(l_orderkey % 5 AS INT)
               WHEN 0 THEN 'hours' WHEN 1 THEN 'days' WHEN 2 THEN 'weeks'
               WHEN 3 THEN 'months' ELSE 'years' END AS freq
      FROM lineitem
    )
    SELECT freq,
           TRY_CAST(regexp_extract(freq, '{FREQ_PATTERN}', 1) AS DOUBLE) AS freq_value,
           CASE WHEN u = '' OR u LIKE '%s' THEN u ELSE u || 's' END AS freq_unit,
           count(*) AS n
    FROM (SELECT freq, regexp_extract(freq, '{FREQ_PATTERN}', 2) AS u FROM src)
    GROUP BY 1, 2, 3
    """,
    doc="F1 parse_forecast_frequency: regex '<float><unit>' split "
    "(ref utils.py:122-158).",
)
def freq_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    unit = (
        F.when(F.col("l_orderkey") % 5 == 0, "hours")
        .when(F.col("l_orderkey") % 5 == 1, "days")
        .when(F.col("l_orderkey") % 5 == 2, "weeks")
        .when(F.col("l_orderkey") % 5 == 3, "months")
        .otherwise("years")
    )
    src = li.select(
        F.concat(F.col("l_linenumber").cast("string"), unit).alias("freq")
    )
    # Parse AFTER the aggregation: freq functionally determines
    # (value, unit), so the regex runs once per distinct frequency
    # string (~30) instead of once per row (~600k at sf0.1).
    return (
        src.groupBy("freq")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "freq",
            # the SHARED column parsers (functions.frequency): ANSI-safe
            # try_cast and parse_forecast_frequency's pluralization
            freq_value("freq").alias("freq_value"),
            freq_unit("freq").alias("freq_unit"),
            "n",
        )
    )


register_sql(
    "hemisphere",
    """
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 50 = 0 THEN NULL
                  ELSE CAST(l_partkey % 181 AS DOUBLE) - 90 END AS lat_min
      FROM {lineitem}
    )
    SELECT CASE WHEN lat_min IS NULL THEN ''
                WHEN lat_min BETWEEN 0 AND 90 THEN 'north'
                WHEN lat_min >= -90 AND lat_min < 0 THEN 'south'
                ELSE 'invalid' END AS hemisphere,
           count(*) AS n
    FROM src GROUP BY 1
    """,
    doc="P7 hemisphere classification: [0,90]->north, [-90,0)->south, "
    "missing->'' (ref utils.py:47-82).",
)


register_sql(
    "unit_rescale",
    """
    WITH src AS (
      SELECT p_partkey, p_retailprice AS coord,
             CASE CAST(p_partkey % 3 AS INT)
               WHEN 0 THEN 'km' WHEN 1 THEN '1000 meter' ELSE 'm' END AS units
      FROM {part}
    )
    SELECT units,
           floor((CAST(sum(CASE WHEN units IN ('km', '1000 meter')
                          THEN coord * 1000 ELSE coord END) AS DOUBLE)) * 1e2 + 0.5) / 1e2
             AS total_metres,
           count(*) AS n
    FROM src GROUP BY units
    """,
    doc="P8/F16 unit normalization: km / '1000 meter' coords x1000 to "
    "metres (ref stac/generator.py:533-553).",
)


DATETIME_SCALARS_SQL = """
    SELECT o_orderkey,
           strftime(o_orderdate + to_days(CAST(o_orderkey % 93 AS INT)),
                    '%Y-%m-%d %H:%M') AS valid_time,
           strftime(o_orderdate + to_months(CAST(o_custkey % 12 AS INT)),
                    '%Y-%m-%d') AS end_month,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')  AS iso_str,
           strftime(o_orderdate, '%Y-%m-%d_%H:%M')      AS underscore_str,
           strftime(o_orderdate, '%Y-%m-%d %H:%M')      AS space_str,
           strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ')  AS fname_str,
           strftime(o_orderdate, '%Y-%m-%d')            AS date_str,
           'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') AS item_id,
           'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ')
             || '_lead_' || CAST(o_orderkey % 93 AS VARCHAR) AS asset_id,
           o_orderpriority || '/' || strftime(o_orderdate, '%Y-%m-%d') || '/'
             || CAST(o_orderkey AS VARCHAR) || '.tif' AS cog_path
    FROM orders
    """


@register(
    "interval_arith",
    f"""
    SELECT o_orderkey, valid_time, end_month
    FROM ({DATETIME_SCALARS_SQL})
    """,
    doc="F2 leadtime datetime arithmetic: calendar-aware day and "
    "month steps (relativedelta semantics, ref stac/generator.py:680-682, "
    "855-857; Spark add_months == DuckDB month interval, both clamp "
    "end-of-month).",
)
def interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datetime_scalars(spark, sf_dir).select(
        "o_orderkey", "valid_time", "end_month"
    )


@register(
    "date_formats",
    f"""
    SELECT o_orderkey, iso_str, underscore_str, space_str, fname_str, date_str
    FROM ({DATETIME_SCALARS_SQL})
    """,
    doc="F3 the reference's 4 datetime string formats + date part "
    "(ref utils.py:190-210, stac/generator.py:671-678,865-868).",
)
def date_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datetime_scalars(spark, sf_dir).select(
        "o_orderkey", "iso_str", "underscore_str", "space_str", "fname_str", "date_str"
    )


register_sql(
    "title_string",
    # replace() runs over the WHOLE capitalized string: capitalize()
    # leaves a leading '_' untouched and the reference's replace()
    # afterwards turns it into a space (same fix as
    # plans.stac_catalog.title_case)
    """
    SELECT r_regionkey,
           replace(replace(upper(substr(lower(r_name), 1, 1)) ||
             substr(lower(r_name), 2), '_', ' '), '-', ' ') ||
             ' collection' AS title
    FROM {region}
    """,
    doc="F6 title derivation: name.capitalize() + '_'/'-'->' ' + "
    "' collection' (ref stac/generator.py:654).",
)


@register(
    "id_templating",
    f"""
    SELECT o_orderkey, item_id, asset_id, cog_path
    FROM ({DATETIME_SCALARS_SQL})
    """,
    doc="F7 item/file id templating: forecast_init_<ts>, _lead_<ts>, "
    "{collection}/{date}/{id}.tif (ref stac/generator.py:695,871-875,689-701).",
)
def id_templating(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datetime_scalars(spark, sf_dir).select(
        "o_orderkey", "item_id", "asset_id", "cog_path"
    )


@register(
    "href_rewrite",
    """
    WITH assets AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN './cogs/' || CAST(doc_id AS VARCHAR) || '.tif'
                  ELSE 'https://other.example/' || CAST(doc_id AS VARCHAR) || '.tif'
             END AS href
      FROM documents
    )
    SELECT doc_id, href,
           regexp_replace(href, '^\\./', 'https://files.example.com/') AS rewritten
    FROM assets
    """,
    doc="F8 href URL rewrite: './x' -> FILE_SERVER_URL + 'x' "
    "(ref stac/generator.py:1047-1056).",
)
def href_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    href = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("./cogs/"), F.col("doc_id").cast("string"), F.lit(".tif")),
    ).otherwise(
        F.concat(
            F.lit("https://other.example/"), F.col("doc_id").cast("string"), F.lit(".tif")
        )
    )
    return d.select(
        "doc_id",
        href.alias("href"),
        F.regexp_replace(href, r"^\./", "https://files.example.com/").alias("rewritten"),
    )


register_sql(
    "md5_multihash",
    """
    SELECT doc_id,
           'd50110' || md5(text) AS multihash,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM {documents}
    """,
    doc="F9/F10 MD5 multihash: varint fn code (0xd5 -> bytes d5 01, "
    "high bit set) + 0x10 length + hex digest — the exact encoding "
    "multihash.digest(data, 'md5') emits; block-wise and whole-file "
    "digests are identical (ref stac/utils.py:17-56).",
)


register_sql(
    "mime_guess",
    """
    WITH files AS (
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN '.tif' WHEN 1 THEN '.jpg' WHEN 2 THEN '.nc'
               WHEN 3 THEN '.json' ELSE '.bin' END AS ext
      FROM {documents}
    )
    SELECT ext,
           CASE ext
             WHEN '.tif'  THEN 'image/tiff; application=geotiff'
             WHEN '.jpg'  THEN 'image/jpeg'
             WHEN '.nc'   THEN 'application/netcdf'
             WHEN '.json' THEN 'application/json'
             ELSE 'application/octet-stream' END AS media_type,
           count(*) AS n
    FROM files GROUP BY 1, 2
    """,
    doc="F11 MIME type lookup by extension (ref stac/utils.py:90-93).",
)


register_sql(
    "floor_2dp",
    """
    SELECT event_id, floor(value * 100) / 100 AS value_floored
    FROM {events}
    """,
    doc="F15 2dp floor truncation: math.floor(x*100)/100 "
    "(ref utils.py:250).",
)


# Merged per-row datetime/string scalar suite (F2 + F3 + F7): one
# single-scan projection over orders combining interval_arith,
# date_formats and id_templating — the consolidated registry exposes
# this as ``datetime_scalars`` so all three §2.7 functions share one
# driver correctness row without extra scans or joins on the Spark
# side (the oracle joins the three sub-selects on o_orderkey, which
# is fine — the oracle never needs to scale).


def datetime_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3+F7 in one codegen'd map pass over orders (no joins)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    ts = F.date_format(d, "yyyy-MM-dd'T'HH-mm-ss'Z'")
    item_id = F.concat(F.lit("forecast_init_"), ts)
    return o.select(
        "o_orderkey",
        F.date_format(
            F.expr(
                "o_orderdate + make_interval(0, 0, 0, CAST(o_orderkey % 93 AS INT), 0, 0, 0)"
            ),
            "yyyy-MM-dd HH:mm",
        ).alias("valid_time"),
        F.date_format(
            F.add_months("o_orderdate", (F.col("o_custkey") % 12).cast("int")),
            "yyyy-MM-dd",
        ).alias("end_month"),
        F.date_format(d, "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_str"),
        F.date_format(d, "yyyy-MM-dd_HH:mm").alias("underscore_str"),
        F.date_format(d, "yyyy-MM-dd HH:mm").alias("space_str"),
        F.date_format(d, "yyyy-MM-dd'T'HH-mm-ss'Z'").alias("fname_str"),
        F.date_format(d, "yyyy-MM-dd").alias("date_str"),
        item_id.alias("item_id"),
        F.concat(item_id, F.lit("_lead_"), (F.col("o_orderkey") % 93).cast("string")).alias(
            "asset_id"
        ),
        F.format_string(
            "%s/%s/%s.tif",
            F.col("o_orderpriority"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderkey").cast("string"),
        ).alias("cog_path"),
    )


@register(
    "json_attr_filter",
    """
    SELECT event_type,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS k_total,
           count(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_valid
    FROM events GROUP BY event_type
    """,
    doc="P6 JSON-serializability filter + attr extraction: keep only "
    "parseable attrs (ref utils.py:262-281).",
)
def json_attr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # try_cast: an unparseable attr value must be FILTERED (NULL), as
    # the doc promises — under default ANSI mode a plain cast aborts
    # the whole job on one malformed row
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_total"), F.count(k).alias("n_valid")
    )


register_sql(
    "coord_coalesce",
    """
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber % 2 = 0 THEN NULL ELSE l_quantity END AS xc,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_quantity * 2 END AS x,
             l_quantity * 4 AS lon
      FROM {lineitem}
    )
    SELECT l_orderkey, l_linenumber,
           coalesce(xc, x, lon) AS coord_x
    FROM src
    """,
    doc="P3 coordinate-name resolution: first present among candidate "
    "columns xc|x|lon (ref utils.py:17-31, stac/generator.py:487-496).",
)


register_sql(
    "config_guard",
    """
    WITH stored AS (
      SELECT r_regionkey AS collection, r_name AS forecast_frequency FROM {region}
    ),
    current AS (
      SELECT r_regionkey AS collection,
             CASE WHEN r_regionkey = 0 THEN 'CHANGED' ELSE r_name END
               AS forecast_frequency
      FROM {region} WHERE r_regionkey <> 1
    ),
    stored_scoped AS (
      SELECT * FROM stored
      WHERE collection IN (SELECT collection FROM current)
    )
    SELECT * FROM (
      SELECT 'added' AS drift, collection, forecast_frequency
      FROM (SELECT * FROM current EXCEPT ALL SELECT * FROM stored_scoped)
      UNION ALL
      SELECT 'removed' AS drift, collection, forecast_frequency
      FROM (SELECT * FROM stored_scoped EXCEPT ALL SELECT * FROM current)
    )
    """,
    doc="C1/F17 config consistency guard, per-collection like the "
    "reference's DeepDiff of one collection's entry (ref "
    "stac/generator.py:425-459): only collections present in the "
    "CURRENT run are validated — a stored config that also holds "
    "OTHER collections' entries (collection 1 here) raises nothing, "
    "and brand-new collections are allowed. Drift on a shared "
    "collection (key 0) still surfaces as added+removed rows.",
)


@register(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50)
                AS BIGINT) AS n_high,
           floor((avg(CAST(json_extract_string(props, '$.k') AS INT))) * 10000.0 + 0.5)
             / 10000.0 AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS k_total,
           count(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_valid
    FROM events GROUP BY event_type
    """,
    doc="P6 semi-structured analog: parse the events.props JSON map "
    "with a typed from_json schema, then aggregate — the dynamic-attrs "
    "pattern (ref utils.py:273-281) as a schema-on-read column. "
    "from_json is codegen'd; no Python touches the hot path. Also "
    "carries the serializability-filter aggregates (k_total over "
    "parseable attrs, n_valid) so P6's filter form shares this row.",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
            rnd(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("k_total"),
            F.count("k").alias("n_valid"),
        )
    )
