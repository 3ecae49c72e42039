"""Geo queries (SURVEY §2.7 F4 ensure_utc, F13 bbox reprojection).

``bbox_reproject`` exercises the full F13 path — per-group bbox agg
(A1) piped through ``reproject_bbox`` — on WGS84 input, where the
kernel passes floats through bit-exact, so the DuckDB oracle is the
plain aggregation. The foreign-CRS branch (injected transform) is
covered by tests/test_geo.py. ``ensure_utc_ts`` checks F4 against
DuckDB's UTC rendering of the same timestamps. ``zorder_spatial`` is
one SQL text run by both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.functions import zorder
from environmental_stac_generator_spark.functions.geo import ensure_utc, reproject_bbox
from environmental_stac_generator_spark.functions.rounding import sql_rnd
from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load


@register(
    "bbox_reproject",
    """
    SELECT l_returnflag,
           'EPSG:4326'          AS crs,
           min(l_quantity)      AS xmin,
           min(l_extendedprice) AS ymin,
           max(l_quantity)      AS xmax,
           max(l_extendedprice) AS ymax
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="F13 bbox reprojection (ref utils.py:161-166, "
    "stac/generator.py:582-583): WGS84 rows pass through exactly; "
    "foreign CRSs go through an injected transform kernel.",
)
def bbox_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    boxes = (
        li.groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("xmin"),
            F.min("l_extendedprice").alias("ymin"),
            F.max("l_quantity").alias("xmax"),
            F.max("l_extendedprice").alias("ymax"),
        )
        .withColumn("crs", F.lit("EPSG:4326"))
    )
    return reproject_bbox(boxes).select("l_returnflag", "crs", "xmin", "ymin", "xmax", "ymax")


@register(
    "ensure_utc_ts",
    """
    SELECT event_type,
           strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_utc,
           strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_utc
    FROM events GROUP BY event_type
    """,
    doc="F4 ensure_utc (ref utils.py:169-187): naive timestamps "
    "normalized to UTC, rendered ISO.",
)
def ensure_utc_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    utc = ensure_utc("ts")
    return ev.groupBy("event_type").agg(
        F.date_format(F.min(utc), fmt).alias("first_utc"),
        F.date_format(F.max(utc), fmt).alias("last_utc"),
    )


register_sql(
    "zorder_spatial",
    # the text is GENERATED from the quantize/morton helpers
    # (functions/zorder.py), whose SQL is identical in both engines:
    # a hand-copied bit ladder had already drifted textually
    f"""
    WITH q AS (
      SELECT {zorder.quantize_sql("value", 0.0, 500.0)} AS xq,
             {zorder.quantize_sql("CAST(user_id AS DOUBLE)", 0.0, 256.0)} AS yq,
             value
      FROM {{events}}
    )
    SELECT CAST({zorder.morton_sql("xq", "yq")} >> 10 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_rnd("avg(value)", 4)} AS avg_value
    FROM q
    GROUP BY 1
    """,
    doc="Z-order spatial index: Morton interleave of quantized "
    "(value, user_id) cells via the mask-shift bit ladder — identical "
    "int64 arithmetic in both engines. Sorting the store by this "
    "column clusters 2-D neighborhoods so parquet min/max stats prune "
    "spatial range scans (the lakehouse Z-ORDER technique).",
)
