"""Aggregation operators (SURVEY §2.5 A1–A8).

Reference kernels re-expressed as built-in Spark aggregations:
- A1 bbox min/max           (ref ``stac/generator.py:555-585``)
- A2 temporal extent        (ref ``stac/generator.py:517-518``)
- A3 per-band statistics    (ref ``utils.py:213-259``; NaN-skipping,
  population stddev, floored valid%)
- A5 directory size sum     (ref ``stac/utils.py:77-85``)
- A6 leadtime count         (ref ``stac/generator.py:647``)
- A7 overview pyramid       (ref ``cog.py:89-117``; hierarchical
  windowed average at /2 and /4)

A1, A3, A5, A6 and the Q1 flagship are plain SQL texts
(``register_sql``); A2 and A7 keep DataFrame bodies. All are
single-shuffle aggregate plans with map-side partial aggregation; at 100 TB the only cost is one exchange on the
(low-cardinality) group keys, and AQE coalesces the post-shuffle
partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.functions.rounding import rnd
from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load


register_sql(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           floor((CAST(sum(l_quantity) AS DOUBLE)) * 1e2 + 0.5) / 1e2      AS sum_qty,
           floor((CAST(sum(l_extendedprice) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
           floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
           floor((CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS sum_charge,
           floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4      AS avg_qty,
           floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS avg_price,
           floor((avg(l_discount)) * 1e4 + 0.5) / 1e4      AS avg_disc,
           count(*) AS count_order
    FROM {lineitem}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship: TPC-H Q1-shaped pricing summary (A3 stats family).",
)


register_sql(
    "bbox_agg",
    """
    SELECT l_returnflag,
           min(l_quantity)      AS xmin,
           min(l_extendedprice) AS ymin,
           max(l_quantity)      AS xmax,
           max(l_extendedprice) AS ymax
    FROM {lineitem} GROUP BY l_returnflag
    """,
    doc="A1 spatial bbox: [min(x), min(y), max(x), max(y)] per group "
    "(ref stac/generator.py:577-579).",
)


@register(
    "temporal_extent",
    """
    SELECT o_orderpriority,
           strftime(min(o_orderdate), '%Y-%m-%dT%H:%M:%SZ') AS extent_start,
           strftime(max(o_orderdate), '%Y-%m-%dT%H:%M:%SZ') AS extent_end
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A2 temporal extent: first/last timestamp per collection "
    "(ref stac/generator.py:517-518).",
)
def temporal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return o.groupBy("o_orderpriority").agg(
        F.date_format(F.min("o_orderdate"), fmt).alias("extent_start"),
        F.date_format(F.max("o_orderdate"), fmt).alias("extent_end"),
    )


register_sql(
    "band_stats",
    """
    WITH masked AS (
      SELECT event_type,
             CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END AS value
      FROM {events}
    )
    SELECT event_type,
           min(value) AS stat_min,
           max(value) AS stat_max,
           floor((avg(value)) * 1e4 + 0.5) / 1e4        AS stat_mean,
           floor((stddev_pop(value)) * 1e4 + 0.5) / 1e4 AS stat_std,
           floor(1e2 * count(value) / count(*) * 100) / 100 AS valid_pct
    FROM masked GROUP BY event_type
    """,
    doc="A3 per-band stats with NaN/NULL skipping, POPULATION stddev "
    "(numpy np.std semantics, ref utils.py:244-248) and 2dp-FLOORED "
    "valid percent (ref utils.py:250).",
)


register_sql(
    "dir_size_sum",
    """
    SELECT source,
           CAST(sum(n_chars) AS BIGINT) AS total_bytes,
           count(*) AS n_files
    FROM {documents} GROUP BY source
    """,
    doc="A5 directory size sum: sum(getsize) over a file listing "
    "(ref stac/utils.py:77-85).",
)


register_sql(
    "leadtime_count",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_distinct,
           count(*) AS n_rows
    FROM {events} GROUP BY event_type
    """,
    doc="A6 leadtime count: distinct coordinate count per group "
    "(ref stac/generator.py:647).",
)


@register(
    "overview_pyramid",
    """
    WITH grid AS (
      SELECT CAST(l_partkey % 64 AS BIGINT) AS xi,
             CAST(l_suppkey % 64 AS BIGINT) AS yi,
             l_quantity AS value
      FROM lineitem
    ),
    level1 AS (
      SELECT xi // 2 AS xb, yi // 2 AS yb, avg(value) AS v
      FROM grid GROUP BY xi // 2, yi // 2
    )
    SELECT xb // 2 AS xo, yb // 2 AS yo, floor((avg(v)) * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM level1 GROUP BY xb // 2, yb // 2
    """,
    doc="A7 overview pyramid: hierarchical /2,/4 windowed-average "
    "downsample, the relational analog of gdaladdo average resampling "
    "(ref cog.py:89-117).",
)
def overview_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    grid = li.select(
        (F.col("l_partkey") % 64).alias("xi"),
        (F.col("l_suppkey") % 64).alias("yi"),
        F.col("l_quantity").alias("value"),
    )
    level1 = grid.groupBy(
        (F.col("xi") / 2).cast("long").alias("xb"),
        (F.col("yi") / 2).cast("long").alias("yb"),
    ).agg(F.avg("value").alias("v"))
    return level1.groupBy(
        (F.col("xb") / 2).cast("long").alias("xo"),
        (F.col("yb") / 2).cast("long").alias("yo"),
    ).agg(rnd(F.avg("v"), 4).alias("avg_value"))
