"""Array / nested / pivot operators (SURVEY §2.6 N1–N6).

Band stacking, explode/flatten, and GeoJSON templating as built-in
array functions. The pivots are SQL texts (``register_sql``) with an
explicit, fixed column list per pivot value, so the plan needs no
extra distinct-scan job and the output schema is deterministic at
any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.functions.rounding import rnd
from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load

register_sql(
    "band_pivot",
    """
    SELECT user_id % 10 AS user_bucket,
           floor((avg(CASE WHEN event_type = 'click'    THEN value END)) * 1e4 + 0.5) / 1e4 AS click,
           floor((avg(CASE WHEN event_type = 'error'    THEN value END)) * 1e4 + 0.5) / 1e4 AS error,
           floor((avg(CASE WHEN event_type = 'purchase' THEN value END)) * 1e4 + 0.5) / 1e4 AS purchase,
           floor((avg(CASE WHEN event_type = 'signup'   THEN value END)) * 1e4 + 0.5) / 1e4 AS signup,
           floor((avg(CASE WHEN event_type = 'view'     THEN value END)) * 1e4 + 0.5) / 1e4 AS view
    FROM {events} GROUP BY user_id % 10
    """,
    doc="N1 band stacking: long->wide pivot on the variable column "
    "(xr.concat along band dim, ref stac/generator.py:264-308,902-904). "
    "Fixed pivot values => single-pass plan.",
)


register_sql(
    "geojson_bbox",
    """
    WITH bbox AS (
      SELECT /*+ BROADCAST(r) */ r_name AS collection,
             CAST(min(n_nationkey) AS DOUBLE) AS xmin,
             CAST(min(n_regionkey) AS DOUBLE) AS ymin,
             CAST(max(n_nationkey) AS DOUBLE) AS xmax,
             CAST(max(n_regionkey) AS DOUBLE) AS ymax
      FROM {nation} n JOIN {region} r ON n_regionkey = r_regionkey
      GROUP BY r_name
    )
    SELECT collection,
           printf('{{"type": "Polygon", "coordinates": [[[%.6f, %.6f], [%.6f, %.6f], [%.6f, %.6f], [%.6f, %.6f], [%.6f, %.6f]]]}}',
                  xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin)
             AS geometry
    FROM bbox
    """,
    doc="N4 GeoJSON Polygon from bbox corners: shapely.box+mapping as "
    "a pure string template (ref stac/generator.py:584).",
)


@register(
    "explode_embeddings",
    """
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS pos,
           floor((CAST(unnest(embedding) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS component
    FROM embeddings
    WHERE vec_id < 100
    """,
    doc="N5 flatten/explode: array column -> one row per element with "
    "1-based position (ref utils.py:34-44 flatten_list).",
)
def explode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "comp")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        rnd(F.col("comp").cast("double"), 6).alias("component"),
    )


register_sql(
    "grid_to_wide",
    """
    SELECT l_suppkey % 16 AS yc, l_partkey % 16 AS xc,
           floor((avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END)) * 1e4 + 0.5) / 1e4 AS band_a,
           floor((avg(CASE WHEN l_returnflag = 'N' THEN l_quantity END)) * 1e4 + 0.5) / 1e4 AS band_n,
           floor((avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END)) * 1e4 + 0.5) / 1e4 AS band_r
    FROM {lineitem}
    GROUP BY l_suppkey % 16, l_partkey % 16
    """,
    doc="N1 long->grid regroup: the cell-level pivot that rebuilds a "
    "(y, x, band) raster tile from tidy rows — the relational half of "
    "the K2 COG regroup (ref stac/generator.py:902-904).",
)
