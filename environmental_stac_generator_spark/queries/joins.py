"""Join / lookup / merge operators (SURVEY §2.4 J1–J9).

The reference's per-key ``SELECT EXISTS`` probes
(``stac/dataloader.py:54-100``) and linear catalog searches
(``stac/generator.py:175-177,243``) are re-expressed as bulk
anti-joins and left-anti + union upserts, each written as one SQL
text (``register_sql``) except the two-level ``extent_merge``. At
100 TB the "existing keys" side is orders of magnitude smaller than
the incoming side, so AQE turns every one of these into a broadcast
join — no shuffle of the big side at all.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load

register_sql(
    "skip_existing_collections",
    # unhinted: the existing-key set is catalog-scale, not a fixed
    # dimension — AQE runtime-sizes the anti-join
    """
    WITH existing AS (
      SELECT o_orderkey FROM {orders} WHERE o_orderkey % 3 = 0
    )
    SELECT o.o_orderstatus, count(*) AS n_new
    FROM {orders} o
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = o.o_orderkey)
    GROUP BY o.o_orderstatus
    """,
    doc="J4 skip-existing collections: bulk key scan + left-anti join "
    "replacing one SELECT EXISTS round-trip per key "
    "(ref stac/dataloader.py:139-144,54-73).",
)


register_sql(
    "skip_existing_items",
    """
    WITH existing AS (
      SELECT l_orderkey, l_linenumber FROM {lineitem} WHERE l_orderkey % 2 = 0
    )
    SELECT li.l_returnflag, count(*) AS n_new
    FROM {lineitem} li
    WHERE NOT EXISTS (
      SELECT 1 FROM existing e
      WHERE e.l_orderkey = li.l_orderkey AND e.l_linenumber = li.l_linenumber
    )
    GROUP BY li.l_returnflag
    """,
    doc="J5 skip-existing items: composite-key (id, collection) "
    "left-anti join (ref stac/dataloader.py:146-154,75-100).",
)


register_sql(
    "get_or_create_collections",
    """
    WITH existing AS (
      SELECT c_custkey AS id, c_name AS title FROM {customer} WHERE c_custkey % 2 = 0
    ),
    incoming AS (
      SELECT c_custkey AS id, c_name AS title FROM {customer}
      WHERE c_mktsegment = 'BUILDING'
    )
    SELECT id, title, 'existing' AS origin FROM existing
    UNION ALL
    SELECT i.id, i.title, 'created' AS origin
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.id = i.id)
    """,
    doc="J1/J2/W3 get-or-create: left-anti against existing keys, then "
    "unionByName — the idempotent catalog upsert "
    "(ref stac/generator.py:144-209,211-262).",
)


register_sql(
    "upsert_merge",
    """
    WITH base AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM {customer}
    ),
    updates AS (
      SELECT c_custkey, c_nationkey, c_acctbal + 100 AS c_acctbal
      FROM {customer} WHERE c_custkey % 5 = 0
    ),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = b.c_custkey)
    )
    SELECT c_nationkey, floor((CAST(sum(c_acctbal) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS total_bal,
           count(*) AS n
    FROM merged GROUP BY c_nationkey
    """,
    doc="J7 upsert merge: updates replace matching rows, others kept — "
    "the relational form of INSERT..ON CONFLICT DO UPDATE "
    "(ref stac/dataloader.py:171,174-189).",
)


@register(
    "extent_merge",
    """
    WITH old_extents AS (
      SELECT o_orderpriority, min(o_orderdate) AS t_start, max(o_orderdate) AS t_end
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
    ),
    new_extents AS (
      SELECT o_orderpriority, min(o_orderdate) AS t_start, max(o_orderdate) AS t_end
      FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           strftime(min(t_start), '%Y-%m-%dT%H:%M:%SZ') AS merged_start,
           strftime(max(t_end), '%Y-%m-%dT%H:%M:%SZ')   AS merged_end
    FROM (SELECT * FROM old_extents UNION ALL SELECT * FROM new_extents)
    GROUP BY o_orderpriority
    """,
    doc="J8 extent merge: [min(starts), max(ends)] over old+new "
    "collection temporal extents (ref stac/generator.py:191-207).",
)
def extent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")

    def extents(flt):
        return (
            o.filter(flt)
            .groupBy("o_orderpriority")
            .agg(
                F.min("o_orderdate").alias("t_start"),
                F.max("o_orderdate").alias("t_end"),
            )
        )

    both = extents(F.col("o_orderkey") % 2 == 0).unionByName(
        extents(F.col("o_orderkey") % 2 == 1)
    )
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return both.groupBy("o_orderpriority").agg(
        F.date_format(F.min("t_start"), fmt).alias("merged_start"),
        F.date_format(F.max("t_end"), fmt).alias("merged_end"),
    )


register_sql(
    "star_join_enrich",
    """
    SELECT /*+ BROADCAST(n, r) */
           r.r_name AS region_name, n.n_name AS nation_name,
           floor((CAST(sum(c.c_acctbal) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS total_bal,
           count(*) AS n_customers
    FROM {customer} c
    JOIN {nation} n ON c.c_nationkey = n.n_nationkey
    JOIN {region} r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="J3 collection lookup generalized: fact-to-dimension lookup "
    "joins, broadcast on the small side (ref stac/generator.py:333-346).",
)


register_sql(
    "orders_lineitem_join",
    """
    SELECT o.o_orderpriority,
           floor((CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)) * 1e2 + 0.5) / 1e2
             AS revenue,
           count(*) AS n_lines
    FROM {lineitem} l
    JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
    doc="Fact-fact equi-join on the shuffle key, filter pushed below "
    "the join; the skeleton of the reference's item↔asset assembly at "
    "scale (ref stac/generator.py:736-751).",
)
