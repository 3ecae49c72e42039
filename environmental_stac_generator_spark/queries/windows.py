"""Window / ordering / distinct operators (SURVEY §2.8 W1–W4).

The reference's implicit orderings (time loop, leadtime positional
index, first-thumbnail-wins) become explicit deterministic window
functions — ``row_number`` over a total order — so results are stable
under any partitioning, which the reference's "first wins" logic is
not (SURVEY §7 hard-point g). The distinct guards, the time-slice
selection and the band index are single SQL texts
(``register_sql``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from environmental_stac_generator_spark.functions.rounding import rnd, sql_rnd
from environmental_stac_generator_spark.registry import register, register_sql
from environmental_stac_generator_spark.tables import load


@register(
    "leadtime_index",
    """
    SELECT o_orderpriority, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS init_date,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_orderdate, o_orderkey) - 1 AS leadtime_idx
    FROM orders
    QUALIFY leadtime_idx < 5
    """,
    doc="W1 ordered iteration -> positional index: row_number()-1 over "
    "(time, key) = xarray isel position (ref stac/generator.py:664,784,858).",
)
def leadtime_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("init_date"),
            (F.row_number().over(w) - 1).alias("leadtime_idx"),
        )
        .filter(F.col("leadtime_idx") < 5)
    )


@register(
    "first_per_group",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS first_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="W2 first-k selection: deterministic top-1 per group — the "
    "collection-thumbnail 'first wins' promotion "
    "(ref stac/generator.py:800-803,913-921).",
)
def first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                "first_orderdate"
            ),
        )
    )


register_sql(
    "distinct_keys",
    """
    SELECT DISTINCT event_type, user_id % 10 AS user_bucket FROM {events}
    """,
    doc="W4 distinct keys guard (ref: uniqueness by construction of "
    "get-or-create ids, stac/generator.py:144-262).",
)


register_sql(
    "dedupe_guard",
    """
    SELECT count(*) AS n_unique FROM (
      SELECT DISTINCT l_orderkey, l_linenumber FROM {lineitem}
    )
    """,
    doc="W4 dropDuplicates on the composite item key "
    "(collection_id, item_id).",
)


register_sql(
    "time_slice_select",
    # the min date is a scalar subquery inside the same plan (a
    # map-side partial min), not an eager .first() action
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM {orders}
    WHERE o_orderdate = (SELECT min(o_orderdate) FROM {orders})
    """,
    doc="P4 time equality selection: ds.sel(time=t) as a pushed-down "
    "equality filter (ref stac/generator.py:665).",
)


register_sql(
    "band_index",
    """
    SELECT o_orderpriority, o_orderstatus,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_orderstatus) AS bidx
    FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM {orders})
    """,
    doc="N2/W1 1-based band index: enumerate bands (variables) per "
    "group ordered by name (ref stac/generator.py:879-899 bidx).",
)


# ---- Event-time windows (T-family batch twins) -----------------------
# The reference has no event-time windowing (SURVEY §2.9 T4) — these
# are the engine-native operators a forecast *stream* needs, run here
# in batch over the events table so they are oracle-checkable. The
# streaming twins (watermark + same window exprs) live in
# streaming/windows.py and are exercised by tests/test_streaming.py.


@register(
    "tumbling_window_agg",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%dT%H:%M:%SZ') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_rnd("sum(value)", 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-day event-time window per event_type: the "
    "groupBy(window(ts)) streaming agg in batch form. Map-side "
    "partial agg -> one shuffle on (window, type).",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "sliding_window_agg",
    f"""
    SELECT strftime(date_trunc('day', ts) - off.o * INTERVAL 1 DAY,
                    '%Y-%m-%dT%H:%M:%SZ') AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_rnd("sum(value)", 2)} AS sum_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
    GROUP BY 1
    """,
    doc="Sliding 2-day window, 1-day slide: every event lands in two "
    "overlapping windows (Spark expands window() to 2 rows map-side; "
    "the oracle mirrors with an explicit offset unnest).",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "session_window_agg",
    f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts)
                       >= CAST(21600000000 AS BIGINT)
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS session_start,
           strftime(max(ts) + INTERVAL 6 HOUR, '%Y-%m-%dT%H:%M:%SZ') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_rnd("sum(value)", 2)} AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Session windows (6h inactivity gap) per user via Spark's "
    "session_window; the oracle is the classic gaps-and-islands "
    "formulation. Window end = last event + gap (half-open), so an "
    "event exactly gap-after starts a new session in both engines.",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "time_rollup",
    f"""
    SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           coalesce(event_type, 'ALL') AS event_type,
           CAST(grouping(date_trunc('day', ts)) * 2 + grouping(event_type) AS BIGINT)
             AS grouping_level,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_rnd("sum(value)", 2)} AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), event_type)
    """,
    doc="Hypertable-style rollup: one pass produces the (day, type), "
    "(day), and grand-total aggregate levels via GROUP BY ROLLUP — "
    "Spark expands grouping sets map-side, so the multi-granularity "
    "continuous aggregate costs one shuffle, not one per level.",
)
def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    return (
        ev.rollup("day", "event_type")
        .agg(
            (F.grouping("day") * 2 + F.grouping("event_type"))
            .cast("bigint")
            .alias("grouping_level"),
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce(F.date_format("day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "grouping_level",
            "n_events",
            "sum_value",
        )
    )


@register(
    "event_cube",
    f"""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
           CAST(grouping(event_type) * 2 + grouping(user_id % 10) AS BIGINT)
             AS grouping_level,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_rnd("sum(value)", 2)} AS sum_value
    FROM events
    GROUP BY CUBE (event_type, user_id % 10)
    """,
    doc="CUBE over (event_type, user bucket): all four grouping sets "
    "in one pass with map-side expansion — one shuffle for the whole "
    "lattice instead of one scan per marginal.",
)
def event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket_raw", (F.col("user_id") % 10)
    )
    return (
        ev.cube("event_type", "user_bucket_raw")
        .agg(
            (F.grouping("event_type") * 2 + F.grouping("user_bucket_raw"))
            .cast("bigint")
            .alias("grouping_level"),
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_bucket_raw").cast("string"), F.lit("ALL")).alias(
                "user_bucket"
            ),
            "grouping_level",
            "n_events",
            "sum_value",
        )
    )
