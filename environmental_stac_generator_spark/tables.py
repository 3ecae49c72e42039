"""Parquet table loaders for the driver's synthetic star schema.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under an
``sf*`` directory. The loader is a plain ``spark.read.parquet`` so
Catalyst gets full predicate pushdown / column pruning on every scan
(the reference's lazy-xarray analog, SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.plan_policy import fan_out_scan

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Spark-INFERRED schema per (path, mtime, size). Every bare
# ``spark.read.parquet`` pays a one-task schema-inference job at plan
# time; across a bench/driver process each table is loaded hundreds
# of times, so those footer jobs are a per-query latency tax (~1 job
# per scan — guide §6 file-listing/metadata cost). The first load of
# a file still infers (one job, exactly as before); subsequent loads
# pass that SAME StructType explicitly, which skips inference while
# resolving the identical schema. Keyed on (mtime, size) so a
# rewritten file re-infers; schema objects are session-independent.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """``fan_out=True`` opts a MAP-COMPUTE-HEAVY consumer into the
    gated scan fan-out (:func:`plan_policy.fan_out_scan`). Deliberately
    opt-in per call site: for cheap aggregates/joins the extra exchange
    costs more than the starved partial-agg it would parallelize
    (measured, OPTIMIZATION_r16.md), so those scans stay fused."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
        # the vectorized reader rejects — read as raw nanos via the
        # legacy conf and convert) and plain timestamp[us] (which Spark
        # reads as TIMESTAMP_NTZ). Branch on the dtype actually loaded
        # so either physical layout yields one canonical TIMESTAMP
        # column (session tz is UTC, so NTZ→LTZ is identity on the
        # instant). Both paths stay pushdown-friendly native scans.
        #
        # The conf deliberately stays set for the session: scans are
        # LAZY, so a restore-after-read would flip it back before the
        # plan ever executes. Session scope is the documented choice —
        # any other TIMESTAMP(NANOS) parquet read on this session will
        # also surface as raw long nanos (the dtype branch below shows
        # the conversion); host applications embedding this engine in
        # a shared session should read such files through their own
        # session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if fan_out:
        df = fan_out_scan(df, sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer FLOOR division: epoch nanos (~1.7e18) exceed
            # double's 2^53 exact range (so no `/ 1000.0`), and `div`
            # alone truncates toward zero — a pre-epoch nanosecond
            # like -999 would round FORWARD to 0 µs while the oracle's
            # TIMESTAMP_NS floors, a whole-second render mismatch on
            # every negative sub-microsecond boundary
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
            )
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    # stamp the single-file source on the returned frame (r16): tiny
    # driver-side fetches (IVF centroids, PQ codebook samples, probe
    # vectors) can then read the rows through a parquet
    # footer-predicate instead of scheduling a Spark collect job —
    # same rows, exact float32→double widening, no job. The stamp
    # deliberately does NOT survive any transformation (a .select /
    # .filter returns a fresh DataFrame), so only the unmodified base
    # relation ever takes the driver-read path.
    df._envstac_parquet = f"{sf_dir}/{name}.parquet"
    return df
