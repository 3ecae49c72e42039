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

# --- scan fan-out (r16, guide §2.5 "input skew: one huge
# unsplittable file ... repartition immediately after the read") ---
#
# A parquet scan cannot be parallelized below ROW-GROUP granularity,
# and the bench tables ship as ONE row group per table — so every
# map-heavy stage fused onto such a scan (shingle md5s, HOF dot
# products, window hashing) runs at the file's split width (one
# task) no matter how many cores the session has. For those
# operators a round-robin exchange right after the read trades one
# small shuffle of the (projected) input for task-width compute.
#
# The partition count is a FIXED constant, not derived from the
# session's core count: keyless repartition is deterministic given
# (input order, n) — `spark.sql.execution.sortBeforeRepartition` —
# so a fixed n keeps float partial-aggregate grouping identical
# across the driver's core-count sweep, preserving today's
# bit-stability. 16 engages this host's measured parallel capacity
# (the CPU probe saturates ~4x between P=8 and P=16) while keeping
# the per-task plan-deserialization overhead (tens of ms on the
# biggest expression trees) off the critical path — measured sweep
# in OPTIMIZATION_r16.md (fan=32/64 LOSES on plan-heavy queries).
#
# The gate is footer-stats CBO, same degradation posture as
# `provably_small`: fan out ONLY when stats prove the table is both
# under-split (fewer row groups than the fan width) and small
# enough that the extra exchange is trivially cheap. A production
# corpus (many files / many row groups / > FAN_OUT_MAX_BYTES) never
# pays a blind corpus-wide shuffle — the gate turns itself off and
# the scan's native split parallelism stands.
FAN_OUT_PARTITIONS = int(os.environ.get("SPARK_GRAFT_FAN_PARTITIONS", "16"))
FAN_OUT_MAX_BYTES = 256 * 1024 * 1024

# footer stats per (path, mtime, size): (row_groups, file_bytes)
_FAN_STATS: dict[tuple, tuple[int, int] | None] = {}

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


def _scan_units(sf_dir: str, name: str) -> tuple[int, int] | None:
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _FAN_STATS:
        import pyarrow
        import pyarrow.parquet as pq

        try:
            meta = pq.read_metadata(path)
            _FAN_STATS[key] = (meta.num_row_groups, st.st_size)
        except (OSError, pyarrow.ArrowException):
            _FAN_STATS[key] = None
    return _FAN_STATS[key]


def fan_out_scan(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin the scan to :data:`FAN_OUT_PARTITIONS` when footer
    stats PROVE it is an under-split small table (see block comment
    above); otherwise return it unchanged (unknown stats are never
    fanned — the scale-safe posture)."""
    stats = _scan_units(sf_dir, name)
    if stats is None or FAN_OUT_PARTITIONS <= 1:
        return df
    units, nbytes = stats
    if units >= FAN_OUT_PARTITIONS or nbytes > FAN_OUT_MAX_BYTES:
        return df
    return df.repartition(FAN_OUT_PARTITIONS)


def fan_out_frame(df: DataFrame) -> DataFrame:
    """Round-robin an UNDER-SPLIT in-memory frame (e.g. a staged
    curate-chain checkpoint) to :data:`FAN_OUT_PARTITIONS` for a
    map-compute-heavy consumer — the RDD-frame twin of
    :func:`fan_out_scan`. Gated on the frame's ACTUAL partition
    count: a corpus-scale frame (>= the fan width) returns unchanged,
    so no 100 TB relation ever pays a blind repartition. The fixed
    width keeps row-to-partition assignment deterministic
    (sortBeforeRepartition), exactly like the scan gate."""
    if FAN_OUT_PARTITIONS <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except NotImplementedError:
        # a backend without the RDD API (Spark Connect raises
        # PySparkNotImplementedError): no partition count, no fan
        return df
    return df.repartition(FAN_OUT_PARTITIONS) if n < FAN_OUT_PARTITIONS else df


def load(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """``fan_out=True`` opts a MAP-COMPUTE-HEAVY consumer into the
    gated scan fan-out. Deliberately opt-in per call site: for cheap
    aggregates/joins the extra exchange costs more than the starved
    partial-agg it would parallelize (measured, OPTIMIZATION_r16.md),
    so those scans stay fused."""
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
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if fan_out:
            df = fan_out_scan(df, sf_dir, name)
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
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if fan_out:
        df = fan_out_scan(df, sf_dir, name)
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


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLE_NAMES}


def table_rows(sf_dir: str, name: str) -> int | None:
    """Relation row count from parquet footer metadata — the stats a
    cost-based optimizer would read from the catalog. Driver-side,
    footer-only (no data pages, no Spark job); ``None`` when the file
    is missing or unreadable, so callers degrade to the stats-less
    (scale-safe) plan."""
    import pyarrow
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(f"{sf_dir}/{name}.parquet").num_rows
    except (OSError, pyarrow.ArrowException):
        return None


# ---------------------------------------------------------------------------
# Centralized CBO plan gate (VERDICT r5 #5). Three operators grew the
# same footer-stats pattern independently (prefix-sum small plan,
# span-dedup window plan, connected-components driver union-find);
# one shared predicate keeps the degradation posture identical
# everywhere: unknown stats are NEVER small — absent evidence, take
# the scale-safe plan.

# Test/soak override: when True, every gate reports "not small",
# forcing the scale-side plan regardless of stats. bench.py --soak
# flips it to measure the bucketed prefix sum / distributed
# components / skew-safe span plan at sizes where stats would pick
# the small plans, so BOTH sides of every gate carry a measured
# datapoint.
_FORCE_SCALE_PLANS = False


def force_scale_plans(on: bool) -> None:
    """Globally force the scale-safe side of every stats gate (see
    :func:`provably_small`). Scale/soak testing only — never needed
    for correctness, since both sides of each gate are
    property-tested equal."""
    global _FORCE_SCALE_PLANS
    _FORCE_SCALE_PLANS = bool(on)


def scale_plans_forced() -> bool:
    """True while :func:`force_scale_plans` is on — gates that decide
    between plans by MEASURING the data (not just footer stats) must
    also honor the force flag, or soak's forced-scale blocks would
    silently time the small-side plan."""
    return _FORCE_SCALE_PLANS


def provably_small(rows: int | None, threshold: int) -> bool:
    """True only when stats PROVE the relation holds at most
    ``threshold`` rows. ``None`` (missing/unreadable stats) is NOT
    small: the caller must keep the scale-safe plan — the standard
    CBO degradation posture, shared by every gated operator."""
    if _FORCE_SCALE_PLANS:
        return False
    return rows is not None and rows <= threshold
