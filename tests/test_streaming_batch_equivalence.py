"""Stream/batch equivalence oracles for the T-operators.

test_streaming.py pins hard-coded expectations; these tests pin the
stronger invariant a Structured Streaming twin must satisfy: driven
over the SAME fixture in MULTIPLE micro-batches (maxFilesPerTrigger=1
so cross-batch state is genuinely exercised), the streamed result
equals the one-shot batch aggregate over all rows. This is the
SQL-expressible check the driver's rows-only `streaming_suite` entry
cannot perform.

Covered: T2 running extent (the applyInPandasWithState form), T4
watermarked tumbling and sliding windows, and the streaming
exact-dedup twin.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from environmental_stac_generator_spark.streaming import windows as sw

EV_SCHEMA = "ts timestamp, event_type string, value double"
ITEM_SCHEMA = "collection string, item_id string, forecast_reference_time timestamp"


def _ts(s: str):
    return pd.Timestamp(s).to_pydatetime()


def _write_files(spark, landing, schema, batches):
    """One parquet file per batch -> one micro-batch per file under
    maxFilesPerTrigger=1."""
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(landing))


def _stream(spark, landing, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )


def _run(df, name, mode, ckpt):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(120)
    if not done:  # slow host: fail loudly, don't assert on partial output
        q.stop()
        raise AssertionError(f"stream {name} did not drain within 120s")


EV_BATCHES = [
    [(_ts("2025-01-01 01:00"), "view", 1.0), (_ts("2025-01-01 03:00"), "click", 2.0)],
    [(_ts("2025-01-02 05:00"), "view", 4.0), (_ts("2025-01-01 09:00"), "view", 8.0)],
    [(_ts("2025-01-03 01:00"), "click", 16.0), (_ts("2025-01-02 23:00"), "view", 32.0)],
]


def test_tumbling_window_stream_equals_batch_aggregate(spark, tmp_path):
    landing = tmp_path / "ev"
    _write_files(spark, landing, EV_SCHEMA, EV_BATCHES)
    agg = sw.windowed_event_counts(
        _stream(spark, landing, EV_SCHEMA), watermark="3650 days"
    )
    _run(agg, "tumble_eq", "complete", tmp_path / "ck1")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumble_eq").collect()
    }
    batch = spark.createDataFrame(sum(EV_BATCHES, []), EV_SCHEMA)
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["s"])
        for r in batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want and len(got) >= 4


def test_sliding_window_stream_equals_batch_aggregate(spark, tmp_path):
    landing = tmp_path / "ev_s"
    _write_files(spark, landing, EV_SCHEMA, EV_BATCHES)
    agg = sw.windowed_event_counts(
        _stream(spark, landing, EV_SCHEMA),
        window="1 day",
        slide="12 hours",
        watermark="3650 days",
    )
    _run(agg, "slide_eq", "complete", tmp_path / "ck2")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM slide_eq").collect()
    }
    batch = spark.createDataFrame(sum(EV_BATCHES, []), EV_SCHEMA)
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["s"])
        for r in batch.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want and len(got) > len(EV_BATCHES) * 2  # overlapping windows


ITEM_BATCHES = [
    [("icenet", "a", _ts("2025-02-01")), ("era5", "x", _ts("2025-01-15"))],
    [("icenet", "b", _ts("2025-01-01")), ("icenet", "c", _ts("2025-03-01"))],
    [("era5", "y", _ts("2025-04-01"))],
]


def _batch_extent(spark):
    rows = spark.createDataFrame(sum(ITEM_BATCHES, []), ITEM_SCHEMA)
    return {
        r["collection"]: (r["lo"], r["hi"], r["n"])
        for r in rows.groupBy("collection")
        .agg(
            F.min("forecast_reference_time").alias("lo"),
            F.max("forecast_reference_time").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }


def test_stateful_running_extent_stream_equals_batch(spark, tmp_path):
    """The applyInPandasWithState form: the LAST update per collection
    (update-mode sink; n_items is monotone, so max n_items is the
    final state) must equal the batch min/max/count."""
    landing = tmp_path / "items_s"
    _write_files(spark, landing, ITEM_SCHEMA, ITEM_BATCHES)
    ext = sw.stateful_running_extent(_stream(spark, landing, ITEM_SCHEMA))
    _run(ext, "sext_eq", "update", tmp_path / "ck4")
    updates = spark.sql("SELECT * FROM sext_eq").collect()
    final: dict = {}
    for r in updates:
        cur = final.get(r["collection"])
        if cur is None or r["n_items"] > cur[2]:
            final[r["collection"]] = (
                r["extent_start"],
                r["extent_end"],
                r["n_items"],
            )
    assert final == _batch_extent(spark)
    # multiple micro-batches really updated icenet's state
    assert sum(1 for r in updates if r["collection"] == "icenet") >= 2


def test_dedup_stream_equals_batch_distinct(spark, tmp_path):
    """Streaming exact dedup over replayed keys emits each key once —
    the same key set as the batch dropDuplicates."""
    batches = [
        [(_ts("2025-01-01 01:00"), "k1", 1.0), (_ts("2025-01-01 02:00"), "k2", 2.0)],
        [(_ts("2025-01-01 03:00"), "k1", 99.0), (_ts("2025-01-01 04:00"), "k3", 3.0)],
        [(_ts("2025-01-01 05:00"), "k2", 99.0)],
    ]
    schema = "ts timestamp, key string, value double"
    landing = tmp_path / "dd"
    _write_files(spark, landing, schema, batches)
    dd = sw.dedup_stream(_stream(spark, landing, schema), keys=["key"], watermark="3650 days")
    _run(dd, "dd_eq", "append", tmp_path / "ck5")
    got = [r["key"] for r in spark.sql("SELECT * FROM dd_eq").collect()]
    want = {
        r["key"]
        for r in spark.createDataFrame(sum(batches, []), schema)
        .dropDuplicates(["key"])
        .collect()
    }
    assert sorted(got) == sorted(want) and len(got) == len(set(got)) == 3
