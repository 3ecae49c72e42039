"""T1–T4: incremental streaming merge, idempotent under replays."""

from __future__ import annotations

import pandas as pd
import pytest

from environmental_stac_generator_spark.streaming import incremental


SCHEMA = "collection string, item_id string, forecast_reference_time timestamp"


def _write_batch(spark, landing, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(landing)
    )


def test_incremental_merge_and_idempotency(spark, tmp_path):
    landing = tmp_path / "landing"
    table = tmp_path / "catalog_items"
    ckpt = tmp_path / "ckpt"
    t = pd.Timestamp("2025-01-01").to_pydatetime()
    _write_batch(spark, landing, [("icenet", "a", t), ("icenet", "b", t)])

    def run():
        stream = incremental.stream_source(spark, landing, SCHEMA)
        q = incremental.start_incremental_merge(
            stream, table, ckpt, ["collection", "item_id"]
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(str(table)).count() == 2

    # new file arrives: only new keys land (T3 idempotency)
    t2 = pd.Timestamp("2025-01-02").to_pydatetime()
    _write_batch(spark, landing, [("icenet", "b", t), ("icenet", "c", t2)])
    run()
    out = spark.read.parquet(str(table))
    assert out.count() == 3
    assert sorted(r["item_id"] for r in out.collect()) == ["a", "b", "c"]


def test_incremental_merge_is_append_only(spark, tmp_path):
    """Crash-safety: the merge APPENDS only the fresh rows — files
    from earlier batches are never rewritten, so there is no instant
    at which the table is deleted-but-not-recommitted (the old
    whole-table overwrite had exactly that window)."""
    landing = tmp_path / "landing"
    table = tmp_path / "catalog_items"
    t = pd.Timestamp("2025-03-01").to_pydatetime()
    _write_batch(spark, landing, [("icenet", "a", t)])
    incremental.merge_batch_into_table(
        spark.read.parquet(str(landing)), table, ["collection", "item_id"]
    )
    first_files = {p: p.stat().st_mtime for p in table.rglob("*.parquet")}
    assert first_files
    _write_batch(spark, landing, [("icenet", "b", t)])
    incremental.merge_batch_into_table(
        spark.read.parquet(str(landing)), table, ["collection", "item_id"]
    )
    assert spark.read.parquet(str(table)).count() == 2
    # every batch-1 data file survived, byte-untouched
    for p, mtime in first_files.items():
        assert p.exists() and p.stat().st_mtime == mtime


def test_incremental_merge_null_keys_idempotent(spark, tmp_path):
    """A replayed null-keyed row must match its stored copy (the
    anti-join is null-safe) — a plain equi-join would re-append it on
    every replay forever."""
    table = tmp_path / "catalog_nulls"
    t = pd.Timestamp("2025-03-01").to_pydatetime()
    batch = spark.createDataFrame(
        [("icenet", None, t), ("icenet", "a", t)], SCHEMA
    )
    incremental.merge_batch_into_table(batch, table, ["collection", "item_id"])
    # exact replay of the same batch
    incremental.merge_batch_into_table(batch, table, ["collection", "item_id"])
    out = spark.read.parquet(str(table))
    assert out.count() == 2
    assert out.filter("item_id IS NULL").count() == 1


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    from environmental_stac_generator_spark.streaming import windows as sw

    landing = tmp_path / "ev_landing"
    schema = "ts timestamp, event_type string, value double"
    rows = [
        (pd.Timestamp("2025-01-01 01:00").to_pydatetime(), "view", 1.0),
        (pd.Timestamp("2025-01-01 02:00").to_pydatetime(), "view", 2.0),
        (pd.Timestamp("2025-01-02 01:00").to_pydatetime(), "click", 4.0),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        str(landing)
    )
    stream = spark.readStream.schema(schema).parquet(str(landing))
    agg = sw.windowed_event_counts(stream, watermark="2 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # With availableNow the watermark only advances between batches;
    # finalized windows for this data: the 2025-01-01 'view' window.
    out = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_tbl").collect()
    }
    assert out.get(("2025-01-01T00:00:00", "view")) == (2, 3.0) or out == {}
    # Drive a second batch so the watermark (max_ts - 2d) passes the
    # first window and it is emitted.
    late = [(pd.Timestamp("2025-01-05 00:00").to_pydatetime(), "view", 8.0)]
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(
        str(landing)
    )
    q2 = (
        agg.writeStream.format("memory")
        .queryName("win_tbl2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)


def test_stateful_running_extent(spark, tmp_path):
    from environmental_stac_generator_spark.streaming import windows as sw

    landing = tmp_path / "ext_landing"
    t1 = pd.Timestamp("2025-01-01").to_pydatetime()
    t2 = pd.Timestamp("2025-03-01").to_pydatetime()
    _write_batch(spark, landing, [("icenet", "a", t1), ("icenet", "b", t2),
                                  ("osisaf", "c", t2)])
    collected: list = []

    def run_once():
        stream = incremental.stream_source(spark, landing, SCHEMA)
        q = (
            sw.stateful_running_extent(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ext_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    rows = {r["collection"]: r for r in collected}
    assert rows["icenet"]["extent_start"] == pd.Timestamp("2025-01-01")
    assert rows["icenet"]["extent_end"] == pd.Timestamp("2025-03-01")
    assert rows["icenet"]["n_items"] == 2
    assert rows["osisaf"]["n_items"] == 1

    # Second batch extends the stored extent incrementally (state kept
    # across restarts via the checkpoint).
    t0 = pd.Timestamp("2024-06-01").to_pydatetime()
    _write_batch(spark, landing, [("icenet", "d", t0)])
    collected.clear()
    run_once()
    rows2 = {r["collection"]: r for r in collected}
    assert rows2["icenet"]["extent_start"] == pd.Timestamp("2024-06-01")
    assert rows2["icenet"]["n_items"] == 3


def test_dedup_stream_exactly_once(spark, tmp_path):
    """A doubled (at-least-once) source dedups to exactly one output
    row per key within the watermark horizon."""
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.streaming import windows as sw

    landing = tmp_path / "dedup_landing"
    base = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
        (F.col("id") % 3).cast("string").alias("event_type"),
    )
    base.unionAll(base).write.mode("overwrite").parquet(str(landing))
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, event_type string"
    ).parquet(str(landing))
    name = "dedup_stream_test"
    q = (
        sw.dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT event_id FROM {name}").collect()
    assert len(out) == 100
    assert len({r["event_id"] for r in out}) == 100


def test_merge_raises_on_schema_drift_instead_of_wiping(spark, tmp_path):
    """A failure mid-merge (e.g. schema drift in unionByName) must
    RAISE, never fall through to an overwrite that replaces the whole
    table with just the current batch."""
    import pytest

    table = tmp_path / "keyed"
    t = pd.Timestamp("2025-01-01").to_pydatetime()
    first = spark.createDataFrame(
        [("icenet", "a", t)], "collection string, item_id string, ts timestamp"
    )
    incremental.merge_batch_into_table(first, table, ["collection", "item_id"])
    assert spark.read.parquet(str(table)).count() == 1

    drifted = spark.createDataFrame(
        [("icenet", "b")], "collection string, renamed_id string"
    )
    with pytest.raises(Exception):
        incremental.merge_batch_into_table(
            drifted, table, ["collection", "item_id"]
        )
    # the previously merged rows survived the failed batch
    assert spark.read.parquet(str(table)).count() == 1


def test_merge_dedups_keys_within_a_batch(spark, tmp_path):
    """A micro-batch re-delivering the same key twice must land ONE
    row — on the first batch and on merges into an existing table."""
    table = tmp_path / "keyed2"
    t = pd.Timestamp("2025-01-01").to_pydatetime()
    dup = spark.createDataFrame(
        [("icenet", "a", t), ("icenet", "a", t)],
        "collection string, item_id string, ts timestamp",
    )
    incremental.merge_batch_into_table(dup, table, ["collection", "item_id"])
    assert spark.read.parquet(str(table)).count() == 1

    dup2 = spark.createDataFrame(
        [("icenet", "b", t), ("icenet", "b", t)],
        "collection string, item_id string, ts timestamp",
    )
    incremental.merge_batch_into_table(dup2, table, ["collection", "item_id"])
    out = spark.read.parquet(str(table))
    assert out.count() == 2
    assert sorted(r["item_id"] for r in out.collect()) == ["a", "b"]


def test_extent_state_fn_skips_nat_and_keeps_count():
    """The applyInPandasWithState state function's NaT guard:
    null-timestamp rows count but never poison the stored bounds,
    regardless of arrival order."""
    from environmental_stac_generator_spark.streaming.windows import (
        _extent_state_fn,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    s = FakeState()
    nat = pd.DataFrame({"forecast_reference_time": pd.to_datetime([None, None])})
    out = list(_extent_state_fn(("c",), iter([nat]), s))
    start, end, n = s.v
    assert start is None and end is None and n == 2
    assert out[0]["n_items"].iloc[0] == 2

    good = pd.DataFrame(
        {"forecast_reference_time": pd.to_datetime(["2024-03-01", "2024-03-09"])}
    )
    list(_extent_state_fn(("c",), iter([good]), s))
    start, end, n = s.v
    assert start == pd.Timestamp("2024-03-01") and n == 4

    list(_extent_state_fn(("c",), iter([nat]), s))
    start, end, n = s.v
    assert start == pd.Timestamp("2024-03-01")
    assert end == pd.Timestamp("2024-03-09")
    assert n == 6


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _extent_stream(draw):
    n = draw(st.integers(0, 14))
    # seconds-offset timestamps with ~25% nulls
    rows = [
        None if draw(st.booleans()) and draw(st.booleans()) else draw(st.integers(0, 10_000))
        for _ in range(n)
    ]
    cuts = sorted(
        draw(st.lists(st.integers(0, n), min_size=0, max_size=4))
    )
    return rows, cuts


@settings(max_examples=25, deadline=None)
@given(case=_extent_stream())
def test_merge_extent_is_batch_split_invariant(case):
    """The shared extent-merge (both stateful APIs) must produce the
    same final (start, end, n) no matter how the same rows split into
    micro-batches — including all-null chunks and a count-only prior
    (the NaT-freeze class of bug is exactly a split-variance)."""
    import pandas as pd

    from environmental_stac_generator_spark.streaming.windows import merge_extent

    rows, cuts = case
    base = pd.Timestamp("2025-01-01")

    def pdf(chunk):
        return pd.DataFrame(
            {
                "forecast_reference_time": [
                    base + pd.Timedelta(seconds=s) if s is not None else pd.NaT
                    for s in chunk
                ]
            }
        )

    # one shot
    single = merge_extent(None, iter([pdf(rows)]))
    # arbitrary split: feed chunk by chunk, threading the state tuple
    bounds = [0] + cuts + [len(rows)]
    state = None
    for a, b in zip(bounds, bounds[1:]):
        state = merge_extent(state, iter([pdf(rows[a:b])]))
    assert state[2] == single[2] == len(rows)
    for i in (0, 1):
        if single[i] is None:
            assert state[i] is None or pd.isna(state[i])
        else:
            assert pd.Timestamp(state[i]) == pd.Timestamp(single[i])


def test_memory_sink_tracking_is_session_scoped():
    """Same class as the view-pin session keying: the previous-
    invocation memory-sink drop must target the SESSION that
    registered the view — a prefix-only key aimed the drop at
    whichever session called last, leaking the other session's view
    and losing track of it. Driven with stub sessions: the helper
    touches only spark.catalog.dropTempView."""
    from environmental_stac_generator_spark.queries import kernels as K

    class _Catalog:
        def __init__(self):
            self.dropped = []

        def dropTempView(self, name):
            self.dropped.append(name)

    class _Session:
        def __init__(self):
            self.catalog = _Catalog()

    s1, s2 = _Session(), _Session()
    n1 = K._memory_sink_name(s1, "p")
    n2 = K._memory_sink_name(s2, "p")
    assert n1 != n2
    # registering on a second session must not drop (or forget) the
    # first session's live view
    assert s1.catalog.dropped == [] and s2.catalog.dropped == []
    n1b = K._memory_sink_name(s1, "p")
    assert s1.catalog.dropped == [n1] and s2.catalog.dropped == []
    K._memory_sink_name(s2, "p")
    assert s2.catalog.dropped == [n2]
    assert s1.catalog.dropped == [n1]
    # dead-session entries are pruned on access (ADVICE r15 #3): a
    # collected session's tracking must not accumulate, and a
    # recycled id must not inherit its drop
    import gc

    s3 = _Session()
    K._memory_sink_name(s3, "q")
    key3 = (id(s3), "q")
    assert key3 in K._MEMORY_SINKS
    del s3
    gc.collect()
    K._memory_sink_name(s1, "p")  # any access prunes the dead entry
    assert key3 not in K._MEMORY_SINKS
    # cleanup the module-global tracking this test added
    for k in [k for k in K._MEMORY_SINKS if k[0] in (id(s1), id(s2))]:
        K._MEMORY_SINKS.pop(k)
