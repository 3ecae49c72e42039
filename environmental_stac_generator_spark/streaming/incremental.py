"""T1–T5: incremental catalog maintenance as Structured Streaming.

The reference is batch but incremental by design — re-runs extend the
catalog and skip existing outputs (``stac/generator.py:111-142``,
``stac/dataloader.py:139-156``). The streaming surface:

- T1 incremental source: file stream over the landing directory (new
  daily forecast files appear, ref README.md:3);
- T2 stateful running extent: ``windows.stateful_running_extent``
  keeps min/max/count per collection in the state store, replacing
  the reference's read-modify-write of the catalog JSON;
- T3 idempotent sink: ``foreachBatch`` + key-based anti-join merge
  into a parquet "catalog table" — exactly-once under retries
  because the merge is keyed, mirroring ON CONFLICT semantics;
- T4 watermark: deliberately NONE. Files may arrive for any past
  init time and must still be processed (process-all semantics —
  the reference has no late-data drop anywhere).

Tests drive this with ``trigger(availableNow=True)`` so the stream
drains deterministically.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def stream_source(
    spark: SparkSession, landing_dir: str | Path, schema, fmt: str = "parquet"
) -> DataFrame:
    """T1: incremental file source over the landing dir."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 64)
        .load(str(landing_dir))
    )


def merge_batch_into_table(
    batch_df: DataFrame, table_dir: str | Path, key_columns: list[str]
) -> None:
    """T3 core: keyed anti-join merge — new keys APPENDED, existing
    keys kept (idempotent under replays). Parquet stands in for the
    pgSTAC table; the JDBC twin is
    ``sinks.jdbc_upsert.upsert_dataframe``.

    Crash-safety: the write is ``mode("append")`` of ONLY the fresh
    rows — previously merged files are never rewritten, so there is
    no instant at which the table is deleted-but-not-yet-recommitted
    (the earlier whole-table overwrite had exactly that window: a
    driver crash mid-overwrite lost every prior batch, and the retry
    rebuilt the "table" from the current batch alone). It is also
    O(new rows) per batch instead of O(table).

    Idempotency covers NULL keys: the anti-join compares with
    eqNullSafe, so a replayed null-keyed row matches its stored copy
    and is skipped — a plain equi-join would re-append it every
    replay forever (NULL = NULL is never true)."""
    from functools import reduce

    spark = batch_df.sparkSession
    table_dir = str(table_dir)
    # a micro-batch can re-deliver the same key twice (e.g. one file
    # listed in two trigger windows): dedup WITHIN the batch, or the
    # anti-join lets both rows through and the keyed table holds
    # duplicates forever (dropDuplicates treats nulls as equal, so
    # null-keyed rows dedup here too)
    batch = batch_df.dropDuplicates(key_columns)
    # explicit existence probe via the Hadoop FS API (works for any
    # scheme, not just local paths). This must NOT be a broad
    # try/except around the read: treating an arbitrary failure
    # (schema drift, a transient storage error) as "first batch"
    # would mis-append mismatched files into the table.
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        existing = spark.read.parquet(table_dir)
        # schema-drift guard: building the union RAISES at plan time
        # when either side is missing a column of the other — nothing
        # executes, we just want the analyzer's check before touching
        # the stored files
        existing.unionByName(batch)
        keys = existing.select(*key_columns)
        cond = reduce(
            lambda a, b: a & b,
            [batch[k].eqNullSafe(keys[k]) for k in key_columns],
        )
        # unhinted: the stored table grows without bound across
        # batches; AQE broadcasts its key projection while small
        fresh = batch.join(keys, cond, "left_anti")
        fresh.select(*existing.columns).write.mode("append").parquet(table_dir)
    else:  # first batch: table does not exist yet
        batch.write.mode("append").parquet(table_dir)


def start_incremental_merge(
    stream_df: DataFrame,
    table_dir: str | Path,
    checkpoint_dir: str | Path,
    key_columns: list[str],
) -> StreamingQuery:
    """T3: foreachBatch idempotent merge with checkpointing; drains
    all available input then stops (availableNow) — re-trigger per
    scheduling period, the streaming twin of the reference's daily
    re-run."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_table(batch_df, table_dir, key_columns)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
