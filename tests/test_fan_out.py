"""Gated scan fan-out (r16, guide §2.5 unsplittable-input fix).

`tables.load(..., fan_out=True)` may round-robin an under-split small
parquet scan to FAN_OUT_PARTITIONS. The gate must:
- fire only when footer stats PROVE the table is under-split (fewer
  row groups than the fan width) AND small (<= FAN_OUT_MAX_BYTES);
- never fire on a well-split or large table (a production corpus
  must not pay a blind corpus-wide shuffle);
- never change results (the partition count is a fixed constant, so
  the round-robin assignment is deterministic).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark import tables


def test_gate_fires_on_single_rowgroup_table(spark, sf_dir):
    base = tables.load(spark, sf_dir, "documents")
    fanned = tables.load(spark, sf_dir, "documents", fan_out=True)
    assert base.rdd.getNumPartitions() < tables.FAN_OUT_PARTITIONS
    assert fanned.rdd.getNumPartitions() == tables.FAN_OUT_PARTITIONS


def test_gate_refuses_well_split_table(spark, sf_dir, tmp_path, monkeypatch):
    # a table with >= FAN_OUT_PARTITIONS row groups has native split
    # parallelism — fan_out_scan must leave it unchanged
    out = str(tmp_path / "many_rg.parquet")
    spark.range(0, 1000).write.mode("overwrite").parquet(out)
    df = spark.read.parquet(out)
    monkeypatch.setattr(tables, "FAN_OUT_PARTITIONS", 1)
    assert tables.fan_out_scan(df, str(tmp_path), "missing") is df


def test_gate_refuses_large_table(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "FAN_OUT_MAX_BYTES", 1)  # everything "large"
    df = tables.load(spark, sf_dir, "documents", fan_out=True)
    assert df.rdd.getNumPartitions() < tables.FAN_OUT_PARTITIONS


def test_gate_refuses_unknown_stats(spark, sf_dir):
    # missing file -> stats None -> scale-safe: frame returned as-is
    df = tables.load(spark, sf_dir, "documents")
    assert tables.fan_out_scan(df, "/nonexistent_dir", "documents") is df


@pytest.mark.parametrize("name", ["minhash_signatures", "simhash", "span_dedup"])
def test_fanned_results_identical(spark, sf_dir, name, monkeypatch):
    from environmental_stac_generator_spark.registry import load_full_registry

    fn = load_full_registry()[name].fn
    fanned = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    # force the gate shut: same query, unfanned scan
    monkeypatch.setattr(tables, "FAN_OUT_PARTITIONS", 1)
    plain = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert fanned == plain
    assert len(fanned) > 0


class _NoRdd:
    """A frame stand-in whose ``.rdd`` raises ``error``."""

    def __init__(self, error: Exception):
        self.error = error

    @property
    def rdd(self):
        raise self.error

    def repartition(self, n):  # pragma: no cover - must not be reached
        raise AssertionError("fanned a frame with no partition count")


def test_fan_out_frame_passes_through_backend_without_rdd():
    # Spark Connect frames raise PySparkNotImplementedError on .rdd
    from pyspark.errors import PySparkNotImplementedError

    df = _NoRdd(
        PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "rdd"}
        )
    )
    assert tables.fan_out_frame(df) is df


def test_fan_out_frame_propagates_other_errors():
    # any other failure (a planning or analysis error) must surface,
    # not silently skip the fan
    with pytest.raises(RuntimeError, match="planning failed"):
        tables.fan_out_frame(_NoRdd(RuntimeError("planning failed")))
