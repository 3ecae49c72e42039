"""Gated scan fan-out (r16, guide §2.5 unsplittable-input fix).

`tables.load(..., fan_out=True)` may round-robin an under-split small
parquet scan to FAN_OUT_PARTITIONS (`plan_policy.fan_out_scan`). The
gate must:
- fire only when footer stats PROVE the table is under-split (fewer
  row groups than the fan width) AND small (<= SMALL_FILE_MAX_BYTES);
- never fire on a well-split or large table (a production corpus
  must not pay a blind corpus-wide shuffle);
- never change results (the partition count is a fixed constant, so
  the round-robin assignment is deterministic).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from environmental_stac_generator_spark import plan_policy, tables
from environmental_stac_generator_spark.plan_policy import FAN_OUT_PARTITIONS


def test_gate_fires_on_single_rowgroup_table(spark, sf_dir):
    base = tables.load(spark, sf_dir, "documents")
    fanned = tables.load(spark, sf_dir, "documents", fan_out=True)
    assert base.rdd.getNumPartitions() < FAN_OUT_PARTITIONS
    assert fanned.rdd.getNumPartitions() == FAN_OUT_PARTITIONS


def test_gate_refuses_well_split_table(spark, tmp_path):
    # a small single file with >= FAN_OUT_PARTITIONS row groups has
    # native split parallelism — fan_out_scan must leave it unchanged
    path = tmp_path / "many_rg.parquet"
    n = 64 * FAN_OUT_PARTITIONS
    pq.write_table(pa.table({"id": list(range(n))}), path, row_group_size=64)
    assert pq.read_metadata(path).num_row_groups >= FAN_OUT_PARTITIONS
    df = spark.read.parquet(str(path))
    assert plan_policy.fan_out_scan(df, str(tmp_path), "many_rg") is df


def test_gate_refuses_large_table(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(plan_policy, "SMALL_FILE_MAX_BYTES", 1)  # all "large"
    df = tables.load(spark, sf_dir, "documents", fan_out=True)
    assert df.rdd.getNumPartitions() < FAN_OUT_PARTITIONS


def test_gate_refuses_unknown_stats(spark, sf_dir):
    # missing file -> stats None -> scale-safe: frame returned as-is
    df = tables.load(spark, sf_dir, "documents")
    assert plan_policy.fan_out_scan(df, "/nonexistent_dir", "documents") is df


@pytest.mark.parametrize("name", ["minhash_signatures", "simhash", "span_dedup"])
def test_fanned_results_identical(spark, sf_dir, name, monkeypatch):
    from environmental_stac_generator_spark.registry import load_full_registry

    fn = load_full_registry()[name].fn
    fanned = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    # force the gate shut: every table has >= 1 row group and every
    # frame >= 1 partition, so neither fan-out gate fires
    monkeypatch.setattr(plan_policy, "FAN_OUT_PARTITIONS", 1)
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
    assert plan_policy.fan_out_frame(df) is df


def test_fan_out_frame_propagates_other_errors():
    # any other failure (a planning or analysis error) must surface,
    # not silently skip the fan
    with pytest.raises(RuntimeError, match="planning failed"):
        plan_policy.fan_out_frame(_NoRdd(RuntimeError("planning failed")))
