"""Driver-side bootstrap-row fast path (r16, guide §1.2 per-task /
driver work).

`tables.load` stamps the single-file parquet source on the frame it
returns; `similarity._id_range_rows` then serves the tiny
centroid/plane/codebook/probe fetches through a pyarrow
footer-predicate read — no Spark job — instead of a collect. The
fast path must be bit-identical to the collect it replaces, and any
transformed frame (stamp lost) or oversized file must fall back to
the Spark path (`plan_policy.driver_readable` decides).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.dataset
import pyarrow.parquet
import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark import plan_policy
from environmental_stac_generator_spark.queries import similarity as S
from environmental_stac_generator_spark.tables import load


def test_stamp_present_only_on_base_load(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    assert getattr(e, "_envstac_parquet", None)
    derived = e.select("vec_id", "embedding")
    assert getattr(derived, "_envstac_parquet", None) is None


def test_rows_bit_identical_to_collect(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    fast = S._id_range_rows(e, S.N_CENTROIDS)
    slow = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    assert [int(r.vec_id) for r in fast] == [int(r.vec_id) for r in slow]
    for a, b in zip(fast, slow):
        assert list(map(float, a.embedding)) == list(map(float, b.embedding))


def test_ranged_rows_bit_identical(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    lo, hi = S.N_CENTROIDS, S.N_CENTROIDS + S.PQ_K
    fast = S._id_range_rows(e, hi, lo=lo)
    slow = sorted(
        e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    assert [int(r.vec_id) for r in fast] == [int(r.vec_id) for r in slow]
    for a, b in zip(fast, slow):
        assert list(map(float, a.embedding)) == list(map(float, b.embedding))


def test_probe_embedding_matches_head(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    fast = S._probe_embedding(e)
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    assert fast is not None and row is not None
    assert list(map(float, fast)) == list(map(float, row[0]))


def test_unstamped_frame_falls_back_to_spark(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = S._id_range_rows(e, S.N_CENTROIDS)  # no stamp -> collect path
    assert len(rows) == S.N_CENTROIDS


def test_oversized_file_falls_back(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(plan_policy, "SMALL_FILE_MAX_BYTES", 1)
    e = load(spark, sf_dir, "embeddings")
    rows = S._id_range_rows(e, S.N_CENTROIDS)
    assert len(rows) == S.N_CENTROIDS


# The parquet reads that degrade to the Spark or stats-less path.
# Each takes (spark, dir holding embeddings.parquet).
FOOTER_READS = {
    "footer": lambda spark, d: plan_policy.footer(f"{d}/embeddings.parquet"),
    "table_rows": lambda spark, d: plan_policy.table_rows(d, "embeddings"),
    "init_cents": lambda spark, d: S._init_cents(load(spark, d, "embeddings")),
    "id_range_rows": lambda spark, d: S._id_range_rows(
        load(spark, d, "embeddings"), S.N_CENTROIDS
    ),
}


def _copy(sf_dir: str, tmp_path: Path, truncate: bool) -> str:
    """embeddings.parquet copied to a fresh dir (fresh footer-cache
    key); ``truncate`` cuts the copy in half, footer included."""
    data = (Path(sf_dir) / "embeddings.parquet").read_bytes()
    d = tmp_path / ("cut" if truncate else "whole")
    d.mkdir()
    (d / "embeddings.parquet").write_bytes(data[: len(data) // 2] if truncate else data)
    return str(d)


@pytest.mark.parametrize("read", ["footer", "table_rows"])
def test_truncated_file_degrades_to_none(spark, sf_dir, tmp_path, read):
    assert FOOTER_READS[read](spark, _copy(sf_dir, tmp_path, truncate=True)) is None


def test_truncated_stamped_file_falls_back_to_spark(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "embeddings")
    e._envstac_parquet = f"{_copy(sf_dir, tmp_path, truncate=True)}/embeddings.parquet"
    rows = S._id_range_rows(e, S.N_CENTROIDS)  # footer read fails -> collect
    assert [int(r.vec_id) for r in rows] == list(range(S.N_CENTROIDS))


@pytest.mark.parametrize("read", sorted(FOOTER_READS))
def test_footer_read_propagates_other_errors(spark, sf_dir, tmp_path, monkeypatch, read):
    """Only file and Arrow errors degrade: a bug inside the read
    (here a planted TypeError) surfaces instead of silently taking
    the fallback plan."""
    d = _copy(sf_dir, tmp_path, truncate=False)

    def planted(*a, **k):
        raise TypeError("planted")

    monkeypatch.setattr(pyarrow.parquet, "read_metadata", planted)
    monkeypatch.setattr(pyarrow.dataset, "dataset", planted)
    with pytest.raises(TypeError, match="planted"):
        FOOTER_READS[read](spark, d)
