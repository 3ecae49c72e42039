"""Port of the reference's unit tests (SURVEY §5) onto the
long-format operators, using the FIXTURES.md §1 grid."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark.operators import forecast as fc


@pytest.fixture(scope="module")
def long_df(spark):
    """FIXTURES.md §1: 2 init times x 5 leadtimes x 2 vars x 16x16
    grid, ~5% NaN, deterministic."""
    rng = np.random.default_rng(42)
    xs = np.linspace(10.0, 30.0, 16)
    ys = np.linspace(40.0, 60.0, 16)
    rows = []
    for t in pd.date_range("2025-01-01", periods=2, freq="D"):
        for lead in range(5):
            for var in ("sic_mean", "sic_stddev"):
                vals = rng.random((16, 16))
                vals[vals < 0.05] = np.nan
                for yi, y in enumerate(ys):
                    for xi, x in enumerate(xs):
                        rows.append(
                            ("icenet_test", "p", t.to_pydatetime(), lead, var,
                             float(y), float(x), float(vals[yi, xi]))
                        )
    pdf = pd.DataFrame(
        rows,
        columns=["collection", "path", "forecast_reference_time", "leadtime_idx",
                 "variable", "yc", "xc", "value"],
    )
    return spark.createDataFrame(pdf)


def test_bbox_and_geometry(long_df):
    # ref test_get_bbox_and_geometry_epsg4326 (test_generator.py:163-196)
    out = fc.geometry_json(fc.bbox(long_df)).first()
    assert [out["xmin"], out["ymin"], out["xmax"], out["ymax"]] == [10.0, 40.0, 30.0, 60.0]
    import json

    geom = json.loads(out["geometry"])
    assert geom["type"] == "Polygon"
    assert geom["coordinates"][0][0] == [10.0, 40.0]
    assert len(geom["coordinates"][0]) == 5


def test_band_statistics_matches_numpy(long_df):
    # ref get_da_statistics (utils.py:213-259): nan-skipping,
    # POPULATION stddev, floored valid%
    stats = {
        (r["variable"], r["leadtime_idx"]): r
        for r in fc.band_statistics(
            long_df, keys=["variable", "leadtime_idx"]
        ).collect()
    }
    pdf = long_df.toPandas()
    for (var, lead), row in stats.items():
        vals = pdf[(pdf.variable == var) & (pdf.leadtime_idx == lead)]["value"].to_numpy()
        assert row["min"] == pytest.approx(np.nanmin(vals))
        assert row["max"] == pytest.approx(np.nanmax(vals))
        assert row["mean"] == pytest.approx(np.nanmean(vals))
        assert row["std"] == pytest.approx(np.nanstd(vals))  # population
        expected_valid = math.floor(100 * np.isfinite(vals).mean() * 100) / 100
        assert row["valid_percent"] == pytest.approx(expected_valid)


def test_temporal_extent(long_df):
    r = fc.temporal_extent(long_df).first()
    assert r["extent_start"] == pd.Timestamp("2025-01-01")
    assert r["extent_end"] == pd.Timestamp("2025-01-02")


def test_valid_time_units(spark):
    df = spark.createDataFrame(
        [(pd.Timestamp("2025-01-31").to_pydatetime(), 1)],
        "t timestamp, i int",
    )
    day = df.select(fc.valid_time("t", "i", "days").alias("v")).first()["v"]
    assert day == pd.Timestamp("2025-02-01")
    month = df.select(fc.valid_time("t", "i", "months").alias("v")).first()["v"]
    # add_months clamps end-of-month like relativedelta
    assert month == pd.Timestamp("2025-02-28")
    hour12 = df.select(fc.valid_time("t", "i", "hours", step=12).alias("v")).first()["v"]
    assert hour12 == pd.Timestamp("2025-01-31 12:00:00")


def test_infer_valid_bands(long_df, spark):
    # add a degenerate 1-leadtime variable; it must be filtered out
    extra = spark.createDataFrame(
        [("icenet_test", "p", pd.Timestamp("2025-01-01").to_pydatetime(), 0,
          "latlon_2d", 40.0, 10.0, 1.0)],
        long_df.schema,
    )
    bands = fc.infer_valid_bands(long_df.unionByName(extra))
    names = sorted(r["variable"] for r in bands.collect())
    assert names == ["sic_mean", "sic_stddev"]


def test_leadtime_counts(long_df):
    rows = fc.leadtime_counts(long_df).collect()
    assert all(r["n_leadtime"] == 5 for r in rows)
    assert len(rows) == 2


def test_band_statistics_isfinite_valid_percent(spark):
    # ADVICE r1: valid% uses np.isfinite semantics — ±Inf excluded
    # from the valid count, while min/max/mean keep NaN-only skipping
    # (numpy nanmin includes Inf).
    import math

    rows = [
        ("c", "t0", 0, "v", 1.0),
        ("c", "t0", 0, "v", float("inf")),
        ("c", "t0", 0, "v", float("-inf")),
        ("c", "t0", 0, "v", float("nan")),
    ]
    df = spark.createDataFrame(
        rows,
        "collection string, forecast_reference_time string, "
        "leadtime_idx int, variable string, value double",
    )
    r = fc.band_statistics(df).first()
    # 1 finite of 4 -> floor(25.0 * 100)/100
    assert r["valid_percent"] == 25.0
    # stats keep Inf (numpy nan-skipping-only semantics)
    assert r["max"] == float("inf")
    assert r["min"] == float("-inf")
    assert math.isnan(r["mean"]) or r["mean"] in (float("inf"), float("-inf"))
