"""K1/K2/K3 raster sinks: reference bytes, skip-existing, stats tags."""

from __future__ import annotations

import struct
import zlib
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from environmental_stac_generator_spark.sinks import raster
from environmental_stac_generator_spark.sources import netcdf
from environmental_stac_generator_spark.sources.raster_probe import (
    parse_tiff_header,
)


@pytest.fixture(scope="module")
def grids(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("rast") / "icenet_test"
    d.mkdir()
    (d / "fc0.nc").write_bytes(b"\x00")
    return netcdf.scan_netcdf_grids(
        spark, str(d), decoder=netcdf.fake_decoder()
    ).persist()


def _decoded(src: str, dec) -> pd.DataFrame:
    """The decoder's own chunks for every ``*.nc`` file under the
    ``src`` glob, concatenated: the reference the sinks are checked
    against, built without the scan or the sinks. Paths take
    binaryFile's ``file:`` form, which the scan hands the decoder."""
    src = Path(src)
    paths = [f"file:{p}" for p in sorted(src.parent.glob(f"{src.name}/*.nc"))]
    return pd.concat([c for p in paths for c in dec(p, None)], ignore_index=True)


def _north_up_stack(cells: pd.DataFrame) -> tuple[np.ndarray, list[str]]:
    """(band, y, x) array of one (collection, init, leadtime)'s cells:
    bands sorted by variable, yc descending, xc ascending. C order, as
    the encoder's NaN stats sum in memory order."""
    bands = sorted(cells["variable"].unique())
    grids = [
        cells[cells["variable"] == b]
        .pivot(index="yc", columns="xc", values="value")
        .sort_index(ascending=False)
        .sort_index(axis=1)
        .to_numpy()
        for b in bands
    ]
    arr = np.ascontiguousarray(np.stack(grids))
    return arr, bands


def test_encode_cogs_and_thumbnails(grids, tmp_path):
    res = raster.encode_cogs(grids, tmp_path).collect()
    assert len(res) == 3  # one per leadtime
    assert all(not r["skipped"] for r in res)
    for r in res:
        data = open(r["path"], "rb").read()
        # K2->S5: the encoded file is a structurally valid tiled TIFF
        # that the repo's own IFD walker parses back
        info = parse_tiff_header(data)
        assert info is not None and info["format"] == "GTiff"
        assert info["band_count"] == 2 and info["dtype"] == "float64"
        assert (info["width"], info["height"]) == (8, 8)
        assert info["tile_width"] == raster.TIFF_TILE
        assert r["multihash"] == raster.multihash_md5(data)
        assert r["multihash"].startswith("d50110")  # F9 varint multihash prefix
        assert r["n_bands"] == 2 and r["height"] == 8 and r["width"] == 8
    # thumbnail only for leadtime 0 (ref generator.py:913-921);
    # lead-0 valid time == init time, so the stamps match
    jpgs = list(tmp_path.rglob("*.jpg"))
    assert len(jpgs) == 1
    init_stamp = jpgs[0].name.split("_lead_")[0].removeprefix("forecast_init_")
    assert jpgs[0].name.split("_lead_")[1].startswith(init_stamp[:10])


def test_fake_cog_embeds_band_stats(grids):
    one = grids.filter("leadtime_idx = 0").orderBy("variable").toPandas()
    bands = list(one["variable"])
    arr = np.stack(
        [np.reshape(r["values"], (r["ny"], r["nx"])) for _, r in one.iterrows()]
    )
    blob = raster.fake_tiff_encoder(arr, bands, {})
    info = parse_tiff_header(blob)
    assert info["band_names"] == bands
    # A4: embedded GDAL_METADATA tags equal nan-stats of the array
    # (ref cog.py:78-87); repr/float round-trips doubles exactly
    stats = info["band_stats"]
    assert stats[0]["STATISTICS_MINIMUM"] == np.nanmin(arr[0])
    assert stats[0]["STATISTICS_MAXIMUM"] == np.nanmax(arr[0])
    assert stats[0]["STATISTICS_MEAN"] == np.nanmean(arr[0])
    assert stats[0]["STATISTICS_STDDEV"] == np.nanstd(arr[0])


def test_skip_existing(grids, tmp_path):
    first = raster.encode_cogs(grids, tmp_path, overwrite=True).collect()
    second = raster.encode_cogs(grids, tmp_path, overwrite=False).collect()
    assert all(not r["skipped"] for r in first)
    assert all(r["skipped"] for r in second)  # P9/J6
    # overwrite=True re-encodes
    third = raster.encode_cogs(grids, tmp_path, overwrite=True).collect()
    assert all(not r["skipped"] for r in third)


def test_write_netcdf_slices(grids, tmp_path):
    res = raster.write_netcdf_slices(grids, tmp_path).collect()
    assert len(res) == 1  # one init time
    r = res[0]
    assert r["n_variables"] == 2
    data = open(r["path"], "rb").read()
    assert data.startswith(b"FAKENC_1")
    # path layout netcdf/{collection}/{date}/{ts}.nc (ref :689-701)
    assert "/netcdf/icenet_test/" in r["path"]


def _two_collection_landing(root):
    # one collection per subdir so (collection, init, leadtime) groups
    # never merge cells from two files
    for i in range(2):
        (root / f"coll{i}").mkdir(parents=True)
        (root / f"coll{i}" / "fc.nc").write_bytes(bytes([i]))
    return str(root / "*")


def test_cog_bytes_match_decoder_reference(spark, tmp_path):
    """Every COG equals fake_tiff_encoder over a numpy north-up grid
    built straight from the decoder's chunks (bands sorted, yc
    descending, xc ascending)."""
    src = _two_collection_landing(tmp_path / "grid_landing")
    dec = netcdf.fake_decoder(grid=8, n_lead=3)
    cells = _decoded(src, dec)
    grids = netcdf.scan_netcdf_grids(spark, src, decoder=dec)
    res = raster.encode_cogs(grids, tmp_path / "out").collect()
    got = {
        (r["collection"], r["leadtime_idx"]): open(r["path"], "rb").read()
        for r in res
    }
    want = {
        (coll, lead): raster.fake_tiff_encoder(*_north_up_stack(g), {})
        for (coll, lead), g in cells.groupby(["collection", "leadtime_idx"])
    }
    assert got == want and len(got) == 6
    for r in res:
        key = (r["collection"], r["leadtime_idx"])
        assert r["multihash"] == raster.multihash_md5(got[key])


def test_netcdf_slice_bytes_match_decoder_reference(spark, tmp_path):
    """Every slice file is FAKENC_1 + zlib-9 of the decoder's values
    sorted by (variable, leadtime, yc, xc)."""
    src = _two_collection_landing(tmp_path / "ncg")
    dec = netcdf.fake_decoder(grid=8, n_lead=3)
    cells = _decoded(src, dec)
    got = {
        r["collection"]: open(r["path"], "rb").read()
        for r in raster.write_netcdf_slices(
            netcdf.scan_netcdf_grids(spark, src, decoder=dec), tmp_path / "out"
        ).collect()
    }
    want = {
        coll: b"FAKENC_1"
        + zlib.compress(
            g.sort_values(["variable", "leadtime_idx", "yc", "xc"])["value"]
            .to_numpy(dtype="float64")
            .tobytes(),
            9,
        )
        for coll, g in cells.groupby("collection")
    }
    assert got == want and len(got) == 2


def test_average_downsample_nan_block_mean():
    band = np.array(
        [[1.0, 3.0, 5.0], [np.nan, 7.0, np.nan], [9.0, 11.0, 13.0]]
    )
    ov = raster.average_downsample(band, 2)
    # 2x2 block (1,3 / nan,7) -> nanmean 11/3; ragged edges pad NaN
    assert ov.shape == (2, 2)
    assert abs(ov[0, 0] - (1 + 3 + 7) / 3) < 1e-12
    assert ov[0, 1] == 5.0  # (5, nan) block
    assert ov[1, 0] == 10.0  # (9, 11)
    assert ov[1, 1] == 13.0


def test_external_overviews_sidecar(grids, tmp_path):
    out = raster.encode_cogs(
        grids,
        tmp_path,
        external_overviews=raster.default_external_overviews,
    )
    from pathlib import Path

    rows = out.collect()
    assert rows
    for r in rows:
        assert Path(r["path"] + ".ovr").exists(), r["path"]
    # fake sidecar decodes to the /2,/4,/8,/16 pyramid
    raw = Path(rows[0]["path"] + ".ovr").read_bytes()
    if raw.startswith(b"FAKEOVR1"):
        payload = zlib.decompress(raw[8:])
        level, h, w = struct.unpack_from("<3i", payload, 0)
        assert level == 2 and h >= 1 and w >= 1


def test_thumbnail_encoder_selection(tmp_path):
    arr = np.arange(12.0).reshape(1, 3, 4)
    data = raster.default_thumbnail_encoder(arr, ["b0"], {})
    try:
        import matplotlib  # noqa: F401

        assert data[:2] == b"\xff\xd8", "matplotlib path must emit real JPEG"
    except ImportError:
        assert data.startswith(b"FAKEJPG1")


def test_matplotlib_encoder_guarded():
    arr = np.zeros((1, 2, 2))
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            raster.matplotlib_jpeg_encoder(arr, ["b0"], {})


def test_reproject_kernel_applied(grids, tmp_path):
    # F14: injected warp kernel runs inside the K2 encode kernel
    calls = []

    def mark_kernel(arr, ys, xs, meta):
        calls.append(arr.shape)
        return arr * 2.0, ys, xs, {**meta, "crs": "EPSG:4326"}

    plain = raster.encode_cogs(grids, tmp_path / "a").collect()
    warped = raster.encode_cogs(
        grids, tmp_path / "b", reproject=mark_kernel
    ).collect()
    # kernel ran once per (init, leadtime) group and changed the bytes
    by_key = {(r["forecast_reference_time"], r["leadtime_idx"]): r["multihash"] for r in plain}
    for r in warped:
        assert by_key[(r["forecast_reference_time"], r["leadtime_idx"])] != r["multihash"]


def test_passthrough_reproject_semantics():
    arr = np.ones((1, 2, 2))
    ys, xs = np.array([1.0, 0.0]), np.array([0.0, 1.0])
    out, oys, oxs, meta = raster.passthrough_grid_reproject(arr, ys, xs, {"crs": "EPSG:4326"})
    assert (out == arr).all() and meta["crs"] == "EPSG:4326"
    with pytest.raises(NotImplementedError):
        raster.passthrough_grid_reproject(arr, ys, xs, {"crs": "EPSG:6931"})
    try:
        import rasterio  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            raster.rasterio_grid_reproject(arr, ys, xs, {"crs": "EPSG:6931"})


def test_valid_time_matches_relativedelta_semantics():
    """The kernel twin follows leadtime_offset's relativedelta
    semantics: integral month/year offsets are calendar-aware and
    preserve time-of-day, non-integer ones raise (dateutil's
    'ambiguous' rule — the old int(lead*step) truncation silently
    collapsed two fractional-step leadtimes onto one output path)."""
    import pandas as pd
    import pytest

    from environmental_stac_generator_spark.sinks.raster import _valid_time

    ref = pd.Timestamp("2024-01-31 06:00")
    # integral offsets: month-end clamp + time-of-day preserved
    assert _valid_time(ref, 1, "months", 1.0) == pd.Timestamp("2024-02-29 06:00")
    assert _valid_time(ref, 1, "years", 1.0) == pd.Timestamp("2025-01-31 06:00")
    # lead*step integral is fine even when step alone is fractional
    assert _valid_time(ref, 2, "months", 0.5) == pd.Timestamp("2024-02-29 06:00")
    with pytest.raises(ValueError, match="ambiguous"):
        _valid_time(ref, 1, "months", 0.5)
    # fractional smaller units stay exact durations
    assert _valid_time(ref, 3, "hours", 0.5) == ref + pd.Timedelta(hours=1.5)


def test_sub_minute_leadtime_step_rejected(spark, tmp_path):
    """A leadtime step below the output naming scheme's 1-minute
    resolution would silently collide distinct leadtimes onto one
    path; the COG encode must fail loudly instead."""
    import pytest

    from environmental_stac_generator_spark.sinks.raster import encode_cogs
    from environmental_stac_generator_spark.sources import netcdf

    landing = tmp_path / "nc"
    (landing / "c").mkdir(parents=True)
    (landing / "c" / "f.nc").write_bytes(b"x")
    grids = netcdf.scan_netcdf_grids(
        spark, str(landing / "*"), decoder=netcdf.fake_decoder(grid=4, n_lead=2)
    )
    with pytest.raises(ValueError, match="1-minute resolution"):
        encode_cogs(
            grids, tmp_path / "o", leadtime_unit="hours", leadtime_step=0.01
        )


def test_valid_time_matches_leadtime_offset_microseconds(spark):
    """The kernel-side valid time and the STAC assembly's column form
    must agree to the microsecond for fractional steps — a divergence
    makes asset hrefs point at files that don't exist."""
    import pandas as pd

    from environmental_stac_generator_spark.functions.frequency import (
        leadtime_offset,
    )
    from environmental_stac_generator_spark.sinks.raster import _valid_time

    ref = pd.Timestamp("2025-03-01 06:30:00")
    cases = [
        ("hours", 0.25, 7),
        ("hours", 1.5, 3),
        ("days", 0.1, 13),   # 0.1*13 is inexact in binary
        ("weeks", 0.5, 5),
        ("days", 1.0, 40),
    ]
    import pyspark.sql.functions as F

    for unit, step, lead in cases:
        kernel = _valid_time(ref, lead, unit, step)
        df = spark.createDataFrame([(ref.to_pydatetime(),)], "ts timestamp")
        col = df.select(
            leadtime_offset("ts", unit, float(lead) * step).alias("t")
        ).first()["t"]
        assert pd.Timestamp(col) == kernel, (unit, step, lead, col, kernel)


def test_building_sinks_emits_no_user_warning(grids, tmp_path):
    """The grouped-map closures carry no partial type hints, so
    building either sink's plan warns nothing (PySpark warns when it
    cannot infer an eval type from incomplete hints)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        raster.encode_cogs(grids, tmp_path)
        raster.write_netcdf_slices(grids, tmp_path)
