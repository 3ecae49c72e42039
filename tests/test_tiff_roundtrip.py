"""K2 -> S5 codec round trip: the deterministic COG encoder emits a
structurally valid tiled TIFF (256-px DEFLATE tiles, GDAL_METADATA
band stats — ref cog.py:20,63-66,79-87) that the engine's own
pure-Python IFD walker (sources/raster_probe.py) parses back —
band count, geometry, block size, dtype, stats, and the pixel data
itself all recovered from the bytes, with no raster library in the
loop."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from environmental_stac_generator_spark.sinks import raster
from environmental_stac_generator_spark.sources import raster_probe as rp


def _grid(nb: int, h: int, w: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    arr = rng.normal(size=(nb, h, w))
    arr[:, ::9, ::11] = np.nan  # scattered nodata, like real forecasts
    return arr


def _decode_tiles(data: bytes, info: dict) -> np.ndarray:
    """Rebuild the full (band, y, x) array from the tile offset/size
    tags — exercising the actual tile layout, not just the header."""
    nb, h, w = info["band_count"], info["height"], info["width"]
    tile = info["tile_width"]
    ty_n, tx_n = -(-h // tile), -(-w // tile)
    out = np.empty((nb, ty_n * tile, tx_n * tile))
    tiles = list(zip(info["tile_offsets"], info["tile_byte_counts"]))
    assert len(tiles) == nb * ty_n * tx_n  # planar config 2
    i = 0
    for b in range(nb):
        for ty in range(ty_n):
            for tx in range(tx_n):
                off, cnt = tiles[i]
                raw = zlib.decompress(data[off : off + cnt])
                out[
                    b, ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
                ] = np.frombuffer(raw, dtype="<f8").reshape(tile, tile)
                i += 1
    return out[:, :h, :w]


def test_single_tile_roundtrip():
    arr = _grid(2, 8, 8)
    data = raster.fake_tiff_encoder(arr, ["sic_mean", "sic_stddev"], {})
    info = rp.parse_tiff_header(data)
    assert info["format"] == "GTiff"
    assert info["dtype"] == "float64" and info["bit_depth"] == 64
    assert info["byte_order"] == "little"
    assert info["band_count"] == 2
    assert (info["width"], info["height"]) == (8, 8)
    # reference COG profile block size (cog.py:20)
    assert info["tile_width"] == 256 and info["tile_height"] == 256
    assert info["compression"] == 8  # DEFLATE
    assert info["planar"] == 2
    assert info["band_names"] == ["sic_mean", "sic_stddev"]
    back = _decode_tiles(data, info)
    np.testing.assert_array_equal(back, arr)  # bit-exact, NaNs included


def test_multi_tile_geometry():
    # 300x280 forces a 2x2 tile grid per band
    arr = _grid(2, 300, 280)
    data = raster.fake_tiff_encoder(arr, ["a", "b"], {})
    info = rp.parse_tiff_header(data)
    assert (info["width"], info["height"]) == (280, 300)
    assert len(info["tile_offsets"]) == 2 * 2 * 2
    back = _decode_tiles(data, info)
    np.testing.assert_array_equal(back, arr)


def test_band_stats_tags_roundtrip():
    arr = _grid(3, 32, 32)
    data = raster.fake_tiff_encoder(arr, ["x", "y", "z"], {})
    stats = rp.parse_tiff_header(data)["band_stats"]
    for i in range(3):
        # A3/A4: the embedded tags ARE the nan-stats (ref cog.py:79-87),
        # recovered exactly via repr/float round trip
        assert stats[i]["STATISTICS_MINIMUM"] == np.nanmin(arr[i])
        assert stats[i]["STATISTICS_MAXIMUM"] == np.nanmax(arr[i])
        assert stats[i]["STATISTICS_MEAN"] == np.nanmean(arr[i])
        assert stats[i]["STATISTICS_STDDEV"] == np.nanstd(arr[i])


def test_overview_chain():
    arr = _grid(1, 64, 64)
    data = raster.fake_tiff_encoder(arr, ["v"], {"overviews": True})
    info = rp.parse_tiff_header(data)
    # COG layout: /2,/4,/8,/16 reduced-resolution pages (cog.py:63-66)
    assert info["n_overviews"] == len(raster.OVERVIEW_LEVELS)
    # main page is unchanged by the chain
    back = _decode_tiles(data, info)
    np.testing.assert_array_equal(back, arr)
    # deterministic bytes: the skip-existing/multihash contract holds
    assert data == raster.fake_tiff_encoder(arr, ["v"], {"overviews": True})


def test_header_is_valid_tiff_magic():
    data = raster.fake_tiff_encoder(_grid(1, 4, 4), ["v"], {})
    assert data[:4] == b"II*\x00"
    (ifd_off,) = struct.unpack("<I", data[4:8])
    assert ifd_off % 2 == 0 and ifd_off < len(data)


def test_probe_bytes_classifies_encoded_cog():
    data = raster.fake_tiff_encoder(_grid(2, 8, 8), ["a", "b"], {})
    info = rp.probe_bytes("x.tif", data)
    assert info["format"] == "GTiff" and info["band_count"] == 2


@pytest.mark.usefixtures("spark")
def test_engine_k2_to_s5_loop(spark, tmp_path):
    """Full engine loop: NetCDF scan -> COG encode (K2) -> distributed
    asset probe (S5) reads the written files back with matching
    geometry and dtype."""
    from environmental_stac_generator_spark.sources import netcdf

    d = tmp_path / "coll0"
    d.mkdir()
    (d / "fc.nc").write_bytes(b"\x00")
    grids = netcdf.scan_netcdf_grids(
        spark, str(tmp_path / "*"), decoder=netcdf.fake_decoder(grid=8, n_lead=2)
    )
    res = raster.encode_cogs(grids, tmp_path / "out").collect()
    assert res and all(not r["skipped"] for r in res)
    probed = {
        r["path"].rsplit("/", 1)[-1]: r
        for r in rp.probe_assets(
            spark, str(tmp_path / "out"), glob="*.tif"
        ).collect()
    }
    assert len(probed) == len(res)
    for r in res:
        p = probed[r["path"].rsplit("/", 1)[-1]]
        assert p["format"] == "GTiff"
        assert p["dtype"] == "float64"
        assert p["band_count"] == r["n_bands"]


def test_band_names_with_xml_specials_roundtrip():
    """Band (variable) names containing XML specials must survive the
    K2->S5 round trip: the encoder escapes them into GDAL_METADATA and
    the probe unescapes them back."""
    arr = _grid(2, 8, 8)
    names = ["temp<2m", "wind&gust"]
    data = raster.fake_tiff_encoder(arr, names, {})
    info = rp.parse_tiff_header(data)
    assert info["band_names"] == names
