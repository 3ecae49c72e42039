"""U1 NetCDF scan plumbing with the deterministic fake decoder."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from environmental_stac_generator_spark.sources import netcdf


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing") / "icenet_south"
    d.mkdir()
    for i in range(3):
        (d / f"fc.2025-01-0{i + 1}.nc").write_bytes(b"\x89HDF-fake" + bytes([i]))
    (d / "ignore.txt").write_text("not netcdf")
    return d


def test_scan_schema_and_rows(spark, landing):
    df = netcdf.scan_netcdf(spark, str(landing), decoder=netcdf.fake_decoder())
    assert df.schema == netcdf.LONG_SCHEMA
    n = df.count()
    # 3 files x 2 vars x 3 leadtimes x 8x8 grid
    assert n == 3 * 2 * 3 * 64
    assert df.select("collection").distinct().first()[0] == "icenet_south"


def test_scan_is_deterministic(spark, landing):
    dec = netcdf.fake_decoder()
    a = netcdf.scan_netcdf(spark, str(landing), decoder=dec).toPandas()
    b = netcdf.scan_netcdf(spark, str(landing), decoder=dec).toPandas()
    cols = list(a.columns)
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


def test_glob_filter_excludes_non_nc(spark, landing):
    """The pipeline's S2 discovery: the grid scan reads only ``*.nc``,
    so ``ignore.txt`` in the landing dir yields no rows."""
    grids = netcdf.scan_netcdf_grids(
        spark, str(landing), decoder=netcdf.fake_decoder()
    )
    paths = sorted(r["path"] for r in grids.select("path").distinct().collect())
    assert [p.rsplit("/", 1)[-1] for p in paths] == [
        f"fc.2025-01-0{i + 1}.nc" for i in range(3)
    ]


def test_metadata_scan(spark, landing):
    meta = netcdf.scan_netcdf_metadata(
        spark, str(landing), meta_decoder=netcdf.fake_meta_decoder
    )
    rows = meta.collect()
    assert len(rows) == 3
    assert all(r["crs"].startswith("EPSG:") for r in rows)
    assert all(r["attrs"]["geospatial_bounds_crs"] == "EPSG:6931" for r in rows)


def test_find_coord():
    # ref utils.py:17-31
    assert netcdf.find_coord(["lon", "lat"], netcdf.X_CANDIDATES) == "lon"
    assert netcdf.find_coord(["xc", "x"], netcdf.X_CANDIDATES) == "xc"
    assert netcdf.find_coord(["foo"], netcdf.X_CANDIDATES) is None


def test_content_pruned_from_scan_by_default(spark, tmp_path):
    landing = tmp_path / "nc_prune"
    landing.mkdir()
    (landing / "a.nc").write_bytes(b"CDF\x01fake")
    df = netcdf.scan_netcdf(spark, str(landing), decoder=netcdf.fake_decoder())
    plan = df._jdf.queryExecution().executedPlan().toString()
    # path-only projection: the binaryFile content column never loads
    assert "ReadSchema: struct<path:string>" in plan
    assert df.count() > 0

    meta = netcdf.scan_netcdf_metadata(
        spark, str(landing), meta_decoder=netcdf.fake_meta_decoder
    )
    mplan = meta._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<path:string>" in mplan

    full = netcdf.scan_netcdf(
        spark, str(landing), decoder=netcdf.fake_decoder(), with_content=True
    )
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert "content" in fplan.split("ReadSchema:")[-1]


def test_scan_netcdf_matches_decoder_chunks(spark, tmp_path):
    """The long rows equal the decoder's own chunks concatenated, and
    the scan's only Python stage is the slab scan: the cells are
    exploded JVM-side."""
    import pandas.testing as pdt

    landing = tmp_path / "lfg"
    landing.mkdir()
    (landing / "fc0.nc").write_bytes(b"\x00")
    dec = netcdf.fake_decoder(grid=8, n_lead=2)
    cols = netcdf.LONG_SCHEMA.fieldNames()
    keys = ["forecast_reference_time", "leadtime_idx", "variable", "yc", "xc"]
    # binaryFile's path form, which the scan hands the decoder
    (path,) = [f"file:{p}" for p in sorted(landing.glob("*.nc"))]
    want = pd.concat(list(dec(path, None)), ignore_index=True)[cols]
    want["forecast_reference_time"] = want["forecast_reference_time"].astype(
        "datetime64[ns]"
    )
    df = netcdf.scan_netcdf(spark, str(landing), decoder=dec)
    got = df.toPandas()
    pdt.assert_frame_equal(
        got.sort_values(keys).reset_index(drop=True),
        want.sort_values(keys).reset_index(drop=True),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1  # only the slab scan


@pytest.mark.parametrize(
    "fault,error",
    [
        ("sparse", "grid's cells once"),
        ("duplicate_cell", "grid's cells once"),
        ("multi_slab", "spans more than one"),
    ],
    ids=["sparse", "duplicate_cell", "multi_slab"],
)
def test_scan_rejects_chunks_that_are_not_one_dense_slab(
    spark, tmp_path, fault, error
):
    """A decoder chunk must be one dense (collection, init, leadtime,
    variable) slab; anything else fails loudly, naming the file,
    variable and leadtime, instead of packing a misplaced grid."""
    landing = tmp_path / "bad"
    landing.mkdir()
    (landing / "fc0.nc").write_bytes(b"\x00")
    inner = netcdf.fake_decoder(grid=8, n_lead=3)

    def dec(path, content):
        chunks = list(inner(path, content))
        if fault == "multi_slab":  # every slab of the file in one chunk
            yield pd.concat(chunks, ignore_index=True)
        elif fault == "sparse":  # missing cells dropped, not NaN
            yield from (c[c["value"].notna()] for c in chunks)
        else:  # right cell count, but one cell twice and one not at all
            c = chunks[0].copy()
            c.loc[c.index[-1], ["yc", "xc"]] = c.iloc[0][["yc", "xc"]].to_numpy()
            yield c

    with pytest.raises(Exception, match=error) as exc:
        netcdf.scan_netcdf(spark, str(landing), decoder=dec).count()
    assert re.search(r"fc0\.nc: variable 'sic_\w+' leadtime \d", str(exc.value))


def test_metadata_scan_default_is_real_decoder(spark, tmp_path):
    """Without an injected meta_decoder the scan must use the REAL
    xarray header read — which in this container (no raster stack)
    raises NotImplementedError at execute time instead of silently
    fabricating CRS/hemisphere values."""
    import pytest

    landing = tmp_path / "nc_real"
    landing.mkdir()
    (landing / "a.nc").write_bytes(b"CDF\x01fake")
    meta = netcdf.scan_netcdf_metadata(spark, str(landing))
    with pytest.raises(Exception, match="xarray|NotImplemented"):
        meta.collect()


def test_north_up_matches_lexsort():
    """The O(n) fast path must return exactly what the lexsort
    returns: already-north-up slabs pass through, south-up slabs flip,
    irregular cell orders fall back to the exact sort."""
    import numpy as np

    from environmental_stac_generator_spark.sources.netcdf import _north_up

    ys = np.array([3.0, 2.0, 1.0])  # descending (north-up)
    xs = np.array([10.0, 20.0])
    ny, nx = 3, 2

    def ref(y, x, v):
        return v[np.lexsort((x, -y))]

    # south-up meshgrid (the decoders' natural order)
    yy, xx = np.meshgrid(ys[::-1], xs, indexing="ij")
    v = np.arange(6, dtype="float64")
    got = _north_up(yy.ravel(), xx.ravel(), v, ys, xs, ny, nx)
    np.testing.assert_array_equal(got, ref(yy.ravel(), xx.ravel(), v))
    # already north-up
    yy2, xx2 = np.meshgrid(ys, xs, indexing="ij")
    got2 = _north_up(yy2.ravel(), xx2.ravel(), v, ys, xs, ny, nx)
    np.testing.assert_array_equal(got2, ref(yy2.ravel(), xx2.ravel(), v))
    # irregular (shuffled) order -> lexsort fallback
    rng = np.random.default_rng(7)
    p = rng.permutation(6)
    got3 = _north_up(yy.ravel()[p], xx.ravel()[p], v[p], ys, xs, ny, nx)
    np.testing.assert_array_equal(got3, ref(yy.ravel()[p], xx.ravel()[p], v[p]))
