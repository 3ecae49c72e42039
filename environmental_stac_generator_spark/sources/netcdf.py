"""NetCDF scan (SURVEY §2.1 S1, §2.10 U1).

The reference opens each forecast file with
``xr.open_dataset(nc_file, decode_coords="all")``
(``stac/generator.py:485,661``) and works on in-memory 4-D arrays.
Spark has no native NetCDF source, so the scan is:

    spark.read.format("binaryFile").load(glob)      # distributed listing
      -> mapInPandas(decode + pack)                  # Arrow-batched
      -> packed slabs (collection, time, leadtime_idx, variable,
                       ny, nx, ys, xs, values)       # scan_netcdf_grids

The packed slab is the one in-flight format for decoded forecast
data: the raster sinks (``sinks.raster``) group slabs, and the long
cell relation (``scan_netcdf``) is derived from them JVM-side by
:func:`long_from_grids`, so per-cell data never crosses a Python
boundary after the decoder.

Scale design (100 TB of daily files):
- ``binaryFile`` distributes one file per task; a 278 MB canonical
  file (432x432x93x2 vars, BASELINE.md) holds ~34.7 M cells, decoded
  and packed **slab by slab** (one (variable, leadtime) slice at a
  time) so executor memory stays bounded at one 2-D grid regardless
  of file size — the analog of the reference's lazy xarray loads.
- The decoder is pluggable: :func:`xarray_decoder` uses
  xarray/h5netcdf when installed; environments without the raster
  stack (like this container) inject a deterministic fake for tests.
  The Spark-side plumbing — schema, chunked emission, attr
  propagation — is identical either way.
- Long-term the right home is a DataSourceV2 with slab-level
  partitioning; ``binaryFile`` + ``mapInPandas`` is the stock-Spark
  version of the same plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The tidy/long relational encoding of the 4-D grid (SURVEY §1.3).
LONG_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("path", StringType()),
        StructField("forecast_reference_time", TimestampType()),
        StructField("leadtime_idx", IntegerType()),
        StructField("variable", StringType()),
        StructField("yc", DoubleType()),
        StructField("xc", DoubleType()),
        StructField("value", DoubleType()),
    ]
)

# Per-file metadata — the scan-side output of get_forecast_info
# (ref stac/generator.py:461-531) + get_hemisphere (utils.py:47-82).
FILE_META_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("collection", StringType()),
        StructField("crs", StringType()),
        StructField("x_units", StringType()),
        StructField("y_units", StringType()),
        StructField("geospatial_lat_min", DoubleType()),
        StructField("n_time", IntegerType()),
        StructField("n_leadtime", IntegerType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)

# decoder(path, content) -> iterator of DataFrames in LONG_SCHEMA
# columns, each one dense slab: every (yc, xc) cell of one
# (collection, init time, leadtime, variable) exactly once
Decoder = Callable[[str, bytes], Iterator[pd.DataFrame]]


# Candidate coordinate names, ref utils.py:17-31 / stac/generator.py:487-496.
X_CANDIDATES = ("xc", "x", "lon", "longitude")
Y_CANDIDATES = ("yc", "y", "lat", "latitude")
# P8/F16: units meaning "kilometres" ('1000 meter' is legacy icenet
# < v0.4.0 support; ref stac/generator.py:549-552)
KM_UNITS = ("km", "1000 meter")
TIME_CANDIDATES = ("time", "forecast_time")
LEAD_CANDIDATES = ("leadtime", "lead_time")


def find_coord(names: list[str], candidates: tuple[str, ...]) -> str | None:
    """First candidate present — the reference's coordinate-name
    resolution (``utils.py:17-31``)."""
    for c in candidates:
        if c in names:
            return c
    return None


def _require_coord(
    names: list[str], candidates: tuple[str, ...], role: str, path: str
) -> str:
    """find_coord or a clear error: an unrecognized coordinate name
    would otherwise surface as an obscure ``ds[None]`` KeyError from
    inside xarray on an executor — needlessly hard to diagnose in a
    100 TB scan."""
    c = find_coord(names, candidates)
    if c is None:
        raise ValueError(
            f"no {role} coordinate found among {candidates} in {path} "
            f"(coords/dims present: {sorted(set(names))})"
        )
    return c


def xarray_decoder(path: str, content: bytes | None) -> Iterator[pd.DataFrame]:
    """Real NetCDF decode via xarray/h5netcdf (ref S1). Emits one dense
    chunk per (variable, time, leadtime) slab so peak memory is one
    2-D grid. Raises if the raster stack is not installed.

    With ``content=None`` (the default scan mode) the file is opened
    LAZILY by path — xarray reads each slab on demand, so a multi-GB
    file never materializes in executor memory (SURVEY §7 hard-point
    a). Bytes are accepted for sources where only a stream exists."""
    try:
        import io

        import xarray as xr
    except ImportError as exc:  # pragma: no cover - env without xarray
        raise NotImplementedError(
            "NetCDF decoding needs xarray+h5netcdf; inject a custom "
            "decoder (see fake_decoder) in environments without them"
        ) from exc

    src = io.BytesIO(content) if content is not None else path.removeprefix("file:")
    # close the dataset even when the consuming generator is abandoned
    # mid-iteration: long-lived executor workers decode thousands of
    # files, and an unclosed HDF5 handle per file runs into ulimit
    with xr.open_dataset(src, decode_coords="all") as ds:
        names = list(ds.coords) + list(ds.dims)
        x = _require_coord(names, X_CANDIDATES, "x", path)
        y = _require_coord(names, Y_CANDIDATES, "y", path)
        t = _require_coord(names, TIME_CANDIDATES, "time", path)
        lead = _require_coord(names, LEAD_CANDIDATES, "leadtime", path)
        # the DIMENSION a 1-D coordinate variable indexes (usually the
        # same name, but a coord like 'lon' can sit on dim 'x')
        y_dim = ds[y].dims[0] if y in ds.coords and ds[y].ndim == 1 else y
        x_dim = ds[x].dims[0] if x in ds.coords and ds[x].ndim == 1 else x
        collection = _collection_from_path(path)
        # 4-D filter (ref stac/generator.py:506)
        valid = [v for v in ds.data_vars if len(ds[v].dims) == 4]
        xs = ds[x].values.astype("float64")
        ys = ds[y].values.astype("float64")
        # P8 at the faithful place — the reference's _convert_units
        # runs on the opened dataset BEFORE any bbox/geometry math
        # (stac/generator.py:533-553): km / legacy '1000 meter'
        # coordinates scale to metres here, so every downstream
        # consumer of the scan sees metres without a units
        # column or a metadata join.
        if str(ds[x].attrs.get("units", "")) in KM_UNITS:
            xs = xs * 1000.0
        if str(ds[y].attrs.get("units", "")) in KM_UNITS:
            ys = ys * 1000.0
        yy, xx = np.meshgrid(ys, xs, indexing="ij")
        for var in valid:
            for ti, tv in enumerate(pd.to_datetime(ds[t].values)):
                for li in range(ds.sizes[lead]):
                    # transpose to (y, x) explicitly: a writer storing
                    # (x, y) otherwise ravels into the wrong pairing
                    # with the meshgrid coords — same length, silently
                    # scrambled values
                    slab = (
                        ds[var]
                        .isel({t: ti, lead: li})
                        .transpose(y_dim, x_dim)
                        .values.astype("float64")
                    )
                    yield pd.DataFrame(
                        {
                            "collection": collection,
                            "path": path,
                            "forecast_reference_time": tv,
                            "leadtime_idx": np.int32(li),
                            "variable": var,
                            "yc": yy.ravel(),
                            "xc": xx.ravel(),
                            "value": slab.ravel(),
                        }
                    )


def _collection_from_path(path: str) -> str:
    """Collection id = parent directory name (the reference uses the
    CLI-provided catalog/collection name; path-derived is the
    distributed analog)."""
    parts = path.rstrip("/").split("/")
    return parts[-2] if len(parts) > 1 else "default"


def fake_decoder(
    grid: int = 8, n_lead: int = 3, variables: tuple[str, ...] = ("sic_mean", "sic_stddev")
) -> Decoder:
    """Deterministic stand-in decoder for environments without the
    NetCDF stack. Values derive from md5(path) so the scan is
    reproducible and order-independent; ~5% NaN injected to exercise
    the NaN-skipping stats (ref utils.py:213-259)."""

    def decode(path: str, content: bytes) -> Iterator[pd.DataFrame]:
        seed = int.from_bytes(hashlib.md5(path.encode()).digest()[:4], "big")
        rng = np.random.default_rng(seed)
        t0 = pd.Timestamp("2025-01-01") + pd.Timedelta(days=seed % 7)
        xs = np.linspace(-8_918_256.31, 8_918_256.31, grid)
        ys = np.linspace(-9_009_964.76, 9_009_964.76, grid)
        yy, xx = np.meshgrid(ys, xs, indexing="ij")
        collection = _collection_from_path(path)
        for var in variables:
            for li in range(n_lead):
                vals = rng.random((grid, grid))
                vals[vals < 0.05] = np.nan
                yield pd.DataFrame(
                    {
                        "collection": collection,
                        "path": path,
                        "forecast_reference_time": t0,
                        "leadtime_idx": np.int32(li),
                        "variable": var,
                        "yc": yy.ravel(),
                        "xc": xx.ravel(),
                        "value": vals.ravel(),
                    }
                )

    return decode


def xarray_meta_decoder(path: str, content: bytes | None = None) -> dict:
    """Real attribute-only metadata read (hemisphere detection inputs,
    ref ``utils.py:47-82``): opens the header lazily, reads global
    attrs + coordinate units + dimension sizes, touches no data slab.
    Raises if the raster stack is missing — like
    :func:`xarray_decoder`, so a production scan can never silently
    fabricate CRS/hemisphere values."""
    try:
        import io

        import xarray as xr
    except ImportError as exc:  # pragma: no cover - env without xarray
        raise NotImplementedError(
            "NetCDF metadata decoding needs xarray+h5netcdf; inject a "
            "custom meta_decoder (see fake_meta_decoder) in "
            "environments without them"
        ) from exc
    src = io.BytesIO(content) if content is not None else path.removeprefix("file:")
    with xr.open_dataset(src, decode_coords="all") as ds:
        names = list(ds.coords) + list(ds.dims)
        x = find_coord(names, X_CANDIDATES)
        y = find_coord(names, Y_CANDIDATES)
        t = find_coord(names, TIME_CANDIDATES)
        lead = find_coord(names, LEAD_CANDIDATES)
        attrs = {str(k): str(v) for k, v in ds.attrs.items()}
        lat_min = attrs.get("geospatial_lat_min")
        return {
            "path": path,
            "collection": _collection_from_path(path),
            "crs": attrs.get("geospatial_bounds_crs", attrs.get("crs", "")),
            "x_units": str(ds[x].attrs.get("units", "")) if x else "",
            "y_units": str(ds[y].attrs.get("units", "")) if y else "",
            "geospatial_lat_min": float(lat_min) if lat_min is not None else None,
            "n_time": int(ds.sizes[t]) if t in ds.sizes else 1,
            "n_leadtime": int(ds.sizes[lead]) if lead in ds.sizes else 1,
            "attrs": attrs,
        }


def fake_meta_decoder(path: str, content: bytes | None = None) -> dict:
    """Deterministic metadata stand-in (md5-seeded, like
    :func:`fake_decoder`) for environments without the NetCDF stack —
    INJECT EXPLICITLY in tests; it is deliberately not the default,
    so a production caller can never mistake fabricated CRS values
    for file contents."""
    seed = int.from_bytes(hashlib.md5(path.encode()).digest()[:4], "big")
    return {
        "path": path,
        "collection": _collection_from_path(path),
        "crs": "EPSG:6931" if seed % 2 == 0 else "EPSG:6932",
        "x_units": ["km", "1000 meter", "m"][seed % 3],
        "y_units": ["km", "1000 meter", "m"][seed % 3],
        "geospatial_lat_min": 30.98 if seed % 2 == 0 else -90.0,
        "n_time": 1,
        "n_leadtime": 3,
        "attrs": {"geospatial_bounds_crs": "EPSG:6931"},
    }


def scan_netcdf_metadata(
    spark: SparkSession,
    path: str,
    meta_decoder: Callable[[str, bytes | None], dict] | None = None,
    glob: str = "*.nc",
    with_content: bool = False,
) -> DataFrame:
    """Attribute-only scan — the analog of the reference's cheap
    attr-only open for hemisphere detection (``utils.py:68-70``):
    reads headers, never data slabs. Default is path-only (column
    pruning skips the content read; a lazy open fetches just the
    header); ``with_content=True`` for stream-only decoders. The
    default decoder is the REAL :func:`xarray_meta_decoder` (raising
    without the raster stack); environments without it inject
    :func:`fake_meta_decoder` — mirroring :func:`scan_netcdf_grids`."""
    dec = meta_decoder or xarray_meta_decoder
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                dec(r["path"], r["content"] if with_content else None)
                for _, r in pdf.iterrows()
            ]
            if rows:
                yield pd.DataFrame(rows)

    cols = ["path", "content"] if with_content else ["path"]
    return files.select(*cols).mapInPandas(extract, schema=FILE_META_SCHEMA)


GRID_SCHEMA = (
    "collection string, path string, forecast_reference_time timestamp, "
    "leadtime_idx int, variable string, ny int, nx int, "
    "ys array<double>, xs array<double>, `values` array<double>"
)


# the key one packed slab (and one decoder chunk) belongs to
SLAB_KEY = ("collection", "forecast_reference_time", "leadtime_idx", "variable")


def scan_netcdf_grids(
    spark: SparkSession,
    path: str,
    decoder: Decoder | None = None,
    glob: str = "*.nc",
    with_content: bool = False,
) -> DataFrame:
    """Distributed NetCDF -> packed-slab scan (S1/U1): one row per
    (variable, init, leadtime) SLAB, the 2-D array in north-up
    (y desc, x asc) order. The raster sinks group these slabs, not
    cells: ~50x less shuffle volume than a per-cell relation.

    One task per file. By default only ``path`` is projected from the
    binaryFile listing (column pruning elides the content read
    entirely) and the decoder opens the file lazily — executor memory
    holds one slab, not one file. ``with_content=True`` ships whole
    files through the scan for decoders that need a byte stream.

    Each decoder chunk must be one dense slab (see :data:`Decoder`); a
    chunk spanning several slab keys, or one missing or repeating
    cells, raises ``ValueError`` naming the file, variable and
    leadtime instead of packing a misplaced grid."""
    dec = decoder or xarray_decoder
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                content = row["content"] if with_content else None
                for chunk in dec(row["path"], content):
                    if chunk.empty:
                        continue
                    first = chunk.iloc[0]
                    where = (
                        f"{first['path']}: variable {first['variable']!r} "
                        f"leadtime {first['leadtime_idx']}"
                    )
                    # adjacent-row compare: cheaper than nunique on
                    # the object (string) key columns
                    keys = (chunk[c].to_numpy() for c in SLAB_KEY)
                    if any((k[1:] != k[:-1]).any() for k in keys):
                        raise ValueError(
                            f"{where}: decoder chunk spans more than one "
                            "(collection, init time, leadtime, variable) slab; "
                            "a Decoder must yield one slab per chunk"
                        )
                    y = chunk["yc"].to_numpy()
                    x = chunk["xc"].to_numpy()
                    v = chunk["value"].to_numpy(dtype="float64")
                    ys = np.sort(np.unique(y))[::-1]
                    xs = np.sort(np.unique(x))
                    ny, nx = len(ys), len(xs)
                    v = _north_up(y, x, v, ys, xs, ny, nx)
                    if v is None:
                        raise ValueError(
                            f"{where}: decoder chunk holds {len(chunk)} cells, "
                            f"not each of the {ny}x{nx} grid's cells once; "
                            "a Decoder must yield dense slabs (NaN, not "
                            "dropped, for missing values)"
                        )
                    yield pd.DataFrame(
                        [
                            {
                                "collection": first["collection"],
                                "path": first["path"],
                                "forecast_reference_time": first[
                                    "forecast_reference_time"
                                ],
                                "leadtime_idx": int(first["leadtime_idx"]),
                                "variable": first["variable"],
                                "ny": ny,
                                "nx": nx,
                                "ys": ys.astype("float64"),
                                "xs": xs.astype("float64"),
                                "values": v,
                            }
                        ]
                    )

    cols = ["path", "content"] if with_content else ["path"]
    return files.select(*cols).mapInPandas(pack, schema=GRID_SCHEMA)


def _north_up(y, x, v, ys, xs, ny: int, nx: int) -> np.ndarray | None:
    """Values in (y desc, x asc) row-major order, or None when the
    cells are not each of the ``ny x nx`` grid's cells exactly once.
    Decoders emit meshgrid-raveled slabs, so the common cases are
    already row-major up to a vertical flip — recognized with O(n)
    equality checks (the per-cell lexsort this replaces was the
    dominant non-decode cost of the packed scan); anything irregular
    falls back to the exact lexsort, then checks the sorted cells
    tile the grid."""
    if ny * nx != len(v):
        return None
    Y = y.reshape(ny, nx)
    X = x.reshape(ny, nx)
    if (X == xs[None, :]).all() and (Y == Y[:, :1]).all():
        col = Y[:, 0]
        if np.array_equal(col, ys):  # already north-up
            return v
        if np.array_equal(col, ys[::-1]):  # south-up: flip rows
            return v.reshape(ny, nx)[::-1].ravel()
    order = np.lexsort((x, -y))
    if (y[order].reshape(ny, nx) == ys[:, None]).all() and (
        x[order].reshape(ny, nx) == xs[None, :]
    ).all():
        return v[order]
    return None


def long_from_grids(grids_df: DataFrame) -> DataFrame:
    """Packed slabs -> the long cell relation (``LONG_SCHEMA``),
    entirely JVM-side (posexplode + element_at inside whole-stage
    codegen). Combined with :func:`scan_netcdf_grids` this means
    per-CELL data never crosses a Python boundary: Python touches one
    row per slab, and the ~10^4-10^6 cells per slab are exploded by
    Tungsten."""
    e = F.posexplode("values")
    return (
        grids_df.select(
            "collection",
            "path",
            "forecast_reference_time",
            "leadtime_idx",
            "variable",
            "ny",
            "nx",
            "ys",
            "xs",
            e.alias("i", "value"),
        )
        .select(
            "collection",
            "path",
            "forecast_reference_time",
            "leadtime_idx",
            "variable",
            F.element_at("ys", (F.col("i") / F.col("nx")).cast("int") + 1).alias("yc"),
            F.element_at("xs", (F.col("i") % F.col("nx")) + 1).alias("xc"),
            "value",
        )
    )


def scan_netcdf(
    spark: SparkSession,
    path: str,
    decoder: Decoder | None = None,
    glob: str = "*.nc",
    with_content: bool = False,
) -> DataFrame:
    """Distributed NetCDF -> long-format scan (S1/U1): one row per
    cell in ``LONG_SCHEMA``, the relational surface for stats/bbox
    queries — all of SURVEY §2's relational operators apply unchanged.
    The rows are the decoder's cells (order aside), derived JVM-side
    from the packed slab scan (:func:`scan_netcdf_grids`); arguments
    are as there."""
    return long_from_grids(
        scan_netcdf_grids(spark, path, decoder, glob=glob, with_content=with_content)
    )
