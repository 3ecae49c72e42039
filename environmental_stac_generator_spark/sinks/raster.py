"""K1/K2/K3 + U2/U3/U4: raster & NetCDF-slice encode sinks.

The reference's per-leadtime process pool (``stac/generator.py:781-789``)
becomes ``groupBy(collection, forecast_reference_time, leadtime_idx)
.applyInPandas(...)`` over the packed slabs of
``sources.netcdf.scan_netcdf_grids`` — each Spark task stacks one
(init, leadtime)'s variable slabs into a grid and encodes one file, so
parallelism is the number of (init, leadtime) groups instead of a
4-worker pool, and the only cross-node traffic is Spark's own shuffle
of a few packed slabs per file.

Grid order is explicit — ``yc`` descending (north-up raster
convention), ``xc`` ascending (packed so by the scan), bands sorted by
variable name — so each file's bytes are deterministic (SURVEY §7
hard-point b).

Encoders are pluggable:
- :func:`rio_cogeo_encoder` — real COG (256-px tiles, 4 overview
  levels, DEFLATE, average resampling; ref ``cog.py:16-126``) behind
  an import-try, since the raster stack isn't in this container;
- :func:`fake_tiff_encoder` — deterministic zlib container carrying
  the same array + per-band stats tags, so the Spark plumbing (group
  shapes, ordering, skip-existing, checksums) is fully testable.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

Encoder = Callable[[np.ndarray, list[str], dict], bytes]
# writes the external overview sidecar beside an already-written COG
ExternalOverviews = Callable[[Path, np.ndarray], None]

COG_RESULT_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("forecast_reference_time", TimestampType()),
        StructField("leadtime_idx", IntegerType()),
        StructField("path", StringType()),
        StructField("n_bands", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("size", LongType()),
        StructField("multihash", StringType()),
        StructField("skipped", BooleanType()),
    ]
)

NETCDF_RESULT_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("forecast_reference_time", TimestampType()),
        StructField("path", StringType()),
        StructField("n_variables", IntegerType()),
        StructField("size", LongType()),
        StructField("multihash", StringType()),
        StructField("skipped", BooleanType()),
    ]
)


def _tmp_suffix() -> str:
    """Globally unique tmp-name suffix. A pid alone collides when two
    attempts of the same task (speculative execution, zombie after a
    partition) run on DIFFERENT hosts sharing the output filesystem
    and happen to share a pid — attempt B would truncate the tmp file
    attempt A is about to os.replace, promoting torn bytes past the
    atomic-write guarantee."""
    import uuid

    return f".tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}"


def atomic_write_bytes(path: Path, data: bytes) -> None:
    """Crash-safe output write: tmp file in the same directory +
    ``os.replace`` (atomic on POSIX), so a task dying mid-write can
    never leave a truncated file that a later skip-existing run
    (which keys on existence) would treat as complete."""
    tmp = path.with_name(path.name + _tmp_suffix())
    tmp.write_bytes(data)
    os.replace(tmp, path)


def multihash_md5(data: bytes) -> str:
    """F9/F10: md5 multihash — VARINT fn code + length + digest
    (ref ``stac/utils.py:17-56``). The md5 code 0xd5 has its high bit
    set, so the multihash varint encoding is TWO bytes (d5 01); a
    bare 'd5' prefix would parse as a continuation byte and every
    spec-compliant consumer (multihash.decode, pgSTAC checksum
    validation) would reject the digest."""
    return "d50110" + hashlib.md5(data).hexdigest()


# --- Dependency-free tiled-TIFF writer -------------------------------
# The deterministic encoder emits a STRUCTURALLY VALID little-endian
# TIFF 6.0: 256-px tiles (the reference COG profile's block size, ref
# ``cog.py:20``), DEFLATE-compressed planar float64 tile data, and
# per-band STATISTICS_* + band-name items in a GDAL_METADATA ASCII
# tag exactly where GDAL stores them (ref ``cog.py:79-87``). With
# ``meta["overviews"]`` it chains /2,/4,/8,/16 reduced-resolution IFD
# pages (NewSubfileType=1, average resampling — ref ``cog.py:63-66``),
# i.e. the COG layout. The repo's own pure-Python IFD walker
# (``sources/raster_probe.py``) parses these files back — closing the
# K2 -> S5 round trip without rasterio in the loop.

TIFF_TILE = 256

# TIFF 6.0 field types / tag ids used by the writer.
_T_ASCII, _T_SHORT, _T_LONG = 2, 3, 4


def _gdal_metadata_xml(arr: np.ndarray, bands: list[str]) -> str:
    """GDAL_METADATA payload: band descriptions + nan-stats items in
    GDAL's XML shape (``<Item name=... sample=N>``)."""
    from xml.sax.saxutils import escape

    items = []
    for i, name in enumerate(bands):
        b = arr[i]
        # escape band (variable) names: a '<' or '&' in the name would
        # otherwise emit malformed XML that GDAL rejects and the
        # probe's [^<]* capture truncates
        items.append(
            f'  <Item name="DESCRIPTION" sample="{i}" '
            f'role="description">{escape(name)}</Item>'
        )
        for key, val in (
            ("STATISTICS_MINIMUM", np.nanmin(b)),
            ("STATISTICS_MAXIMUM", np.nanmax(b)),
            ("STATISTICS_MEAN", np.nanmean(b)),
            ("STATISTICS_STDDEV", np.nanstd(b)),
        ):
            # repr round-trips doubles exactly; the probe's float()
            # parse recovers the identical bits
            items.append(f'  <Item name="{key}" sample="{i}">{float(val)!r}</Item>')
    return "<GDALMetadata>\n" + "\n".join(items) + "\n</GDALMetadata>\n"


def _append_tiff_page(
    buf: bytearray,
    arr: np.ndarray,
    bands: list[str],
    subfile_type: int,
    with_meta: bool,
    tile: int = TIFF_TILE,
) -> tuple[int, int]:
    """Append one IFD page (tile data, external arrays, IFD) to
    ``buf``; returns ``(ifd_offset, next_ifd_pointer_position)``.
    Planar configuration 2: each band's tiles are stored separately,
    row-major, bands in order — tile count = bands * tiles_y * tiles_x."""
    nb, h, w = arr.shape
    a = np.ascontiguousarray(arr, dtype="<f8")
    ty_n, tx_n = -(-h // tile), -(-w // tile)
    offsets: list[int] = []
    counts: list[int] = []
    for b in range(nb):
        padded = np.full((ty_n * tile, tx_n * tile), np.nan, dtype="<f8")
        padded[:h, :w] = a[b]
        for ty in range(ty_n):
            for tx in range(tx_n):
                blob = zlib.compress(
                    padded[
                        ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
                    ].tobytes(),
                    6,
                )
                if len(buf) % 2:
                    buf += b"\x00"
                offsets.append(len(buf))
                counts.append(len(blob))
                buf += blob
    entries: list[tuple[int, int, int, bytes]] = [
        (254, _T_LONG, 1, struct.pack("<I", subfile_type)),  # NewSubfileType
        (256, _T_LONG, 1, struct.pack("<I", w)),  # ImageWidth
        (257, _T_LONG, 1, struct.pack("<I", h)),  # ImageLength
        (258, _T_SHORT, nb, struct.pack(f"<{nb}H", *([64] * nb))),  # BitsPerSample
        (259, _T_SHORT, 1, struct.pack("<H", 8)),  # Compression: DEFLATE
        (262, _T_SHORT, 1, struct.pack("<H", 1)),  # Photometric: BlackIsZero
        (277, _T_SHORT, 1, struct.pack("<H", nb)),  # SamplesPerPixel
        (284, _T_SHORT, 1, struct.pack("<H", 2)),  # PlanarConfig: separate
        (322, _T_SHORT, 1, struct.pack("<H", tile)),  # TileWidth
        (323, _T_SHORT, 1, struct.pack("<H", tile)),  # TileLength
        (324, _T_LONG, len(offsets), struct.pack(f"<{len(offsets)}I", *offsets)),
        (325, _T_LONG, len(counts), struct.pack(f"<{len(counts)}I", *counts)),
        (339, _T_SHORT, nb, struct.pack(f"<{nb}H", *([3] * nb))),  # IEEE float
    ]
    if with_meta:
        xml = _gdal_metadata_xml(arr, bands).encode() + b"\x00"
        entries.append((42112, _T_ASCII, len(xml), xml))  # GDAL_METADATA
    recs = []
    for tag, typ, count, data in sorted(entries):
        if len(data) <= 4:
            val = data + b"\x00" * (4 - len(data))
        else:
            if len(buf) % 2:
                buf += b"\x00"
            val = struct.pack("<I", len(buf))
            buf += data
        recs.append(struct.pack("<HHI", tag, typ, count) + val)
    if len(buf) % 2:
        buf += b"\x00"
    ifd_off = len(buf)
    buf += struct.pack("<H", len(recs)) + b"".join(recs)
    next_ptr_pos = len(buf)
    buf += struct.pack("<I", 0)
    return ifd_off, next_ptr_pos


def fake_tiff_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Deterministic stand-in for rio-cogeo that is nonetheless a
    structurally valid tiled TIFF (256-px DEFLATE tiles, per-band
    GDAL_METADATA stats tags — the A3/A4 values the real writer
    embeds, ref ``cog.py:78-87``), parseable by
    ``sources.raster_probe.parse_tiff_header``. Pass
    ``meta={"overviews": True}`` to chain the /2,/4,/8,/16
    average-resampled overview pages (COG layout, ref ``cog.py:63-66``)."""
    buf = bytearray(struct.pack("<2sHI", b"II", 42, 0))
    a = np.asarray(arr, dtype="float64")
    pages: list[tuple[np.ndarray, int, bool]] = [(a, 0, True)]
    if meta.get("overviews"):
        for level in OVERVIEW_LEVELS:
            ov = np.stack([average_downsample(b, level) for b in a])
            pages.append((ov, 1, False))
    ptr_pos = 4  # header's first-IFD pointer
    for page_arr, sft, with_meta in pages:
        ifd_off, next_ptr = _append_tiff_page(buf, page_arr, bands, sft, with_meta)
        struct.pack_into("<I", buf, ptr_pos, ifd_off)
        ptr_pos = next_ptr
    return bytes(buf)


def rio_cogeo_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Real COG encode matching the reference's profile: GTiff,
    256x256 blocks, overview levels /2,/4,/8,/16 with average
    resampling, DEFLATE (ref ``cog.py:16-126``)."""
    try:
        import io

        import rasterio
        from rasterio.io import MemoryFile
        from rio_cogeo.cogeo import cog_translate
        from rio_cogeo.profiles import cog_profiles
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "COG encoding needs rasterio+rio-cogeo; inject "
            "fake_tiff_encoder in environments without them"
        ) from exc
    profile = {
        "driver": "GTiff",
        "count": arr.shape[0],
        "height": arr.shape[1],
        "width": arr.shape[2],
        "dtype": str(arr.dtype),
        "crs": meta.get("crs"),
        "transform": meta.get("transform"),
    }
    with MemoryFile() as mem:
        with mem.open(**profile) as dst:
            dst.write(arr)
            for bi, name in enumerate(bands, start=1):
                dst.set_band_description(bi, name)
                band = arr[bi - 1]
                dst.update_tags(
                    bi,
                    STATISTICS_MINIMUM=float(np.nanmin(band)),
                    STATISTICS_MAXIMUM=float(np.nanmax(band)),
                    STATISTICS_MEAN=float(np.nanmean(band)),
                    STATISTICS_STDDEV=float(np.nanstd(band)),
                )
        dst_profile = cog_profiles.get("deflate")
        dst_profile.update({"blockxsize": 256, "blockysize": 256})
        out = io.BytesIO()
        with mem.open() as src:
            cog_translate(
                src,
                out,
                dst_profile,
                overview_level=4,
                overview_resampling="average",
                in_memory=True,
                forward_band_tags=True,
                quiet=True,
            )
        return out.getvalue()


def fake_jpeg_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Thumbnail stand-in (ref renders band 0 with matplotlib RdBu_r,
    5x5in @300dpi, ``stac/generator.py:1011-1033``); deterministic
    bytes derived from band 0 only."""
    band0 = np.nan_to_num(arr[0], nan=0.0)
    return b"FAKEJPG1" + zlib.compress(band0.astype("float32").tobytes(), 6)


def matplotlib_jpeg_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """K3/U4 real thumbnail: band 0 rendered with matplotlib exactly
    like the reference — RdBu_r colormap, 5x5 in @ 300 dpi, no axes,
    no title, tight bbox (ref ``_create_and_write_thumbnail``,
    ``stac/generator.py:1011-1033``). Behind an import guard
    (matplotlib is not in this container); inject
    :func:`fake_jpeg_encoder` where absent."""
    try:
        import io

        import matplotlib
        matplotlib.use("Agg")  # headless executors
        import matplotlib.pyplot as plt
    except ImportError as exc:
        raise NotImplementedError(
            "thumbnail rendering needs matplotlib; inject "
            "fake_jpeg_encoder in environments without it"
        ) from exc
    fig = plt.figure(figsize=(5, 5), dpi=300, constrained_layout=True)
    plt.imshow(arr[0], cmap="RdBu_r")
    plt.title("")
    plt.axis("off")
    buf = io.BytesIO()
    plt.savefig(buf, format="jpg", pad_inches=0, bbox_inches="tight", transparent=False)
    plt.close(fig)
    return buf.getvalue()


def default_thumbnail_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Real matplotlib render when available, fake bytes otherwise."""
    try:
        return matplotlib_jpeg_encoder(arr, bands, meta)
    except NotImplementedError:
        return fake_jpeg_encoder(arr, bands, meta)


OVERVIEW_LEVELS = (2, 4, 8, 16)


def average_downsample(band: np.ndarray, level: int) -> np.ndarray:
    """Average-resampled /level overview of one band (NaN-skipping
    block mean — gdaladdo 'average' semantics, ref ``cog.py:89-101``),
    padding ragged edges with NaN."""
    h, w = band.shape
    ph, pw = -h % level, -w % level
    padded = np.pad(band, ((0, ph), (0, pw)), constant_values=np.nan)
    blocks = padded.reshape(
        (h + ph) // level, level, (w + pw) // level, level
    ).transpose(0, 2, 1, 3)
    with np.errstate(invalid="ignore"):
        return np.nanmean(blocks.reshape(blocks.shape[0], blocks.shape[1], -1), axis=2)


def fake_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    """Semantically-real external overview sidecar: the /2,/4,/8,/16
    average-resampled pyramid of every band in a deterministic zlib
    container at ``<cog>.ovr`` — the same placement and resampling as
    the reference's gdaladdo path (``cog.py:89-104,115-121``), minus
    the GDAL container format this environment lacks."""
    payload = bytearray()
    for level in OVERVIEW_LEVELS:
        for band in arr:
            ov = average_downsample(band, level)
            payload += struct.pack("<3i", level, *ov.shape)
            payload += ov.astype("float64").tobytes()
    atomic_write_bytes(
        Path(str(cog_path) + ".ovr"),
        b"FAKEOVR1" + zlib.compress(bytes(payload), 6),
    )


def gdaladdo_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    """Real external overviews: ``gdaladdo -q -ro <cog> 2 4 8 16``
    writes ``<cog>.ovr`` beside the COG (ref ``cog.py:89-104``; the
    reference runs it on the pre-translate GTiff and moves the .ovr —
    running read-only on the final COG lands the same sidecar)."""
    import shutil
    import subprocess

    if shutil.which("gdaladdo") is None:
        raise NotImplementedError(
            "external overviews need gdaladdo (GDAL); inject "
            "fake_external_overviews in environments without it"
        )
    subprocess.run(
        ["gdaladdo", "-q", "-ro", str(cog_path), *[str(x) for x in OVERVIEW_LEVELS]],
        check=True,
    )


def default_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    try:
        gdaladdo_external_overviews(cog_path, arr)
    except NotImplementedError:
        fake_external_overviews(cog_path, arr)


# F14: full-raster reprojection inside the K2 kernel (ref _write_cog's
# `da_multiband.rio.reproject("EPSG:4326")`, stac/generator.py:1006-1007).
# (arr, ys, xs, meta) -> (arr', ys', xs', meta') in the target CRS.
GridReproject = Callable[
    [np.ndarray, np.ndarray, np.ndarray, dict],
    tuple[np.ndarray, np.ndarray, np.ndarray, dict],
]


def rasterio_grid_reproject(
    arr: np.ndarray, ys: np.ndarray, xs: np.ndarray, meta: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Real F14 kernel: warp every band to EPSG:4326 with rasterio
    (nearest resampling, NaN nodata), recomputing the coordinate
    vectors from the destination transform. Behind an import guard
    (no GDAL stack in this container)."""
    try:
        from rasterio.transform import from_bounds
        from rasterio.warp import Resampling, calculate_default_transform, reproject
    except ImportError as exc:
        raise NotImplementedError(
            "full-raster reprojection needs rasterio; grids already in "
            "EPSG:4326 skip it (passthrough_grid_reproject)"
        ) from exc
    src_crs = meta.get("crs") or "EPSG:4326"
    n_bands, h, w = arr.shape
    # ys/xs are CELL-CENTER coordinate vectors (NetCDF convention);
    # from_bounds wants the raster's OUTER EDGES. Feeding centers
    # shrinks the pixel size by (n-1)/n and shifts the origin half a
    # pixel (~12.5 km on a 25 km EASE grid) — expand by half a cell.
    dx = (float(xs.max()) - float(xs.min())) / (w - 1) if w > 1 else 1.0
    dy = (float(ys.max()) - float(ys.min())) / (h - 1) if h > 1 else 1.0
    left, right = float(xs.min()) - dx / 2, float(xs.max()) + dx / 2
    bottom, top = float(ys.min()) - dy / 2, float(ys.max()) + dy / 2
    src_transform = from_bounds(left, bottom, right, top, w, h)
    dst_transform, dw, dh = calculate_default_transform(
        src_crs, "EPSG:4326", w, h, left=left, bottom=bottom, right=right, top=top
    )
    out = np.full((n_bands, dh, dw), np.nan)
    for i in range(n_bands):
        reproject(
            arr[i],
            out[i],
            src_transform=src_transform,
            src_crs=src_crs,
            dst_transform=dst_transform,
            dst_crs="EPSG:4326",
            resampling=Resampling.nearest,
            src_nodata=np.nan,
            dst_nodata=np.nan,
        )
    # pixel-center coordinate vectors from the destination transform
    new_xs = np.array([dst_transform * (c + 0.5, 0.5) for c in range(dw)])[:, 0]
    new_ys = np.array([dst_transform * (0.5, r + 0.5) for r in range(dh)])[:, 1]
    return out, new_ys, new_xs, {**meta, "crs": "EPSG:4326"}


def passthrough_grid_reproject(
    arr: np.ndarray, ys: np.ndarray, xs: np.ndarray, meta: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Grids already in EPSG:4326 pass through bit-exact (the
    reference also skips reprojection then); any other CRS needs the
    real kernel."""
    crs = meta.get("crs")
    if crs in (None, "EPSG:4326"):
        return arr, ys, xs, {**meta, "crs": "EPSG:4326"}
    raise NotImplementedError(
        f"cannot reproject {crs} without rasterio; use "
        "rasterio_grid_reproject or inject a kernel"
    )


def _valid_time(ref: pd.Timestamp, lead: int, unit: str, step: float) -> pd.Timestamp:
    """Kernel-side twin of operators.forecast.valid_time (F2), same
    relativedelta semantics as functions.frequency.leadtime_offset:
    fractional hours/days/weeks are exact durations; a non-integer
    month/year offset raises exactly as dateutil does (the previous
    int(lead*step) truncation collapsed two fractional-step leadtimes
    onto one output path); month arithmetic preserves time-of-day."""
    unit = unit if unit.endswith("s") else unit + "s"
    n = lead * step
    if unit in ("months", "years"):
        # gate on the UNIT's own value like dateutil and
        # leadtime_offset do: relativedelta(years=0.5) raises even
        # though 0.5 years is an integral month count — accepting it
        # here would write files the STAC assembly (which uses
        # leadtime_offset) can never reference
        if n != int(n):
            raise ValueError(f"Non-integer {unit} are ambiguous: {n}")
        return ref + pd.DateOffset(months=int(n) * (12 if unit == "years" else 1))
    # hours/days/weeks: the IDENTICAL truncating integer-microsecond
    # arithmetic as functions.frequency.leadtime_offset (double
    # product -> cast long). Timedelta multiplication would round to
    # nanoseconds instead — for a fractional step landing within 1 us
    # below a minute boundary, the file's '%H%M' stamp and the STAC
    # asset href's stamp would then differ by a whole minute and the
    # href would point at a file that does not exist.
    per_unit = {"hours": 3600.0, "days": 86400.0, "weeks": 604800.0}[unit]
    return ref + pd.Timedelta(microseconds=int(n * per_unit * 1_000_000.0))


def _check_leadtime_resolution(unit: str, step: float) -> None:
    """The reference's file naming stamps valid time at MINUTE
    resolution (valid_time_str_1 '%Y-%m-%d_%H%M',
    stac/generator.py:866): a sub-minute leadtime step would give two
    distinct leadtimes the same output path — two concurrent tasks
    silently last-wins the file while the result frame reports two
    rows whose checksums can't both match. Fail loudly up front."""
    u = unit if unit.endswith("s") else unit + "s"
    per_unit = {"hours": 3600.0, "days": 86400.0, "weeks": 604800.0}.get(u)
    if per_unit is not None and step * per_unit < 60.0:
        raise ValueError(
            f"leadtime step {step}{u} is below the 1-minute resolution "
            "of the output file naming scheme — distinct leadtimes "
            "would collide on the same path"
        )


def encode_cogs(
    grids_df: DataFrame,
    out_dir: str | Path,
    encoder: Encoder = fake_tiff_encoder,
    thumbnail_encoder: Encoder = fake_jpeg_encoder,
    overwrite: bool = True,
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
    external_overviews: ExternalOverviews | None = None,
    reproject: GridReproject | None = None,
) -> DataFrame:
    """K2/U2 (+K3/U4): one multi-band COG per (collection, init time,
    leadtime) from the packed slabs of
    ``sources.netcdf.scan_netcdf_grids``, plus a thumbnail for
    leadtime 0 only (ref ``stac/generator.py:901-921``). Returns a
    result DataFrame (path, dims, checksum, skipped) — the input to
    asset assembly.

    Skip-existing (P9/J6): with ``overwrite=False``, each group checks
    ``cog_path.exists()`` and, when its output file is already there,
    returns ``skipped=True`` without encoding.
    """
    _check_leadtime_resolution(leadtime_unit, leadtime_step)
    out = str(out_dir)

    def encode_group(key, pdf):
        collection, ref_time, lead = key
        lead = int(lead)
        ref = pd.Timestamp(ref_time)
        d = Path(out) / "cogs" / str(collection) / str(ref.date())
        stamp = ref.strftime("%Y-%m-%dT%H-%M-%SZ")
        # file named by VALID time (ref valid_time_str_1 "%Y-%m-%d_%H%M",
        # stac/generator.py:866,871-875) so hrefs in the STAC assets
        # (plans.stac_catalog.build_cog_assets) resolve to these files
        vt = _valid_time(ref, lead, leadtime_unit, leadtime_step)
        lead_stamp = f"{stamp}_lead_{vt.strftime('%Y-%m-%d_%H%M')}"
        cog_path = d / f"forecast_init_{lead_stamp}.tif"
        row = {
            "collection": collection,
            "forecast_reference_time": ref_time,
            "leadtime_idx": lead,
            "path": str(cog_path),
        }
        if cog_path.exists() and not overwrite:
            data = cog_path.read_bytes()
            return pd.DataFrame(
                [
                    {
                        **row,
                        "n_bands": -1,
                        "height": -1,
                        "width": -1,
                        "size": len(data),
                        "multihash": multihash_md5(data),
                        "skipped": True,
                    }
                ]
            )
        sub = pdf.sort_values("variable")
        bands = list(sub["variable"])
        ny = int(sub["ny"].iloc[0])
        nx = int(sub["nx"].iloc[0])
        ys = np.asarray(sub["ys"].iloc[0], dtype="float64")
        xs = np.asarray(sub["xs"].iloc[0], dtype="float64")
        arr = np.stack(
            [np.asarray(b, dtype="float64").reshape(ny, nx) for b in sub["values"]]
        )
        meta = {"collection": collection, "ys": ys, "xs": xs}
        if reproject is not None:
            # F14: warp to EPSG:4326 before encoding (ref _write_cog's
            # reproject branch, stac/generator.py:1006-1007)
            arr, ys, xs, meta = reproject(arr, ys, xs, meta)
            meta.update(ys=ys, xs=xs)
        data = encoder(arr, bands, meta)
        d.mkdir(parents=True, exist_ok=True)
        # The COG appears LAST: skip-existing keys on its existence,
        # so the COG appearing must imply the thumbnail/.ovr beside it
        # are complete — a crash between writes then re-encodes on the
        # next run instead of leaving a half-written group skipped
        # forever. But overview builders (gdaladdo) read the COG FILE,
        # so the bytes go to a tmp name first, overviews build against
        # the tmp (gdaladdo writes <tmp>.ovr beside it), and both
        # rename into place — sidecar first, COG last, each atomic.
        tmp = cog_path.with_name(cog_path.name + _tmp_suffix())
        tmp.write_bytes(data)
        if external_overviews is not None:
            external_overviews(tmp, arr)
            tmp_ovr = Path(str(tmp) + ".ovr")
            if tmp_ovr.exists():
                os.replace(tmp_ovr, str(cog_path) + ".ovr")
        if lead == 0:
            thumb = thumbnail_encoder(arr, bands, meta)
            atomic_write_bytes(d / f"forecast_init_{lead_stamp}.jpg", thumb)
        os.replace(tmp, cog_path)
        return pd.DataFrame(
            [
                {
                    **row,
                    "n_bands": arr.shape[0],
                    "height": arr.shape[1],
                    "width": arr.shape[2],
                    "size": len(data),
                    "multihash": multihash_md5(data),
                    "skipped": False,
                }
            ]
        )

    return (
        grids_df.groupBy("collection", "forecast_reference_time", "leadtime_idx")
        .applyInPandas(encode_group, schema=COG_RESULT_SCHEMA)
    )


def fake_netcdf_encoder(pdf: pd.DataFrame, meta: dict) -> bytes:
    """K1 stand-in: zlib level-9 container (the reference writes
    zlib-9 NetCDF, ``stac/generator.py:969-974``); deterministic. The
    payload is the init's cell values ordered by (variable, leadtime,
    yc, xc): slabs by (variable, leadtime), each flipped back from
    north-up to y-ascending."""
    ordered = pdf.sort_values(["variable", "leadtime_idx"])
    parts = [
        np.flipud(
            np.asarray(r["values"], dtype="float64").reshape(r["ny"], r["nx"])
        ).ravel()
        for _, r in ordered.iterrows()
    ]
    return b"FAKENC_1" + zlib.compress(np.concatenate(parts).tobytes(), 9)


def write_netcdf_slices(
    grids_df: DataFrame,
    out_dir: str | Path,
    encoder: Callable[[pd.DataFrame, dict], bytes] = fake_netcdf_encoder,
    overwrite: bool = True,
) -> DataFrame:
    """K1/U3: one sliced NetCDF per (collection, init time), path
    ``netcdf/{collection}/{date}/{ts}.nc``
    (ref ``stac/generator.py:689-707,961-979``), from the packed slabs
    of ``sources.netcdf.scan_netcdf_grids``. The encoder receives the
    init's slab rows.

    Memory profile: "one output file = one applyInPandas group" is
    inherent to writing a single .nc per init, so the task holds the
    file's slabs — one row per (variable, leadtime), peaking at ~2x
    the file's data bytes."""
    out = str(out_dir)

    def encode_group(key, pdf):
        collection, ref_time = key
        d = Path(out) / "netcdf" / str(collection) / str(pd.Timestamp(ref_time).date())
        stamp = pd.Timestamp(ref_time).strftime("%Y-%m-%dT%H-%M-%SZ")
        nc_path = d / f"{stamp}.nc"
        if nc_path.exists() and not overwrite:
            data = nc_path.read_bytes()
            skipped = True
        else:
            data = encoder(pdf, {"collection": collection})
            d.mkdir(parents=True, exist_ok=True)
            atomic_write_bytes(nc_path, data)
            skipped = False
        return pd.DataFrame(
            [
                {
                    "collection": collection,
                    "forecast_reference_time": ref_time,
                    "path": str(nc_path),
                    "n_variables": pdf["variable"].nunique(),
                    "size": len(data),
                    "multihash": multihash_md5(data),
                    "skipped": skipped,
                }
            ]
        )

    return grids_df.groupBy("collection", "forecast_reference_time").applyInPandas(
        encode_group, schema=NETCDF_RESULT_SCHEMA
    )
