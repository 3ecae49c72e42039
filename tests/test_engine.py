"""End-to-end: EnvStacEngine.process() + save_catalog() on fake data."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pytest

from environmental_stac_generator_spark.engine import EnvStacEngine
from environmental_stac_generator_spark.plans.config_guard import ConfigMismatchError
from environmental_stac_generator_spark.sources import netcdf


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("e2e") / "icenet_south"
    d.mkdir()
    for i in range(2):
        (d / f"fc{i}.nc").write_bytes(bytes([i]))
    return d


def _pinned_decoder(extreme_slab: bool = False):
    """The fake decoder keyed on the file's last two path parts, not
    its tmp dir, so values and init dates (md5 of the path) are the
    same on every run. Both fixture files then share one init date:
    their slabs carry the same (collection, init, leadtime, variable)
    key and the catalog aggregate must merge slabs across files.
    ``extreme_slab`` adds one more slab to fc0 carrying NaN, +Inf and
    -Inf among finite values."""
    inner = netcdf.fake_decoder()

    def decode(path, content):
        path = "landing/" + "/".join(path.split("/")[-2:])
        for i, chunk in enumerate(inner(path, content)):
            yield chunk
            if extreme_slab and i == 0 and path.endswith("fc0.nc"):
                v = chunk["value"].to_numpy(copy=True)
                v[:3] = [np.nan, np.inf, -np.inf]
                yield chunk.assign(variable="sic_extreme", value=v)

    return decode


def _tree_md5(stac_dir: Path) -> str:
    h = hashlib.md5()
    for f in sorted(stac_dir.rglob("*.json")):
        h.update(f.relative_to(stac_dir).as_posix().encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


@pytest.fixture(scope="module")
def pinned_catalogs(spark, inputs, tmp_path_factory):
    """case -> (md5 of the stac/**.json tree, jobs run by save_catalog)
    for process + save_catalog over the module's inputs."""
    sc = spark.sparkContext
    out = {}
    for case, extreme in (("fake", False), ("extreme", True)):
        root = tmp_path_factory.mktemp(case)
        eng = EnvStacEngine(
            spark, catalog_name="pinned", output_dir=root,
            decoder=_pinned_decoder(extreme),
        )
        results = eng.process(str(inputs))
        group = f"test_engine_save_catalog_{case}"
        sc.setJobGroup(group, group)
        try:
            eng.save_catalog(results)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            eng.release()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out[case] = (_tree_md5(root / "stac"), jobs)
    return out


@pytest.mark.parametrize(
    "case, md5",
    [
        # md5s of the tree written before the catalog metadata moved
        # onto one cached slab-grain aggregate: the move must not
        # change one byte
        ("fake", "004ba1103f39da0b1441fc2e53a9a753"),
        ("extreme", "3dda1984630a4cfebdb29ec503522d0a"),
    ],
)
def test_catalog_tree_bytes_pinned(pinned_catalogs, case, md5):
    got = pinned_catalogs[case][0]
    assert got == md5, f"{case}: catalog tree md5 {got}"


def test_save_catalog_reads_cached_summary(pinned_catalogs):
    """save_catalog reads the cached slab summary, info and leadtime
    counts instead of re-exploding every cell per action. On this
    fixture at local[4], deriving the catalog from the cells took 128
    and 133 jobs in two identical runs; the cached summary takes 41.
    AQE moves the count by a few jobs from run to run, so the bound is
    half the lower old count."""
    jobs = pinned_catalogs["fake"][1]
    assert jobs <= 64, f"save_catalog ran {jobs} jobs"


def test_process_end_to_end(spark, inputs, tmp_path):
    eng = EnvStacEngine(
        spark,
        catalog_name="icenet",
        output_dir=tmp_path,
        file_server_url="https://files.example.com",
        decoder=netcdf.fake_decoder(),
    )
    results = eng.process(str(inputs), forecast_frequency="1days")
    assert results["collections"].count() == 1
    n_items = results["items"].count()
    assert n_items >= 1
    # sinks ran: COGs + netcdf slices on disk
    cogs = list(tmp_path.rglob("*.tif"))
    assert len(list(tmp_path.rglob("*.nc"))) == n_items
    assert len(cogs) == results["cog_results"].count()
    # href rewrite applied (F8)
    hrefs = [r["href"] for r in results["assets"].collect()]
    assert all(h.startswith("https://files.example.com/") for h in hrefs)
    # every COG/thumbnail href resolves to a file the raster sink wrote
    for h in hrefs:
        rel = h.removeprefix("https://files.example.com/")
        if rel.startswith("cogs/"):
            assert (tmp_path / rel).exists(), rel

    # catalog JSON tree (K4)
    root = eng.save_catalog(results)
    assert root.name == "catalog.json"
    doc = json.loads(root.read_text())
    assert doc["id"] == "icenet"
    stac_dir = tmp_path / "stac" / "icenet"  # ref layout, generator.py:106
    coll_doc = json.loads((stac_dir / "icenet_south" / "collection.json").read_text())
    assert coll_doc["type"] == "Collection"
    item_files = list((stac_dir / "icenet_south").glob("forecast_init_*/*.json"))
    assert len(item_files) == n_items
    item_doc = json.loads(item_files[0].read_text())
    assert item_doc["stac_version"] == "1.0.0"

    # config guard: rerun with changed frequency raises (C1)
    with pytest.raises(ConfigMismatchError):
        eng.process(str(inputs), forecast_frequency="2days")


def test_process_stac_only(spark, inputs, tmp_path):
    eng = EnvStacEngine(
        spark, catalog_name="icenet2", output_dir=tmp_path,
        decoder=netcdf.fake_decoder(),
    )
    results = eng.process(str(inputs), stac_only=True)
    assert "cog_results" not in results  # heavy sinks elided
    assert results["assets"].count() > 0
    assert not list(tmp_path.rglob("*.tif"))


def test_release_unpersists_process_caches(spark, inputs, tmp_path):
    """process() caches its multi-consumer frames; release() must free
    every one of them (no session-lifetime executor memory pin)."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    eng = EnvStacEngine(
        spark, catalog_name="icenet3", output_dir=tmp_path,
        decoder=netcdf.fake_decoder(),
    )
    results = eng.process(str(inputs))
    assert results["items"].count() > 0
    mid = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert mid - before, "process() should have cached frames"
    eng.release()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()
    # released frames recompute rather than fail
    assert results["cog_results"].count() > 0


def test_process_crs_aware_catalog(spark, inputs, tmp_path):
    """With a metadata source the pipeline must behave like the
    reference's projected-CRS branch: bbox reprojects to WGS84 before
    geometry (generator.py:581-584), items carry the projection
    extension with the SOURCE crs (proj:code, :255-260), and the
    promoted collection thumbnail lands in collection.json
    (:795-803)."""

    def fake_transform(crs, xmin, ymin, xmax, ymax):
        # stand-in for pyproj in this container: a recognizable squash
        return (xmin / 1e6, ymin / 1e6, xmax / 1e6, ymax / 1e6)

    eng = EnvStacEngine(
        spark,
        catalog_name="icecrs",
        output_dir=tmp_path,
        decoder=netcdf.fake_decoder(),
        meta_decoder=netcdf.fake_meta_decoder,
        bbox_transform=fake_transform,
    )
    results = eng.process(str(inputs), forecast_frequency="1days", stac_only=True)
    info = results["info"].first()
    # fake grid coords are ~1e7 metres; the squash puts WGS84-ish
    # magnitudes in the bbox — proof the transform ran
    assert abs(info["xmax"]) < 100 and abs(info["ymax"]) < 100
    assert "crs" in results

    eng.save_catalog(results)
    stac_dir = tmp_path / "stac" / "icecrs"
    item_files = list(stac_dir.rglob("forecast_init_*.json"))
    assert item_files
    doc = json.loads(item_files[0].read_text())
    assert doc["properties"]["proj:code"].startswith("EPSG:")
    assert any("projection" in e for e in doc["stac_extensions"])
    # collection-level thumbnail promotion reaches the document
    coll = json.loads(
        (stac_dir / "icenet_south" / "collection.json").read_text()
    )
    assert "thumbnail" in coll["assets"]
    assert coll["assets"]["thumbnail"]["href"].endswith(".jpg")


def test_title_case_leading_separator(spark):
    """capitalize() leaves a leading '_' untouched and the reference's
    replace() afterwards turns it into a space — '_icenet' must become
    ' icenet', not keep the underscore."""
    from environmental_stac_generator_spark.plans.stac_catalog import title_case

    df = spark.createDataFrame(
        [("_icenet",), ("ice_net-x",), ("plain",)], "name string"
    )
    got = [r["t"] for r in df.select(title_case("name").alias("t")).collect()]
    assert got == [" icenet", "Ice net x", "Plain"]


def test_rewrite_hrefs_tolerates_regex_metachars(spark):
    """A base URL containing '$' must not throw an illegal-group-
    reference error (regexp_replace replacement semantics) — the
    rewrite is a plain startswith + concat."""
    from environmental_stac_generator_spark.plans.stac_catalog import rewrite_hrefs

    assets = spark.createDataFrame(
        [("./cogs/a.tif",), ("http://kept/as-is.tif",)], "href string"
    )
    got = {
        r["href"]
        for r in rewrite_hrefs(assets, "https://host/files$v1\\x").collect()
    }
    assert got == {
        "https://host/files$v1\\x/cogs/a.tif",
        "http://kept/as-is.tif",
    }
