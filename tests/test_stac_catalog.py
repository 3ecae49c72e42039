"""STAC catalog assembly: collections/items/assets, merges, JSON."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark.operators import forecast as fc
from environmental_stac_generator_spark.plans import stac_catalog as sc
from environmental_stac_generator_spark.sources import netcdf


@pytest.fixture(scope="module")
def long_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cat") / "icenet_test"
    d.mkdir()
    for i in range(2):
        (d / f"fc{i}.nc").write_bytes(bytes([i]))
    return netcdf.scan_netcdf(
        spark, str(d), decoder=netcdf.fake_decoder()
    ).persist()


@pytest.fixture(scope="module")
def summary(long_df):
    return fc.slab_summary(long_df).persist()


@pytest.fixture(scope="module")
def catalog(summary):
    return sc.build_catalog(summary)


def test_build_collections(summary):
    rows = sc.build_catalog(summary, license="MIT")["collections"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["collection_id"] == "icenet_test"
    assert r["description"] == "Icenet test collection"  # F6 capitalize+underscores
    assert r["license"] == "MIT"
    assert len(r["bbox"]) == 4


def test_build_items_and_merge(long_df, catalog):
    items = catalog["items"]
    rows = items.collect()
    assert len(rows) == long_df.select("forecast_reference_time").distinct().count()
    r = rows[0]
    assert r["item_id"].startswith("forecast_init_2025-01-0")
    assert r["item_id"].endswith("Z")
    # forecast:end_time = ref + (nlead-1) days (ref generator.py:680-682)
    assert r["forecast_end_time_str"] > r["forecast_reference_time_str"]


def test_cog_assets_band_meta(catalog):
    cogs = catalog["assets"].filter("leadtime_idx IS NOT NULL")
    rows = cogs.collect()
    n_items = len(catalog["items"].collect())
    assert len(rows) == n_items * 3  # 3 leadtimes per item
    r = min(rows, key=lambda r: (r["item_id"], r["leadtime_idx"]))
    bands = r["band_meta"]
    assert [b["name"] for b in bands] == ["sic_mean", "sic_stddev"]
    assert [b["index"] for b in bands] == [1, 2]  # 1-based bidx (N2)
    assert r["href"].startswith("./cogs/icenet_test/")
    assert "Variables: sic_mean, sic_stddev" == r["description"]


def test_thumbnails_first_wins(catalog):
    thumbs = catalog["assets"].filter("asset_key = 'thumbnail'")
    per_item = thumbs.filter("item_id IS NOT NULL").collect()
    coll_level = thumbs.filter("item_id IS NULL").collect()
    assert len(per_item) == catalog["items"].count()  # leadtime-0 thumb per item
    assert len(coll_level) == 1  # J9: one promoted per collection
    assert coll_level[0]["href"].endswith(".jpg")
    # the promoted one is the first item's, by item id
    first = min(per_item, key=lambda r: r["item_id"])
    assert coll_level[0]["href"] == first["href"]


def test_href_rewrite(summary):
    assets = sc.build_catalog(summary, file_server_url="https://files.example.com")[
        "assets"
    ].collect()  # no trailing /
    assert {r["asset_key"] for r in assets} >= {"netcdf", "thumbnail"}
    assert all(r["href"].startswith("https://files.example.com/") for r in assets)
    assert all(
        r["href"].startswith("https://files.example.com/cogs/")
        for r in assets
        if r["leadtime_idx"] is not None
    )


def test_items_to_json_valid_stac(catalog):
    docs = sc.items_to_json(catalog["items"]).collect()
    for d in docs:
        doc = json.loads(d["json"])
        assert doc["type"] == "Feature"
        assert doc["stac_version"] == "1.0.0"
        assert doc["id"] == d["item_id"]
        assert set(doc["assets"]) >= {"netcdf", "thumbnail"}
        assert list(doc["assets"]) == sorted(doc["assets"])
        assert doc["properties"]["forecast:leadtime_length"] == 3
        assert "stac_extensions" not in doc  # no CRS known
        geom = json.loads(doc["geometry"]) if isinstance(doc["geometry"], str) else doc["geometry"]
        assert geom["type"] == "Polygon"


def test_collections_to_json(catalog):
    doc = json.loads(sc.collections_to_json(catalog["collections"]).first()["json"])
    assert doc["type"] == "Collection"
    assert doc["extent"]["temporal"]["interval"][0][0].endswith("Z")
    assert list(doc["assets"]) == ["thumbnail"]  # the promoted first-item thumbnail


def test_catalog_roundtrip_traversal(spark, catalog, tmp_path):
    from environmental_stac_generator_spark.sinks import stac_json as sj

    out = tmp_path / "catalog"
    sj.save_items(sc.items_to_json(catalog["items"]), out)
    ids = sj.save_collections(sc.collections_to_json(catalog["collections"]), out)
    assert ids == ["icenet_test"]
    tree = sj.load_catalog_tree(spark, out)
    types = {r["type"] for r in tree.select("type").distinct().collect()}
    assert types == {"Feature", "Collection"}
    n_items = catalog["items"].count()
    joined = (
        tree.filter(tree.type == "Feature")
        .select("id", "collection")
        .join(
            tree.filter(tree.type == "Collection").select(
                F.col("id").alias("collection")
            ),
            "collection",
        )
    )
    # every item's collection link resolves in the read-back tree
    assert joined.count() == n_items


def test_catalog_metadata_matches_relational_operators(long_df):
    """The chain's per-collection and per-item values equal the
    standalone operators over the cells, including the valid-band
    rule: a degenerate variable present at one leadtime only is
    dropped from valid_bands (its COG band metadata stays)."""
    cells = long_df.unionByName(
        long_df.filter("leadtime_idx = 0").withColumn("variable", F.lit("latlon_2d"))
    )
    cat = sc.build_catalog(fc.slab_summary(cells))
    info = cat["info"].first()
    assert info["valid_bands"] == sorted(
        r["variable"] for r in fc.infer_valid_bands(cells).collect()
    ) == ["sic_mean", "sic_stddev"]
    bbox = fc.bbox(cells).first()
    assert [info[c] for c in ("xmin", "ymin", "xmax", "ymax")] == [
        bbox[c] for c in ("xmin", "ymin", "xmax", "ymax")
    ]
    ext = fc.temporal_extent(cells).first()
    assert (info["extent_start"], info["extent_end"]) == (
        ext["extent_start"], ext["extent_end"]
    )
    assert info["n_leadtime"] == cells.select("leadtime_idx").distinct().count()
    assert sorted(map(tuple, cat["leadtime_counts"].collect())) == sorted(
        map(tuple, fc.leadtime_counts(cells).collect())
    )
    lead0 = cat["assets"].filter("leadtime_idx = 0").first()
    assert [b["name"] for b in lead0["band_meta"]] == [
        "latlon_2d", "sic_mean", "sic_stddev"
    ]


def test_save_collections_merges_extents_across_runs(spark, tmp_path):
    """Multi-input preprocess saves the catalog once per input: a
    collection re-written by a later input must keep the UNION of
    extents, not shrink to the latest input's coverage."""
    from environmental_stac_generator_spark.sinks import stac_json

    def coll_df(bbox, interval):
        doc = {
            "type": "Collection",
            "id": "icenet",
            "extent": {
                "spatial": {"bbox": [bbox]},
                "temporal": {"interval": [interval]},
            },
        }
        return spark.createDataFrame(
            [("icenet", json.dumps(doc))], "collection_id string, json string"
        )

    stac_json.save_collections(
        coll_df([-10.0, -5.0, 10.0, 5.0], ["2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z"]),
        tmp_path,
    )
    stac_json.save_collections(
        coll_df([0.0, 0.0, 20.0, 15.0], ["2024-03-01T00:00:00Z", "2024-04-01T00:00:00Z"]),
        tmp_path,
    )
    doc = json.loads((tmp_path / "icenet" / "collection.json").read_text())
    assert doc["extent"]["spatial"]["bbox"][0] == [-10.0, -5.0, 20.0, 15.0]
    assert doc["extent"]["temporal"]["interval"][0] == [
        "2024-01-01T00:00:00Z",
        "2024-04-01T00:00:00Z",
    ]


def test_save_catalog_root_keeps_earlier_children(tmp_path):
    """The root document merges child links across saves so an
    earlier input's collections stay linked from the catalog."""
    from environmental_stac_generator_spark.sinks import stac_json

    stac_json.save_catalog_root("cat", "d", ["coll_a"], tmp_path)
    stac_json.save_catalog_root("cat", "d", ["coll_b"], tmp_path)
    doc = json.loads((tmp_path / "catalog.json").read_text())
    hrefs = sorted(l["href"] for l in doc["links"] if l["rel"] == "child")
    assert hrefs == ["./coll_a/collection.json", "./coll_b/collection.json"]


def test_merge_collection_doc_malformed_temporal_is_all_or_nothing():
    """A malformed temporal section must not leave a half-merged doc
    (spatial already unioned, temporal from new only) — the merge is
    all-or-nothing: on any malformed section, return `new` untouched."""
    from environmental_stac_generator_spark.sinks.stac_json import (
        _merge_collection_doc,
    )

    old = {
        "extent": {
            "spatial": {"bbox": [[-10.0, -10.0, 0.0, 0.0]]},
            "temporal": {"interval": "not-a-list"},  # malformed
        }
    }
    new = {
        "extent": {
            "spatial": {"bbox": [[0.0, 0.0, 10.0, 10.0]]},
            "temporal": {"interval": [["2024-01-01", "2024-02-01"]]},
        }
    }
    merged = _merge_collection_doc(old, new)
    # spatial must NOT have been unioned when temporal merge failed
    assert merged["extent"]["spatial"]["bbox"][0] == [0.0, 0.0, 10.0, 10.0]
    assert merged["extent"]["temporal"]["interval"][0] == [
        "2024-01-01",
        "2024-02-01",
    ]


def test_stac_kernel_rows_independent_of_landing_root(spark, sf_dir, tmp_path, monkeypatch):
    """The registry's STAC kernels seed the fake decoder on each
    file's collection dir and name, not the landing root: two roots
    give identical rows. Seeded on the full path, a fresh temp root
    per process made them return 1 or 2 items."""
    from environmental_stac_generator_spark.queries import kernels
    from environmental_stac_generator_spark.registry import load_full_registry

    fn = load_full_registry()["stac_item_documents"].fn
    out = []
    for root in ("a", "b/deeper"):
        d = tmp_path / root / "icenet_demo"
        d.mkdir(parents=True)
        for i in range(2):
            (d / f"fc{i}.nc").write_bytes(bytes([i]))
        monkeypatch.setattr(kernels, "_fake_landing", lambda n_files=2, d=d: str(d))
        out.append(sorted(tuple(r) for r in fn(spark, sf_dir).collect()))
    assert out[0] == out[1]
    assert len(out[0]) == 2
