"""K4: STAC catalog JSON tree writer.

The reference normalizes hrefs and saves a SELF_CONTAINED pystac
tree (``stac/generator.py:1035-1058``). Here item/collection JSON
documents are DataFrames (``plans.stac_catalog``); the writer lays
them out as

    out_dir/catalog.json
    out_dir/<collection_id>/collection.json
    out_dir/<collection_id>/<item_id>/<item_id>.json

Items are written partition-parallel by a ``mapInArrow`` operator
that yields no rows, run by ``collect()`` (one tiny JSON per item —
at 100 TB of rasters the catalog is still only ~1 row per item, so
this is the cheap part). The operator runs in the same Python worker
pool as the scan and raster sinks; the RDD path's ``foreachPartition``
would fork a second ``pyspark.daemon`` with its own workers. The few
collection documents and the catalog root are driver-side writes.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame

from environmental_stac_generator_spark.plans.stac_catalog import STAC_VERSION


def _atomic_write_text(path: Path, text: str) -> None:
    """The merge paths below READ existing documents before writing,
    which makes their content load-bearing: a crash mid-write must
    not leave truncated JSON that the next run's decode-error
    fallback would silently replace (discarding previously merged
    extents/links). tmp + os.replace keeps every write all-or-nothing.
    Concurrent WRITERS remain last-wins, like the reference's
    file-based catalog."""
    import os

    from environmental_stac_generator_spark.sinks.raster import _tmp_suffix

    tmp = path.with_name(path.name + _tmp_suffix())
    tmp.write_text(text)
    os.replace(tmp, path)


def save_items(items_json: DataFrame, out_dir: str | Path) -> None:
    """Write one JSON file per item, executor-side. Atomic per file:
    a task dying mid-write must not leave a torn item document that a
    later catalog read parses as _corrupt_record and silently drops
    from the ingest (items are the most numerous documents — they
    need the all-or-nothing guarantee most)."""
    out = str(out_dir)

    def write_partition(batches):
        for batch in batches:
            for row in batch.to_pylist():
                d = Path(out) / row["collection_id"] / row["item_id"]
                d.mkdir(parents=True, exist_ok=True)
                _atomic_write_text(d / f"{row['item_id']}.json", row["json"])
        yield from ()  # a sink: the operator emits no rows

    items_json.select("collection_id", "item_id", "json").mapInArrow(
        write_partition, "n long"
    ).collect()


def _merge_collection_doc(old: dict, new: dict) -> dict:
    """J8 on disk: a collection re-written by a later input keeps the
    UNION of extents (bbox element-wise min/max, temporal min-start /
    max-end with None = unbounded) instead of silently shrinking to
    the latest input's coverage. Malformed stored docs fall back to
    the new one."""
    try:
        # Compute BOTH merged extents before assigning into `new`:
        # assigning as we go would leave a half-merged doc (spatial
        # unioned, temporal from `new` only) when the temporal
        # section is malformed.
        ob = old["extent"]["spatial"]["bbox"][0]
        nb = new["extent"]["spatial"]["bbox"][0]
        merged_bbox = [
            min(ob[0], nb[0]),
            min(ob[1], nb[1]),
            max(ob[2], nb[2]),
            max(ob[3], nb[3]),
        ]
        oi = old["extent"]["temporal"]["interval"][0]
        ni = new["extent"]["temporal"]["interval"][0]
        lo = None if oi[0] is None or ni[0] is None else min(oi[0], ni[0])
        hi = None if oi[1] is None or ni[1] is None else max(oi[1], ni[1])
        merged_interval = [lo, hi]
    except (KeyError, IndexError, TypeError):
        return new
    new["extent"]["spatial"]["bbox"][0] = merged_bbox
    new["extent"]["temporal"]["interval"][0] = merged_interval
    return new


def save_collections(collections_json: DataFrame, out_dir: str | Path) -> list[str]:
    """Write one ``collection.json`` per row and return the collection
    ids, for the catalog root. Driver-side, like the root: there is
    one row per collection, so one collect serves both the documents
    and the ids."""
    ids = []
    for row in collections_json.collect():
        d = Path(out_dir) / row["collection_id"]
        d.mkdir(parents=True, exist_ok=True)
        p = d / "collection.json"
        doc = json.loads(row["json"])
        if p.exists():  # multi-input / re-run: merge extents
            try:
                doc = _merge_collection_doc(json.loads(p.read_text()), doc)
            except json.JSONDecodeError:
                pass
        _atomic_write_text(p, json.dumps(doc, indent=2))
        ids.append(row["collection_id"])
    return ids


def save_catalog_root(
    catalog_id: str,
    description: str,
    collection_ids: list[str],
    out_dir: str | Path,
) -> Path:
    """Catalog root document — tiny, driver-side
    (ref ``stac/generator.py:111-142``). Child links MERGE with an
    existing root: a multi-input preprocess saves the catalog once
    per input, and overwriting with only the current input's
    collections would leave the earlier inputs' collections written
    on disk but unlinked from the root."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    p = out / "catalog.json"
    ids = set(collection_ids)
    if p.exists():
        try:
            for link in json.loads(p.read_text()).get("links", []):
                if link.get("rel") == "child":
                    ids.add(link["href"].split("/")[-2])
        except (json.JSONDecodeError, IndexError, KeyError):
            pass
    doc = {
        "type": "Catalog",
        "stac_version": STAC_VERSION,
        "id": catalog_id,
        "description": description,
        "links": [
            {"rel": "child", "href": f"./{cid}/collection.json"}
            for cid in sorted(ids)
        ],
    }
    _atomic_write_text(p, json.dumps(doc, indent=2))
    return p


def load_catalog_tree(spark, out_dir: str | Path) -> DataFrame:
    """S3: read an existing catalog tree back as DataFrames
    (resume/incremental; ref ``Catalog.from_file``,
    ``stac/generator.py:130-131``). Glob-filtered to ``*.json``: a
    crash between an atomic write's tmp file and its rename leaves a
    ``*.json.tmp.*`` remnant, and reading it as a real document would
    duplicate a collection (double-ingest) or inject a
    _corrupt_record column into every derived document."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("multiLine", "true")
        .json(str(out_dir))
    )
