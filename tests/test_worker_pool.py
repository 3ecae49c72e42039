"""One Python worker pool per executor.

PySpark's RDD API (``foreachPartition``, ``foreach``, ``mapPartitions``,
``rdd.map``..., and the RDD a ``parallelize`` feeds ``createDataFrame``)
runs Python through a different worker factory from the Arrow
operators (``mapInArrow``, ``mapInPandas``, ``applyInPandas``) that the
scan and raster sinks use. One ETL run that touches both forks a second
``pyspark.daemon`` with its own workers: on a 4-core host, 61 MB for
the daemon plus ~120 MB per worker. The engine therefore runs every
Python operator through Arrow.
"""

from __future__ import annotations

import ast
import sqlite3
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark.engine import EnvStacEngine
from environmental_stac_generator_spark.sinks import stac_json
from environmental_stac_generator_spark.sinks.jdbc_upsert import (
    ingest_catalog,
    sqlite_connection_factory,
)
from environmental_stac_generator_spark.sources import netcdf

ENGINE = Path(__file__).resolve().parent.parent / "environmental_stac_generator_spark"

# RDD methods that run Python in the RDD path's worker pool
RDD_PYTHON_CALLS = {"foreachPartition", "foreach", "parallelize"}


def _rdd_python_calls(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, call) for every RDD-path Python call in ``tree``. The
    one allowed use of ``.rdd`` is ``.rdd.getNumPartitions()``: it
    reads the partition count and runs no Python."""
    allowed_rdd = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getNumPartitions"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "rdd"
        ):
            allowed_rdd.add(id(node.func.value))
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        if node.attr == "rdd" and id(node) not in allowed_rdd:
            found.append((node.lineno, ".rdd"))
        elif node.attr in RDD_PYTHON_CALLS or node.attr.startswith("mapPartitions"):
            found.append((node.lineno, node.attr))
    return sorted(found)


def test_guard_flags_rdd_python_calls():
    src = (
        "df.foreachPartition(f)\n"
        "df.foreach(f)\n"
        "df.rdd.mapPartitionsWithIndex(f)\n"
        "df.rdd.map(f).collect()\n"
        "spark.createDataFrame(sc.parallelize(rows), schema)\n"
        "n = df.rdd.getNumPartitions()\n"
        "q = stream.writeStream.foreachBatch(f)\n"
        "df.mapInArrow(f, 'n long').collect()\n"
    )
    assert [line for line, _ in _rdd_python_calls(ast.parse(src))] == [1, 2, 3, 3, 4, 5]


def test_engine_runs_no_python_through_the_rdd_path():
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        for line, call in _rdd_python_calls(ast.parse(path.read_text())):
            found.append(f"{path.relative_to(ENGINE.parent)}:{line} {call}")
    assert not found, "RDD-path Python calls fork a second worker pool: " + ", ".join(found)


@pytest.fixture()
def stac_db(tmp_path):
    db = tmp_path / "stac.db"
    conn = sqlite3.connect(db)
    conn.executescript(
        """
        CREATE TABLE collections (id TEXT PRIMARY KEY, json TEXT);
        CREATE TABLE items (
          id TEXT, collection TEXT REFERENCES collections(id), json TEXT,
          PRIMARY KEY (id, collection));
        """
    )
    conn.close()
    return db


def test_etl_never_enters_the_rdd_path(spark, tmp_path, stac_db, monkeypatch):
    """process -> save_catalog -> load_catalog_tree -> ingest_catalog,
    as the CLI's preprocess and ingest run them, with the RDD entry
    points of the DataFrame API and ``parallelize`` made to raise."""
    landing = tmp_path / "landing" / "icenet_south"
    landing.mkdir(parents=True)
    for i in range(2):
        (landing / f"fc{i}.nc").write_bytes(bytes([i]))

    def refuse(*_a, **_k):
        raise AssertionError("the ETL entered the RDD Python path")

    frame = type(spark.range(1))  # the session's DataFrame subclass
    monkeypatch.setattr(frame, "foreachPartition", refuse)
    monkeypatch.setattr(frame, "foreach", refuse)
    monkeypatch.setattr(frame, "rdd", property(refuse))
    # a Python row list handed to createDataFrame is parallelized too
    monkeypatch.setattr(type(spark.sparkContext), "parallelize", refuse)

    eng = EnvStacEngine(
        spark, catalog_name="pool", output_dir=tmp_path / "out",
        decoder=netcdf.fake_decoder(),
    )
    results = eng.process(str(landing))
    eng.save_catalog(results)
    eng.release()
    tree = stac_json.load_catalog_tree(spark, tmp_path / "out" / "stac" / "pool")
    colls = tree.filter(F.col("type") == "Collection").select(
        "id", F.to_json(F.struct("*")).alias("json")
    )
    items = tree.filter(F.col("type") == "Feature").select(
        "id", "collection", F.to_json(F.struct("*")).alias("json")
    )
    counts = ingest_catalog(
        spark, colls, items, jdbc_url="", dsn=str(stac_db), overwrite=True,
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    n_items = len(list((tmp_path / "out" / "stac" / "pool").rglob("forecast_init_*/*.json")))
    assert n_items > 0
    assert counts == {"collections": 1, "items": n_items}
    conn = sqlite3.connect(stac_db)
    try:
        assert conn.execute("SELECT count(*) FROM items").fetchone()[0] == n_items
    finally:
        conn.close()
