"""K5/J4/J5/J7 sink planning (no live database needed)."""

from __future__ import annotations

import pytest

from environmental_stac_generator_spark.sinks.jdbc_upsert import (
    build_upsert_sql,
    skip_existing,
)


def test_build_upsert_sql_single_key():
    sql = build_upsert_sql("collections", ["id", "title", "json"], ["id"])
    assert sql == (
        "INSERT INTO collections (id, title, json) VALUES (%s, %s, %s) "
        "ON CONFLICT (id) DO UPDATE SET title = EXCLUDED.title, "
        "json = EXCLUDED.json"
    )


def test_build_upsert_sql_composite_key():
    # items keyed (id, collection) — ref stac/dataloader.py:93-98
    sql = build_upsert_sql("items", ["id", "collection", "json"], ["id", "collection"])
    assert "ON CONFLICT (id, collection)" in sql
    assert "EXCLUDED.json" in sql
    assert "EXCLUDED.id" not in sql


def test_build_upsert_sql_keys_only():
    assert build_upsert_sql("t", ["id"], ["id"]).endswith("DO NOTHING")


def test_build_upsert_sql_bad_keys():
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["a"], ["missing"])


def test_skip_existing_anti_join(spark):
    incoming = spark.createDataFrame(
        [(i, f"c{i % 2}", f"v{i}") for i in range(10)], "id int, collection string, v string"
    )
    existing = spark.createDataFrame(
        [(i, f"c{i % 2}") for i in range(0, 10, 2)], "id int, collection string"
    )
    out = skip_existing(incoming, existing, ["id", "collection"])
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 5, 7, 9]


# ---------------------------------------------------------------------------
# Embedded ON CONFLICT engine (punch #5): sqlite3 speaks the identical
# INSERT ... ON CONFLICT (keys) DO UPDATE SET c = EXCLUDED.c dialect
# as Postgres (since SQLite 3.24), so the REAL upsert_partition path —
# executor-side connect, batching, conflict resolution, commit — runs
# against a live database in stock pytest. A live-Postgres twin of
# these tests is the `-m realcodec` lane's job (psycopg not shipped
# in this container).


import sqlite3

from environmental_stac_generator_spark.sinks.jdbc_upsert import (
    ingest_catalog,
    sqlite_connection_factory,
    upsert_dataframe,
)


@pytest.fixture()
def stac_db(tmp_path):
    db = str(tmp_path / "stac.db")
    conn = sqlite3.connect(db)
    conn.executescript(
        """
        CREATE TABLE collections (
          id TEXT PRIMARY KEY,
          title TEXT
        );
        CREATE TABLE items (
          id TEXT,
          collection TEXT REFERENCES collections(id),
          payload TEXT,
          PRIMARY KEY (id, collection)
        );
        """
    )
    conn.close()
    return db


def _rows(db, sql):
    conn = sqlite3.connect(db)
    try:
        return sorted(conn.execute(sql).fetchall())
    finally:
        conn.close()


def test_upsert_insert_then_update_roundtrip(spark, stac_db):
    first = spark.createDataFrame(
        [("c1", "arctic"), ("c2", "antarctic")], "id string, title string"
    ).coalesce(1)
    upsert_dataframe(
        first, stac_db, "collections", ["id"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    assert _rows(stac_db, "SELECT id, title FROM collections") == [
        ("c1", "arctic"), ("c2", "antarctic"),
    ]
    # second pass: one conflict-update, one fresh insert, no dupes
    second = spark.createDataFrame(
        [("c1", "arctic-v2"), ("c3", "baltic")], "id string, title string"
    ).coalesce(1)
    upsert_dataframe(
        second, stac_db, "collections", ["id"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    assert _rows(stac_db, "SELECT id, title FROM collections") == [
        ("c1", "arctic-v2"), ("c2", "antarctic"), ("c3", "baltic"),
    ]


def test_upsert_composite_key_partition_parallel(spark, stac_db):
    upsert_dataframe(
        spark.createDataFrame([("c1", "t")], "id string, title string"),
        stac_db, "collections", ["id"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    items = spark.createDataFrame(
        [(f"i{n}", "c1", f"v{n}") for n in range(40)],
        "id string, collection string, payload string",
    ).repartition(8)  # several concurrent partition writers
    upsert_dataframe(
        items, stac_db, "items", ["id", "collection"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
        batch_size=7,  # exercise the mid-partition batch flush
    )
    assert len(_rows(stac_db, "SELECT id FROM items")) == 40
    # composite-key conflict updates payload in place
    upsert_dataframe(
        spark.createDataFrame(
            [("i0", "c1", "patched")],
            "id string, collection string, payload string",
        ).coalesce(1),
        stac_db, "items", ["id", "collection"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    assert _rows(stac_db, "SELECT payload FROM items WHERE id='i0'") == [
        ("patched",)
    ]
    assert len(_rows(stac_db, "SELECT id FROM items")) == 40


def test_fk_order_items_before_collections_fails(spark, stac_db):
    """The reference loads collections before items because the FK
    demands it (stac/dataloader.py:173-189); the embedded engine
    enforces the same constraint, so writing items first is an error."""
    from pyspark.errors import PythonException

    items = spark.createDataFrame(
        [("i1", "nope", "v")], "id string, collection string, payload string"
    ).coalesce(1)
    with pytest.raises(PythonException, match="FOREIGN KEY constraint failed"):
        upsert_dataframe(
            items, stac_db, "items", ["id", "collection"],
            connection_factory=sqlite_connection_factory, paramstyle="qmark",
        )


def test_ingest_catalog_upsert_branch_live_engine(spark, stac_db):
    colls = spark.createDataFrame(
        [("c1", "t1"), ("c2", "t2")], "id string, title string"
    ).coalesce(1)
    items = spark.createDataFrame(
        [("i1", "c1", "a"), ("i2", "c2", "b")],
        "id string, collection string, payload string",
    ).coalesce(1)
    counts = ingest_catalog(
        spark, colls, items, jdbc_url="unused-in-upsert-branch",
        dsn=stac_db, overwrite=True,
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    assert counts == {"collections": 2, "items": 2}
    # idempotent re-ingest: same keys upsert, row counts stable
    counts2 = ingest_catalog(
        spark, colls, items, jdbc_url="unused-in-upsert-branch",
        dsn=stac_db, overwrite=True,
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    assert counts2 == {"collections": 2, "items": 2}
    assert len(_rows(stac_db, "SELECT id FROM collections")) == 2
    assert len(_rows(stac_db, "SELECT id FROM items")) == 2


def test_ingest_catalog_dedups_incoming_keys(spark, stac_db):
    """A catalog tree can list the same collection under two parents;
    the ingest must dedup the incoming frames on their keys — without
    it, two same-key rows both survive the DB anti-join and the
    upsert dies on Postgres's 'ON CONFLICT cannot affect row a second
    time' mid-ingest."""
    colls = spark.createDataFrame(
        [("c1", "arctic"), ("c1", "arctic-dup"), ("c2", "antarctic")],
        "id string, title string",
    )
    items = spark.createDataFrame(
        [("i1", "c1", "p"), ("i1", "c1", "p2"), ("i2", "c2", "q")],
        "id string, collection string, payload string",
    )
    counts = ingest_catalog(
        spark,
        colls,
        items,
        jdbc_url="unused-in-overwrite-branch",
        dsn=stac_db,
        overwrite=True,
        connection_factory=sqlite_connection_factory,
        paramstyle="qmark",
    )
    assert counts == {"collections": 2, "items": 2}
    assert [r[0] for r in _rows(stac_db, "SELECT id FROM collections")] == [
        "c1",
        "c2",
    ]
    assert [r[:2] for r in _rows(stac_db, "SELECT id, collection FROM items")] == [
        ("i1", "c1"),
        ("i2", "c2"),
    ]


def test_upsert_empty_partitions_open_no_connection(spark, stac_db, tmp_path):
    """Eight partitions, seven of them empty: the exact row count comes
    back from the partitions' count rows, and only the one non-empty
    partition opens a connection."""
    marks = tmp_path / "connections"
    marks.mkdir()

    def counting_factory(dsn):
        import uuid

        (marks / uuid.uuid4().hex).touch()
        return sqlite_connection_factory(dsn)

    upsert_dataframe(
        spark.createDataFrame([("c1", "t")], "id string, title string"),
        stac_db, "collections", ["id"],
        connection_factory=sqlite_connection_factory, paramstyle="qmark",
    )
    items = (
        spark.createDataFrame(
            [(f"i{n}", "c1", f"v{n}") for n in range(25)],
            "id string, collection string, payload string",
        )
        .repartition(8, "collection")  # one key: one non-empty partition
    )
    assert items.rdd.getNumPartitions() == 8
    n = upsert_dataframe(
        items, stac_db, "items", ["id", "collection"], batch_size=4,
        connection_factory=counting_factory, paramstyle="qmark",
    )
    assert n == 25
    assert len(list(marks.iterdir())) == 1
    assert len(_rows(stac_db, "SELECT id FROM items")) == 25


def test_upsert_binds_timestamps_as_utc_aware_datetimes(spark, tmp_path):
    """Arrow hands the upsert tz-aware datetimes in the session time
    zone (UTC here), not the naive local ones a ``Row`` carried; a
    psycopg bind of such a value is a ``timestamptz``."""
    import datetime as dt
    import pickle

    log = str(tmp_path / "bound.pkl")

    def recording_factory(dsn):
        class Recorder:  # DB-API stand-in that keeps what each row binds
            def cursor(self):
                return self

            def executemany(self, sql, rows):
                with open(log, "ab") as f:
                    pickle.dump(list(rows), f)

            def commit(self):
                pass

            def close(self):
                pass

        return Recorder()

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    df = spark.sql(
        "SELECT 'k' AS id, TIMESTAMP'2024-01-01 12:00:00' AS ts"
    ).coalesce(1)
    upsert_dataframe(
        df, "unused", "t", ["id"],
        connection_factory=recording_factory, paramstyle="qmark",
    )
    with open(log, "rb") as f:
        [(key, ts)] = pickle.load(f)
    assert key == "k"
    assert ts == dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    assert ts.utcoffset() == dt.timedelta(0)
