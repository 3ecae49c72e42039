"""C1 config guard: store on first run, raise on drift."""

from __future__ import annotations

import pytest

from environmental_stac_generator_spark.plans.config_guard import (
    ConfigMismatchError,
    store_or_validate_config,
)


def test_store_new_file(tmp_path):
    # ref test_store_config_new_file (test_generator.py:70-98)
    p = tmp_path / "config.json"
    store_or_validate_config(p, {"test_collection": {"forecast_frequency": "1days"}})
    assert p.exists()
    assert "1days" in p.read_text()


def test_existing_match_passes(tmp_path):
    p = tmp_path / "config.json"
    cfg = {"test_collection": {"forecast_frequency": "1days"}}
    store_or_validate_config(p, cfg)
    store_or_validate_config(p, cfg)  # no raise


def test_existing_mismatch_raises(tmp_path):
    # ref test_store_config_existing_mismatch (test_generator.py:101-132)
    p = tmp_path / "config.json"
    store_or_validate_config(p, {"test_collection": {"forecast_frequency": "1days"}})
    with pytest.raises(ConfigMismatchError):
        store_or_validate_config(
            p, {"test_collection": {"forecast_frequency": "2days"}}
        )


def test_other_collections_in_shared_config_ignored(tmp_path):
    # ADVICE r1: a shared output_dir config.json holding ANOTHER
    # collection's entry must not raise ('removed ...') — the
    # reference validates only the current collection's entry.
    p = tmp_path / "config.json"
    store_or_validate_config(
        p,
        {
            "coll_a": {"forecast_frequency": "1days"},
            "coll_b": {"forecast_frequency": "7days"},
        },
    )
    store_or_validate_config(p, {"coll_a": {"forecast_frequency": "1days"}})


def test_new_collection_allowed(tmp_path):
    # ref _store_config: collection not in stored config -> no check
    p = tmp_path / "config.json"
    store_or_validate_config(p, {"coll_a": {"forecast_frequency": "1days"}})
    store_or_validate_config(p, {"coll_new": {"forecast_frequency": "6hours"}})


def test_shared_collection_drift_still_raises(tmp_path):
    p = tmp_path / "config.json"
    store_or_validate_config(
        p,
        {
            "coll_a": {"forecast_frequency": "1days"},
            "coll_b": {"forecast_frequency": "7days"},
        },
    )
    with pytest.raises(ConfigMismatchError):
        store_or_validate_config(p, {"coll_b": {"forecast_frequency": "1days"}})


def test_identical_config_with_tuple_and_nested_dict_values(tmp_path):
    """Values compare through the same sorted-keys JSON the file
    stores: an IDENTICAL re-run with a tuple-valued param (stored as
    a JSON list) or a dict whose insertion order differs must NOT
    raise a spurious mismatch."""
    from environmental_stac_generator_spark.plans.config_guard import (
        store_or_validate_config,
    )

    p = tmp_path / "config.json"
    cfg = {"c": {"leadtimes": (0, 6), "opts": {"b": 1, "a": 2}}}
    store_or_validate_config(p, cfg)
    # same content, tuple still a tuple, dict keys in different order
    again = {"c": {"leadtimes": (0, 6), "opts": {"a": 2, "b": 1}}}
    store_or_validate_config(p, again)  # must not raise


def test_corrupt_config_file_raises_clear_error(tmp_path):
    import pytest

    from environmental_stac_generator_spark.plans.config_guard import (
        ConfigMismatchError,
        store_or_validate_config,
    )

    p = tmp_path / "config.json"
    p.write_text('{"truncat')  # crash mid-write remnant
    with pytest.raises(ConfigMismatchError, match="not valid JSON"):
        store_or_validate_config(p, {"c": {"f": "1days"}})


def test_non_json_native_value_stores_and_revalidates(tmp_path):
    """A datetime/Path-valued param must persist on the FIRST store in
    the same default=str canonical form the validator compares
    (ADVICE r6: the store path previously crashed with TypeError), and
    an identical second run must pass while a changed one raises."""
    import datetime as dt
    from pathlib import Path

    import pytest

    p = tmp_path / "config.json"
    cfg = {"c": {"start": dt.datetime(2024, 1, 2, 3, 4, 5), "root": Path("/data/x")}}
    store_or_validate_config(p, cfg)  # first store: must not raise
    store_or_validate_config(p, cfg)  # identical rerun: passes
    # brand-new collection with a datetime also exercises the merge write
    store_or_validate_config(
        p, {"d": {"start": dt.datetime(2025, 6, 7)}}
    )
    changed = {"c": {"start": dt.datetime(1999, 1, 1), "root": Path("/data/x")}}
    with pytest.raises(ConfigMismatchError, match="start"):
        store_or_validate_config(p, changed)


def test_revalidation_runs_no_spark_job(spark, tmp_path):
    """Drift is checked on the driver: re-validating an existing
    config (matching, and drifted) starts no Spark job."""
    p = tmp_path / "config.json"
    cfg = {"c": {"forecast_frequency": "1days"}}
    store_or_validate_config(p, cfg)
    sc = spark.sparkContext
    group = "test_config_guard_revalidate"
    sc.setJobGroup(group, group)
    try:
        store_or_validate_config(p, cfg)
        with pytest.raises(ConfigMismatchError, match="added c.forecast_frequency"):
            store_or_validate_config(p, {"c": {"forecast_frequency": "2days"}})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_drift_message_lists_added_then_removed(tmp_path):
    p = tmp_path / "config.json"
    store_or_validate_config(p, {"c": {"f": "1days", "g": 1}})
    with pytest.raises(ConfigMismatchError) as exc:
        store_or_validate_config(p, {"c": {"f": "2days", "g": 1}})
    assert str(exc.value).endswith(
        'differs from current run: added c.f="2days"; removed c.f="1days"'
    )
