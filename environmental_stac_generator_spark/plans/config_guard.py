"""C1: run-parameter consistency guard.

The reference stores ``{collection: {forecast_frequency}}`` JSON on
first run and DeepDiffs it against later runs, raising
``ConfigMismatchError`` on drift (ref ``stac/generator.py:425-459``,
error class ``stac/utils.py:13-14``). Here the stored config is a
tiny JSON file of canonical (collection, param, value) rows and drift
is their two-way multiset difference — empty means consistent. The
guard runs on the driver over a handful of rows, so it starts no
Spark job. The registry's ``config_guard`` query states the same
difference as SQL ``EXCEPT ALL``.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path


class ConfigMismatchError(RuntimeError):
    """Raised when the current run's parameters differ from the
    stored configuration (ref ``stac/utils.py:13-14``)."""


def store_or_validate_config(config_path: str | Path, current: dict[str, dict]) -> None:
    """First run: persist. Later runs: raise on drift — but, like the
    reference's ``_store_config`` (``stac/generator.py:440-459``),
    only the collections the CURRENT run touches are validated: a
    shared config file holding OTHER collections' entries is not our
    business, and brand-new collections are silently allowed.
    Runs on the driver and starts no Spark job."""
    from environmental_stac_generator_spark.sinks.stac_json import (
        _atomic_write_text,
    )

    p = Path(config_path)
    if not p.exists():
        p.parent.mkdir(parents=True, exist_ok=True)
        # atomic: a crash mid-write must not leave truncated JSON that
        # bricks every later run at json.loads
        # default=str: the comparison path canonicalizes values with
        # it (to_df below), so the store must too — a non-JSON-native
        # param (datetime, Path) would otherwise crash the first store
        # instead of persisting in the form the validator compares
        _atomic_write_text(p, json.dumps(current, sort_keys=True, default=str))
        return
    try:
        stored = json.loads(p.read_text())
    except json.JSONDecodeError as exc:
        raise ConfigMismatchError(
            f"stored config at {p} is not valid JSON ({exc}); it was "
            "written non-atomically by an earlier version or edited by "
            "hand — delete or repair it to proceed"
        ) from exc
    # collections first seen THIS run: validated never (nothing to
    # compare against), but they must be persisted now — otherwise
    # they stay absent from the file and are exempt from drift
    # detection on every future run, which defeats the guard
    new_colls = {c: v for c, v in current.items() if c not in stored}
    if new_colls:
        _atomic_write_text(
            p, json.dumps({**stored, **new_colls}, sort_keys=True, default=str)
        )
    # per-collection scope: ref DeepDiffs config_data[collection] only
    # when collection already exists in the stored file — so only
    # collections present on BOTH sides are compared
    stored_scoped = {c: v for c, v in stored.items() if c in current}
    current = {c: v for c, v in current.items() if c in stored}

    def rows(d: dict) -> Counter:
        # values normalize through the SAME canonicalization the file
        # stores (sorted-keys JSON): str(v) would compare the stored
        # side post-JSON-round-trip against the live Python value, so
        # an IDENTICAL config with a tuple-valued param ([0, 6] vs
        # "(0, 6)") or a dict whose insertion order differs from the
        # sort would raise a spurious mismatch
        return Counter(
            (coll, k, json.dumps(v, sort_keys=True, default=str))
            for coll, params in d.items()
            for k, v in sorted(params.items())
        )

    was, now = rows(stored_scoped), rows(current)
    drift = [("added", r) for r in sorted((now - was).elements())] + [
        ("removed", r) for r in sorted((was - now).elements())
    ]
    if drift:
        raise ConfigMismatchError(
            f"stored config at {p} differs from current run: "
            + "; ".join(f"{kind} {c}.{k}={v}" for kind, (c, k, v) in drift)
        )
