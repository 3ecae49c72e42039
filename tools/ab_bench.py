#!/usr/bin/env python
"""A/B a set of bench rows between two git revisions, interleaved.

Round-7's lesson: per-row bench deltas on this host can be
measurement artifacts (cache-pin protocol, CPU-steal bursts), so a
suspected regression is adjudicated by running OLD and NEW code in
the SAME process, alternating samples, on the same warm session —
host drift then hits both sides equally.

Revision isolation (ADVICE r8): each side's modules are swapped into
sys.modules under their CANONICAL names (and its tree put first on
sys.path) for the duration of its timed call, then swapped back out.
Without this, a query whose behavior lives in another module (e.g.
span_dedup's gate calls `plan_policy.provably_small`) would resolve
that module against whichever revision happened to be installed — the
old lane silently executing NEW code and reporting a false "no
regression".

Usage:
    python tools/ab_bench.py <old_rev> <query> [<query> ...]

Checks out <old_rev>'s package into a temp dir, imports both
registries, and reports per-query min-of-3 alternating samples for
old vs new.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "environmental_stac_generator_spark"
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def _clear_pkg_modules() -> None:
    for name in list(sys.modules):
        if name == PKG or name.startswith(PKG + "."):
            del sys.modules[name]


def _snapshot_pkg_modules() -> dict:
    return {
        name: sys.modules[name]
        for name in list(sys.modules)
        if name == PKG or name.startswith(PKG + ".")
    }


def _load_registry_from(tree: Path):
    """Import the package rooted at ``tree`` and return (registry,
    modules). The loaded modules are captured and then REMOVED from
    sys.modules — neither revision stays installed between timed
    calls; `_active` installs exactly one side at a time."""
    import importlib

    sys.path.insert(0, str(tree))
    try:
        _clear_pkg_modules()
        mod = importlib.import_module(f"{PKG}.registry")
        reg = dict(mod.load_full_registry())
        mods = _snapshot_pkg_modules()
        _clear_pkg_modules()
        return reg, mods
    finally:
        sys.path.remove(str(tree))


@contextmanager
def _active(tree: Path, mods: dict):
    """Install one revision's modules under canonical names with its
    tree first on sys.path, so call-time imports inside its query
    functions resolve WITHIN that revision (fresh imports of
    never-loaded submodules hit the right tree too)."""
    _clear_pkg_modules()
    sys.modules.update(mods)
    sys.path.insert(0, str(tree))
    try:
        yield
    finally:
        sys.path.remove(str(tree))
        _clear_pkg_modules()


def main() -> None:
    old_rev, queries = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = Path(tempfile.mkdtemp(prefix="envstac_ab_"))
    subprocess.run(
        f"git archive {old_rev} {PKG} | tar -x -C {tmp}",
        shell=True, check=True, cwd=REPO,
    )
    old_reg, old_mods = _load_registry_from(tmp)
    new_reg, new_mods = _load_registry_from(REPO)

    with _active(REPO, new_mods):
        from environmental_stac_generator_spark.session import (
            DEFAULT_SHUFFLE_PARTITIONS,
            get_spark,
        )

        cpus = DEFAULT_SHUFFLE_PARTITIONS
        spark = get_spark(
            app_name="envstac-ab", master=f"local[{cpus}]",
            shuffle_partitions=cpus, driver_memory="8g",
        )
        spark.sparkContext.setLogLevel("ERROR")

    def run_once(reg, name, tree, mods) -> float:
        with _active(tree, mods):
            from environmental_stac_generator_spark.operators.lineage import (
                release_tracked,
            )

            t0 = time.perf_counter()
            reg[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            sec = time.perf_counter() - t0
            release_tracked()
        return sec

    out = {}
    for name in queries:
        if name not in old_reg or name not in new_reg:
            out[name] = "absent in one side"
            continue
        run_once(new_reg, name, REPO, new_mods)  # shared warmup
        olds, news = [], []
        for _ in range(3):  # interleaved: host drift hits both sides
            olds.append(run_once(old_reg, name, tmp, old_mods))
            news.append(run_once(new_reg, name, REPO, new_mods))
        out[name] = {
            "old_min": round(min(olds), 3),
            "new_min": round(min(news), 3),
            "ratio": round(min(news) / min(olds), 3),
            "old_samples": [round(x, 3) for x in olds],
            "new_samples": [round(x, 3) for x in news],
        }
    print(json.dumps({"old_rev": old_rev, "sf_dir": sf_dir, "rows": out}))
    spark.stop()


if __name__ == "__main__":
    main()
