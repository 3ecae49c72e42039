#!/usr/bin/env python
"""A/B the two BENCH-ONLY rows (semdedup_pairs_auto_k, curate_chain)
between two revisions, interleaved in one warm session — same
protocol and revision isolation as tools/ab_bench.py, but the row
bodies are reconstructed here because they live in bench.py, not the
registry.

Lanes:
  auto_k      old pkg vs new pkg, same harness call
              (semantic_pairs_of(n_clusters="auto") over the fused
              embeddings scan — the r16-final bench shape).
  chain_fan   old pkg + unfanned input (the r16-start bench shape)
              vs new pkg + fanned input (the r16-final bench shape).
  chain_nofan new pkg + unfanned input, to isolate the bench-side fan
              from the package-side changes.

Usage: python tools/ab_bench_extra.py <old_rev> [lanes...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "environmental_stac_generator_spark"
sys.path.insert(0, str(REPO))

from tools.ab_bench import _active, _load_registry_from  # noqa: E402


def _auto_k(spark, sf_dir, fan):
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )
    from environmental_stac_generator_spark.tables import load

    try:
        e = load(spark, sf_dir, "embeddings", fan_out=fan)
    except TypeError:  # old revision without the fan_out kwarg
        e = load(spark, sf_dir, "embeddings")
    return semantic_pairs_of(
        e.select("vec_id", "embedding"), n_clusters="auto"
    )


def _chain(spark, sf_dir, fan):
    from environmental_stac_generator_spark.plans.curation_pipeline import (
        curate,
    )
    from environmental_stac_generator_spark.tables import load

    try:
        docs = load(spark, sf_dir, "documents", fan_out=fan)
    except TypeError:
        docs = load(spark, sf_dir, "documents")
    return curate(docs.select("doc_id", "text", "source")).stats


def main() -> None:
    old_rev = sys.argv[1]
    lanes = sys.argv[2:] or ["auto_k", "chain_fan", "chain_nofan"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = Path(tempfile.mkdtemp(prefix="envstac_abx_"))
    subprocess.run(
        f"git archive {old_rev} {PKG} | tar -x -C {tmp}",
        shell=True, check=True, cwd=REPO,
    )
    _, old_mods = _load_registry_from(tmp)
    _, new_mods = _load_registry_from(REPO)

    with _active(REPO, new_mods):
        from environmental_stac_generator_spark.session import (
            DEFAULT_SHUFFLE_PARTITIONS,
            get_spark,
        )

        cpus = DEFAULT_SHUFFLE_PARTITIONS
        spark = get_spark(
            app_name="envstac-abx", master=f"local[{cpus}]",
            shuffle_partitions=cpus, driver_memory="8g",
        )
        spark.sparkContext.setLogLevel("ERROR")

    def run_once(kind, tree, mods, fan) -> float:
        with _active(tree, mods):
            from environmental_stac_generator_spark.operators.lineage import (
                release_tracked,
            )

            t0 = time.perf_counter()
            if kind == "auto_k":
                _auto_k(spark, sf_dir, fan).write.mode("overwrite").format(
                    "noop"
                ).save()
            else:
                _chain(spark, sf_dir, fan)  # stats IS the materialization
            sec = time.perf_counter() - t0
            release_tracked()
        return sec

    spec = {
        # (kind, old_fan, new_fan)
        "auto_k": ("auto_k", False, False),
        "chain_fan": ("chain", False, True),
        "chain_nofan": ("chain", False, False),
    }
    out = {}
    for lane in lanes:
        kind, old_fan, new_fan = spec[lane]
        n_samples = int(os.environ.get("AB_SAMPLES", "3"))
        run_once(kind, REPO, new_mods, new_fan)  # shared warmup
        olds, news = [], []
        for _ in range(n_samples):
            olds.append(run_once(kind, tmp, old_mods, old_fan))
            news.append(run_once(kind, REPO, new_mods, new_fan))
        out[lane] = {
            "old_min": round(min(olds), 3),
            "new_min": round(min(news), 3),
            "ratio": round(min(news) / min(olds), 3),
            "old_samples": [round(x, 3) for x in olds],
            "new_samples": [round(x, 3) for x in news],
        }
        print(json.dumps({lane: out[lane]}), file=sys.stderr)
    print(json.dumps({"old_rev": old_rev, "sf_dir": sf_dir, "rows": out}))
    spark.stop()


if __name__ == "__main__":
    main()
