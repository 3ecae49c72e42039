#!/usr/bin/env python
"""Parallel-speedup evidence lane (VERDICT r16 #7).

At sf0.1 every bench row is dominated by the per-query driver floor
(plan build, job submit), so the driver's 8-vs-32-core sweep reads
ratios ≈ 1 and cannot demonstrate that the fan-out and kernel paths
scale. This lane times a subset of HEADLINE rows at a LARGER corpus
(generate with tools/make_testdata.py, e.g. sf1 = 500k docs /
embeddings, 6M lineitem) where per-task compute dominates, at the
core count given by $SPARK_GRAFT_CPUS (default: the host's usable cores).

Excluded by design: the fixed-K semdedup rows (K=8 is oracle-pinned
for the driver corpus; at 500k embeddings a 62k-member cluster's
blocked pair join is quadratic — the scale configuration is auto-K,
covered via semdedup_pairs_auto_k's kernel path in curation rows),
and the probe family (driver-latency-bound by design; their scale
story is partition pruning, not cores).

    SPARK_GRAFT_SF_DIR=/tmp/sfscale/sf1 SPARK_GRAFT_CPUS=32 \
        python tools/scale_lane.py > SCALE_32.json
    SPARK_GRAFT_SF_DIR=/tmp/sfscale/sf1 SPARK_GRAFT_CPUS=8 \
        python tools/scale_lane.py > SCALE_8.json
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from environmental_stac_generator_spark.operators.lineage import (  # noqa: E402
    release_tracked,
)
from environmental_stac_generator_spark.registry import load_full_registry  # noqa: E402
from environmental_stac_generator_spark.session import (  # noqa: E402
    DEFAULT_SHUFFLE_PARTITIONS,
    get_spark,
)

ROWS = [
    # fan-out / hash-HOF map paths
    "simhash", "minhash_signatures", "pii_scan", "quality_score",
    "repetition_profile",
    # LSH pair + dedup pipelines (embedding_near_dup is excluded: on
    # a UNIFORM synthetic corpus every LSH bucket holds ~n/256 rows,
    # so its pair volume is quadratic — real near-dup corpora bound it
    # by the duplicate rate)
    "lsh_candidate_pairs", "span_dedup",
    # tokenize + aggregate pipelines
    "importance_weights", "perplexity_score", "exact_percentiles",
    # joins / aggregates over the 6M-row fact table
    "q1_pricing_summary", "orders_lineitem_join",
    # kernels
    "pq_encode", "kmeans_clusters",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sfscale/sf1")
    cpus = DEFAULT_SHUFFLE_PARTITIONS
    spark = get_spark(
        app_name="envstac-scale-lane", master=f"local[{cpus}]",
        shuffle_partitions=cpus, driver_memory="8g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_full_registry()
    out = {}
    for name in dict.fromkeys(ROWS):
        fn = reg[name].fn

        def run():
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

        run()  # warm codegen / workers
        release_tracked()
        best = 1e9
        for _ in range(2):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
            release_tracked()
        out[name] = round(best, 3)
        print(json.dumps({name: out[name]}), file=sys.stderr)
    print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
