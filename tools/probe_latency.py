#!/usr/bin/env python
"""Split the PQ/IVF probe family's wall-clock into driver phases
(guide §1 / §7.3: when nothing runs, the driver is doing something
single-threaded).

Per query, on a warm session:
  build     fn(spark, sf_dir)            — python builders + F.expr parse
  analyze   df.schema                    — Catalyst analysis
  optimize  explainString(cost)          — optimizer + physical planning
  exec      noop write                   — includes re-plan of the write

    python tools/probe_latency.py [q1,q2,...]
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

DEFAULT = (
    "pq_encode,pq_ann_probe,ivfpq_ann_probe,ivfpq_residual_probe,"
    "ivf_ann_probe,ivf_index_probe,ivfpq_index_probe,kmeans_clusters"
)


def main() -> None:
    names = (sys.argv[1] if len(sys.argv) > 1 else DEFAULT).split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_SHUFFLE_PARTITIONS
    spark = get_spark(
        app_name="envstac-probe-latency", master=f"local[{cpus}]",
        shuffle_partitions=cpus, driver_memory="8g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_full_registry()
    out = {}
    for name in names:
        fn = reg[name].fn
        # warm codegen / workers
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_tracked()
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.schema  # force analysis
            t2 = time.perf_counter()
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )  # force optimize + physical planning
            t3 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t4 = time.perf_counter()
            release_tracked()
            row = {
                "build": round(t1 - t0, 3),
                "analyze": round(t2 - t1, 3),
                "optimize": round(t3 - t2, 3),
                "exec": round(t4 - t3, 3),
                "total": round(t4 - t0, 3),
            }
            if best is None or row["total"] < best["total"]:
                best = row
        out[name] = best
        print(json.dumps({name: best}), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
