#!/usr/bin/env python
"""r16 optimization-round profiler (guide §1: measure first).

For each bench HEADLINE query: run via the noop sink (warm + timed),
collect the Spark job/stage structure for the timed run through the
local UI's REST API (job count, stage count, task count, executor run
time, shuffle bytes), and write the physical plan — both the lazy
`explain("formatted")` and the executed final adaptive plan — to
plans/r16/<query>_<tag>.txt.

    python tools/profile_r16.py [--tag before] [--only q1,q2,...]

Prints one JSON line per query plus a sorted summary table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from environmental_stac_generator_spark.operators.lineage import (  # noqa: E402
    release_tracked,
)
from environmental_stac_generator_spark.registry import load_full_registry  # noqa: E402
from environmental_stac_generator_spark.session import (  # noqa: E402
    DEFAULT_SHUFFLE_PARTITIONS,
    get_spark,
)


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/{path}"
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.loads(fh.read().decode())


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def profile(spark, reg, name: str, sf_dir: str, tag: str, plans_dir: Path):
    fn = reg[name].fn

    def run():
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # warm: codegen/plan compile + python worker spinup
    t0 = time.perf_counter()
    run()
    warm = time.perf_counter() - t0
    release_tracked()

    group = f"r16:{name}"
    spark.sparkContext.setJobGroup(group, name)
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    release_tracked()
    spark.sparkContext.setJobGroup(None, None)

    # job/stage structure of the timed run
    tracker = spark.sparkContext.statusTracker()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    stages: list[dict] = []
    try:
        all_jobs = {j["jobId"]: j for j in _rest(spark, "jobs")}
        stage_ids = []
        for jid in job_ids:
            stage_ids.extend(all_jobs.get(jid, {}).get("stageIds", []))
        all_stages = {}
        for s in _rest(spark, "stages"):
            # keep the last attempt per stage id
            prev = all_stages.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                all_stages[s["stageId"]] = s
        for sid in sorted(set(stage_ids)):
            s = all_stages.get(sid)
            if not s or s["status"] == "SKIPPED":
                continue
            stages.append(
                {
                    "id": sid,
                    "tasks": s.get("numCompleteTasks", 0),
                    "run_ms": s.get("executorRunTime", 0),
                    "cpu_ms": int(s.get("executorCpuTime", 0) / 1e6),
                    "in_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                    "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 3),
                    "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 3),
                    "name": s.get("name", "")[:60],
                }
            )
    except Exception as exc:  # REST off — keep the timing-only row
        stages = [{"error": str(exc)}]

    # plan capture: lazy formatted + executed final adaptive plan
    try:
        df = fn(spark, sf_dir)
        lazy = _formatted_plan(df)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        executed = qe.executedPlan().toString()
        release_tracked()
        out = plans_dir / f"{name}_{tag}.txt"
        out.write_text(
            f"== explain(formatted), lazy ==\n{lazy}\n"
            f"== executed final adaptive plan ==\n{executed}\n"
        )
    except Exception as exc:
        print(f"plan capture failed for {name}: {exc}", file=sys.stderr)

    return {
        "query": name,
        "warm_sec": round(warm, 3),
        "sec": round(wall, 3),
        "n_jobs": len(job_ids),
        "n_stages": len([s for s in stages if "id" in s]),
        "tasks": sum(s.get("tasks", 0) for s in stages),
        "run_ms": sum(s.get("run_ms", 0) for s in stages),
        "stages": stages,
    }


def main() -> None:
    tag = "before"
    if "--tag" in sys.argv:
        tag = sys.argv[sys.argv.index("--tag") + 1]
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_SHUFFLE_PARTITIONS
    spark = get_spark(
        app_name="envstac-profile-r16",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_full_registry()

    import bench

    names = only or list(bench.HEADLINE)
    plans_dir = REPO / "plans" / "r16"
    plans_dir.mkdir(parents=True, exist_ok=True)

    # warm the session once
    reg["q1_pricing_summary"].fn(spark, sf_dir).collect()

    rows = []
    for name in names:
        r = profile(spark, reg, name, sf_dir, tag, plans_dir)
        rows.append(r)
        print(json.dumps(r))

    print("\n#  sec  warm  jobs stages tasks run_ms  query")
    for r in sorted(rows, key=lambda r: -r["sec"]):
        print(
            f"{r['sec']:7.3f} {r['warm_sec']:6.2f} {r['n_jobs']:4d} "
            f"{r['n_stages']:5d} {r['tasks']:5d} {r['run_ms']:7d}  {r['query']}"
        )
    out = REPO / f"PROFILE_r16_{tag}.json"
    out.write_text(json.dumps(rows, indent=1) + "\n")
    print(f"\nwrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
