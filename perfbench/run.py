#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload forecast_etl --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics
with ``--trace 1``. The line before it is a readable report: the run
context, every end-to-end metric under its per-workload name,
``failed_frac`` and the sample counts. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "environmental_stac_generator_spark"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
# what the generic end-to-end metrics mean on each workload; the
# report line shows these names
ALIASES = {
    "forecast_etl": {"throughput_per_s": "etl_cells_per_s", "op_p50_s": "etl_next_day_s",
                     "op_tail_s": "etl_next_day_tail_s"},
    "curate_query": {"throughput_per_s": "curate_docs_per_s", "op_p50_s": "query_p50_s",
                     "op_tail_s": "query_tail_s"},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(ALIASES))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is the self-test size")
    p.add_argument("--fault", choices=("cog_byte", "db_row", "query_result"),
                   help="corrupt one output before the checks (self-test)")
    p.add_argument("--selftest", action="store_true",
                   help="smoke-run every workload and check fault injection")
    p.add_argument("--pin-digests", action="store_true",
                   help="regenerate perfbench/digests.json")
    a = p.parse_args(argv)
    if not (a.selftest or a.pin_digests or a.workload):
        p.error("--workload is required")
    return a


def set_up(args):
    """Pin the host, start the session and run the workload's warm
    pass. Input generation is taken out of the set-up time."""
    from perfbench import harness, inputs, workloads

    t = time.perf_counter()
    input_dir = workloads.WORKLOADS[args.workload].make_inputs(args.seed, args.size)
    gen_s = time.perf_counter() - t
    harness.pin_environment(ui=bool(args.trace))
    spark = harness.start_session()
    ready_s = time.perf_counter() - T_PROCESS - gen_s
    run_dir = inputs.work_dir() / "runs" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    log = harness.CallLog(run_dir / "calls")
    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](
        spark, args.seed, args.size, harness.NullTracer(), log, run_dir, input_dir
    )
    wl.warm()
    warm_s = time.perf_counter() - t
    return spark, wl, {"start_s": ready_s, "warm_s": warm_s, "setup_s": ready_s + warm_s}


def measure(args, spark, wl):
    """Closed loop: one client, each iteration after the previous one
    completed, until ``--seconds`` have passed. With ``--trace 1`` one
    traced iteration gives the per-layer numbers: the same cold
    iteration the untraced runs time first."""
    from perfbench import harness

    tracer = harness.Tracer(spark) if args.trace else None
    res = {"fresh_s": [], "op_s": [], "lat_s": [], "wall_s": [], "layers": None, "attempted": 0,
           "failed": 0, "spans": []}
    t_end = time.perf_counter() + args.seconds
    k = 0
    with harness.RssSampler(spark) as rss:
        while True:
            wl.tracer = tracer if args.trace else harness.NullTracer()
            wl.log.clear()
            t0 = time.perf_counter()
            try:
                sample = wl.iteration(k)
            except Exception:  # one failed iteration: count it, keep the loop going
                traceback.print_exc()
                res["attempted"] += 1
                res["failed"] += 1
                wl.problems.append(f"iteration {k} raised")
                sample = None
            res["wall_s"].append(time.perf_counter() - t0)
            if sample is not None:
                res["fresh_s"].append(sample["fresh_s"])
                res["op_s"].extend(sample["op_s"])
                res["lat_s"].extend(sample.get("lat_s", sample["op_s"]))
                a, f = wl.check(sample, args.fault if k == 0 else None)
                res["attempted"] += a
                res["failed"] += f
                if args.trace:
                    harness.scrape_spark(spark, tracer.spans)
                    harness.self_times(tracer.spans)
                    res["layers"] = wl.layers(tracer.spans)
                    res["spans"] = tracer.spans
            k += 1
            if args.trace or time.perf_counter() >= t_end:
                break
    a, f = wl.final_check(args.fault)
    res["attempted"] += a
    res["failed"] += f
    res["peak_rss_mb"] = rss.peak_mb
    res["units"] = wl.units()
    res["problems"] = wl.problems
    res["iterations"] = k
    if args.trace:
        # the tracer's own time: span bookkeeping and job-group calls,
        # plus the wrappers' logging; the traced iteration's wall is in
        # the report line beside the untraced runs' walls
        logged = len(wl.log.read("decode")) + len(wl.log.read("encode"))
        res["overhead_s"] = tracer.cost_s + logged * harness.append_cost_s(wl.log.directory)
    return res


def end_to_end(res, setup: dict) -> tuple[dict, dict]:
    from statistics import median

    from perfbench import harness

    pct, tail = harness.tail(res["lat_s"])
    return {
        "setup_s": setup["setup_s"],
        "throughput_per_s": res["units"] / median(res["fresh_s"]),
        "op_p50_s": median(res["op_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"op_samples": len(res["op_s"]), "lat_samples": len(res["lat_s"]),
        "fresh_samples": len(res["fresh_s"]),
        "op_tail_s": {"value": tail, "percentile": pct}}


def per_layer(res, setup: dict) -> dict:
    from perfbench import workloads

    out = {name: (res["layers"] or {}).get(name, 0.0) for name, _ in workloads.per_layer_names()}
    out["session.start_s"] = setup["start_s"]
    out["session.warm_s"] = setup["warm_s"]
    out["trace.overhead_s"] = res["overhead_s"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not ENGINE.is_dir():
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness, inputs, workloads

    if args.pin_digests:
        inputs.work_dir().mkdir(parents=True, exist_ok=True)
        print(json.dumps(inputs.pin_digests()))
        return 0
    if args.selftest:
        from perfbench import selftest

        return selftest.main()
    steal0 = harness.steal_jiffies()
    spark, wl, setup = set_up(args)
    try:
        res = measure(args, spark, wl)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(wl.run_dir, ignore_errors=True)
    if not res["fresh_s"]:
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1
    ctx = harness.run_context(steal0)
    e2e, counts = end_to_end(res, setup)
    if args.trace:
        units_of = dict(workloads.per_layer_names())
        metrics = {k: {"value": v, "unit": units_of[k]} for k, v in per_layer(res, setup).items()}
        trace_file = inputs.work_dir() / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps(
            {"workload": args.workload, "seed": args.seed, "context": ctx,
             "per_layer": {k: v["value"] for k, v in metrics.items()},
             "spans": res["spans"]}, default=str, indent=1))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    attempted, failed = res["attempted"], res["failed"]
    alias = ALIASES[args.workload]
    counts[alias["op_tail_s"]] = counts.pop("op_tail_s")
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "context": ctx, "iterations": res["iterations"], "iteration_wall_s": res["wall_s"],
        **counts,
        "failed_frac": failed / attempted if attempted else 1.0,
        "end_to_end": {alias.get(k, k): {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()},
        "problems": res["problems"][:20],
    }
    if args.trace:
        report["trace_file"] = str(trace_file.relative_to(ROOT))
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
