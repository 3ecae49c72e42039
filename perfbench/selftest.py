"""Self-tests of the benchmark, run as ``python3 perfbench/run.py --selftest``.

- smoke: every workload at the tiny size, untraced and traced; each
  result line must be correct and carry exactly its metric names;
- fault injection: a flipped COG byte, a deleted DB row and a
  perturbed query result must each make the run report failed > 0.

Each case is a separate ``run.py`` process, exactly as the benchmark
is invoked. Prints one JSON summary; exits 1 if any case fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from perfbench import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TIMEOUT_S = 600


def _run(*args: str) -> tuple[dict | None, str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--size", "tiny", "--seconds", "1",
           "--seed", "3", *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=TIMEOUT_S)
    if p.returncode != 0:
        return None, p.stderr[-1500:]
    return json.loads(p.stdout.strip().splitlines()[-1]), ""


def main() -> int:
    from perfbench.run import END_TO_END

    layer_names = {n for n, _ in workloads.per_layer_names()}
    cases: list[dict] = []

    def record(name: str, ok: bool, detail) -> None:
        cases.append({"case": name, "ok": ok, "detail": detail})
        print(json.dumps(cases[-1]), file=sys.stderr)

    for wl in workloads.WORKLOADS:
        for trace, want in ((0, set(END_TO_END)), (1, layer_names)):
            out, err = _run("--workload", wl, "--trace", str(trace))
            ok = (
                out is not None and out["correct"] and out["failed"] == 0
                and out["attempted"] >= 1 and set(out["metrics"]) == want
            )
            record(f"smoke:{wl}:trace{trace}", ok, err or {
                "attempted": out["attempted"], "failed": out["failed"],
                "missing": sorted(want - set(out["metrics"])),
            })
    for wl, fault in (("forecast_etl", "cog_byte"), ("forecast_etl", "db_row"),
                      ("curate_query", "query_result")):
        out, err = _run("--workload", wl, "--trace", "0", "--fault", fault)
        ok = out is not None and out["failed"] > 0 and not out["correct"]
        record(f"fault:{wl}:{fault}", ok, err or {
            "attempted": out["attempted"], "failed": out["failed"]})
    passed = all(c["ok"] for c in cases)
    print(json.dumps({"selftest": "pass" if passed else "fail",
                      "cases": [(c["case"], c["ok"]) for c in cases]}))
    return 0 if passed else 1
