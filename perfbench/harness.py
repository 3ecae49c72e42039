"""Session, host context, memory sampling and the span tracer.

Everything here measures the engine from outside: spans wrap the
benchmark's own calls into the engine's public functions, the Spark
job group of each span is its span id, and job/stage/task numbers are
scraped afterwards through ``statusTracker`` and the UI REST API.
"""

from __future__ import annotations

import calendar
import json
import os
import shlex
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from perfbench import inputs

HEAP_CAP_MB = 2048


# ---- host pinning and run context ----------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: a quarter of host RAM, capped. local[N] runs every
    task thread inside this one JVM."""
    return min(HEAP_CAP_MB, ram_mb() // 4)


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def run_context(steal0: tuple[int, int]) -> dict:
    """Core count, RAM and CPU steal since ``steal0``: context for
    every number, not a gated metric."""
    s1, t1 = steal_jiffies()
    steal = 100.0 * (s1 - steal0[0]) / (t1 - steal0[1]) if t1 > steal0[1] else 0.0
    return {"cores": cores(), "ram_mb": ram_mb(), "heap_mb": heap_mb(),
            "steal_pct": round(steal, 3)}


def pin_environment(ui: bool) -> None:
    """Core count, shuffle width, heap and every scratch path, set
    BEFORE the engine is imported: ``session.py`` reads
    ``SPARK_GRAFT_CPUS`` at import (default 32, an 8x oversubscription
    on a 4-core host). All scratch stays inside the work directory.
    ``ui`` starts the Spark UI, whose REST API the tracer reads."""
    n = cores()
    wd = inputs.work_dir()
    tmp = wd / "tmp"
    local = wd / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": wd / "warehouse",
        # a fixed-size heap (no resizing decisions in the peak RSS) and
        # no hsperfdata file under /tmp: the JVM writes nowhere else
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={wd}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the UI's REST API feeds the trace; untraced runs go without it
        "spark.ui.enabled": str(ui).lower(),
        "spark.ui.retainedJobs": 100000,
        "spark.ui.retainedStages": 100000,
        "spark.sql.ui.retainedExecutions": 100000,
    }
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(n),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb()}m",
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(local),
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
            "PYTHONPATH": os.pathsep.join(
                [str(inputs.ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            )
            + " pyspark-shell",
        }
    )


def start_session():
    """The engine's own session factory at local[N] with N shuffle
    partitions and the host-sized heap."""
    from environmental_stac_generator_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=f"{heap_mb()}m",
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (PySpark otherwise leaves it to die after the interpreter)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# ---- memory ---------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    """VmHWM: the kernel's record of the process's peak RSS."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak RSS of the Spark driver JVM and its Python workers (the JVM's
    descendants): the sum of each process's peak (VmHWM), with the
    process tree walked on a background thread so short-lived workers
    are seen. Per-process peaks come from the kernel, so the figure
    does not depend on when a sample lands."""

    def __init__(self, spark, interval_s: float = 0.5):
        self.pid = spark.sparkContext._gateway.proc.pid
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in _tree(self.pid):
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---- statistics -----------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return 100.0, v[-1]
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, v[k]


# ---- tracing --------------------------------------------------------


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield {}


class Tracer:
    """In-memory spans with name, layer, start, end and parent. Each
    span's id is the Spark job group while it is open, so every job it
    triggers from this thread is attributed to it."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # the tracer's own seconds inside traced iterations: span
        # bookkeeping and the job-group calls
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        t0 = time.perf_counter()
        rec = {
            "id": f"pb{id(self):x}-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.cost_s += time.perf_counter() - t0


def _rest(spark, path: str):
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as fh:
        return json.loads(fh.read().decode())


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def interval_union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "core_busy_frac", "task_skew", "failed_tasks", "stage_retries",
)


def scrape_spark(spark, spans: list[dict], timeout_s: float = 30.0) -> dict:
    """Attach Spark numbers to every span (its own jobs: those whose
    group is the span id) and return the REST job table. Waits until
    the UI store has every tracked job in a final state."""
    tracker = spark.sparkContext.statusTracker()
    for s in spans:
        s["job_ids"] = sorted(tracker.getJobIdsForGroup(s["id"]))
    wanted = {j for s in spans for j in s["job_ids"]}
    deadline = time.time() + timeout_s
    while True:
        jobs = {j["jobId"]: j for j in _rest(spark, "jobs")}
        done = all(
            j in jobs and jobs[j]["status"] in ("SUCCEEDED", "FAILED") for j in wanted
        )
        if done or time.time() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, list[dict]] = {}
    for st in _rest(spark, "stages"):
        stages.setdefault(st["stageId"], []).append(st)
    n = cores()
    for s in spans:
        s.update(_span_spark(spark, s, jobs, stages, n))
    return jobs


def _span_spark(spark, span: dict, jobs: dict, stages: dict, n_cores: int) -> dict:
    my_jobs = [jobs[j] for j in span["job_ids"] if j in jobs]
    intervals = []
    for j in my_jobs:
        s, e = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if s is not None and e is not None:
            intervals.append((s, e))
    span["job_intervals"] = intervals
    span["job_detail"] = sorted(
        (
            {"id": j["jobId"], "stageIds": j.get("stageIds", []),
             "interval": (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")) or 0.0)}
            for j in my_jobs
        ),
        key=lambda j: (j["interval"][0] or 0.0, j["id"]),
    )
    attempts = []
    for j in my_jobs:
        for sid in j.get("stageIds", []):
            for a in stages.get(sid, []):
                if a.get("status") != "SKIPPED":
                    attempts.append(a)
    run_s = sum(a.get("executorRunTime", 0) for a in attempts) / 1e3
    active = interval_union(intervals)
    out = {
        "jobs": len(my_jobs),
        "stages": len(attempts),
        "tasks": sum(a.get("numCompleteTasks", 0) for a in attempts),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(a.get("executorCpuTime", 0) for a in attempts) / 1e9,
        "gc_s": sum(a.get("jvmGcTime", 0) for a in attempts) / 1e3,
        "input_mb": sum(a.get("inputBytes", 0) for a in attempts) / 1e6,
        "shuffle_read_mb": sum(a.get("shuffleReadBytes", 0) for a in attempts) / 1e6,
        "shuffle_write_mb": sum(a.get("shuffleWriteBytes", 0) for a in attempts) / 1e6,
        "spill_mb": sum(a.get("diskBytesSpilled", 0) for a in attempts) / 1e6,
        "failed_tasks": sum(a.get("numFailedTasks", 0) for a in attempts),
        "stage_retries": sum(1 for a in attempts if a.get("attemptId", 0) > 0),
        "job_active_s": active,
        "core_busy_frac": run_s / (active * n_cores) if active > 0 else 0.0,
        "task_skew": 0.0,
    }
    longest = max(
        attempts,
        key=lambda a: (_epoch(a.get("completionTime")) or 0)
        - (_epoch(a.get("submissionTime")) or 0),
        default=None,
    )
    if longest is not None:
        q = _rest(
            spark,
            f"stages/{longest['stageId']}/{longest['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0",
        )["executorRunTime"]
        out["task_skew"] = q[1] / max(q[0], 1.0)
    return out


def self_times(spans: list[dict]) -> None:
    """``self_s``: span duration minus the part its children cover;
    ``gap_s``: span duration with no job of the span's subtree
    running."""
    kids: dict[str | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s) -> list[tuple[float, float]]:
        out = list(s.get("job_intervals", []))
        for c in kids.get(s["id"], []):
            out.extend(subtree_jobs(c))
        return out

    for s in spans:
        lo, hi = s["start"], s["end"]
        child = interval_union(_clip([(c["start"], c["end"]) for c in kids.get(s["id"], [])], lo, hi))
        s["wall_s"] = hi - lo
        s["self_s"] = hi - lo - child
        s["gap_s"] = hi - lo - interval_union(_clip(subtree_jobs(s), lo, hi))


def spark_totals(spans: list[dict]) -> dict:
    """Per-layer ``spark.*`` numbers over every span: additive keys
    summed, core_busy_frac over the union of all job-active wall,
    task_skew the worst span's."""
    out = {k: 0.0 for k in SPARK_KEYS}
    for s in spans:
        for k in SPARK_KEYS:
            if k not in ("core_busy_frac", "task_skew"):
                out[k] += s.get(k, 0)
        out["task_skew"] = max(out["task_skew"], s.get("task_skew", 0.0))
    active = interval_union([iv for s in spans for iv in s.get("job_intervals", [])])
    out["core_busy_frac"] = out["executor_run_s"] / (active * cores()) if active else 0.0
    return out


class CallLog:
    """Per-process JSON-lines log that the counting decoder/encoder
    wrappers append to from Python workers; read and cleared by the
    benchmark process after each traced iteration."""

    def __init__(self, directory: Path):
        self.directory = directory
        directory.mkdir(parents=True, exist_ok=True)

    def read(self, kind: str) -> list[dict]:
        rows = []
        for f in sorted(self.directory.glob(f"{kind}-*.jsonl")):
            rows.extend(json.loads(line) for line in f.read_text().splitlines() if line)
        return rows

    def clear(self) -> None:
        for f in self.directory.glob("*.jsonl"):
            f.unlink()


def append_record(directory: str, kind: str, rec: dict) -> None:
    with open(Path(directory) / f"{kind}-{os.getpid()}.jsonl", "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def append_cost_s(directory: Path, n: int = 200) -> float:
    """Mean seconds of one :func:`append_record`: the wrappers' cost
    per logged slab or COG, measured here rather than in the worker."""
    rec = {"file": "c/2025-01-01.nc", "variable": "v", "lead": 0, "s": 0.0,
           "t": 0.0, "stage": 0}
    t0 = time.perf_counter()
    for _ in range(n):
        append_record(str(directory), "calibrate", rec)
    cost = (time.perf_counter() - t0) / n
    for f in directory.glob("calibrate-*.jsonl"):
        f.unlink()
    return cost
