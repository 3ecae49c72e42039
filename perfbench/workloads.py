"""The workloads: one closed-loop iteration, its output checks and
its per-layer numbers each.

A workload object owns its inputs and the engine calls it makes.
``iteration`` is the timed unit; ``check`` runs after it, outside the
timed region, and returns (attempted, failed) operations; ``layers``
turns the spans of one traced iteration into per-layer metrics.
``warm`` is the warm pass that the set-up time includes.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import sqlite3
import time
from pathlib import Path

import numpy as np

from perfbench import harness, inputs

# One row of bench.py's 47 HEADLINE registry rows per query module,
# the cheapest of each module on a 4-core host. The whole list costs
# ~75 s cold plus ~32 s per warm rotation there, more than the
# benchmark's run budget holds; the heavy dedup/similarity/text plans
# run inside ``curate`` instead.
QUERIES = [
    "band_stats", "skip_existing_items", "tumbling_window_agg", "band_pivot",
    "json_props_extract", "dedup_exact", "cosine_topk", "pii_scan",
    "salted_agg", "asof_join_events", "exact_percentiles",
    "token_budget_select", "ivfpq_index_probe",
]
QUERY_MODULES = [
    "aggregates", "joins", "windows", "arrays", "scalars", "dedup",
    "similarity", "text", "skew", "temporal", "sketches", "curation",
    "ann_index",
]
# warm rotations of QUERIES timed per curate_query iteration; the
# gated latency is the median over queries of each one's best rotation
TIMED_ROTATIONS = 2
# curate() stats keys with every stage on, in chain order
CURATE_STAGES = [
    "input", "exact_dedup", "near_dedup", "semantic_dedup", "decontaminate",
    "redact", "quality_filter", "budget", "sequences",
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), for every workload."""
    out = [
        ("session.start_s", "s"), ("session.warm_s", "s"),
        ("driver.build_s", "s"), ("driver.gap_s", "s"),
        ("catalyst.analyze_s", "s"), ("catalyst.plan_s", "s"),
    ]
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "failed_tasks": "count", "stage_retries": "count",
             "core_busy_frac": "frac", "task_skew": "ratio"}
    for k in harness.SPARK_KEYS:
        out.append((f"spark.{k}", units.get(k, "MB" if k.endswith("_mb") else "s")))
    out += [
        ("sources.netcdf.slabs_decoded", "count"), ("sources.netcdf.decode_s", "s"),
        ("sources.netcdf.useful_frac", "frac"),
        ("sinks.raster.cogs_written", "count"), ("sinks.raster.cogs_skipped", "count"),
        ("sinks.raster.encode_s", "s"), ("sinks.raster.bytes_written", "MB"),
        ("sinks.raster.cog_job_s", "s"), ("sinks.raster.netcdf_job_s", "s"),
        ("plans.stac_catalog.save_s", "s"), ("plans.stac_catalog.jobs", "count"),
        ("sinks.stac_json.files_written", "count"),
        ("sinks.jdbc_upsert.ingest_s", "s"), ("sinks.jdbc_upsert.rows_written", "count"),
        ("sinks.jdbc_upsert.conflict_frac", "frac"),
        ("plans.curation_pipeline.curate_s", "s"),
        ("plans.curation_pipeline.jobs", "count"),
    ]
    out += [(f"plans.curation_pipeline.{s}.kept_frac", "frac") for s in CURATE_STAGES]
    for m in QUERY_MODULES:
        out += [(f"queries.{m}.build_s", "s"), (f"queries.{m}.exec_s", "s")]
    out.append(("trace.overhead_s", "s"))
    return out


class CountingDecoder:
    """Wraps the injected NetCDF decoder: per slab, its decode seconds
    and the Spark stage it ran in, appended to the call log."""

    def __init__(self, inner, log_dir: str):
        self.inner = inner
        self.log_dir = log_dir

    def __call__(self, path: str, content):
        from pyspark import TaskContext

        it = iter(self.inner(path, content))
        rel = "/".join(path.split("/")[-2:])
        while True:
            t0 = time.perf_counter()
            try:
                chunk = next(it)
            except StopIteration:
                return
            dt = time.perf_counter() - t0
            tc = TaskContext.get()
            harness.append_record(self.log_dir, "decode", {
                "file": rel,
                "variable": str(chunk["variable"].iloc[0]),
                "lead": int(chunk["leadtime_idx"].iloc[0]),
                "s": dt,
                "t": time.time(),
                "stage": tc.stageId() if tc else -1,
            })
            yield chunk


class CountingEncoder:
    """Wraps the injected ``cog_encoder``: encode seconds, output bytes
    and the Spark stage of every COG actually encoded."""

    def __init__(self, inner, log_dir: str):
        self.inner = inner
        self.log_dir = log_dir

    def __call__(self, arr, bands, meta):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        data = self.inner(arr, bands, meta)
        tc = TaskContext.get()
        harness.append_record(self.log_dir, "encode", {
            "s": time.perf_counter() - t0,
            "bytes": len(data),
            "stage": tc.stageId() if tc else -1,
        })
        return data


def _span_sum(spans, key, pred=lambda s: True) -> float:
    return sum(s.get(key, 0.0) for s in spans if pred(s))


class Workload:
    name = ""

    def __init__(self, spark, seed: int, size: str, tracer, log: harness.CallLog,
                 run_dir: Path, input_dir):
        """``input_dir``: what :meth:`make_inputs` returned, built
        before set-up is timed."""
        self.spark = spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.log = log
        self.run_dir = run_dir
        self.input_dir = input_dir
        self.problems: list[str] = []

    @staticmethod
    def make_inputs(seed: int, size: str):
        raise NotImplementedError

    def warm(self) -> None:
        """The warm pass that set-up includes."""
        raise NotImplementedError

    def check(self, sample: dict, fault: str | None) -> tuple[int, int]:
        """(attempted, failed) operations of one iteration."""
        raise NotImplementedError

    def final_check(self, fault: str | None) -> tuple[int, int]:
        """(attempted, failed) of checks made once per run."""
        return 0, 0

    def base_layers(self, spans: list[dict]) -> dict:
        """driver.* and spark.* numbers common to every workload."""
        calls = [s for s in spans if s["layer"] != "iteration"]
        out = {
            "driver.build_s": _span_sum(calls, "wall_s", lambda s: s.get("lazy")),
            "driver.gap_s": _span_sum(calls, "gap_s", lambda s: s.get("top")),
        }
        for k, v in harness.spark_totals(spans).items():
            out[f"spark.{k}"] = v
        return out


# ---- forecast_etl ---------------------------------------------------


class ForecastEtl(Workload):
    """Day 1 lands a seeded NetCDF set and runs process + save_catalog
    (as CLI ``preprocess``), then load_catalog_tree + ingest_catalog
    into an embedded sqlite DB. Day 2 lands a smaller batch of new init
    dates beside the old files and repeats the calls with
    ``overwrite=False``."""

    name = "forecast_etl"
    make_inputs = staticmethod(inputs.forecast_inputs)

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.shape = inputs.FORECAST[self.size]
        self.last: dict = {}

    def units(self) -> float:
        return float(inputs.forecast_cells(self.shape, 1))

    def _engine(self, out: Path):
        from environmental_stac_generator_spark.engine import EnvStacEngine
        from environmental_stac_generator_spark.sinks import raster

        dec = inputs.SeededDecoder(self.seed)
        enc = raster.fake_tiff_encoder
        if self.tracer.enabled:
            dec = CountingDecoder(dec, str(self.log.directory))
            enc = CountingEncoder(enc, str(self.log.directory))
        return EnvStacEngine(
            self.spark, catalog_name="forecasts", output_dir=str(out),
            decoder=dec, cog_encoder=enc,
        )

    @staticmethod
    def _create_db(db: Path) -> None:
        conn = sqlite3.connect(db)
        conn.executescript(
            """
            CREATE TABLE collections (id TEXT PRIMARY KEY, json TEXT);
            CREATE TABLE items (
              id TEXT, collection TEXT REFERENCES collections(id), json TEXT,
              PRIMARY KEY (id, collection));
            """
        )
        conn.close()

    @staticmethod
    def db_rows(db: Path) -> int:
        conn = sqlite3.connect(db)
        try:
            return sum(
                conn.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                for t in ("collections", "items")
            )
        finally:
            conn.close()

    def _day(self, day: int, it_dir: Path, engine, db: Path) -> dict:
        """Land input ``day<day>`` and run the CLI's calls on it; returns
        the seconds from landing to the last row in the DB."""
        import pyspark.sql.functions as F

        from environmental_stac_generator_spark.sinks import stac_json
        from environmental_stac_generator_spark.sinks.jdbc_upsert import (
            ingest_catalog,
            sqlite_connection_factory,
        )

        tr = self.tracer
        landing = it_dir / "landing"
        rows_before = self.db_rows(db)
        with tr.span(f"forecast_etl.day{day}", "iteration") as root:
            t0 = time.perf_counter()
            shutil.copytree(self.input_dir / f"day{day}", landing, dirs_exist_ok=True)
            with tr.span("engine.process", "engine", top=True):
                results = engine.process(
                    f"{landing}/*", forecast_frequency="1days",
                    overwrite=(day == 1),
                )
            with tr.span("engine.save_catalog", "plans.stac_catalog", top=True):
                engine.save_catalog(results)
            # read the sink results before release() drops their cache;
            # the benchmark's own read is taken out of the timing
            tc = time.perf_counter()
            cog_rows = [r.asDict() for r in results["cog_results"].collect()]
            nc_rows = [r.asDict() for r in results["netcdf_results"].collect()]
            own = time.perf_counter() - tc
            engine.release()
            stac_dir = Path(engine.output_dir) / "stac" / engine.catalog_name
            with tr.span("sinks.stac_json.load_catalog_tree", "sinks.stac_json", top=True, lazy=True):
                tree = stac_json.load_catalog_tree(self.spark, str(stac_dir))
                colls = tree.filter(F.col("type") == "Collection").select(
                    "id", F.to_json(F.struct("*")).alias("json")
                )
                items = tree.filter(F.col("type") == "Feature").select(
                    "id", "collection", F.to_json(F.struct("*")).alias("json")
                )
            with tr.span("sinks.jdbc_upsert.ingest_catalog", "sinks.jdbc_upsert", top=True):
                counts = ingest_catalog(
                    self.spark, colls, items, jdbc_url="", dsn=str(db),
                    overwrite=True, connection_factory=sqlite_connection_factory,
                    paramstyle="qmark",
                )
            seconds = time.perf_counter() - t0 - own
        rows_after = self.db_rows(db)
        written = counts["collections"] + counts["items"]
        root.update(
            rows_written=written,
            conflicts=written - (rows_after - rows_before),
            cog_rows=cog_rows,
        )
        return {"seconds": seconds, "cog_rows": cog_rows, "nc_rows": nc_rows,
                "counts": counts, "stac_dir": stac_dir}

    def warm(self) -> None:
        """No warm pass: the timed ETL runs in a cold process, as a CLI
        ``preprocess`` does. A warm pass costs more than the run budget
        holds: see "Run budget" in the README."""

    def iteration(self, k: int) -> dict:
        if self.last:  # the previous iteration's outputs are checked
            shutil.rmtree(self.last["dir"], ignore_errors=True)
        it_dir = self.run_dir / f"etl-{k}"
        shutil.rmtree(it_dir, ignore_errors=True)
        it_dir.mkdir(parents=True)
        db = it_dir / "stac.db"
        self._create_db(db)
        engine = self._engine(it_dir / "out")
        d1 = self._day(1, it_dir, engine, db)
        d2 = self._day(2, it_dir, engine, db)
        self.last = {"dir": it_dir, "db": db, "days": (d1, d2)}
        return {"fresh_s": d1["seconds"], "op_s": [d2["seconds"]]}

    def check(self, sample: dict, fault: str | None) -> tuple[int, int]:
        """Two operations per iteration (the two ETL days); a day fails
        if any of its output checks fails."""
        from environmental_stac_generator_spark.sources.raster_probe import (
            parse_tiff_header,
        )

        it_dir, db = self.last["dir"], self.last["db"]
        out = it_dir / "out"
        if fault == "cog_byte":
            victim = sorted((out / "cogs").rglob("*.tif"))[0]
            b = bytearray(victim.read_bytes())
            b[len(b) // 2] ^= 0xFF
            victim.write_bytes(bytes(b))
        if fault == "db_row":
            conn = sqlite3.connect(db)
            conn.execute("DELETE FROM items WHERE rowid = (SELECT min(rowid) FROM items)")
            conn.commit()
            conn.close()
        failed = 0
        n_coll, n_lead = self.shape["collections"], self.shape["leadtimes"]
        inits = 0
        for day, res in enumerate(self.last["days"], start=1):
            errs: list[str] = []
            inits += self.shape["day1_inits"] if day == 1 else self.shape["day2_inits"]
            new = [r for r in res["cog_rows"] if not r["skipped"]]
            want_new = n_coll * n_lead * (
                self.shape["day1_inits"] if day == 1 else self.shape["day2_inits"]
            )
            if len(new) != want_new:
                errs.append(f"day{day}: {len(new)} new COGs, want {want_new}")
            # checksums are compared after BOTH days ran: a day-1 file
            # rewritten on day 2 would show here
            for r in res["cog_rows"] + res["nc_rows"]:
                p = Path(r["path"])
                if not p.exists():
                    errs.append(f"day{day}: missing {p.name}")
                elif r["multihash"] != "d50110" + hashlib.md5(p.read_bytes()).hexdigest():
                    errs.append(f"day{day}: checksum mismatch {p.name}")
            if day == 2:
                n_tif = len(list((out / "cogs").rglob("*.tif")))
                if n_tif != n_coll * inits * n_lead:
                    errs.append(f"{n_tif} COGs on disk, want {n_coll * inits * n_lead}")
                docs = list(res["stac_dir"].rglob("*.json"))
                n_docs = sum(
                    1 for f in docs if json.loads(f.read_text())["type"] != "Catalog"
                )
                n_db = self.db_rows(db)
                if n_db != n_docs:
                    errs.append(f"DB rows {n_db} != JSON documents {n_docs}")
                # asset hrefs are relative to the output directory
                for f in docs:
                    for a in json.loads(f.read_text()).get("assets", {}).values():
                        if not (out / a["href"]).exists():
                            errs.append(f"asset {a['href']} of {f.name} missing")
            if new:
                errs.extend(self._band_stats_check(min(new, key=lambda r: r["path"]), parse_tiff_header))
            if errs:
                failed += 1
                self.problems.extend(errs[:5])
        return 2, failed

    def _band_stats_check(self, row: dict, parse) -> list[str]:
        """Recompute one COG's band stats in numpy from the decoder."""
        import pandas as pd

        hdr = parse(Path(row["path"]).read_bytes())
        if hdr is None:
            return [f"{Path(row['path']).name} does not parse as a TIFF"]
        date = str(pd.Timestamp(row["forecast_reference_time"]).date())
        rel = f"{row['collection']}/{date}.nc"
        errs = []
        for vi, (name, st) in enumerate(zip(hdr["band_names"], hdr["band_stats"])):
            vals = inputs.slab_values(
                self.seed, rel, inputs.VARIABLES.index(name), row["leadtime_idx"],
                self.shape["grid"],
            )
            want = {"STATISTICS_MINIMUM": np.nanmin(vals), "STATISTICS_MAXIMUM": np.nanmax(vals),
                    "STATISTICS_MEAN": np.nanmean(vals), "STATISTICS_STDDEV": np.nanstd(vals)}
            for key, w in want.items():
                got = st.get(key)
                if got is None or abs(got - w) > 1e-9 * max(1.0, abs(w)):
                    errs.append(f"{Path(row['path']).name} band {name} {key}: {got} != {w}")
        if len(hdr["band_names"]) != len(inputs.VARIABLES):
            errs.append(f"{Path(row['path']).name}: bands {hdr['band_names']}")
        return errs

    def layers(self, spans: list[dict]) -> dict:
        out = self.base_layers(spans)
        dec = self.log.read("decode")
        enc = self.log.read("encode")
        # a slab is useful when the same ETL day newly wrote its COG
        roots = [s for s in spans if s["layer"] == "iteration"]
        days = [
            (day["start"], day["end"], {
                f"{r['collection']}/{r['forecast_reference_time'].date()}.nc:{r['leadtime_idx']}"
                for r in day["cog_rows"] if not r["skipped"]
            })
            for day in roots
        ]
        useful = sum(
            1 for d in dec for lo, hi, keys in days
            if lo <= d["t"] <= hi and f"{d['file']}:{d['lead']}" in keys
        )
        out["sources.netcdf.slabs_decoded"] = len(dec)
        out["sources.netcdf.decode_s"] = sum(d["s"] for d in dec)
        out["sources.netcdf.useful_frac"] = useful / len(dec) if dec else 0.0
        cog_rows = [r for s in roots for r in s.get("cog_rows", [])]
        out["sinks.raster.cogs_written"] = sum(1 for r in cog_rows if not r["skipped"])
        out["sinks.raster.cogs_skipped"] = sum(1 for r in cog_rows if r["skipped"])
        out["sinks.raster.encode_s"] = sum(e["s"] for e in enc)
        out["sinks.raster.bytes_written"] = sum(e["bytes"] for e in enc) / 1e6
        cog_stages = {e["stage"] for e in enc}
        cog_s = nc_s = 0.0
        for s in spans:
            if s["name"] != "engine.process":
                continue
            c, n = _split_cog_netcdf(s, cog_stages)
            cog_s += c
            nc_s += n
        out["sinks.raster.cog_job_s"] = cog_s
        out["sinks.raster.netcdf_job_s"] = nc_s
        save = [s for s in spans if s["name"] == "engine.save_catalog"]
        out["plans.stac_catalog.save_s"] = _span_sum(save, "wall_s")
        out["plans.stac_catalog.jobs"] = _span_sum(save, "jobs")
        out["sinks.stac_json.files_written"] = len(
            list(self.last["days"][1]["stac_dir"].rglob("*.json"))
        )
        ing = [s for s in spans if s["name"] == "sinks.jdbc_upsert.ingest_catalog"]
        rows = sum(s.get("rows_written", 0) for s in roots)
        out["sinks.jdbc_upsert.ingest_s"] = _span_sum(ing, "wall_s")
        out["sinks.jdbc_upsert.rows_written"] = rows
        out["sinks.jdbc_upsert.conflict_frac"] = (
            sum(s.get("conflicts", 0) for s in roots) / rows if rows else 0.0
        )
        for s in roots:  # keep the trace JSON small
            s.pop("cog_rows", None)
        return out


def _split_cog_netcdf(span: dict, cog_stages: set) -> tuple[float, float]:
    """Job-active seconds of ``engine.process`` split between the COG
    and NetCDF-slice sinks. The engine runs the COG sink's action,
    then the NetCDF-slice sink's: jobs up to the last one holding a
    COG-encode stage are COG jobs, the jobs after it NetCDF jobs."""
    jobs = span.get("job_detail", [])
    last_cog = max(
        (i for i, j in enumerate(jobs) if cog_stages & set(j["stageIds"])), default=None
    )
    if last_cog is None:
        return 0.0, 0.0
    cog = harness.interval_union([j["interval"] for j in jobs[: last_cog + 1]])
    nc = harness.interval_union([j["interval"] for j in jobs[last_cog + 1:]])
    return cog, nc


# ---- curate_query ---------------------------------------------------


class CurateQuery(Workload):
    """One iteration: ``curate`` with every stage on over the seeded
    corpus, then ``TIMED_ROTATIONS`` rotations of the query subset,
    each result collected with ``toPandas`` so the oracle check reads
    the timed executions. Throughput is the chain's (docs/s); latency
    is the queries' (each query's best timed execution). The warm pass
    has run every query once, so the timed executions are warm."""

    name = "curate_query"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from environmental_stac_generator_spark.registry import load_full_registry

        self.reg = load_full_registry()
        self.sf_dir = str(self.input_dir["tables"])
        self.results: dict = {}
        self.curated = None

    @staticmethod
    def make_inputs(seed: int, size: str) -> dict:
        """The corpus, the warm pass's tiny corpus and the query tables."""
        return {"corpus": inputs.corpus_inputs(seed, size),
                "warm_corpus": inputs.corpus_inputs(seed, "tiny"),
                "tables": inputs.query_inputs(seed, size)}

    def units(self) -> float:
        return float(inputs.CORPUS[self.size]["docs"])

    @staticmethod
    def config(n_docs: int):
        from environmental_stac_generator_spark.plans.curation_pipeline import (
            CurationConfig,
        )

        return CurationConfig(
            near_dup_jaccard=0.5,
            semantic_cosine=0.98,
            redact_pii=True,
            quality_min=0.55,
            token_budget=45 * n_docs,
            seq_len=2048,
        )

    def warm(self) -> None:
        """Build the materialized ANN index the index probe reads (the
        probe measures the read side), curate the tiny corpus, and run
        one rotation of the queries; results discarded. A query's
        first run in a process compiles its plan, and those latencies
        spread too much between runs to gate (README, "Run budget")."""
        from environmental_stac_generator_spark.queries.ann_index import index_dir_for

        index_dir_for(self.spark, self.sf_dir)
        self._curate(self.input_dir["warm_corpus"], inputs.CORPUS["tiny"]["docs"])
        self._rotation(0)

    def _curate(self, d: Path, n_docs: int):
        from environmental_stac_generator_spark.plans.curation_pipeline import curate

        with self.tracer.span("read_inputs", "benchmark", top=True, lazy=True):
            docs = self.spark.read.parquet(str(d / "documents.parquet"))
            probes = self.spark.read.parquet(str(d / "probes.parquet"))
            emb = self.spark.read.parquet(str(d / "embeddings.parquet"))
        with self.tracer.span("plans.curation_pipeline.curate", "plans.curation_pipeline", top=True):
            return curate(docs, probes=probes, config=self.config(n_docs), embeddings=emb)

    def _query(self, name: str, rec: dict) -> None:
        from environmental_stac_generator_spark.operators.lineage import release_tracked

        fn = self.reg[name].fn
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        rec["build_s"] = t1 - t0
        if self.tracer.enabled:
            # force the Catalyst phases apart, as tools/probe_latency.py does
            df.schema
            t2 = time.perf_counter()
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
            t3 = time.perf_counter()
            rec.update(analyze_s=t2 - t1, plan_s=t3 - t2)
            t1 = t3
        self.results[name] = df.toPandas()
        rec["exec_s"] = time.perf_counter() - t1
        release_tracked()

    def _rotation(self, k: int) -> tuple[dict[str, float], int]:
        """Every query once, rotation k starting k*7 queries further
        on: (latency per query, queries that raised)."""
        off = (k * 7) % len(QUERIES)
        lat, errors = {}, 0
        for name in QUERIES[off:] + QUERIES[:off]:
            module = self.reg[name].fn.__module__.rsplit(".", 1)[-1]
            with self.tracer.span(f"queries.{module}.{name}", f"queries.{module}", top=True) as rec:
                t0 = time.perf_counter()
                try:
                    self._query(name, rec)
                except Exception as exc:  # a failed query counts, the loop goes on
                    errors += 1
                    self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                lat[name] = time.perf_counter() - t0
        return lat, errors

    def iteration(self, k: int) -> dict:
        """``op_s`` holds each query's best latency of its timed
        rotations, ``lat_s`` every execution's: a host slowdown during
        one rotation then does not move the gated median."""
        rotations, errors = [], 0
        with self.tracer.span("curate_query", "iteration"):
            t0 = time.perf_counter()
            self.curated = self._curate(self.input_dir["corpus"], int(self.units()))
            seconds = time.perf_counter() - t0
            for r in range(TIMED_ROTATIONS):
                lat, n_err = self._rotation(1 + k * TIMED_ROTATIONS + r)
                rotations.append(lat)
                errors += n_err
        return {"fresh_s": seconds, "op_s": [min(r[q] for r in rotations) for q in QUERIES],
                "lat_s": [v for r in rotations for v in r.values()], "errors": errors}

    def check(self, sample: dict, fault: str | None) -> tuple[int, int]:
        """One operation for the curate call, one per query execution
        (a query that raised failed)."""
        import duckdb
        import pyspark.sql.functions as F

        res = self.curated
        st = res.stats
        errs = []
        if list(st) != CURATE_STAGES:
            errs.append(f"stages {list(st)} != {CURATE_STAGES}")
        doc_stages = [st[s] for s in CURATE_STAGES[:-1] if s in st]
        if any(b > a for a, b in zip(doc_stages, doc_stages[1:])):
            errs.append(f"stage counts increase: {doc_stages}")
        con = duckdb.connect()
        corpus = self.input_dir["corpus"] / "documents.parquet"
        want = con.execute(
            "SELECT count(DISTINCT text) + count(*) FILTER (WHERE text IS NULL) "
            f"FROM read_parquet('{corpus}')"
        ).fetchone()[0]
        con.close()
        if st.get("exact_dedup") != want:
            errs.append(f"exact_dedup {st.get('exact_dedup')} != duckdb {want}")
        packed = res.packed.agg(F.sum("tokens")).first()[0]
        selected = res.selected.agg(F.sum("n_tokens")).first()[0]
        if packed != selected:
            errs.append(f"packed tokens {packed} != selected tokens {selected}")
        if selected is None or selected > self.config(int(self.units())).token_budget:
            errs.append(f"selected tokens {selected} over budget")
        self.problems.extend(errs)
        return 1 + len(sample["lat_s"]), int(bool(errs)) + sample["errors"]

    def final_check(self, fault: str | None) -> tuple[int, int]:
        """Every query's last result against its registry oracle SQL,
        through tests/oracle.compare; a mismatch is one failed
        operation."""
        import sys

        import pandas as pd

        sys.path.insert(0, str(inputs.ROOT))
        from tests.oracle import compare, run_duckdb

        failed = 0
        for i, name in enumerate(QUERIES):
            got = self.results[name]
            if fault == "query_result" and i == 0:
                got = pd.concat([got, got.iloc[:1]])  # one duplicated row
            errs = compare(_Frame(got), run_duckdb(self.reg[name].sql, self.sf_dir), name)
            if errs:
                failed += 1
                self.problems.extend(errs[:2])
        return 0, failed

    def layers(self, spans: list[dict]) -> dict:
        out = self.base_layers(spans)
        cur = [s for s in spans if s["name"] == "plans.curation_pipeline.curate"]
        out["plans.curation_pipeline.curate_s"] = _span_sum(cur, "wall_s")
        out["plans.curation_pipeline.jobs"] = _span_sum(cur, "jobs")
        st = self.curated.stats
        prev = None
        for s in CURATE_STAGES:
            base = st["input"] if s == "sequences" else prev
            out[f"plans.curation_pipeline.{s}.kept_frac"] = (
                st[s] / base if base else 1.0
            )
            prev = st[s]
        qs = [s for s in spans if s["layer"].startswith("queries.")]
        # the read_inputs span builds lazy frames too
        out["driver.build_s"] += _span_sum(qs, "build_s")
        out["catalyst.analyze_s"] = _span_sum(qs, "analyze_s")
        out["catalyst.plan_s"] = _span_sum(qs, "plan_s")
        for m in QUERY_MODULES:
            mine = [s for s in qs if s["layer"] == f"queries.{m}"]
            out[f"queries.{m}.build_s"] = _span_sum(mine, "build_s")
            out[f"queries.{m}.exec_s"] = _span_sum(mine, "exec_s")
        return out


class _Frame:
    """A collected result in the shape ``compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


WORKLOADS = {w.name: w for w in (ForecastEtl, CurateQuery)}
