"""Seeded input generators, owned by the benchmark.

Every input is a pure function of ``(workload, seed, size)`` and is
cached under the work directory, so generation never counts toward a
run's set-up or measured time. The engine only ever sees the files
written here.

- ``forecast_etl``: stand-in NetCDF landing files. A file's name is
  its init date (``<collection>/<YYYY-MM-DD>.nc``) and its bytes are a
  small JSON header (grid, leadtimes, variables). :class:`SeededDecoder`
  parses the date from the name and seeds slab values from
  ``(seed, collection/file)``, so two files never collapse into one
  item and the values do not depend on where the checkout lives.
- ``curate_query``, corpus: documents with stated exact- and
  near-duplicate shares, a fixed Zipf near-dup family-size profile, a
  Zipf source mix, PII shapes, a few null-text rows, embeddings with
  near-duplicate clusters, and an eval probe set that overlaps the
  corpus by a stated fraction.
- ``curate_query``, query tables: the star-schema + documents +
  embeddings tables from ``tools/make_testdata.make``, pinned by a content digest per data
  seed (``digests.json``); a mismatch refuses the run.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import zlib
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

VARIABLES = ("sic_mean", "sic_stddev")
# the stand-in grid spans the EASE2 extent the reference's icenet
# files use (metres)
X_EXTENT = 8_918_256.31
Y_EXTENT = 9_009_964.76
NAN_SHARE = 0.05

# Per-size input shapes. "full" is what a timed run measures; "tiny"
# is the warm pass and the self-test size.
FORECAST = {
    "full": dict(collections=2, day1_inits=2, day2_inits=1, leadtimes=4, grid=64),
    "tiny": dict(collections=1, day1_inits=1, day2_inits=1, leadtimes=2, grid=8),
}
# 64-d embeddings: the engine's SemDeDup centroid plan is 64-d
CORPUS = {
    "full": dict(docs=5000, dim=64, probes=100),
    "tiny": dict(docs=300, dim=64, probes=20),
}
# stated corpus properties (also recorded in BENCHMARK.json's whys)
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.15
PARAPHRASE_SHARE = 0.05
NULL_TEXT_SHARE = 0.005
PII_SHARE = 0.05
PROBE_OVERLAP = 0.25
N_SOURCES = 12
ZIPF_A = 1.6
LARGEST_FAMILY = 0.1  # share of the near-duplicates in the largest family
# make_testdata scale factor (both sizes), and the number of pinned
# data seeds: a run's data seed is ``seed % N_DATA_SEEDS``
QUERY_SF = 0.001
N_DATA_SEEDS = 16
MAKE_TESTDATA = ROOT / "tools" / "make_testdata.py"
INIT0 = np.datetime64("2025-01-01")


def work_dir() -> Path:
    return ROOT / ".perfbench_work"


def _cached(kind: str, seed: int, size: str, build) -> Path:
    """``build(tmp_dir)`` once per (kind, seed, size); later runs reuse
    the directory. Built under a tmp name and renamed, so a run killed
    mid-build never leaves a half-written cache entry."""
    out = work_dir() / "inputs" / f"{kind}-{size}-{seed}"
    if out.exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.replace(tmp, out)
    return out


# ---- forecast_etl ---------------------------------------------------


def init_dates(day: int, shape: dict) -> list[str]:
    """ISO init dates landing on ``day`` (1 or 2): day 2 continues
    where day 1 stopped."""
    n1, n2 = shape["day1_inits"], shape["day2_inits"]
    idx = range(n1) if day == 1 else range(n1, n1 + n2)
    return [str(INIT0 + np.timedelta64(i, "D")) for i in idx]


def collections(shape: dict) -> list[str]:
    return [f"region_{c}" for c in range(shape["collections"])]


def slab_values(seed: int, rel: str, var_idx: int, lead: int, grid: int) -> np.ndarray:
    """One (variable, leadtime) slab in (y asc, x asc) order. Seeded
    from (seed, collection/file, variable, leadtime) alone."""
    key = zlib.crc32(rel.encode())
    rng = np.random.default_rng([seed, key, var_idx, lead])
    vals = rng.random((grid, grid))
    vals[vals < NAN_SHARE] = np.nan
    return vals


class SeededDecoder:
    """``netcdf.Decoder`` over the stand-in landing files: init date
    from the file name, values from :func:`slab_values`. A class, not
    a closure, so Python workers unpickle it by import path."""

    def __init__(self, seed: int, variables: tuple[str, ...] = VARIABLES):
        self.seed = seed
        self.variables = variables

    def __call__(self, path: str, content: bytes | None):
        import pandas as pd

        p = Path(path.removeprefix("file:"))
        hdr = json.loads(p.read_text())
        collection = p.parent.name
        rel = f"{collection}/{p.name}"
        grid = hdr["grid"]
        init = pd.Timestamp(p.stem)
        xs = np.linspace(-X_EXTENT, X_EXTENT, grid)
        ys = np.linspace(-Y_EXTENT, Y_EXTENT, grid)
        yy, xx = np.meshgrid(ys, xs, indexing="ij")
        for vi, var in enumerate(self.variables):
            for li in range(hdr["leadtimes"]):
                yield pd.DataFrame(
                    {
                        "collection": collection,
                        "path": path,
                        "forecast_reference_time": init,
                        "leadtime_idx": np.int32(li),
                        "variable": var,
                        "yc": yy.ravel(),
                        "xc": xx.ravel(),
                        "value": slab_values(self.seed, rel, vi, li, grid).ravel(),
                    }
                )


def forecast_inputs(seed: int, size: str) -> Path:
    """``<dir>/day{1,2}/<collection>/<date>.nc`` header files."""
    shape = FORECAST[size]

    def build(out: Path) -> None:
        hdr = json.dumps(
            {"grid": shape["grid"], "leadtimes": shape["leadtimes"], "seed": seed}
        )
        for day in (1, 2):
            for coll in collections(shape):
                d = out / f"day{day}" / coll
                d.mkdir(parents=True)
                for date in init_dates(day, shape):
                    (d / f"{date}.nc").write_text(hdr)

    return _cached("forecast_etl", seed, size, build)


def forecast_cells(shape: dict, day: int) -> int:
    n = shape["day1_inits"] if day == 1 else shape["day2_inits"]
    return (
        shape["collections"] * n * shape["leadtimes"]
        * len(VARIABLES) * shape["grid"] ** 2
    )


# ---- curate_query: corpus -------------------------------------------

_WORDS = (
    "ice sea floe drift melt freeze polar arctic cover extent thick thin "
    "wind ocean current heat flux model forecast ensemble member lead "
    "time grid cell mean spread anomaly trend season winter summer "
    "shelf basin coast strait bay channel pack edge band"
).split()
_STOP = "the a of and to in is on for with".split()


def _zipf_sizes(total: int, a: float) -> list[int]:
    """Copies per near-dup family: the k-th largest family has
    ``LARGEST_FAMILY * total * k**-a`` copies (at least one) until they
    sum to ``total``, so a few big families and many single copies.
    The sizes depend on ``total`` alone: a random Zipf draw can put
    most near-duplicates into one family, and the near-dup stage's
    cost, quadratic in family size, would then vary with the seed."""
    sizes: list[int] = []
    left = total
    k = 1
    while left > 0:
        s = min(left, max(1, int(LARGEST_FAMILY * total * k ** -a)))
        sizes.append(s)
        left -= s
        k += 1
    return sizes


# ~4.3k content words, so word 3-grams of unrelated documents rarely
# collide and decontamination removes what the probe overlap plants
_VOCAB = np.array([f"{w}{k}" for w in _WORDS for k in range(100)])
_STOP_ARR = np.array(_STOP)
STOP_SHARE = 0.1


def _text(rng, n_tok: int) -> list[str]:
    words = _VOCAB[rng.integers(0, len(_VOCAB), n_tok)]
    stop = rng.random(n_tok) < STOP_SHARE
    words[stop] = _STOP_ARR[rng.integers(0, len(_STOP_ARR), int(stop.sum()))]
    return words.tolist()


def corpus_tables(seed: int, size: str) -> dict:
    """The curate_query corpus as pandas frames (docs, embeddings,
    probes). Deterministic in (seed, size)."""
    import pandas as pd

    shape = CORPUS[size]
    n, dim = shape["docs"], shape["dim"]
    rng = np.random.default_rng([seed, 7])
    texts: list[str | None] = [None] * n
    emb = np.zeros((n, dim), dtype="float32")
    order = rng.permutation(n)  # doc ids of the generated rows
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_null = max(1, int(n * NULL_TEXT_SHARE))
    n_para = int(n * PARAPHRASE_SHARE)
    n_orig = n - n_exact - n_near - n_null - n_para
    i = 0
    originals: list[int] = []
    for _ in range(n_orig):
        d = order[i]
        i += 1
        toks = _text(rng, int(rng.integers(20, 160)))
        if rng.random() < PII_SHARE:
            toks.insert(int(rng.integers(0, len(toks))), f"user{int(rng.integers(1e6))}@example.org")
        texts[d] = " ".join(toks)
        v = rng.normal(size=dim)
        emb[d] = v / np.linalg.norm(v)
        originals.append(d)
    # near-dup families: Zipf-sized clusters around a random original,
    # each member one token changed, embedding jittered by ~0.02
    for s in _zipf_sizes(n_near, ZIPF_A):
        base = originals[int(rng.integers(len(originals)))]
        toks = texts[base].split(" ")
        for _ in range(s):
            d = order[i]
            i += 1
            t = list(toks)
            t[int(rng.integers(len(t)))] = str(_VOCAB[rng.integers(len(_VOCAB))])
            texts[d] = " ".join(t)
            v = emb[base] + rng.normal(scale=0.02, size=dim)
            emb[d] = v / np.linalg.norm(v)
    # paraphrases: fresh text, embedding a jittered copy of an
    # original's, so only semantic dedup can catch them
    for _ in range(n_para):
        d = order[i]
        i += 1
        base = originals[int(rng.integers(len(originals)))]
        texts[d] = " ".join(_text(rng, int(rng.integers(20, 160))))
        v = emb[base] + rng.normal(scale=0.01, size=dim)
        emb[d] = v / np.linalg.norm(v)
    # exact copies of originals
    for _ in range(n_exact):
        d = order[i]
        i += 1
        src = originals[int(rng.integers(len(originals)))]
        texts[d] = texts[src]
        emb[d] = emb[src]
    for _ in range(n_null):  # missing text; embedding stays random
        d = order[i]
        i += 1
        v = rng.normal(size=dim)
        emb[d] = v / np.linalg.norm(v)
    ranks = np.arange(1, N_SOURCES + 1, dtype="float64") ** -ZIPF_A
    sources = rng.choice(
        [f"src{k}" for k in range(N_SOURCES)], n, p=ranks / ranks.sum()
    )
    docs = pd.DataFrame(
        {"doc_id": np.arange(n, dtype="int64"), "text": texts, "source": sources}
    )
    embeddings = pd.DataFrame(
        {"doc_id": np.arange(n, dtype="int64"), "embedding": list(emb)}
    )
    n_probe = shape["probes"]
    n_overlap = int(n_probe * PROBE_OVERLAP)
    picks = rng.choice(originals, n_overlap, replace=False)
    probe_texts = [texts[d] for d in picks] + [
        " ".join(_text(rng, int(rng.integers(20, 80)))) for _ in range(n_probe - n_overlap)
    ]
    probes = pd.DataFrame(
        {"doc_id": np.arange(n_probe, dtype="int64") + 10**9, "text": probe_texts}
    )
    return {"documents": docs, "embeddings": embeddings, "probes": probes}


def corpus_inputs(seed: int, size: str) -> Path:
    def build(out: Path) -> None:
        for name, df in corpus_tables(seed, size).items():
            df.to_parquet(out / f"{name}.parquet", index=False)

    return _cached("corpus", seed, size, build)


# ---- curate_query: query tables -------------------------------------


def data_seed(seed: int) -> int:
    return seed % N_DATA_SEEDS


def table_digest(d: Path) -> str:
    """Content digest of a make_testdata directory: each table read
    back, schema metadata stripped, chunks combined, serialized as
    Arrow IPC. Independent of parquet writer version strings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = hashlib.md5()
    for f in sorted(d.glob("*.parquet")):
        t = pq.read_table(f).replace_schema_metadata(None).combine_chunks()
        buf = io.BytesIO()
        with pa.ipc.new_stream(buf, t.schema) as w:
            w.write_table(t)
        h.update(f.name.encode())
        h.update(buf.getvalue())
    return h.hexdigest()


def _make_testdata():
    """``tools/make_testdata.make`` of the checkout under test."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_perfbench_make_testdata", MAKE_TESTDATA
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.make


def pinned_digests() -> dict:
    return json.loads((HERE / "digests.json").read_text())


def query_inputs(seed: int, size: str) -> Path:
    """sf directory for the run's data seed (the same at both sizes).
    The cache entry is keyed on the generator's source, so a changed
    generator builds afresh, and its content digest is compared with
    the pinned one on every run: a mismatch refuses the run."""
    ds = data_seed(seed)
    src = hashlib.md5(MAKE_TESTDATA.read_bytes()).hexdigest()[:12]

    def build(out: Path) -> None:
        import contextlib

        with contextlib.redirect_stdout(io.StringIO()):
            _make_testdata()(QUERY_SF, out, seed=ds)

    out = _cached("tables", ds, f"sf{QUERY_SF}-{src}", build)
    got = table_digest(out)
    want = pinned_digests().get(str(ds))
    if got != want:
        raise SystemExit(
            f"query table digest mismatch for data seed {ds}: got "
            f"{got}, pinned {want}. The corpus generator changed; re-pin "
            "with `python3 perfbench/run.py --pin-digests` in a change of "
            "its own."
        )
    return out


def pin_digests() -> dict:
    """Regenerate ``digests.json`` for every data seed."""
    import contextlib
    import tempfile

    make = _make_testdata()
    out: dict = {}
    for ds in range(N_DATA_SEEDS):
        with tempfile.TemporaryDirectory(dir=work_dir()) as tmp:
            with contextlib.redirect_stdout(io.StringIO()):
                make(QUERY_SF, Path(tmp), seed=ds)
            out[str(ds)] = table_digest(Path(tmp))
    (HERE / "digests.json").write_text(json.dumps(out, indent=1) + "\n")
    return out
