"""Materialized ANN index (VERDICT r8 #1): the inverted-file layout's
claims as EXECUTED-PLAN facts.

Three contracts:
1. Parity — the index probes return bit-identical results to their
   on-the-fly twins (same kernels at build time + exact parquet
   double round-trip), for both the exact and the residual-ADC
   ranking, single-cell and nprobe=4.
2. Partition pruning — a probe READS only its probed cell
   directories: the executed FileSourceScan's numFiles metric equals
   the probed cells' file count, not the corpus's, and the scan
   carries a cell PartitionFilter. (``inputFiles()`` can't show this
   — it lists the relation pre-pruning — so the metric is the
   assertion surface.)
3. Codes-only ADC reads — the ADC probe's scan ReadSchema contains
   codes but NOT the float embedding/norm columns: at 100 TB the
   ranking reads 8-byte codes, never floats.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark.queries import ann_index as AI
from environmental_stac_generator_spark.queries import similarity as S
from environmental_stac_generator_spark.registry import load_full_registry

REG = load_full_registry()


@pytest.fixture(scope="module")
def idx_dir(spark, sf_dir):
    d = AI.index_dir_for(spark, sf_dir)
    assert d is not None
    return d


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_exact_probe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(REG["ivf_index_probe"].fn(spark, sf_dir)) == _rows(
        REG["ivf_ann_probe"].fn(spark, sf_dir)
    )


def test_exact_nprobe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(AI.index_probe_exact(spark, sf_dir, nprobe=S.NPROBE)) == _rows(
        REG["ivf_ann_nprobe"].fn(spark, sf_dir)
    )


def test_adc_probe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(REG["ivfpq_index_probe"].fn(spark, sf_dir)) == _rows(
        REG["ivfpq_residual_probe"].fn(spark, sf_dir)
    )


def test_adc_nprobe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(AI.index_probe_adc(spark, sf_dir, nprobe=S.NPROBE)) == _rows(
        REG["ivfpq_residual_nprobe"].fn(spark, sf_dir)
    )


@pytest.mark.parametrize("nprobe", [1, S.NPROBE])
def test_probe_reads_only_probed_partitions(spark, sf_dir, idx_dir, nprobe):
    total_files = len(spark.read.parquet(idx_dir).inputFiles())
    cells = spark.read.parquet(idx_dir).select("cell").distinct().count()
    assert cells > nprobe, "corpus must have more cells than the probe"
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, sf_dir, nprobe=nprobe)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    # the I/O claim itself: files READ == the probed cells' files
    # (one file per cell at this size), strictly fewer than the corpus
    assert scan["num_files"] == nprobe, scan
    assert scan["num_files"] < total_files
    assert scan.get("num_partitions", nprobe) == nprobe
    # and it is PARTITION pruning, not post-read filtering
    assert "PartitionFilters: [" in scan["scan"]
    assert "cell" in scan["scan"].split("PartitionFilters")[1].split("]")[0]


def test_adc_probe_reads_codes_not_floats(spark, sf_dir, idx_dir):
    scans = AI.executed_scan_metrics(
        AI.index_probe_adc(spark, sf_dir, nprobe=S.NPROBE)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    read_schema = scan["scan"].split("ReadSchema:")[1]
    assert "codes" in read_schema
    assert "embedding" not in read_schema, read_schema
    assert "norm" not in read_schema, read_schema
    # the codes scan is pruned too
    assert scan["num_files"] == S.NPROBE, scan


def test_refine_matches_driver_rerank_of_adc_topr(spark, sf_dir, idx_dir):
    """The refine ranking contract (VERDICT r10 #1): the served
    result must equal an exact-cosine re-rank of the ADC top-R
    candidate ids, computed independently on the driver from the raw
    corpus (sequential-double dot — bit-identical arithmetic)."""
    import math

    from environmental_stac_generator_spark.tables import load

    cand = [
        int(r["vec_id"])
        for r in AI.index_probe_adc(
            spark, sf_dir, nprobe=S.NPROBE, limit_n=AI.REFINE_R
        ).collect()
    ]
    assert 0 < len(cand) <= AI.REFINE_R
    e = {
        int(r["vec_id"]): [float(v) for v in r["embedding"]]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    pv = e[0]
    p_norm = math.sqrt(S._py_dot(pv, pv))

    def _cos5(vid):
        v = e[vid]
        c = S._py_dot(v, pv) / (math.sqrt(S._py_dot(v, v)) * p_norm)
        return math.floor(c * 100000.0 + 0.5) / 100000.0

    expected = sorted(((-_cos5(i), i) for i in cand))[:10]
    got = _rows(REG["ivfpq_index_refine"].fn(spark, sf_dir))
    assert [(i, -nc) for nc, i in expected] == got


def test_refine_equals_exact_when_r_covers_probed_cells(spark, sf_dir, idx_dir):
    """With R at least the probed cells' population, refine degrades
    to the exact nprobe ranking — every member is in the candidate
    pool, so the re-rank IS the exact in-cell ranking."""
    n = spark.read.parquet(idx_dir).count()
    assert _rows(
        AI.index_probe_refine(spark, sf_dir, nprobe=S.NPROBE, refine_r=n + 10)
    ) == _rows(AI.index_probe_exact(spark, sf_dir, nprobe=S.NPROBE))


def test_refine_read_stays_inside_probed_partitions(spark, sf_dir, idx_dir):
    """The refine stage reads floats, but ONLY from the already-
    probed cell partitions: the executed refine scan is still
    partition-pruned to nprobe files, carries the cell
    PartitionFilter, pushes the vec_id candidate filter, and (unlike
    the ADC stage) reads the embedding column — that is its job."""
    scans = AI.executed_scan_metrics(
        AI.index_probe_refine(spark, sf_dir, nprobe=S.NPROBE)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    assert scan["num_files"] == S.NPROBE, scan
    assert "PartitionFilters: [" in scan["scan"]
    assert "cell" in scan["scan"].split("PartitionFilters")[1].split("]")[0]
    read_schema = scan["scan"].split("ReadSchema:")[1]
    assert "embedding" in read_schema
    pushed = scan["scan"].split("PushedFilters:")[1].split("]")[0]
    assert "vec_id" in pushed, scan["scan"]


def test_index_layout_one_file_per_cell(spark, idx_dir):
    # repartition("cell") before partitionBy: ~one file per cell dir,
    # not one per (cell x input task) — the small-files guard
    files = spark.read.parquet(idx_dir).inputFiles()
    cells = {f.split("cell=")[1].split("/")[0] for f in files}
    assert len(files) == len(cells)


def _synth_embeddings(spark, ids, shift=0):
    return spark.createDataFrame([(i,) for i in ids], "id bigint").select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, 64), i -> cast(hash(id + {shift}, i) "
            "% 1000 as float) / 1000.0f)"
        ).alias("embedding"),
    )


def test_append_matches_onthefly_over_union(spark, tmp_path):
    """Live-ingest contract: appending a batch coded against the
    PERSISTED quantizer must make the index probe bit-identical to
    the on-the-fly probe over the unioned corpus (whose quantizer
    rows — vec_id < N_CENTROIDS + PQ_K — are unchanged by the new
    higher-id batch)."""
    base = _synth_embeddings(spark, range(0, 80))
    batch = _synth_embeddings(spark, range(1000, 1020), shift=3)
    corpus_a = str(tmp_path / "a")
    corpus_ab = str(tmp_path / "ab")
    base.coalesce(1).write.parquet(f"{corpus_a}/embeddings.parquet")
    base.unionByName(batch).coalesce(1).write.parquet(
        f"{corpus_ab}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus_a, idx) is not None
    before = set(spark.read.parquet(idx).inputFiles())
    AI.append_ann_index(spark, batch, idx)
    after = set(spark.read.parquet(idx).inputFiles())
    # append-only: every pre-existing file is untouched
    assert before <= after and len(after) > len(before)
    # exact probe over the appended index == on-the-fly over the union
    got = _rows(AI.index_probe_exact(spark, corpus_ab, nprobe=1, idx_dir=idx))
    want = _rows(REG["ivf_ann_probe"].fn(spark, corpus_ab))
    assert got == want
    # appended rows actually participate (some batch id lands in some
    # probed cell across nprobe=4)
    got4 = _rows(AI.index_probe_exact(spark, corpus_ab, nprobe=4, idx_dir=idx))
    want4 = _rows(REG["ivf_ann_nprobe"].fn(spark, corpus_ab))
    assert got4 == want4
    # ADC probe over stored codes == on-the-fly residual probe
    got_adc = _rows(AI.index_probe_adc(spark, corpus_ab, idx_dir=idx))
    want_adc = _rows(REG["ivfpq_residual_probe"].fn(spark, corpus_ab))
    assert got_adc == want_adc


def test_custom_coarse_quantizer(spark, tmp_path):
    """A production index passes its own trained quantizer (K past
    the literal budget exercises the broadcast-array assignment
    kernel); the probe must match the on-the-fly kernels fed the same
    centroid rows."""
    corpus = str(tmp_path / "corpus")
    e_df = _synth_embeddings(spark, range(0, 200))
    e_df.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    # 32 custom centroids (> K_LITERAL_MAX=16) from every 6th row,
    # renumbered to cell ids 0..31
    rows = sorted(e_df.collect(), key=lambda r: r.vec_id)
    cents = [AI.CentRow(i, rows[i * 6].embedding) for i in range(32)]
    idx = str(tmp_path / "idx32")
    meta = AI.build_ann_index(spark, corpus, idx, cents=cents)
    assert meta == {"cells": 32, "codes": True}
    files = spark.read.parquet(idx).inputFiles()
    assert len({f.split("cell=")[1].split("/")[0] for f in files}) > 16
    got = _rows(AI.index_probe_exact(spark, corpus, nprobe=2, idx_dir=idx))
    # expected via the trusted on-the-fly kernels over the same cents
    import math

    from environmental_stac_generator_spark.functions.rounding import rnd
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    pv = [float(v) for v in rows[0].embedding]
    p_norm = math.sqrt(S._py_dot(pv, pv))
    top = S._ivf_top_cells_py(pv, cents, 2)
    cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
        F.col("_norm") * F.lit(p_norm)
    )
    want = _rows(
        S._ivf_cells_of(e, cents)
        .filter(F.col("cell").isin(top) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(cos, 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )
    assert got == want


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    """The foreachBatch ingest sink: an index seeded from the base
    corpus and fed three streamed micro-batches must probe identically
    to a one-shot batch build over the full corpus; replayed batch ids
    must be skipped (idempotency)."""
    base_ids, stream_ids = range(0, 80), range(1000, 1060)
    base = _synth_embeddings(spark, base_ids)
    full_corpus = str(tmp_path / "full")
    base.unionByName(_synth_embeddings(spark, stream_ids, shift=5)).coalesce(
        1
    ).write.parquet(f"{full_corpus}/embeddings.parquet")
    corpus_a = str(tmp_path / "a")
    base.coalesce(1).write.parquet(f"{corpus_a}/embeddings.parquet")
    idx = str(tmp_path / "idx_stream")
    assert AI.build_ann_index(spark, corpus_a, idx) is not None
    # three parquet files -> three micro-batches via maxFilesPerTrigger
    src = tmp_path / "src"
    for i, lo in enumerate(range(1000, 1060, 20)):
        _synth_embeddings(spark, range(lo, lo + 20), shift=5).coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(AI.ann_index_stream_writer(idx))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_after = spark.read.parquet(idx).count()
    assert n_after == 80 + 60
    # replaying an applied batch id is a no-op
    AI.ann_index_stream_writer(idx)(
        _synth_embeddings(spark, range(1000, 1020), shift=5), 0
    )
    assert spark.read.parquet(idx).count() == n_after
    # streamed index == one-shot build over the full corpus, probe-wise
    idx_full = str(tmp_path / "idx_full")
    assert AI.build_ann_index(spark, full_corpus, idx_full) is not None
    for nprobe in (1, 4):
        assert _rows(
            AI.index_probe_exact(spark, full_corpus, nprobe=nprobe, idx_dir=idx)
        ) == _rows(
            AI.index_probe_exact(
                spark, full_corpus, nprobe=nprobe, idx_dir=idx_full
            )
        )
    assert _rows(AI.index_probe_adc(spark, full_corpus, idx_dir=idx)) == _rows(
        AI.index_probe_adc(spark, full_corpus, idx_dir=idx_full)
    )


def test_trained_coarse_quantizer(spark, tmp_path):
    """Spherical-k-means coarse cells (training under COSINE, the
    metric `_ivf_cells_of` routes by — L2 Lloyd optimizes the wrong
    objective here): deterministic (two trainings identical), auto-K
    ~ sqrt(sample), plugs into build_ann_index, and the trained
    quantizer's inverted lists are at least as flat as the arbitrary
    bootstrap rows' (max/mean — the probe-latency tail at scale).
    All inputs and the trainer are deterministic, so the compared
    numbers are exact, not flaky."""
    corpus = str(tmp_path / "spread")
    _synth_embeddings(spark, range(0, 200)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    t1 = AI.train_coarse_centroids(e, k=16)
    t2 = AI.train_coarse_centroids(e, k=16)
    assert t1 == t2, "training must be deterministic"
    auto = AI.train_coarse_centroids(e)
    assert len(auto) == 14  # isqrt(200)
    boot_idx = str(tmp_path / "boot")
    tr_idx = str(tmp_path / "trained")
    assert AI.build_ann_index(spark, corpus, boot_idx) is not None
    assert AI.build_ann_index(spark, corpus, tr_idx, cents=t1) is not None
    boot = AI.cell_balance(spark, boot_idx)
    trained = AI.cell_balance(spark, tr_idx)
    assert trained["cells"] == boot["cells"] == 16
    assert trained["max_over_mean"] <= boot["max_over_mean"], (boot, trained)


def test_residual_kernels_row_identical(spark, tmp_path):
    """The shared residual kernel's broadcast-array path (the
    K-agnostic form a trained K~sqrt(N) quantizer needs — splicing
    K*dim literals into the plan would blow up codegen) must be
    row-identical to the literal-map path at K=16."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cells = S._ivf_cells_of(e, cents)
    lit = S.residual_of(cells, cents, kernel="literal").select("vec_id", "_res")
    bc = S.residual_of(cells, cents, kernel="bcast").select("vec_id", "_res")
    assert sorted(map(tuple, lit.collect())) == sorted(map(tuple, bc.collect()))


def test_residual_kernel_param_validated():
    """ADVICE r9: kernel must reject unknown values (a typo silently
    selected the broadcast path) and 'literal' must actually force
    the literal map — including refusing K past the codegen cap."""
    cents16 = [AI.CentRow(i, [float(i)] * 64) for i in range(16)]
    cents17 = [AI.CentRow(i, [float(i)] * 64) for i in range(17)]
    with pytest.raises(ValueError, match="kernel"):
        S.residual_of(None, cents16, kernel="broadcast")
    with pytest.raises(ValueError, match="K_LITERAL_MAX"):
        S.residual_of(None, cents17, kernel="literal")


def test_build_with_custom_cents_on_empty_corpus_degrades(spark, tmp_path):
    """Custom cents must not bypass the degrade-to-empty contract: a
    build over an empty corpus returns None instead of writing a
    data-less dataset that crashes every later read."""
    corpus = str(tmp_path / "empty")
    _synth_embeddings(spark, range(0, 0)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    cents = [AI.CentRow(i, [float(i)] * 64) for i in range(4)]
    assert AI.build_ann_index(spark, corpus, str(tmp_path / "i"), cents=cents) is None


def test_trainer_stops_on_duplicate_directions(spark, tmp_path):
    """A near-duplicate sample has fewer distinct directions than k:
    the farthest-point init must stop rather than emit duplicate
    centroids whose cells would be permanently empty."""
    corpus = str(tmp_path / "dups")
    clones = _synth_embeddings(spark, range(0, 40)).withColumn(
        "embedding", F.expr("transform(sequence(1, 64), i -> 0.5d)")
    )
    clones.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    from environmental_stac_generator_spark.tables import load

    t = AI.train_coarse_centroids(load(spark, corpus, "embeddings"), k=8)
    assert len(t) == 1  # one direction in the sample -> one centroid


def test_index_rebuilds_on_corpus_change(spark, tmp_path):
    src = spark.range(0, 80).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(hash(id, i) % 1000 as float)"
            " / 1000.0f)"
        ).alias("embedding"),
    )
    corpus = str(tmp_path / "corpus")
    src.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    first = _rows(AI.index_probe_exact(spark, corpus, nprobe=1))
    assert first
    # overwrite with a SHIFTED corpus: the fingerprint must miss and
    # the rebuilt index must reflect the new vectors
    shifted = spark.range(0, 80).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(hash(id + 7, i) % 1000 "
            "as float) / 1000.0f)"
        ).alias("embedding"),
    )
    shifted.coalesce(1).write.mode("overwrite").parquet(
        f"{corpus}/embeddings.parquet"
    )
    second = _rows(AI.index_probe_exact(spark, corpus, nprobe=1))
    assert second and second != first
    # and the fresh index agrees with the on-the-fly kernel on the
    # fresh corpus
    assert second == _rows(REG["ivf_ann_probe"].fn(spark, corpus))


class _CrashAt:
    """os.replace wrapper raising at the Nth call — the fault
    injector for the ingest crash-window tests (the stream writer's
    first calls are its landed-file moves: 1 = the first, 2 = the
    second, ...)."""

    def __init__(self, real, n):
        self.real, self.n, self.count = real, n, 0

    def __call__(self, *a, **k):
        self.count += 1
        if self.count == self.n:
            raise RuntimeError("injected crash")
        return self.real(*a, **k)


class _CrashAtSite:
    """os.replace / os.link wrapper raising at the Nth call whose
    DESTINATION matches a semantic commit site. Classifying by path
    instead of global call count keeps a sweep pinned to the commit
    protocol's sites no matter how many cells a run touches: "move"
    (a landed file renamed into its cell dir, os.replace), "history"
    (the epoch put, os.link) and "swap" (the ``_current.json`` hint
    write after it, os.replace)."""

    SITES = ("move", "history", "swap")

    def __init__(self, real, site, nth=1):
        self.real, self.site, self.nth, self.count = real, site, nth, 0

    @staticmethod
    def classify(dst) -> str:
        p = AI.Path(dst)
        if p.name == AI.CURRENT_NAME:
            return "swap"
        if p.parent.name == AI.EPOCHS_DIR:
            return "history"
        if p.parent.name.startswith("cell="):
            return "move"
        return "other"

    def __call__(self, src, dst, *a, **k):
        if self.classify(dst) == self.site:
            self.count += 1
            if self.count == self.nth:
                raise RuntimeError("injected crash")
        return self.real(src, dst, *a, **k)

    @classmethod
    def patch(cls, monkeypatch, site, nth=1) -> "_CrashAtSite":
        """Install the injector on the os call that ``site`` uses;
        ``monkeypatch.setattr(AI.os, crash.fn, crash.real)`` undoes
        it."""
        fn = "link" if site == "history" else "replace"
        crash = cls(getattr(AI.os, fn), site, nth)
        crash.fn = fn
        monkeypatch.setattr(AI.os, fn, crash)
        return crash


def _ingest_crash_roundtrip(spark, tmp_path, monkeypatch, crash_at):
    """Shared body: seed an index, crash the stream writer at the
    given point — an int N is its Nth os.replace (1 = the first
    landed-file move, 2 = the next, 3 = mid-move), a site name one of
    :class:`_CrashAtSite`'s ("history" = the epoch put, "swap" = the
    hint write after it) — then replay the SAME batch id and assert
    exactly-once landing."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    batch = _synth_embeddings(spark, range(1000, 1030), shift=3)
    w = AI.ann_index_stream_writer(idx)
    if isinstance(crash_at, int):
        crash = _CrashAt(AI.os.replace, crash_at)
        crash.fn = "replace"
        monkeypatch.setattr(AI.os, "replace", crash)
    else:
        crash = _CrashAtSite.patch(monkeypatch, crash_at)
    with pytest.raises(RuntimeError, match="injected"):
        w(batch, 7)
    monkeypatch.setattr(AI.os, crash.fn, crash.real)
    # the crashed batch either never became visible (pre-commit) or
    # is recoverable (post-commit) — never partially double-visible
    # after replay:
    AI.ann_index_stream_writer(idx)(batch, 7)
    assert spark.read.parquet(idx).count() == 80 + 30
    ids = [
        r["vec_id"]
        for r in spark.read.parquet(idx)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    ]
    assert ids == [], f"duplicated vec_ids after replay: {ids}"
    # replaying again is a committed no-op
    AI.ann_index_stream_writer(idx)(batch, 7)
    assert spark.read.parquet(idx).count() == 80 + 30


@pytest.mark.parametrize("crash_at", [1, 2, 3, "history", "swap"])
def test_stream_writer_crash_windows_land_exactly_once(
    spark, tmp_path, monkeypatch, crash_at
):
    """VERDICT r9 #5: the r9 sink documented a crash window between
    parquet append and ledger record that duplicated the batch on
    replay. The epoch commit closes it — a crash at the first or a
    later landed-file move, at the epoch put, or at the hint write
    after it must all land the batch exactly once after replay."""
    _ingest_crash_roundtrip(spark, tmp_path, monkeypatch, crash_at)


def test_compact_restores_probe_numfiles(spark, tmp_path):
    """VERDICT r9 #4: append growth is unbounded in files-per-cell;
    after N appends + compact, the probe's EXECUTED numFiles must
    return to ~nprobe, with bit-identical probe results and an
    untouched quantizer."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    meta_before = (AI.Path(idx) / AI.META_NAME).read_text()
    w = AI.ann_index_stream_writer(idx)
    for i in range(3):
        w(_synth_embeddings(spark, range(1000 + 40 * i, 1040 + 40 * i), shift=3), i)
    inflated = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )[0]["num_files"]
    assert inflated > S.NPROBE, "appends should inflate files-per-cell"
    before_exact = _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    before_adc = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    n_rows = spark.read.parquet(idx).count()
    out = AI.compact_ann_index(spark, idx)
    assert out["cells_compacted"] > 0
    assert (AI.Path(idx) / AI.META_NAME).read_text() == meta_before
    assert spark.read.parquet(idx).count() == n_rows
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans
    assert _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)) == before_exact
    assert _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)) == before_adc
    # idempotent: a second pass finds nothing over-threshold
    assert AI.compact_ann_index(spark, idx)["cells_compacted"] == 0


def test_probe_id_parameter(spark, tmp_path):
    """The recall harness probes many ids against one shared index:
    probe_id must route by THAT vector, exclude THAT id, and match
    the trusted on-the-fly kernel fed the same probe."""
    import math

    from environmental_stac_generator_spark.functions.rounding import rnd
    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    e = load(spark, corpus, "embeddings")
    cents, _cb, _rot = AI.load_meta(idx)
    for pid in (3, 47):
        got = _rows(
            AI.index_probe_exact(spark, corpus, nprobe=2, idx_dir=idx, probe_id=pid)
        )
        pv = [float(v) for v in e.filter(F.col("vec_id") == pid).head().embedding]
        p_norm = math.sqrt(S._py_dot(pv, pv))
        top = S._ivf_top_cells_py(pv, cents, 2)
        cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
            F.col("_norm") * F.lit(p_norm)
        )
        want = _rows(
            S._ivf_cells_of(e, cents)
            .filter(F.col("cell").isin(top) & (F.col("vec_id") != pid))
            .select("vec_id", rnd(cos, 5).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(10)
        )
        assert got == want
        assert all(v != pid for v, _ in got)


def test_opq_index_matches_onthefly_composition(spark, tmp_path):
    """An index built with (rotation, rotated-space trained codebook)
    must ADC-rank bit-identically to the on-the-fly OPQ composition
    (rotate residuals, rank per probed cell, re-rank the union) —
    stored codes ARE that kernel, persisted."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 200)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    rot, cb = S.opq_train_rotation(
        resid.select("vec_id", "embedding"), k=64, sample_n=200
    )
    rm = np.asarray(rot)
    assert np.allclose(rm @ rm.T, np.eye(len(rot)), atol=1e-9)
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx, codebook=cb, rotation=rot) == {
        "cells": 16,
        "codes": True,
    }
    got = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    rot_resid = S.rotate_vectors(resid, rot, src="embedding")
    pv = [float(v) for v in e.filter(F.col("vec_id") == 0).head().embedding]
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    out = None
    for cell in S._ivf_top_cells_py(pv, cents, S.NPROBE):
        pres = [
            float(x)
            for x in np.asarray(
                [x - y for x, y in zip(pv, cent_by_id[cell])]
            )
            @ rm
        ]
        rk = S.pq_adc_rank_bcast(
            rot_resid.filter(F.col("cell") == F.lit(cell)), cb, pres
        )
        out = rk if out is None else out.unionByName(rk)
    want = _rows(out.orderBy("adc", "vec_id").limit(10))
    assert got == want


def test_numpy_build_kernel_matches_hof(spark, tmp_path):
    """The Arrow/BLAS build kernel (the trained large-K production
    path — O(K) interpreted HOF per row is the build bottleneck at
    K~sqrt(N)) must produce the same cells and codes as the HOF build
    on a tie-free corpus, with probe parity through both indexes —
    including under an OPQ rotation and a trained K=32/k=64 config."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = AI.train_coarse_centroids(e, k=32, sample_n=300)
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    rot, cb = S.opq_train_rotation(
        resid.select("vec_id", "embedding"), k=64, sample_n=300
    )
    idx_np = str(tmp_path / "np")
    idx_hof = str(tmp_path / "hof")
    assert AI.build_ann_index(
        spark, corpus, idx_np, cents=cents, codebook=cb, rotation=rot,
        kernel="numpy",
    )
    assert AI.build_ann_index(
        spark, corpus, idx_hof, cents=cents, codebook=cb, rotation=rot
    )
    a = {
        int(r.vec_id): (int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(idx_np).select("vec_id", "cell", "codes").collect()
    }
    b = {
        int(r.vec_id): (int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(idx_hof).select("vec_id", "cell", "codes").collect()
    }
    assert a == b
    # stored norms agree to float tolerance (expansion vs sequential
    # sum) and probes agree after the rnd(5) rounding both apply
    na = {int(r.vec_id): r.norm for r in spark.read.parquet(idx_np).collect()}
    nb = {int(r.vec_id): r.norm for r in spark.read.parquet(idx_hof).collect()}
    assert all(abs(na[k] - nb[k]) < 1e-9 for k in na)
    for probe in (AI.index_probe_exact, AI.index_probe_adc):
        assert _rows(probe(spark, corpus, nprobe=S.NPROBE, idx_dir=idx_np)) == _rows(
            probe(spark, corpus, nprobe=S.NPROBE, idx_dir=idx_hof)
        )


def test_build_kernel_param_validated(spark, tmp_path):
    with pytest.raises(ValueError, match="kernel"):
        AI.build_ann_index(spark, str(tmp_path), str(tmp_path / "i"), kernel="blas")


def test_adc_probe_bcast_tables_match_literal_form(spark, tmp_path):
    """Past K_LITERAL_MAX codebook entries the ADC probe carries its
    per-cell distance tables as ONE broadcast row instead of ~PQ_M·k·
    nprobe spliced literals (measured 16x warm-probe win at k=256).
    Values must be identical to the on-the-fly broadcast-kernel
    composition — same driver doubles, same rounding — and the scan
    must stay codes-only and partition-pruned."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    cb = S.pq_train_codebook(resid.select("vec_id", "embedding"), k=64)
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx, codebook=cb, kernel="numpy")
    got = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    # expected: the on-the-fly composition through pq_adc_rank_bcast
    pv = [float(v) for v in e.filter(F.col("vec_id") == 0).head().embedding]
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    out = None
    for cell in S._ivf_top_cells_py(pv, cents, S.NPROBE):
        pres = [float(x) - y for x, y in zip(pv, cent_by_id[cell])]
        rk = S.pq_adc_rank_bcast(
            resid.filter(F.col("cell") == F.lit(cell)), cb, pres
        )
        out = rk if out is None else out.unionByName(rk)
    want = _rows(out.orderBy("adc", "vec_id").limit(10))
    assert got == want
    scans = AI.executed_scan_metrics(
        AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert len(scans) == 1
    assert scans[0]["num_files"] == S.NPROBE
    read_schema = scans[0]["scan"].split("ReadSchema:")[1]
    assert "codes" in read_schema and "embedding" not in read_schema


def test_adc_probe_via_catalog_relation(spark, tmp_path):
    """`relation=` substitutes a registered catalog table for the
    path read (production: the metastore lists only the pruned
    partitions instead of all K dirs). Results must be identical and
    the executed scan still pruned."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    tbl = "ann_idx_reltest"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{idx}'")
        spark.catalog.recoverPartitions(tbl)
        via_path = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
        df = AI.index_probe_adc(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx,
            relation=spark.table(tbl),
        )
        assert _rows(df) == via_path
        scans = AI.executed_scan_metrics(
            AI.index_probe_adc(
                spark, corpus, nprobe=S.NPROBE, idx_dir=idx,
                relation=spark.table(tbl),
            )
        )
        assert scans[0]["num_files"] == S.NPROBE, scans
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------------------
# Epoch manifest: reader snapshot isolation (VERDICT r12 #1)


def _manifest_reader_rows(spark, idx):
    """Rows as the snapshot-isolated reader resolves them — the
    manifest route every probe takes."""
    return sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in AI._read_index(spark, idx).select("vec_id", "cell").collect()
    )


_SEED: dict = {}


def _seeded_multi_file_index(spark, tmp_path):
    """A 120-row build plus two streamed 40-row batches (epochs 1-3,
    ~3 files per populated cell) — built once per test session, then
    copied into ``tmp_path`` (copytree keeps the epochs and file
    mtimes), so every test mutates its own copy."""
    if "dir" not in _SEED:
        import tempfile

        seed = AI.Path(tempfile.mkdtemp(prefix="ann_seed_"))
        AI._SCRATCH.append(str(seed))
        _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
            str(seed / "c" / "embeddings.parquet")
        )
        assert AI.build_ann_index(spark, str(seed / "c"), str(seed / "idx"))
        w = AI.ann_index_stream_writer(str(seed / "idx"))
        for i in range(2):
            w(_synth_embeddings(spark, range(1000 + 40 * i, 1040 + 40 * i), shift=3), i)
        _SEED["dir"] = seed
    for name in ("c", "idx"):
        AI.shutil.copytree(_SEED["dir"] / name, tmp_path / name)
    return str(tmp_path / "c"), str(tmp_path / "idx")


def test_epoch_manifest_written_and_resolves_exact_files(spark, tmp_path):
    """Build/append/stream-commit each commit an epoch; the manifest
    names exactly the live data files, and the cells= resolution reads
    ONLY the probed cell's files (zero extra relation files — the
    listing-free probe route)."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    cur = AI._load_current(root)
    assert cur is not None and cur["epoch"] >= 3  # build + 2 batches
    # manifest == disk listing (quiescent index)
    assert cur["files"] == AI._listing_manifest(root)
    for cell_dir, names in cur["files"].items():
        cid = int(cell_dir.split("=")[1])
        rel_files = AI._read_index(spark, idx, cells=[cid]).inputFiles()
        assert len(rel_files) == len(names)
        assert all(f"/{cell_dir}/" in f for f in rel_files)


def test_reader_snapshot_isolation_mid_compaction_apply(
    spark, tmp_path, monkeypatch
):
    """THE r13 contract: a reader resolving at any crash point of a
    compaction apply sees exactly one copy of every row. Fault points:
    (a) at the first add-move — the manifest still names the old
    files, all on disk; (b) immediately AFTER the epoch swap, before
    any physical delete — the manifest names the compacted adds while
    the doomed old files are still on disk (the r12 double-count
    window; the manifest is what closes it)."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    assert len(expected) == 200 == len({v for v, _ in expected})
    e0 = int(AI._load_current(root)["epoch"])

    # (a) crash at the first add-move (nothing committed; the
    # manifest still names the old files, all on disk)
    crash = _CrashAtSite(AI.os.replace, "move", 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    assert _manifest_reader_rows(spark, idx) == expected
    assert int(AI._load_current(root)["epoch"]) == e0

    # (b) crash immediately after the epoch swap, before deletes
    real_commit = AI._commit_current
    calls = {"n": 0}

    def _commit_then_crash(r, step):
        real_commit(r, step)
        calls["n"] += 1
        raise RuntimeError("injected post-swap crash")

    monkeypatch.setattr(AI, "_commit_current", _commit_then_crash)
    with pytest.raises(RuntimeError, match="post-swap"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    assert calls["n"] == 1
    # the compacted cell's adds are live, its doomed files still on
    # disk — the manifest must hide them: exactly one copy of each row
    assert _manifest_reader_rows(spark, idx) == expected
    listing_rows = spark.read.parquet(idx).count()
    assert listing_rows > len(expected), "double-copy state must exist on disk"

    # a rerun finds nothing left to do: same rows, pruned probe
    AI.compact_ann_index(spark, idx)
    assert _manifest_reader_rows(spark, idx) == expected
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans


def test_stream_batch_visible_only_at_manifest_commit(
    spark, tmp_path, monkeypatch
):
    """The 2PC sink's reader-visibility point is the epoch-manifest
    commit: a batch whose files are fully moved but whose manifest
    commit crashed is INVISIBLE to manifest readers (and lands exactly
    once after replay)."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    before = _manifest_reader_rows(spark, idx)
    batch = _synth_embeddings(spark, range(1000, 1030), shift=3)

    real_commit = AI._commit_current

    def _crash_commit(r, step):
        raise RuntimeError("injected pre-commit crash")

    monkeypatch.setattr(AI, "_commit_current", _crash_commit)
    with pytest.raises(RuntimeError, match="pre-commit"):
        AI.ann_index_stream_writer(idx)(batch, 3)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    # files are on disk, no epoch names them — manifest readers see
    # the pre-batch snapshot
    assert spark.read.parquet(idx).count() == 110
    assert _manifest_reader_rows(spark, idx) == before
    # replay finalizes: visible exactly once
    AI.ann_index_stream_writer(idx)(batch, 3)
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == 110 == len({v for v, _ in after})


def test_vacuum_grace_compaction_lifecycle(spark, tmp_path):
    """Grace-period compaction (the vacuum knob): replaced files are
    RETIRED — on disk, dead to every manifest reader — until
    vacuum_ann_index reclaims those past the epoch horizon. A later
    commit (append) must never resurrect retired files, and a second
    compaction must fold in live files only."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)

    out = AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert out["cells_compacted"] > 0
    cur = AI._load_current(root)
    n_retired = sum(len(e["files"]) for e in cur.get("retired", []))
    assert n_retired > 0
    # retired files are physically present but invisible to readers
    on_disk = sum(len(_f) for _f in (
        AI._part_files(d) for d in root.glob("cell=*")
    ))
    n_live = sum(len(v) for v in cur["files"].values())
    assert on_disk == n_live + n_retired
    assert _manifest_reader_rows(spark, idx) == expected
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans

    # a later commit (append) must exclude retired files and carry
    # the retired ledger forward
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(3000, 3040), shift=3), idx
    )
    after_append = _manifest_reader_rows(spark, idx)
    assert len(after_append) == len(expected) + 40
    assert len({v for v, _ in after_append}) == len(after_append)
    cur2 = AI._load_current(root)
    assert sum(len(e["files"]) for e in cur2.get("retired", [])) == n_retired

    # second grace compaction folds LIVE files only — still exactly
    # one copy of every row, retired ledger grows
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _manifest_reader_rows(spark, idx) == after_append
    cur3 = AI._load_current(root)
    n_retired3 = sum(len(e["files"]) for e in cur3.get("retired", []))
    assert n_retired3 > n_retired

    # horizon: keep_epochs past every retirement removes nothing
    assert AI.vacuum_ann_index(idx, keep_epochs=10_000) == {
        "files_removed": 0,
        "entries_kept": len(cur3["retired"]),
    }
    # keep_epochs=0 reclaims everything retired; disk == manifest
    out = AI.vacuum_ann_index(idx, keep_epochs=0)
    assert out["files_removed"] == n_retired3
    assert out["entries_kept"] == 0
    cur4 = AI._load_current(root)
    assert not cur4.get("retired")
    on_disk = {
        f"{d.name}/{f.name}"
        for d in root.glob("cell=*")
        for f in AI._part_files(d)
    }
    in_manifest = {
        f"{cell}/{n}" for cell, v in cur4["files"].items() for n in v
    }
    assert on_disk == in_manifest
    assert _manifest_reader_rows(spark, idx) == after_append


@pytest.mark.parametrize(
    "site,nth",
    [
        ("move", 1),      # first add-move
        ("move", 2),      # mid-move
        ("move", 3),      # later move (another cell's add)
        ("history", 1),   # the one epoch put (os.link)
        ("swap", 1),      # the _current.json hint write after it
        ("none", 1),      # no crash: the completed run, same asserts
    ],
)
def test_compaction_crash_sweep_exactly_once(
    spark, tmp_path, monkeypatch, site, nth
):
    """Systematic fault injection at every semantic site of the
    SINGLE-EPOCH commit protocol (all add-moves, ONE epoch put, the
    hint write after it — sites classified by destination path, so the
    sweep is invariant to how many cells a run touches): a compaction
    crashed at each site must leave a manifest reader seeing exactly
    one copy of every row, and the next call must leave a clean pruned
    index. The CATALOG route is swept too (VERDICT r13 #1): a view
    registered at each crash point resolves the same exactly-once
    snapshot through spark.table."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    crash = _CrashAtSite.patch(monkeypatch, site, nth)
    try:
        AI.compact_ann_index(spark, idx)
        assert site == "none", f"expected a crash at {site}/{nth}"
    except RuntimeError as exc:
        assert "injected" in str(exc)
    monkeypatch.setattr(AI.os, crash.fn, crash.real)
    assert _manifest_reader_rows(spark, idx) == expected, (site, nth)
    AI.register_index_view(spark, idx, "sweep_view")
    assert sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.table("sweep_view").select("vec_id", "cell").collect()
    ) == expected, (site, nth)
    AI.drop_index_view(spark, "sweep_view")
    AI.compact_ann_index(spark, idx)  # a rerun finishes the job
    assert _manifest_reader_rows(spark, idx) == expected, (site, nth)
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, (site, nth, scans)


def test_time_travel_read_epochs(spark, tmp_path):
    """read_index_at: every committed epoch is a reproducible
    snapshot for as long as the vacuum horizon retains its files —
    build (epoch 1), append (epoch 2), grace-compact: each epoch
    replays its exact rows; vacuum then makes the pre-compaction
    epochs fail LOUDLY (FileNotFoundError naming vacuumed files)
    instead of silently reading a different corpus."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    assert AI.index_epochs(idx) == [1]
    rows_e1 = sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    )
    assert len(rows_e1) == 120
    AI.ann_index_stream_writer(idx)(
        _synth_embeddings(spark, range(1000, 1040), shift=3), 0
    )
    assert AI.index_epochs(idx) == [1, 2]
    # epoch 1 still replays the PRE-append corpus exactly
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    ) == rows_e1
    rows_e2 = sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 2).select("vec_id").collect()
    )
    assert len(rows_e2) == 160
    # grace compaction: every epoch (old file sets retired, on disk)
    # remains readable, and all contain the same 160 rows post-append
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    epochs = AI.index_epochs(idx)
    assert epochs[-1] == int(AI._load_current(AI.Path(idx))["epoch"])
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    ) == rows_e1
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 2).select("vec_id").collect()
    ) == rows_e2
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, epochs[-1])
        .select("vec_id").collect()
    ) == rows_e2
    # vacuum reclaims the retired files: old epochs now fail loudly,
    # the current epoch stays readable
    AI.vacuum_ann_index(idx, keep_epochs=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        AI.read_index_at(spark, idx, 1)
    cur_epoch = int(AI._load_current(AI.Path(idx))["epoch"])
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, cur_epoch)
        .select("vec_id").collect()
    ) == rows_e2
    # a never-committed epoch is a distinct, loud error
    with pytest.raises(ValueError, match="never committed"):
        AI.read_index_at(spark, idx, 99999)


def test_pre_epoch_index_still_probes(spark, tmp_path):
    """Backward compat: an index on disk WITHOUT _current.json (built
    before the epoch manifest existed) falls back to the directory
    read with identical probe results."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    with_manifest = _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    (AI.Path(idx) / AI.CURRENT_NAME).unlink()
    AI.shutil.rmtree(AI.Path(idx) / AI.EPOCHS_DIR)
    assert AI.index_epochs(idx) == []
    assert _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    ) == with_manifest
    assert _rows(
        AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )  # ADC path also survives the fallback


def test_manifest_resolution_with_empty_probed_cells(spark, tmp_path):
    """cells= pointing only at cells with no files yields the correct
    empty result by planning over ONE manifest file (schema + cell
    partition column intact), NOT by resolving the full live set
    (ADVICE r13 #4 — an empty-cell probe at K~1e5 must not plan over
    the whole index's file list)."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    df = AI._read_index(spark, idx, cells=[987654])
    assert df.count() == 0
    assert len(df.inputFiles()) <= 1  # one schema file, not the index
    for col in ("vec_id", "cell", "codes", "embedding", "norm"):
        assert col in df.columns
    # the probe built on top still returns the correct empty frame
    assert df.filter(AI.F.col("cell").isin([987654])).count() == 0


def _view_rows(spark, name):
    return sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.table(name).select("vec_id", "cell").collect()
    )


def test_register_index_view_pruning_and_refresh(spark, tmp_path):
    """The manifest-backed catalog route (VERDICT r13 #1):
    register_index_view pins a named relation to the current epoch —
    probes through spark.table(name) return identical rows with the
    identical pruned-scan shape as the path route; the view is a
    SNAPSHOT (an append is invisible until re-registration); and
    epoch= pins a time-travel view."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    cur_epoch = int(AI._load_current(AI.Path(idx))["epoch"])
    assert AI.register_index_view(spark, idx, "annv") == cur_epoch
    rel = spark.table("annv")
    path_rows = _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert _rows(
        AI.index_probe_exact(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx, relation=rel
        )
    ) == path_rows
    # identical executed pruning: same files read as the manifest route
    n_path = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )[0]["num_files"]
    n_view = AI.executed_scan_metrics(
        AI.index_probe_exact(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx, relation=rel
        )
    )[0]["num_files"]
    assert n_view == n_path
    # snapshot semantics: a commit after registration is invisible
    # until the operator re-registers (the refresh contract)
    before = _view_rows(spark, "annv")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(5000, 5040), shift=3), idx
    )
    assert _view_rows(spark, "annv") == before
    new_epoch = AI.register_index_view(spark, idx, "annv")
    assert new_epoch > cur_epoch
    after = _view_rows(spark, "annv")
    assert len(after) == len(before) + 40
    assert len({v for v, _ in after}) == len(after)
    # explicit epoch= gives a pinned time-travel view
    assert AI.register_index_view(spark, idx, "annv_e1", epoch=1) == 1
    assert len(_view_rows(spark, "annv_e1")) == 120  # the build alone
    spark.catalog.dropTempView("annv")
    spark.catalog.dropTempView("annv_e1")


def test_catalog_view_snapshot_isolation_mid_apply(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #1 closed: the catalog route inherits the epoch
    manifest's snapshot isolation. A view registered mid-apply (post-
    swap crash, the r12 double-count window) sees exactly one copy of
    every row, and a view registered BEFORE the compaction keeps
    reading its own epoch's files through the apply and past
    completion under vacuum grace — until an explicit vacuum."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    AI.register_index_view(spark, idx, "pre_view")  # pre-apply snapshot

    real_commit = AI._commit_current

    def _commit_then_crash(r, step):
        real_commit(r, step)
        raise RuntimeError("injected post-swap crash")

    monkeypatch.setattr(AI, "_commit_current", _commit_then_crash)
    with pytest.raises(RuntimeError, match="post-swap"):
        AI.compact_ann_index(spark, idx, vacuum_grace=True)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    # double-copy state exists on disk; BOTH views must hide it
    assert spark.read.parquet(idx).count() > len(expected)
    AI.register_index_view(spark, idx, "mid_view")
    assert _view_rows(spark, "mid_view") == expected
    assert _view_rows(spark, "pre_view") == expected
    # a rerun finds nothing left to do; grace retention keeps the
    # pre-apply view's files on disk, so it STILL reads its snapshot
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _view_rows(spark, "pre_view") == expected
    fresh_epoch = AI.register_index_view(spark, idx, "post_view")
    assert _view_rows(spark, "post_view") == expected
    assert fresh_epoch == int(AI._load_current(root)["epoch"])
    for v in ("pre_view", "mid_view", "post_view"):
        spark.catalog.dropTempView(v)


def test_vacuum_keep_age_sec_horizon(spark, tmp_path):
    """VERDICT r13 #5: the time-based retention horizon. Retired
    entries younger than keep_age_sec stay; entries whose retire
    epoch's committed_utc stamp is older are reclaimed; BOTH horizons
    must pass (conservative intersection with keep_epochs); a
    pre-r14 epoch without a stamp falls back to its history file's
    mtime."""
    import json as _json

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur = AI._load_current(root)
    n_retired = sum(len(e["files"]) for e in cur.get("retired", []))
    assert n_retired > 0
    # young entries: the age horizon keeps everything even at
    # keep_epochs=0
    out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=86_400)
    assert out == {"files_removed": 0, "entries_kept": len(cur["retired"])}
    # age the retire epochs' commit stamps by editing the history
    # files (the stamp is what the horizon measures)
    for ent in cur["retired"]:
        p = root / AI.EPOCHS_DIR / f"epoch-{int(ent['epoch']):08d}.json"
        man = _json.loads(p.read_text())
        man["committed_utc"] = "2020-01-01T00:00:00+00:00"
        p.write_text(_json.dumps(man))
    # both horizons must pass: an un-passed epoch horizon still keeps
    out = AI.vacuum_ann_index(
        idx, keep_epochs=10_000, keep_age_sec=3600
    )
    assert out["files_removed"] == 0
    # aged past the lease and past the epoch horizon: reclaimed
    out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=3600)
    assert out["files_removed"] == n_retired
    assert out["entries_kept"] == 0
    assert _manifest_reader_rows(spark, idx) == expected
    # pre-r14 fallback: a stamp-less epoch history file's mtime decides
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(8000, 8040), shift=3), idx
    )
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur2 = AI._load_current(root)
    if cur2.get("retired"):
        ent = cur2["retired"][0]
        p = root / AI.EPOCHS_DIR / f"epoch-{int(ent['epoch']):08d}.json"
        man = _json.loads(p.read_text())
        man.pop("committed_utc", None)
        p.write_text(_json.dumps(man))
        AI.os.utime(p, (0, 0))  # epoch mtime: 1970 — ancient
        out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=3600)
        assert out["files_removed"] >= len(ent["files"])
    final = _manifest_reader_rows(spark, idx)
    assert len(final) == len(expected) + 40
    assert len({v for v, _ in final}) == len(final)


def test_compaction_commits_one_epoch(spark, tmp_path):
    """VERDICT r14 #1: a multi-cell compaction commits exactly ONE
    epoch (single pending manifest naming every cell's adds/deletes,
    one history write, one swap) — not one per cell. The epoch
    counter advances by 1 and exactly one new history file appears,
    so the per-cell manifest-rewrite cost (0.506 s at 1e5 files per
    SOAK_r14's curve, times K cells) is gone by construction."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    epochs0 = AI.index_epochs(idx)
    res = AI.compact_ann_index(spark, idx)
    assert res["cells_compacted"] > 1, "need a multi-cell run"
    assert res["epochs_committed"] == 1
    assert int(AI._load_current(root)["epoch"]) == e0 + 1
    assert AI.index_epochs(idx) == epochs0 + [e0 + 1]
    assert _manifest_reader_rows(spark, idx) == expected
    # grace mode: also one epoch, and ONE retired-ledger entry
    # covering the whole compaction
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(6000, 6040), shift=3), idx
    )
    e1 = int(AI._load_current(root)["epoch"])
    res = AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert res["epochs_committed"] == 1
    cur = AI._load_current(root)
    assert int(cur["epoch"]) == e1 + 1
    new_entries = [
        ent for ent in cur.get("retired", []) if int(ent["epoch"]) == e1 + 1
    ]
    assert len(new_entries) == 1
    assert len(new_entries[0]["files"]) >= res["cells_compacted"]


def test_refresh_index_view_and_auto_refresh(spark, tmp_path):
    """VERDICT r14 #3: refresh_index_view advances a registered view
    to the current epoch in one call; refresh_on_commit=True views
    advance automatically at every epoch commit this process makes
    (append, compaction) while plain views stay pinned; an epoch= pin
    plus auto-refresh is rejected as contradictory."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    e0 = AI.register_index_view(spark, idx, "rv_manual")
    assert AI.register_index_view(
        spark, idx, "rv_auto", refresh_on_commit=True
    ) == e0
    before = _view_rows(spark, "rv_manual")
    assert _view_rows(spark, "rv_auto") == before

    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9000, 9040), shift=3), idx
    )
    # the commit auto-refreshed rv_auto; rv_manual stays its snapshot
    assert _view_rows(spark, "rv_manual") == before
    after = _view_rows(spark, "rv_auto")
    assert len(after) == len(before) + 40
    assert len({v for v, _ in after}) == len(after)
    # one explicit refresh catches rv_manual up
    e1 = AI.refresh_index_view(spark, "rv_manual")
    assert e1 > e0
    assert _view_rows(spark, "rv_manual") == after

    # a grace compaction's single-epoch commit refreshes the auto
    # view too — exactly-once through maintenance
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _view_rows(spark, "rv_auto") == after
    assert _view_rows(spark, "rv_manual") == after  # grace: files kept

    # contradictory pin
    with pytest.raises(ValueError, match="refresh_on_commit"):
        AI.register_index_view(
            spark, idx, "rv_bad", epoch=1, refresh_on_commit=True
        )
    # unknown view
    with pytest.raises(RuntimeError, match="no index view"):
        AI.refresh_index_view(spark, "rv_never_registered")

    # dropping removes the pin: later commits no longer touch it
    AI.drop_index_view(spark, "rv_auto")
    AI.drop_index_view(spark, "rv_manual")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9500, 9510), shift=3), idx
    )
    with pytest.raises(Exception):
        spark.table("rv_auto")


def test_view_pins_are_session_scoped(spark, tmp_path):
    """Temp views are session-scoped, so the refresh pins must be
    too: a same-named view registered on a second SparkSession
    (spark.newSession()) must not clobber the first session's pin —
    each session's view keeps its own snapshot/refresh behavior, and
    dropping from one session leaves the other's pin (and any later
    auto-refresh of it) intact."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    s2 = spark.newSession()
    AI.register_index_view(spark, idx, "rv_scoped", refresh_on_commit=True)
    before = _view_rows(spark, "rv_scoped")
    # same NAME on a second session: a plain snapshot pin — must not
    # overwrite session 1's auto pin
    AI.register_index_view(s2, idx, "rv_scoped")
    assert _view_rows(s2, "rv_scoped") == before

    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9600, 9630), shift=3), idx
    )
    # session 1's auto view advanced; session 2's manual snapshot
    # stays pinned (pre-fix, s2's registration clobbered the pin and
    # rv_scoped on session 1 silently stopped auto-refreshing)
    assert len(_view_rows(spark, "rv_scoped")) == len(before) + 30
    assert _view_rows(s2, "rv_scoped") == before

    # an explicit refresh on session 2 resolves ITS pin
    AI.refresh_index_view(s2, "rv_scoped")
    assert len(_view_rows(s2, "rv_scoped")) == len(before) + 30

    # dropping session 2's view leaves session 1's pin + view alone
    AI.drop_index_view(s2, "rv_scoped")
    with pytest.raises(RuntimeError, match="for this session"):
        AI.refresh_index_view(s2, "rv_scoped")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9650, 9660), shift=3), idx
    )
    assert len(_view_rows(spark, "rv_scoped")) == len(before) + 40
    AI.drop_index_view(spark, "rv_scoped")


def test_register_index_view_single_manifest_load(spark, tmp_path, monkeypatch):
    """ADVICE r14 #2: the default-epoch registration resolves the
    pinned epoch AND the view's file set from ONE _current.json load,
    so a commit can never land between two reads and return an epoch
    number that mismatches the pinned files."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    real_load = AI._load_current
    calls = {"n": 0}

    def counting_load(root):
        calls["n"] += 1
        return real_load(root)

    monkeypatch.setattr(AI, "_load_current", counting_load)
    pinned = AI.register_index_view(spark, idx, "rv_once")
    monkeypatch.setattr(AI, "_load_current", real_load)
    assert calls["n"] == 1
    assert pinned == int(AI._load_current(AI.Path(idx))["epoch"])
    assert len(_view_rows(spark, "rv_once")) == 200
    AI.drop_index_view(spark, "rv_once")


def test_empty_manifest_resolves_empty_not_retired(spark, tmp_path):
    """ADVICE r14 #3: when the manifest exists but names NO live files
    (everything retired under grace), the index relation must resolve
    EMPTY — a directory-listing fallback would fold the grace-retired
    files still on disk back into the result."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    root = AI.Path(idx)
    cur = AI._load_current(root)
    # retire EVERYTHING: manifest-correct answer is now the empty set,
    # with all data files still physically on disk
    all_files = [
        f"{cell}/{n}" for cell, v in cur["files"].items() for n in v
    ]
    AI._commit_current(
        root,
        lambda prev: {
            "files": {},
            "retired": [{"epoch": int(prev["epoch"]) + 1, "files": all_files}],
        },
    )
    assert spark.read.parquet(idx).count() == 80  # retired bytes exist
    assert AI._read_index(spark, idx).count() == 0
    assert AI._read_index(spark, idx, cells=[0, 1, 2]).count() == 0
    epoch = int(AI._load_current(root)["epoch"])
    assert AI.read_index_at(spark, idx, epoch).count() == 0
    # the view route pins the same empty snapshot
    assert AI.register_index_view(spark, idx, "rv_empty") == epoch
    assert spark.table("rv_empty").count() == 0
    AI.drop_index_view(spark, "rv_empty")


def test_auto_refresh_failure_drops_pin_not_commit(spark, tmp_path):
    """A broken refresh_on_commit pin (a stopped session's stale
    registration) must not poison the commit path: the epoch commit
    is already durable when the hook runs, so the pin is dropped with
    a warning and the commit succeeds."""
    import warnings as _warnings

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    AI.register_index_view(spark, idx, "rv_broken", refresh_on_commit=True)
    # break the pin the way a dead session would: its createOrReplace
    # raises on use
    class _DeadSession:
        def __getattr__(self, item):
            raise RuntimeError("session is stopped")

    # pins hold weakref-shaped callables (r16): substitute one that
    # derefs to the broken session
    dead = _DeadSession()
    AI._VIEW_PINS[(id(spark), "rv_broken")]["spark"] = lambda: dead
    before = _manifest_reader_rows(spark, idx)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        AI.append_ann_index(
            spark, _synth_embeddings(spark, range(9700, 9720), shift=3), idx
        )
    assert any("rv_broken" in str(w.message) for w in caught)
    assert (id(spark), "rv_broken") not in AI._VIEW_PINS  # pin dropped
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == len(before) + 20  # the commit itself landed
    # later commits are clean (no stale pin left behind)
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9800, 9820), shift=3), idx
    )
    spark.catalog.dropTempView("rv_broken")


# ---- r16: ADVICE closures + view-pin lifecycle ---------------------


def test_vacuum_tolerates_already_unlinked_retired(spark, tmp_path):
    """ADVICE r15 #5: a retired file already gone (a second
    maintainer's reclaim between any exists-check and the unlink)
    is the outcome vacuum wants — the loop must carry on, counting
    only the files it actually removed."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur = AI._load_current(root)
    retired = [f for ent in cur.get("retired", []) for f in ent["files"]]
    assert len(retired) >= 2
    (root / retired[0]).unlink()  # simulate the racing reclaim
    res = AI.vacuum_ann_index(idx, keep_epochs=0)
    assert res["files_removed"] == len(retired) - 1
    assert res["entries_kept"] == 0
    assert not AI._load_current(root).get("retired")


def test_empty_manifest_resolves_after_physical_vacuum(spark, tmp_path):
    """ADVICE r15 #2: when the manifest names no live files AND the
    directory holds no parquet files at all (everything physically
    vacuumed), the read must still resolve an EMPTY frame with the
    index's schema (persisted in _ann_meta.json at build) — the
    directory-listing fallback raises schema-inference errors here."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    root = AI.Path(idx)
    cur = AI._load_current(root)
    all_files = [
        f"{cell}/{n}" for cell, v in cur["files"].items() for n in v
    ]
    AI._commit_current(
        root,
        lambda prev: {
            "files": {},
            "retired": [{"epoch": int(prev["epoch"]) + 1, "files": all_files}],
        },
    )
    AI.vacuum_ann_index(idx, keep_epochs=0)  # physically reclaim all
    assert not list(root.glob("cell=*/*.parquet"))
    for df in (
        AI._read_index(spark, idx),
        AI._read_index(spark, idx, cells=[0, 1, 2]),
    ):
        assert df.count() == 0
        assert df.columns == ["vec_id", "norm", "embedding", "codes", "cell"]


def test_view_pin_dropped_when_session_collected(spark, tmp_path):
    """VERDICT r15 #4: a session that dies without drop_index_view
    must not pin itself (or its refresh bookkeeping) into the
    process-global registries forever — the weakref.finalize pops the
    pin at collection, and the next commit's auto-refresh skips it
    without warning noise."""
    import gc
    import warnings as _warnings
    import weakref as _weakref

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    s2 = spark.newSession()
    AI.register_index_view(s2, idx, "rv_gc", refresh_on_commit=True)
    key = (id(s2), "rv_gc")
    assert key in AI._VIEW_PINS and key in AI._PIN_FINALIZERS
    # re-pinning must not stack finalizers (one per live pin key)
    fin = AI._PIN_FINALIZERS[key]
    AI.refresh_index_view(s2, "rv_gc")
    assert AI._PIN_FINALIZERS[key] is fin
    ref = _weakref.ref(s2)
    del s2
    # classic PySpark monkey-patches RDD.toDF with a closure over the
    # most recently CONSTRUCTED session, which pins it until the next
    # session construction displaces the patch — make one so the
    # dropped session is actually collectable
    displace = spark.newSession()  # noqa: F841
    gc.collect()
    assert ref() is None, "test session unexpectedly kept alive"
    assert key not in AI._VIEW_PINS
    assert key not in AI._PIN_FINALIZERS
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        AI.append_ann_index(
            spark, _synth_embeddings(spark, range(9900, 9910), shift=3), idx
        )
    assert not [w for w in caught if "rv_gc" in str(w.message)]


def test_drop_index_view_detaches_finalizer(spark, tmp_path):
    """drop_index_view removes pin AND finalizer — session collection
    after an explicit drop has nothing left to clean."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    AI.register_index_view(spark, idx, "rv_detach")
    key = (id(spark), "rv_detach")
    fin = AI._PIN_FINALIZERS[key]
    AI.drop_index_view(spark, "rv_detach")
    assert key not in AI._VIEW_PINS
    assert key not in AI._PIN_FINALIZERS
    assert not fin.alive


# ---- put-if-absent epoch commits: concurrent writers ---------------


def _commit_worker(idx, w):
    """One of the multi-process committers (module level, so the
    spawn start method can pickle it by name)."""
    for i in range(25):
        AI._commit_current(
            AI.Path(idx), AI._adding({f"cell={i % 4}": [f"w{w}-{i}.parquet"]})
        )


def test_put_if_absent_commits_from_four_processes(tmp_path):
    """The commit point itself, no Spark: four processes commit 25
    epochs each with distinct adds. Every put that loses a race
    rebases onto the winner, so the epochs are contiguous 1..101 and
    the final epoch names every add exactly once — no commit is lost
    to a read-modify-write race."""
    import multiprocessing

    root = tmp_path / "idx"
    root.mkdir()
    AI._commit_current(root, lambda prev: {"files": {"cell=0": ["seed.parquet"]}})
    ctx = multiprocessing.get_context("spawn")
    procs = [
        ctx.Process(target=_commit_worker, args=(str(root), w)) for w in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(300)
    assert [p.exitcode for p in procs] == [0] * 4
    assert AI.index_epochs(str(root)) == list(range(1, 102))
    assert sorted(f.name for f in (root / AI.EPOCHS_DIR).glob("epoch-*.json")) == [
        f"epoch-{n:08d}.json" for n in range(1, 102)
    ]
    names = [n for v in AI._load_current(root)["files"].values() for n in v]
    assert sorted(names) == sorted(
        ["seed.parquet"] + [f"w{w}-{i}.parquet" for w in range(4) for i in range(25)]
    )


def test_concurrent_appenders_both_commit_no_loss(spark, tmp_path, monkeypatch):
    """Two appenders racing the same index: both derive their epoch
    from the same predecessor, one put wins, the other collides and
    rebases onto the winner — both batches land, no duplicate ids."""
    import threading

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    before = len(_manifest_reader_rows(spark, idx))
    e0 = int(AI._load_current(root)["epoch"])
    real = AI._commit_current
    gate = threading.Barrier(2, timeout=120)
    prevs = []

    def commit(r, step):
        attempts = []

        def synced(prev):
            prevs.append(int(prev["epoch"]))
            attempts.append(prev)
            out = step(prev)
            if len(attempts) == 1:
                gate.wait()  # both appenders hold a step on one epoch
            return out

        return real(r, synced)

    monkeypatch.setattr(AI, "_commit_current", commit)
    errors: list[BaseException] = []

    def run(lo):
        try:
            AI.append_ann_index(
                spark, _synth_embeddings(spark, range(lo, lo + 10), shift=3), idx
            )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(lo,)) for lo in (6000, 6100)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    monkeypatch.setattr(AI, "_commit_current", real)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(prevs) == [e0, e0, e0 + 1]  # one collision, one rebase
    assert int(AI._load_current(root)["epoch"]) == e0 + 2
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == before + 20
    assert len({v for v, _ in after}) == len(after)  # no dup vec_ids


def test_append_racing_compaction_rebases_no_loss(spark, tmp_path, monkeypatch):
    """An append and a compaction racing on one index, in two threads:
    the compaction derives its epoch from the pre-append snapshot, the
    append then takes that epoch number, and the compaction's put
    collides — it rebases onto the append's epoch (every file it
    replaces is still live) instead of overwriting it. Every row lands
    once, and a second compaction folds the appended files in."""
    import threading

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    before = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    real = AI._commit_current
    stepped, appended = threading.Event(), threading.Event()
    seen = []

    def commit(r, step):
        if threading.current_thread().name == "appender":
            stepped.wait(120)  # the compaction has derived its epoch
            out = real(r, step)
            appended.set()
            return out

        def step_then_yield(prev):
            seen.append(int(prev["epoch"]))
            out = step(prev)
            stepped.set()
            appended.wait(120)  # ...and the append takes its number
            return out

        return real(r, step_then_yield)

    monkeypatch.setattr(AI, "_commit_current", commit)
    errors: list[BaseException] = []
    batch = _synth_embeddings(spark, range(7000, 7030), shift=3)

    def run(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)
            stepped.set()
            appended.set()

    threads = [
        threading.Thread(
            name="appender",
            target=run,
            args=(lambda: AI.append_ann_index(spark, batch, idx),),
        ),
        threading.Thread(
            name="compactor",
            target=run,
            args=(lambda: AI.compact_ann_index(spark, idx),),
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    monkeypatch.setattr(AI, "_commit_current", real)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen == [e0, e0 + 1]  # collided once, rebased onto the append
    assert int(AI._load_current(root)["epoch"]) == e0 + 2
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == len(before) + 30
    assert len({v for v, _ in after}) == len(after)
    AI.compact_ann_index(spark, idx)
    assert _manifest_reader_rows(spark, idx) == after
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans


def _named_and_on_disk(root):
    cur = AI._load_current(root)
    named = {f"{c}/{n}" for c, v in cur["files"].items() for n in v}
    on_disk = {f"{f.parent.name}/{f.name}" for f in root.glob("cell=*/*.parquet")}
    return named, on_disk


def test_compaction_aborts_when_its_deletes_are_gone(spark, tmp_path, monkeypatch):
    """A compaction whose input files a rival compaction replaced
    first cannot rebase: it unlinks its own compacted files and
    raises, committing nothing — the rival's epoch stands, the disk
    holds exactly what it names, every row once."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    real = AI._commit_current

    def rival_first(r, step):
        monkeypatch.setattr(AI, "_commit_current", real)
        assert AI.compact_ann_index(spark, idx)["epochs_committed"] == 1
        return real(r, step)

    monkeypatch.setattr(AI, "_commit_current", rival_first)
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        AI.compact_ann_index(spark, idx)
    assert int(AI._load_current(root)["epoch"]) == e0 + 1
    named, on_disk = _named_and_on_disk(root)
    assert on_disk == named
    assert _manifest_reader_rows(spark, idx) == expected


def test_uncommitted_files_never_fold_into_later_epochs(
    spark, tmp_path, monkeypatch
):
    """Files a crashed writer landed but never committed stay out of
    every later epoch: a compaction crashed at its epoch put leaves
    ``compact-*`` files a later append does not pick up; a stream
    batch crashed at its put leaves ``b5-*`` files a compaction does
    not fold in, and its replay lands it once. Vacuum reclaims such
    files (and stale ``_staging`` dirs) only with ``keep_age_sec`` set,
    and only once they are that old."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)

    def crash_at_put(fn):
        crash = _CrashAtSite.patch(monkeypatch, "history")
        with pytest.raises(RuntimeError, match="injected"):
            fn()
        monkeypatch.setattr(AI.os, crash.fn, crash.real)

    crash_at_put(lambda: AI.compact_ann_index(spark, idx))
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(7000, 7020), shift=3), idx
    )
    after_append = _manifest_reader_rows(spark, idx)
    assert len(after_append) == len(expected) + 20
    assert len({v for v, _ in after_append}) == len(after_append)
    batch = _synth_embeddings(spark, range(8000, 8020), shift=3)
    crash_at_put(lambda: AI.ann_index_stream_writer(idx)(batch, 5))
    AI.compact_ann_index(spark, idx)
    assert _manifest_reader_rows(spark, idx) == after_append
    AI.ann_index_stream_writer(idx)(batch, 5)  # the replay
    final = _manifest_reader_rows(spark, idx)
    assert len(final) == len(after_append) + 20
    assert len({v for v, _ in final}) == len(final)
    # the crashed compaction's files: named by no epoch, kept until
    # they are keep_age_sec old
    named, on_disk = _named_and_on_disk(root)
    orphans = on_disk - named
    assert orphans and all(o.split("/")[1].startswith("compact-") for o in orphans)
    assert AI.vacuum_ann_index(idx)["files_removed"] == 0
    assert AI.vacuum_ann_index(idx, keep_age_sec=3600)["files_removed"] == 0
    for o in orphans:
        AI.os.utime(root / o, (0, 0))
    # a hard-killed writer's staging dir goes by the same age rule
    stale = root / AI.STAGING_DIR / "append-killed"
    stale.mkdir(parents=True)
    AI.os.utime(stale, (0, 0))
    out = AI.vacuum_ann_index(idx, keep_age_sec=3600)
    assert out["files_removed"] == len(orphans)
    assert not stale.exists()
    named, on_disk = _named_and_on_disk(root)
    assert on_disk == named
    assert _manifest_reader_rows(spark, idx) == final
