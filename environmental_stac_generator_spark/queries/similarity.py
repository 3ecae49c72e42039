"""Similarity search over embeddings (SURVEY §2.11 north-star).

Brute-force cosine top-k as the exact baseline, plus a
random-hyperplane LSH bucketing as the 100 TB scale path. Per-probe
dot products stay JVM-side as ``zip_with`` + ``aggregate`` higher-
order functions; the bulk PAIR-stage cosines (SemDeDup, embedding
near-dup) run in a bit-exact vectorized Arrow kernel
(:func:`_pair_cosines_arrow` — HOFs are never whole-stage-codegen'd,
so the interpreted per-pair dot dominated those stages). The probe
side is always broadcast — the big embeddings table is never
shuffled.

At scale: brute-force is one broadcast-join map pass O(n·d) — fine
for one probe; the LSH variant buckets the corpus once (one map
pass + one small shuffle) and then answers probes by scanning the
probe's Hamming-radius-2 bucket NEIGHBORHOOD (``ann_lsh_multiprobe``,
Lv et al. 2007 — the DEFAULT probe path; the single-bucket
``ann_lsh_probe`` is kept only for bit-exact oracle checkability,
its measured recall@10 being ~0). For materialized, partition-pruned
probing see ``queries/ann_index.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from environmental_stac_generator_spark.functions.rounding import rnd
from environmental_stac_generator_spark.plan_policy import (
    driver_readable,
    provably_small,
    table_rows,
)
from environmental_stac_generator_spark.registry import register
from environmental_stac_generator_spark.tables import load

N_PLANES = 8  # LSH hyperplanes -> 2^8 buckets


def _dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-order double-precision dot product of two float
    array columns — bit-identical to a C loop, so oracle-comparable."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: str | Column, b: str | Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _np_rnd(x, n: int = 5):
    """Numpy twin of :func:`functions.rounding.rnd` INCLUDING Spark
    ``floor()``'s double→long cast semantics (NaN → 0, saturation at
    the long bounds) — plain IEEE arithmetic, bit-identical."""
    import numpy as np

    scale = float(10**n)
    v = np.floor(x * scale + 0.5)
    lmax = 9.223372036854776e18  # double(Long.MAX) == double(Long.MIN) magnitude
    v = np.where(np.isnan(v), 0.0, np.clip(v, -lmax, lmax))
    return v / scale


_PAIR_COLS = ("vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b")


def _pair_cosines_arrow(
    pairs: DataFrame, threshold: float, filter_raw: bool
) -> DataFrame:
    """(vec_a, vec_b, cosine) survivors of a candidate-pair frame's
    cosine threshold — the vectorized Arrow twin of the JVM
    explode-barrier projection (guide §4.2: hand whole batches to
    native code instead of per-row interpreted expressions).

    BIT-EXACT by construction, so the oracle surface is unchanged:

    - the dot product accumulates DIM-SEQUENTIALLY across the batch
      (``acc += A[:, i] * B[:, i]`` for i in 0..d-1) — each step is
      one IEEE-754 float64 multiply-add per pair in exactly the
      left-to-right order of the ``aggregate(zip_with(...))`` HOF,
      and float32 → float64 widening is exact;
    - rounding is :func:`_np_rnd`, the bit twin of ``rnd`` including
      Spark ``floor``'s NaN→0 / long-saturation cast;
    - Spark comparison semantics are replicated: NULL cosine drops
      the pair, NaN compares GREATER than the threshold (pinned by
      tests/test_pair_kernel.py). A null norm covers every
      null-element case (the norm is the self-dot of the same
      array), and cross-pair raggedness (len(a) != len(b) → NULL
      dot) is dropped via the length check.

    ``filter_raw=True`` filters on the raw quotient and emits the
    rounded value (the ``embedding_near_dup`` contract);
    ``filter_raw=False`` rounds first and filters on the rounded
    value (the ``semantic_pairs_of`` contract).

    Why a Python stage at all: Catalyst higher-order functions are
    never whole-stage-codegen'd — the interpreted per-pair dot
    measured ~61 s CPU on the bench's semdedup pair stage alone.
    The kernel trades one Arrow transfer of (ids, embeddings, norms)
    — only the columns it needs — for a ~20x cheaper metric, and the
    win grows with pair volume at scale."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_t = pairs.schema["vec_a"].dataType
    out_schema = StructType(
        [
            StructField("vec_a", id_t),
            StructField("vec_b", id_t),
            StructField("cosine", DoubleType()),
        ]
    )
    thr = float(threshold)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            va, vb, ea, eb, na, nb = (rb.column(i) for i in range(6))
            len_a = np.full(n, -1, dtype=np.int64)
            len_b = np.full(n, -2, dtype=np.int64)
            off_a = np.asarray(ea.offsets)
            off_b = np.asarray(eb.offsets)
            lav = np.diff(off_a)
            lbv = np.diff(off_b)
            ok_list_a = (
                np.ones(n, dtype=bool)
                if ea.null_count == 0
                else np.asarray(ea.is_valid())
            )
            ok_list_b = (
                np.ones(n, dtype=bool)
                if eb.null_count == 0
                else np.asarray(eb.is_valid())
            )
            len_a[ok_list_a] = lav[ok_list_a]
            len_b[ok_list_b] = lbv[ok_list_b]
            ok_n = np.ones(n, dtype=bool)
            if na.null_count:
                ok_n &= np.asarray(na.is_valid())
            if nb.null_count:
                ok_n &= np.asarray(nb.is_valid())
            valid = ok_list_a & ok_list_b & ok_n & (len_a == len_b)
            rows = np.flatnonzero(valid)
            if not len(rows):
                continue
            vals_a = np.asarray(ea.values, dtype=np.float64)
            vals_b = np.asarray(eb.values, dtype=np.float64)
            na_np = np.asarray(na, dtype=np.float64)
            nb_np = np.asarray(nb, dtype=np.float64)
            # ANSI twin: Spark 4 runs with ANSI on, where a ZERO
            # divisor in the JVM cosine is a DIVIDE_BY_ZERO error
            # (a NaN/null divisor is not) — a zero-norm pair must
            # fail the query here exactly as it fails the HOF path.
            div = na_np[rows] * nb_np[rows]
            if np.any(div == 0.0):
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding in cosine "
                    "pair stage (ANSI twin of the JVM expression)"
                )
            cos = np.empty(len(rows), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                for length in np.unique(len_a[rows]):
                    grp = np.flatnonzero(len_a[rows] == length)
                    r = rows[grp]
                    acc = np.zeros(len(r), dtype=np.float64)
                    if length:
                        ia = off_a[r][:, None] + np.arange(length)
                        ib = off_b[r][:, None] + np.arange(length)
                        A = vals_a[ia]
                        B = vals_b[ib]
                        # dim-sequential: the HOF's left-to-right order
                        for i in range(int(length)):
                            acc += A[:, i] * B[:, i]
                    cos[grp] = acc / div[grp]
                rounded = _np_rnd(cos, 5)
            val = cos if filter_raw else rounded
            keep = np.flatnonzero(np.isnan(val) | (val >= thr))
            if not len(keep):
                continue
            sel = pa.array(rows[keep])
            yield pa.RecordBatch.from_arrays(
                [
                    va.take(sel),
                    vb.take(sel),
                    pa.array(rounded[keep], type=pa.float64()),
                ],
                names=["vec_a", "vec_b", "cosine"],
            )

    return pairs.select(*_PAIR_COLS).mapInArrow(run, out_schema)


def _pair_index_chunks(m: int, max_pairs: int = 1 << 20):
    """Yield (ia, ib) index arrays enumerating the ordered pairs of
    range(m) (ia < ib) in at-most-``max_pairs`` chunks, so a 10k-row
    cluster's 50M pairs never materialize as one index array."""
    import numpy as np

    i = 0
    while i < m - 1:
        cnt, j = 0, i
        while j < m - 1 and cnt + (m - 1 - j) <= max_pairs:
            cnt += m - 1 - j
            j += 1
        if j == i:  # one row's tail alone exceeds the budget
            j = i + 1
        rows = np.arange(i, j)
        ia = np.repeat(rows, m - 1 - rows)
        ib = np.concatenate([np.arange(k + 1, m) for k in rows])
        yield ia, ib
        i = j


def _cluster_pair_cosines(members: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine) within-cluster pairs of a (cluster,
    vec_id, embedding, nrm) frame whose clusters the CALLER has
    already bounded (mega clusters route to the blocked path) —
    pair enumeration AND metric run in one vectorized applyInArrow
    kernel.

    Why this shape (guide §4.2 / §8): the Python boundary carries
    each member ONCE (O(members·d)) instead of each candidate pair
    twice (O(pairs·d)) — the pairs-through-Arrow variant measured a
    wash at bench scale because serializing ~250k duplicated
    embeddings cost as much as the interpreted dots it replaced, and
    the JVM HOF variant pays ~61 s CPU of interpreted per-pair dot
    on the same stage. Here a cluster's members land in numpy once
    and all pair cosines come out of d vectorized multiply-adds per
    pair.

    Bit-exactness mirrors :func:`_pair_cosines_arrow`: the dot
    accumulates dim-sequentially (the HOF's left-to-right order),
    rounding is :func:`_np_rnd`, the threshold filter runs on the
    ROUNDED value (the semantic_pairs_of contract), cross-length
    pairs drop (NULL dot), members with null norms drop (covers
    null/null-element embeddings), and a zero divisor among
    evaluated pairs raises — the ANSI twin. Pinned by
    tests/test_pair_kernel.py."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_t = members.schema["vec_id"].dataType
    out_schema = StructType(
        [
            StructField("vec_a", id_t),
            StructField("vec_b", id_t),
            StructField("cosine", DoubleType()),
        ]
    )
    thr = float(threshold)

    def kernel(tbl):
        import pyarrow as pa

        def empty():
            return pa.table(
                {
                    "vec_a": pa.array([], tbl.column("vec_id").type),
                    "vec_b": pa.array([], tbl.column("vec_id").type),
                    "cosine": pa.array([], pa.float64()),
                }
            )

        n = tbl.num_rows
        if n < 2:
            return empty()
        vid = tbl.column("vec_id").combine_chunks()
        emb = tbl.column("embedding").combine_chunks()
        nrm = tbl.column("nrm").combine_chunks()
        ids = np.asarray(vid)
        ok = np.ones(n, dtype=bool)
        if emb.null_count:
            ok &= np.asarray(emb.is_valid())
        if nrm.null_count:
            ok &= np.asarray(nrm.is_valid())
        rows = np.flatnonzero(ok)
        if len(rows) < 2:
            return empty()
        nr = np.asarray(nrm, dtype=np.float64)
        off = np.asarray(emb.offsets)
        lens = np.diff(off)
        vals = np.asarray(emb.values, dtype=np.float64)
        out_a, out_b, out_c = [], [], []
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            for length in np.unique(lens[rows]):
                grp = rows[lens[rows] == length]
                if len(grp) < 2:
                    continue
                g = grp[np.argsort(ids[grp], kind="stable")]
                m = len(g)
                L = int(length)
                X = (
                    vals[off[g][:, None] + np.arange(L)]
                    if L
                    else np.zeros((m, 0), dtype=np.float64)
                )
                gn, gid = nr[g], ids[g]
                for ia, ib in _pair_index_chunks(m):
                    div = gn[ia] * gn[ib]
                    # ANSI twin, scoped to SAME-LENGTH pairs (ADVICE
                    # r16): the JVM only throws DIVIDE_BY_ZERO where
                    # the dot is non-null — a cross-length pair's NULL
                    # dot short-circuits the ANSI Divide to NULL
                    # before the zero-divisor check — so the raise
                    # tests the exact per-pair product the JVM
                    # divides by (zero*NaN / zero*inf are NaN, never
                    # a throw).
                    if np.any(div == 0.0):
                        raise ArithmeticError(
                            "[DIVIDE_BY_ZERO] zero-norm embedding in "
                            "cosine pair stage (ANSI twin of the JVM "
                            "expression)"
                        )
                    acc = np.zeros(len(ia), dtype=np.float64)
                    for d in range(L):
                        acc += X[ia, d] * X[ib, d]
                    rounded = _np_rnd(acc / div, 5)
                    keep = np.isnan(rounded) | (rounded >= thr)
                    if keep.any():
                        out_a.append(gid[ia[keep]])
                        out_b.append(gid[ib[keep]])
                        out_c.append(rounded[keep])
        if not out_a:
            return empty()
        return pa.table(
            {
                "vec_a": pa.array(np.concatenate(out_a), vid.type),
                "vec_b": pa.array(np.concatenate(out_b), vid.type),
                "cosine": pa.array(np.concatenate(out_c), pa.float64()),
            }
        )

    return (
        members.select("cluster", "vec_id", "embedding", "nrm")
        .groupBy("cluster")
        .applyInArrow(kernel, out_schema)
    )


def _id_range_rows(e: DataFrame, hi: int, lo: int | None = None) -> list:
    """``sorted`` (vec_id, embedding) rows with ``lo <= vec_id < hi``
    (``lo=None`` → no lower bound) — the centroid/plane/codebook
    bootstrap fetch shared by every probe query. When ``e`` is the
    UNMODIFIED frame of a single bounded parquet file
    (``tables.load`` stamps it), the rows come through a driver-side
    pyarrow footer-predicate read: no Spark job, and float32 → Python
    float widening is exact, so values are bit-identical to a collect.
    Any other frame — or a file :func:`plan_policy.driver_readable`
    refuses — takes the Spark collect, unchanged."""
    path = getattr(e, "_envstac_parquet", None)
    rows = None
    if driver_readable(path):
        import collections

        import pyarrow
        import pyarrow.dataset as ds

        flt = ds.field("vec_id") < hi
        if lo is not None:
            flt = (ds.field("vec_id") >= lo) & flt
        try:
            tb = ds.dataset(path).to_table(
                filter=flt, columns=["vec_id", "embedding"]
            )
        except (OSError, pyarrow.ArrowException):
            tb = None
        if tb is not None:
            R = collections.namedtuple("R", ["vec_id", "embedding"])
            rows = [
                R(i, v)
                for i, v in zip(
                    tb["vec_id"].to_pylist(), tb["embedding"].to_pylist()
                )
            ]
    if rows is None:
        cond = F.col("vec_id") < hi
        if lo is not None:
            cond = (F.col("vec_id") >= lo) & cond
        rows = e.filter(cond).select("vec_id", "embedding").collect()
    return sorted(rows, key=lambda r: r.vec_id)


def _probe_embedding(e: DataFrame, probe_id: int = 0):
    """The probe row's embedding (vec_id == ``probe_id``) or None —
    same driver-read fast path as :func:`_id_range_rows`."""
    rows = _id_range_rows(e, probe_id + 1, lo=probe_id)
    return rows[0].embedding if rows else None


def _vec_sql(values) -> str:
    """Driver-side constant vector -> array<double> SQL literal.
    float32 -> double widening is exact and repr() round-trips doubles
    exactly, so the parsed literal is bit-identical to casting the
    stored column. A single SQL string keeps plan construction to ONE
    parser call instead of thousands of Py4J Column round-trips
    (measured 1.7 s -> ~0 of pure driver overhead per query build).
    """
    return "array(" + ",".join(f"{float(v)!r}D" for v in values) + ")"


def _dot_sql(col: str, vec_sql: str) -> str:
    """SQL twin of :func:`_dot` against a literal vector — identical
    sequential-double arithmetic."""
    return (
        f"aggregate(zip_with({col}, {vec_sql}, (x, y) -> cast(x as double) * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id, embedding, bucket — the LSH signature computed MAP-SIDE
    against driver-collected hyperplanes (N_PLANES tiny rows). The
    corpus is never shuffled or cross-joined to get its buckets: at
    100 TB this is a single scan-project stage."""
    # NOT fanned: an r17 interleaved A/B of fan_out=True here read
    # embedding_near_dup 1.15x SLOWER at sf0.1 — the bits+norm map is
    # too cheap at this corpus size to pay the extra exchange, and the
    # pair stage (the heavy side) already parallelizes through its own
    # bucket-keyed shuffle.
    e = load(spark, sf_dir, "embeddings")
    planes = _id_range_rows(e, N_PLANES)
    if not planes:
        # No hyperplanes — EMPTY result, matching the oracle's empty
        # planes-CTE cross join. This branch also fires for a
        # NON-empty corpus whose ids all sit at or above N_PLANES
        # (offset-id corpora): returning every row under one ''
        # bucket there would silently degenerate the bucketed
        # near-dup join into an all-pairs O(n²) self-join.
        return e.filter(F.lit(False)).select(
            "vec_id", "embedding", F.lit("").alias("bucket")
        )
    bits = ", ".join(
        f"CASE WHEN {_dot_sql('embedding', _vec_sql(r.embedding))} >= 0 "
        "THEN '1' ELSE '0' END"
        for r in planes
    )
    return e.select("vec_id", "embedding", F.expr(f"concat({bits})").alias("bucket"))


@register(
    "cosine_topk",
    """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM embeddings e CROSS JOIN probe p
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k: exact nearest neighbors of probe "
    "vec 0; broadcast probe, single map pass over the corpus.",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", rnd(_cosine("embedding", "p"), 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@register(
    "knn_join",
    """
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id < 5
    ),
    sims AS (
      SELECT p.probe_id, e.vec_id,
             floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
      FROM embeddings e CROSS JOIN probes p
      WHERE e.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, cosine FROM (
      SELECT probe_id, vec_id, cosine,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM sims
    ) WHERE rn <= 5
    """,
    doc="k-NN join: top-5 cosine neighbors for each of a broadcast "
    "probe set — the batched form of similarity search.",
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p")
    )
    sims = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id", rnd(_cosine("embedding", "p"), 5).alias("cosine")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", "cosine")
    )


@register(
    "ann_lsh_buckets",
    f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS plane
      FROM embeddings WHERE vec_id < {N_PLANES}
    ),
    bits AS (
      SELECT e.vec_id, p.plane_id,
             CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.plane AS DOUBLE[])) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM embeddings e CROSS JOIN planes p
    )
    SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket
    FROM bits GROUP BY vec_id
    """,
    doc="ANN via random-hyperplane LSH: bucket = sign bits of the dot "
    "product against 8 fixed hyperplanes (deterministically chosen as "
    "the first 8 corpus vectors). One map pass buckets the corpus; "
    "probes then scan a single bucket instead of the full table.",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bucketed(spark, sf_dir).select("vec_id", "bucket")


@register(
    "ann_lsh_probe",
    f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS plane
      FROM embeddings WHERE vec_id < {N_PLANES}
    ),
    bits AS (
      SELECT e.vec_id, p.plane_id, e.embedding,
             CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.plane AS DOUBLE[])) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM embeddings e CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             string_agg(bit, '' ORDER BY plane_id) AS bucket
      FROM bits GROUP BY vec_id
    ),
    probe AS (SELECT embedding AS p, bucket FROM buckets WHERE vec_id = 0)
    SELECT b.vec_id,
           floor((list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM buckets b JOIN probe p ON b.bucket = p.bucket
    WHERE b.vec_id <> 0
    ORDER BY cosine DESC, b.vec_id
    """,
    doc="ANN probe: rank only the probe's LSH bucket by exact cosine — "
    "the candidate set is ~n/2^planes of the corpus. WARNING (do not "
    "consume): single-bucket probing's measured recall@10 is 0.0-0.01 "
    "on the uniform corpus (BENCH ann_recall ladder) — this entry "
    "survives ONLY as the oracle-checkable bit-exact twin; every "
    "consumer path should use ann_lsh_multiprobe (recall ~0.36 mean32 "
    "at the same candidate-cost class) or the IVF family.",
)
def ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_bucketed(spark, sf_dir)
    probe = buckets.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p"), F.col("bucket").alias("probe_bucket")
    )
    return (
        buckets.crossJoin(F.broadcast(probe))
        .filter((F.col("bucket") == F.col("probe_bucket")) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(_cosine("embedding", "p"), 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
    )


MULTIPROBE_R = 2  # probe every bucket within this Hamming radius


def _hamming_terms(a: str, b: str) -> str:
    """SQL Hamming distance between two N_PLANES-char '0'/'1' bucket
    strings — N_PLANES generated per-position terms, identical text
    shape on both engines (substr is 1-indexed in both)."""
    return " + ".join(
        f"(CASE WHEN substr({a}, {i}, 1) <> substr({b}, {i}, 1) "
        "THEN 1 ELSE 0 END)"
        for i in range(1, N_PLANES + 1)
    )


@register(
    "ann_lsh_multiprobe",
    f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS plane
      FROM embeddings WHERE vec_id < {N_PLANES}
    ),
    bits AS (
      SELECT e.vec_id, p.plane_id, e.embedding,
             CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.plane AS DOUBLE[])) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM embeddings e CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             string_agg(bit, '' ORDER BY plane_id) AS bucket
      FROM bits GROUP BY vec_id
    ),
    probe AS (SELECT embedding AS p, bucket FROM buckets WHERE vec_id = 0)
    SELECT b.vec_id,
           floor((list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM buckets b CROSS JOIN probe p
    WHERE ({_hamming_terms('b.bucket', 'p.bucket')}) <= {MULTIPROBE_R}
      AND b.vec_id <> 0
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
    doc=f"Multi-probe LSH ANN (Lv et al. 2007): rank every bucket "
    f"within Hamming distance {MULTIPROBE_R} of the probe's signature "
    "— the recall/cost dial single-bucket LSH lacks (the r8 recall "
    "harness measured the single-bucket probe at 0.0 recall@10 on the "
    "driver corpus: one of 256 buckets holds ~n/256 candidates). "
    f"Radius {MULTIPROBE_R} scans C(8,<=2)=37 of 256 buckets (~14% "
    "of the corpus); at 100 TB with a bucket-partitioned layout this "
    "is 37 partition reads instead of 1 — still pruned, but with "
    "usable recall.",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_bucketed(spark, sf_dir)
    probe = buckets.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p"), F.col("bucket").alias("probe_bucket")
    )
    ham = F.expr(_hamming_terms("bucket", "probe_bucket"))
    return (
        buckets.crossJoin(F.broadcast(probe))
        .filter((ham <= MULTIPROBE_R) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(_cosine("embedding", "p"), 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@register(
    "embedding_near_dup",
    f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS plane
      FROM embeddings WHERE vec_id < {N_PLANES}
    ),
    bits AS (
      SELECT e.vec_id, p.plane_id, e.embedding,
             CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.plane AS DOUBLE[])) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM embeddings e CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             string_agg(bit, '' ORDER BY plane_id) AS bucket
      FROM bits GROUP BY vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-dup (north-star dedup family): LSH "
    "buckets generate candidate pairs (equi-join on bucket — never "
    "the O(n^2) cross join), then exact cosine >= threshold keeps "
    "true near-duplicates. At 100 TB the bucket join shuffles only "
    "same-signature groups; skewed mega-buckets can be salted.",
)
def embedding_near_dup(
    spark: SparkSession, sf_dir: str, max_bucket: int = 10_000
) -> DataFrame:
    # ONE shuffle total on the common path: group members per bucket,
    # then generate the ordered pairs map-side with array HOFs (a
    # self-join would scan and re-bucket the corpus twice — Spark does
    # not reuse the exchange across differently-projected join sides).
    # Mega-bucket memory is the standard LSH caveat: buckets larger
    # than max_bucket (payload here is the whole embedding, so the cap
    # is tighter than the id-only dedup path) skip the collect and go
    # through a bucket-restricted self-join — identical pairs, no
    # executor holding an entire hot bucket in one row.
    # Per-vector norm computed ONCE map-side with the exact expression
    # the per-pair cosine divisor uses (sqrt of the sequential-double
    # self-dot, same bits — the semantic_pairs_of precedent), so the
    # pair stage pays one dot per pair instead of three.
    buckets = _lsh_bucketed(spark, sf_dir).withColumn(
        "nrm", F.sqrt(_dot("embedding", "embedding"))
    )
    grouped_all = (
        buckets.groupBy("bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding", "nrm"))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    # provably-no-mega gate (r16, same CBO posture as
    # dedup.bucket_pairs): no bucket can hold more rows than the
    # corpus, so when footer stats prove the corpus itself at or
    # under max_bucket the big branch is dead plan weight — the
    # grouped relation then has ONE consumer and needs no tracked
    # persist, no size split, no union. Unknown stats (or
    # scale_plans) keep the full skew-safe routing.
    if provably_small(table_rows(sf_dir, "embeddings"), max_bucket):
        pairs = (
            grouped_all.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ms, (a, i) -> "
                        "transform(slice(ms, i + 2, size(ms)), b -> struct(a, b))))"
                    )
                ).alias("p")
            )
            .select(
                F.col("p.a.vec_id").alias("vec_a"),
                F.col("p.b.vec_id").alias("vec_b"),
                F.col("p.a.embedding").alias("emb_a"),
                F.col("p.b.embedding").alias("emb_b"),
                F.col("p.a.nrm").alias("nrm_a"),
                F.col("p.b.nrm").alias("nrm_b"),
            )
        )
        cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
        # single-evaluation barrier: the pushed-down threshold filter
        # would otherwise duplicate the dot into the Filter node. The
        # metric deliberately STAYS JVM-side here (unlike semdedup):
        # LSH buckets prune candidates to near-linear volume, and an
        # interleaved A/B of the Arrow pair kernel measured 1.46x
        # SLOWER at bench scale — per-pair transfer exceeds the one
        # post-norm-precompute dot each pair now pays.
        return (
            pairs.select(
                "vec_a", "vec_b", F.explode(F.array(cos)).alias("_c")
            )
            .filter(F.col("_c") >= 0.35)
            .select("vec_a", "vec_b", rnd(F.col("_c"), 5).alias("cosine"))
            .orderBy("vec_a", "vec_b")
        )
    # persisted via the TRACKED registry (releasable, not a dangling
    # session pin — ADVICE r4): the small/big split consumes this
    # twice, and the reduce-side collect agg re-runs per consumer
    # under bare ReuseExchange (measured ~2x slower on the bench
    # protocol)
    from environmental_stac_generator_spark.operators.lineage import (
        persist_tracked,
    )

    grouped = persist_tracked(grouped_all)
    small_pairs = (
        grouped.filter(F.size("ms") <= max_bucket)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (a, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), b -> struct(a, b))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.vec_id").alias("vec_a"),
            F.col("p.b.vec_id").alias("vec_b"),
            F.col("p.a.embedding").alias("emb_a"),
            F.col("p.b.embedding").alias("emb_b"),
            F.col("p.a.nrm").alias("nrm_a"),
            F.col("p.b.nrm").alias("nrm_b"),
        )
    )
    big = grouped.filter(F.size("ms") > max_bucket).select(
        "bucket", F.explode("ms").alias("m")
    )
    big_pairs = (
        big.select("bucket", F.col("m.vec_id").alias("vec_a"), F.col("m.embedding").alias("emb_a"), F.col("m.nrm").alias("nrm_a"))
        .join(
            big.select("bucket", F.col("m.vec_id").alias("vec_b"), F.col("m.embedding").alias("emb_b"), F.col("m.nrm").alias("nrm_b")),
            "bucket",
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b")
    )
    pairs = small_pairs.unionByName(big_pairs)
    cos = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    # single-evaluation barrier + JVM metric: see the provably-small
    # branch above
    return (
        pairs.select("vec_a", "vec_b", F.explode(F.array(cos)).alias("_c"))
        .filter(F.col("_c") >= 0.35)
        .select("vec_a", "vec_b", rnd(F.col("_c"), 5).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


N_CENTROIDS = 16  # IVF coarse-quantizer cells


# Past this many centroids, splicing K×d double literals into the SQL
# would blow up codegen (VERDICT r3 #4): the centroid set instead
# rides along as ONE broadcast array column and the argmin/argmax runs
# as a transform/aggregate HOF over it — same sequential-double
# arithmetic (zip_with in index order, 0.0-init aggregate, struct
# compare tiebreak), so results are bit-identical; expression size is
# O(1) in K.
K_LITERAL_MAX = 16


def _with_centroid_array(e: DataFrame, rows, schema: str, col: str) -> DataFrame:
    """Attach the centroid set as a single broadcast array column —
    one row cross-joined in, never a per-row expansion or shuffle."""
    cdf = e.sparkSession.createDataFrame([(rows,)], f"{col} {schema}")
    return e.crossJoin(F.broadcast(cdf))


def _argmin_numpy(e: DataFrame, cents) -> DataFrame:
    """e + `_best` via a vectorized Arrow kernel: mapInPandas builds
    the B×K squared-distance matrix with one float64 BLAS matmul per
    batch (expansion ``|x|² - 2x·Cᵀ + |c|²``), so per-row cost is a
    dense matmul row instead of K interpreted HOF evaluations — the
    scale kernel for large K, where Catalyst higher-order functions
    (never whole-stage-codegen'd) evaluate K×d lambda calls per row.
    Measured ~20x faster than the HOF at K≈220, d=64.

    Tiebreak matches ``array_min(struct(d, cid))``: centroids are
    sorted by cid and ``argmin`` returns the FIRST minimum. The
    expansion changes floating-point summation order vs the
    sequential-double HOF, so sqdist low bits (and argmin on
    hairline near-ties) can differ — oracle-compared queries stay on
    the literal/HOF kernels; this one serves the auto-K SemDeDup
    scale path, where the pair-stage cosines are still computed
    JVM-side from the raw embeddings (bit-identical given the same
    clustering)."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    C = np.asarray([vec for _, vec in cents], dtype=np.float64)
    cids = [int(cid) for cid, _ in cents]
    cn = np.einsum("kd,kd->k", C, C)
    schema = StructType(
        list(e.schema.fields)
        + [
            StructField(
                "_best",
                StructType(
                    [
                        StructField("d", DoubleType()),
                        StructField("cid", LongType()),
                    ]
                ),
            )
        ]
    )

    dim = C.shape[1]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # Null / ragged embeddings get a null _best — mirroring
            # the HOF kernel's tolerance (zip_with over a null array
            # yields null) instead of crashing the whole stage in
            # np.stack.
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in pdf["embedding"]),
                dtype=bool,
                count=len(pdf),
            )
            best = [None] * len(pdf)
            if ok.any():
                X = np.stack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v in pdf["embedding"][ok]
                    ]
                )
                d2 = (
                    np.einsum("bd,bd->b", X, X)[:, None]
                    - 2.0 * (X @ C.T)
                    + cn[None, :]
                )
                j = d2.argmin(axis=1)
                for row, (i, jj) in zip(np.flatnonzero(ok), enumerate(j)):
                    best[row] = {"d": float(d2[i, jj]), "cid": cids[jj]}
            yield pdf.assign(_best=best)

    return e.mapInPandas(assign, schema)


def _argmin_sqdist(e: DataFrame, cents, kernel: str = "auto") -> DataFrame:
    """e + `_best` = struct(d, cid) of the nearest centroid (squared
    L2, lowest-cid tiebreak). ``kernel="auto"``: literal centroids
    under K_LITERAL_MAX (codegen'd arithmetic; measured faster than
    the interpreted HOF even though per-round literals churn the
    codegen cache), broadcast centroid-array HOF beyond — both
    bit-exact sequential-double twins. ``kernel="numpy"`` routes to
    the vectorized Arrow kernel (:func:`_argmin_numpy`) for large-K
    scale paths that don't need bit-exact sqdist."""
    if kernel == "numpy":
        return _argmin_numpy(e, cents)
    if len(cents) <= K_LITERAL_MAX:
        scored = "array(" + ", ".join(
            f"struct({_sqdist_sql(_vec_sql(vec))} AS d, {cid}L AS cid)"
            for cid, vec in cents
        ) + ")"
        return e.withColumn("_best", F.expr(f"array_min({scored})"))
    rows = [{"cid": int(cid), "vec": [float(v) for v in vec]} for cid, vec in cents]
    return _with_centroid_array(
        e, rows, "array<struct<cid:bigint,vec:array<double>>>", "_cents"
    ).withColumn(
        "_best",
        F.expr(
            "array_min(transform(_cents, c -> struct("
            "aggregate(zip_with(embedding, c.vec, "
            "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            "0.0D, (acc, v) -> acc + v) AS d, c.cid AS cid)))"
        ),
    ).drop("_cents")




@register(
    "ivf_ann_probe",
    f"""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(c.centroid AS DOUBLE[])) DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (
      SELECT vec_id, embedding, centroid_id AS cell FROM scored WHERE rn = 1
    ),
    probe AS (SELECT embedding AS p, cell FROM cells WHERE vec_id = 0)
    SELECT c.vec_id,
           floor((list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM cells c JOIN probe p ON c.cell = p.cell
    WHERE c.vec_id <> 0
    ORDER BY cosine DESC, c.vec_id
    """,
    doc="IVF-style ANN: assign every vector to its nearest of "
    f"{N_CENTROIDS} fixed coarse centroids (argmax cosine, "
    "deterministic id tiebreak), then answer the probe by ranking "
    "only its cell. The centroid table is broadcast; assignment is "
    "one map pass over the corpus — the inverted-file layout is a "
    "partitionBy(cell) write, so probes prune to one partition.",
)
def ivf_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Assignment is MAP-SIDE: argmax over N_CENTROIDS literal vectors
    # via array_max of (cosine, -centroid_id) structs — struct compare
    # is (cosine, then -id), so ties pick the lowest id, matching the
    # oracle's row_number tiebreak. No cross join, no window shuffle:
    # the corpus is scanned exactly once.
    e = load(spark, sf_dir, "embeddings")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:  # empty corpus: no cells, no probe
        return e.select(
            "vec_id", F.lit(None).cast("double").alias("cosine")
        ).limit(0)
    cells = _ivf_cells_of(e, cents)
    probe = _ivf_probe_cell(cents)
    if probe is None:  # probe vector absent: no result set
        return cells.select(
            "vec_id", F.lit(None).cast("double").alias("cosine")
        ).limit(0)
    probe_vec, p_norm, probe_cell = probe
    cos = F.expr(_dot_sql("embedding", _vec_sql(probe_vec))) / (
        F.col("_norm") * F.lit(p_norm)
    )
    return (
        cells.filter((F.col("cell") == F.lit(probe_cell)) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(cos, 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
    )


NPROBE = 4  # cells scanned by the multi-cell IVF probe


@register(
    "ivf_ann_nprobe",
    f"""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(c.centroid AS DOUBLE[])) DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (
      SELECT vec_id, embedding, centroid_id AS cell FROM scored WHERE rn = 1
    ),
    pcells AS (
      SELECT centroid_id AS cell FROM scored WHERE vec_id = 0 AND rn <= {NPROBE}
    ),
    probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
    SELECT c.vec_id,
           floor((list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(p.p AS DOUBLE[]))) * 100000.0 + 0.5) / 100000.0 AS cosine
    FROM cells c JOIN pcells ON c.cell = pcells.cell CROSS JOIN probe p
    WHERE c.vec_id <> 0
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """,
    doc=f"Multi-cell IVF probe (FAISS nprobe={NPROBE}): rank the union "
    f"of the probe's {NPROBE} nearest cells instead of one — the "
    "coarse-quantizer recall dial (single-cell routing loses every "
    "true neighbor assigned to an adjacent cell). Routing stays a "
    "driver-side scalar decision; the corpus is passed once, filtered "
    f"to ~{NPROBE}/K of its rows — at 100 TB with a "
    "partitionBy(cell) layout this reads 4 partitions instead of 1.",
)
def ivf_ann_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, cosine double")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:
        return empty
    probe = _ivf_probe_cell(cents)
    if probe is None:
        return empty
    probe_vec, p_norm, _cell = probe
    top_cells = _ivf_top_cells_py(probe_vec, cents, NPROBE)
    cos = F.expr(_dot_sql("embedding", _vec_sql(probe_vec))) / (
        F.col("_norm") * F.lit(p_norm)
    )
    return (
        _ivf_cells_of(e, cents)
        .filter(F.col("cell").isin(top_cells) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(cos, 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


def residual_of(
    df: DataFrame,
    cents,
    src: str = "embedding",
    out: str = "_res",
    kernel: str = "auto",
) -> DataFrame:
    """``df`` + ``out`` = ``src`` − centroid[cell], the per-row
    own-cell residual shared by the residual-IVFPQ probes, the index
    build, and the bench harness (one definition — a convention change
    cannot silently diverge between them).

    Under K_LITERAL_MAX the cell→centroid map is a literal (codegen'd,
    bit-exact with the registered oracles); past it the centroid set
    rides along as ONE broadcast array column and the lookup is a
    filter over it — O(1) expression size in K, same per-row O(K) scan
    class as the broadcast assignment kernel, and the same IEEE
    subtraction (property-tested row-identical at K=16).

    ``kernel``: ``"auto"`` picks by K; ``"literal"`` forces the
    literal map (raises past K_LITERAL_MAX — splicing K×d doubles
    into codegen is the exact failure the cap exists for);
    ``"bcast"`` forces the broadcast path. Anything else raises
    (ADVICE r9: an unvalidated value silently picked broadcast, so
    the parameter could neither force the literal kernel nor reject
    typos)."""
    if kernel not in ("auto", "literal", "bcast"):
        raise ValueError(
            f"residual_of kernel={kernel!r}: expected 'auto', 'literal' "
            "or 'bcast'"
        )
    if kernel == "literal" and len(cents) > K_LITERAL_MAX:
        raise ValueError(
            f"residual_of kernel='literal' with K={len(cents)} > "
            f"K_LITERAL_MAX={K_LITERAL_MAX}: the literal map would "
            "splice K*dim double literals into codegen; use 'bcast'"
        )
    if kernel == "literal" or (
        kernel == "auto" and len(cents) <= K_LITERAL_MAX
    ):
        cmap = ", ".join(
            f"{int(r.vec_id)}L, "
            f"{_vec_sql([float(v) for v in r.embedding])}"
            for r in cents
        )
        return df.withColumn(
            out,
            F.expr(
                f"zip_with({src}, element_at(map({cmap}), cell), "
                "(x, y) -> cast(x as double) - y)"
            ),
        )
    rows = [
        {"cid": int(r.vec_id), "vec": [float(v) for v in r.embedding]}
        for r in cents
    ]
    return (
        _with_centroid_array(
            df, rows, "array<struct<cid:bigint,vec:array<double>>>", "_rcents"
        )
        .withColumn(
            out,
            F.expr(
                f"zip_with({src}, filter(_rcents, c -> c.cid = cell)[0].vec, "
                "(x, y) -> cast(x as double) - y)"
            ),
        )
        .drop("_rcents")
    )


def _ivf_top_cells_py(vec, cents, n: int) -> list[int]:
    """Driver-side top-n cells by (cosine desc, id asc) — the same
    exact-sequential-double ranking as `_ivf_cell_py`, extended past
    rank 1."""
    import math

    v_norm = math.sqrt(_py_dot(vec, vec))
    ranked = sorted(
        (
            (
                -_py_dot(vec, r.embedding)
                / (v_norm * math.sqrt(_py_dot(r.embedding, r.embedding))),
                int(r.vec_id),
            )
            for r in cents
        ),
    )
    return [cid for _neg, cid in ranked[:n]]


def _ivf_cells_of(e: DataFrame, cents) -> DataFrame:
    """(vec_id, embedding, _norm, cell) — the IVF coarse assignment,
    shared by `ivf_ann_probe` and `ivfpq_ann_probe`.

    Hoist norms: ||e|| is ONE shared column (not recomputed per
    centroid) and ||c|| is a driver-side double literal — Python's
    sequential double sum is bit-identical to the aggregate HOF —
    so assignment costs N_CENTROIDS dots per row, not 3x that in
    full cosines. (48 -> 17 aggregate evaluations per row; 2.6x
    faster at sf0.1.)"""
    import math

    normed = e.withColumn("_norm", F.sqrt(_dot("embedding", "embedding")))
    if len(cents) <= K_LITERAL_MAX:
        scored = "array(" + ", ".join(
            "struct("
            + _dot_sql("embedding", _vec_sql(r.embedding))
            + f" / (_norm * {math.sqrt(sum(float(v) * float(v) for v in r.embedding))!r}D)"
            + f" AS c, {-int(r.vec_id)} AS nid)"
            for r in cents
        ) + ")"
        with_cell = normed.withColumn(
            "cell", F.expr(f"cast(-array_max({scored}).nid as bigint)")
        )
    else:
        # broadcast centroid array: same cosine argmax (dot over the
        # shared _norm and a driver-computed centroid norm — identical
        # doubles to the literal path), O(1) expression size in K
        rows = [
            {
                "nid": -int(r.vec_id),
                "nrm": math.sqrt(sum(float(v) * float(v) for v in r.embedding)),
                "vec": [float(v) for v in r.embedding],
            }
            for r in cents
        ]
        with_cell = _with_centroid_array(
            normed, rows, "array<struct<nid:int,nrm:double,vec:array<double>>>",
            "_cents",
        ).withColumn(
            "cell",
            F.expr(
                "cast(-array_max(transform(_cents, c -> struct("
                "aggregate(zip_with(embedding, c.vec, "
                "(x, y) -> cast(x as double) * y), 0.0D, (acc, x) -> acc + x) "
                "/ (_norm * c.nrm) AS c, c.nid AS nid))).nid as bigint)"
            ),
        ).drop("_cents")
    return with_cell.select("vec_id", "embedding", "_norm", "cell")


def _py_dot(a, b) -> float:
    """Sequential-double dot on the driver — bit-identical to the
    aggregate HOF (Python floats are IEEE doubles, same order)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _ivf_cell_py(vec, cents) -> int:
    """Driver-side twin of `_ivf_cells_of`'s assignment: argmax cosine
    over the centroid rows, lowest-id tiebreak — identical sequential
    doubles, so the cell matches the executor expression bit-for-bit."""
    import math

    v_norm = math.sqrt(_py_dot(vec, vec))
    best = max(
        (
            _py_dot(vec, r.embedding)
            / (v_norm * math.sqrt(_py_dot(r.embedding, r.embedding))),
            -int(r.vec_id),
        )
        for r in cents
    )
    return -best[1]


def _ivf_probe_cell(cents):
    """(probe_vec, p_norm, probe_cell) for probe vec 0, or None if the
    probe vector is absent. Computed on the DRIVER with the identical
    sequential-double arithmetic — real IVF routing: one scalar
    decides which inverted-file partition to scan, and the corpus is
    passed over exactly once, filter first."""
    import math

    probe_vecs = [r.embedding for r in cents if r.vec_id == 0]
    if not probe_vecs:
        return None
    probe_vec = probe_vecs[0]
    p_norm = math.sqrt(_py_dot(probe_vec, probe_vec))
    return probe_vec, p_norm, _ivf_cell_py(probe_vec, cents)

# ---------------------------------------------------------------------------
# k-means clustering (Lloyd's) — the semantic-clustering pass of a
# SemDeDup-style curation pipeline. Fixed deterministic init (the K
# lowest vec_ids) and a fixed iteration count make it SQL-oracle
# checkable; centroid updates are rounded to 6 dp on BOTH engines so
# the literal centroids fed into the next assignment are bit-identical
# regardless of each engine's floating-point summation order.

K_CLUSTERS = 8
KMEANS_ITERS = 2
EMB_DIM = 64  # all testdata SFs ship 64-d embeddings

_RND6 = "floor({x} * 1000000.0 + 0.5) / 1000000.0"


def _duck_sqdist(cent_table: str) -> str:
    """DuckDB squared-L2 via list_reduce — left-to-right double adds,
    bit-identical to Spark's aggregate HOF (0-init add is exact)."""
    term = f"(CAST(e.embedding[i] AS DOUBLE) - {cent_table}.centroid[i])"
    return (
        f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {term} * {term}), (x, y) -> x + y)"
    )


def _duck_round(cents: str, assigns: str) -> str:
    """One Lloyd round: assignment vs `cents`, then 6-dp-rounded
    per-dimension mean centroids named `assigns`."""
    return f"""
    d_{assigns} AS (
      SELECT e.vec_id, c.cluster, {_duck_sqdist("c")} AS d
      FROM embeddings e CROSS JOIN {cents} c
    ),
    {assigns} AS (
      SELECT vec_id, cluster, d FROM (
        SELECT vec_id, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM d_{assigns}
      ) WHERE rn = 1
    )"""


_KMEANS_CTES = f"""c0 AS (
      SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS centroid
      FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ),
    {_duck_round("c0", "a1")},
    u1 AS (
      SELECT a.cluster, i,
             {_RND6.format(x=f"avg(CAST(e.embedding[i] AS DOUBLE))")} AS v
      FROM a1 a JOIN embeddings e ON a.vec_id = e.vec_id
      CROSS JOIN range(1, {EMB_DIM + 1}) r(i)
      GROUP BY a.cluster, i
    ),
    c1 AS (SELECT cluster, list(v ORDER BY i) AS centroid FROM u1 GROUP BY cluster),
    {_duck_round("c1", "a2")}"""

_KMEANS_SQL = f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           floor(d * 100000.0 + 0.5) / 100000.0 AS sqdist
    FROM a2 ORDER BY vec_id
    """


def _sqdist_sql(vec_sql: str) -> str:
    """Spark squared-L2 of the embedding column vs a literal vector —
    sequential double arithmetic (zip_with in index order, 0-init
    aggregate), the bit-exact twin of :func:`_duck_sqdist`."""
    return (
        f"aggregate(zip_with(embedding, {vec_sql}, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


@register(
    "kmeans_clusters",
    _KMEANS_SQL,
    doc=f"Distributed Lloyd's k-means over the embedding corpus (K="
    f"{K_CLUSTERS}, {KMEANS_ITERS} fixed iterations, init = lowest "
    "vec_ids): per-iteration assignment is a MAP-SIDE argmin over "
    "literal centroid vectors (struct array_min, deterministic "
    "cluster-id tiebreak) — the corpus is scanned once per iteration "
    "and never shuffled for assignment; the update shuffles only "
    "(cluster, 64 partial sums) map-side partials, and the k×d "
    "centroid collect per round is dimension-sized driver state, "
    "exactly like the IVF coarse quantizer. The semantic-clustering "
    "pass of a SemDeDup-style curation pipeline.",
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the under-split scan (r17): Lloyd's is one argmin map pass
    # + one partial-agg update per round, so a single-row-group
    # corpus single-threads BOTH — measured 153.7 s at the sf1 scale
    # lane (500k rows, 1 task) vs ~2 s fanned. The fixed fan width
    # keeps the update's float partial-agg grouping deterministic,
    # and the 6-dp centroid rounding is oracle-checked at 3 SFs
    # (semdedup_pairs' fanned _lloyd_assign shares this grouping).
    base = load(spark, sf_dir, "embeddings", fan_out=True)
    e = base.select("vec_id", "embedding")
    assigned, _ = _lloyd_assign(e, init_cents=_init_cents(base))
    if assigned is None:  # empty corpus: nothing to cluster
        return e.select(
            "vec_id",
            F.lit(None).cast("bigint").alias("cluster"),
            F.lit(None).cast("double").alias("sqdist"),
        )
    return assigned.select(
        "vec_id", "cluster", rnd(F.col("sqdist"), 5).alias("sqdist")
    ).orderBy("vec_id")


def _init_cents(e: DataFrame):
    """Bootstrap centroids (vec_id < K_CLUSTERS) of the UNMODIFIED
    ``tables.load`` frame ``e``, through :func:`_id_range_rows` (no
    Spark job on a small single-file corpus). None when no id is below
    K_CLUSTERS (offset/non-contiguous corpora): an empty bootstrap
    must fall through to _lloyd_assign's orderBy().limit() scan, NOT
    masquerade as an empty corpus — [] is falsy but is not None
    there."""
    return _id_range_rows(e, K_CLUSTERS) or None


def _lloyd_assign(
    e: DataFrame, init_cents=None, k: int = K_CLUSTERS, kernel: str = "auto"
) -> tuple[DataFrame, list] | tuple[None, None]:
    """KMEANS_ITERS rounds of Lloyd's over a (vec_id, embedding)
    frame; returns ``(assignment, histogram)`` — the final (vec_id,
    embedding, cluster, sqdist) assignment plus the per-cluster
    ``(cluster, count)`` histogram of the PENULTIMATE round,
    piggybacked on the update aggregation (zero extra jobs; empty
    when KMEANS_ITERS == 1) — or ``(None, None)`` for an empty
    corpus. Assignment is a MAP-SIDE argmin over literal centroids
    (one corpus scan per round, never a shuffle); the update step
    shuffles only (cluster, 64 partials + count)."""
    cents = init_cents if init_cents is not None else sorted(
        (int(r.vec_id), [float(v) for v in r.embedding])
        # lowest-k ids via TakeOrderedAndProject (scale-safe even when
        # ids are not contiguous); identical to the vec_id < k filter
        # on contiguous-id corpora, so oracle parity is unchanged
        for r in e.orderBy("vec_id").limit(k).collect()
    )
    if not cents:
        return None, None
    assigned, hist = None, []
    for it in range(KMEANS_ITERS):
        assigned = _argmin_sqdist(e, cents, kernel=kernel).select(
            "vec_id",
            "embedding",
            F.col("_best.cid").cast("bigint").alias("cluster"),
            F.col("_best.d").alias("sqdist"),
        )
        if it < KMEANS_ITERS - 1:
            # Update step: ONE shuffle of (cluster, 64 avg partials);
            # 6-dp rounding in-engine so the collected literals match
            # the oracle's rounded means bit-for-bit. count(*) rides
            # along free — the cluster-size histogram consumers use
            # for balance-only gating. The 65 aggregates are built as
            # ONE struct expression parsed JVM-side: per-Column py4j
            # construction measured ~0.65 s/round driver-side — the
            # dominant cost of the whole Lloyd's pass at bench scale.
            # `floor(x * 1e6 + 0.5) / 1e6` with D-suffixed double
            # literals is exactly functions.rounding.rnd.
            upd = ", ".join(
                f"floor(avg(cast(embedding[{i}] as double))"
                f" * 1000000.0D + 0.5D) / 1000000.0D as c{i}"
                for i in range(EMB_DIM)
            )
            rows = assigned.groupBy("cluster").agg(
                F.expr(f"struct(count(1) as _n, {upd}) as _u")
            ).collect()
            rows = [r["_u"].asDict() | {"cluster": r["cluster"]} for r in rows]
            cents = sorted(
                (int(r["cluster"]), [float(r[f"c{i}"]) for i in range(EMB_DIM)])
                for r in rows
            )
            hist = [(int(r["cluster"]), int(r["_n"])) for r in rows]
    return assigned, hist


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication: k-means partitions the
# corpus, then exact cosine runs only WITHIN each cluster — the
# cluster assignment prunes the O(n²) pair space the same way LSH
# bands do for MinHash, but on embedding geometry (Abbas et al. 2023,
# "SemDeDup"). At 100 TB: K scales with sqrt(N) so cluster
# populations stay bounded; members collect per cluster in one
# shuffle and pairs generate map-side; mega-clusters (the skew case)
# fall back to a cluster-restricted self-join exactly like
# dedup.bucket_pairs.

SEM_THRESHOLD = 0.35


def _duck_dotseq(a: str, b: str) -> str:
    """DuckDB sequential-double dot product over DOUBLE[] columns —
    left-to-right list_reduce, bit-identical to Spark's 0.0-init
    aggregate HOF (0 + x == x exactly)."""
    return (
        f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


_SEMDEDUP_SQL = f"""
    WITH {_KMEANS_CTES},
    mem AS (
      SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS emb
      FROM a2 a JOIN embeddings e ON a.vec_id = e.vec_id
    ),
    cand AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.emb AS ea, y.emb AS eb
      FROM mem x JOIN mem y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM (
      SELECT vec_a, vec_b,
             floor(({_duck_dotseq("ea", "eb")}
                    / (sqrt({_duck_dotseq("ea", "ea")})
                       * sqrt({_duck_dotseq("eb", "eb")})))
                   * 100000.0 + 0.5) / 100000.0 AS cosine
      FROM cand
    ) WHERE cosine >= {SEM_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


@register(
    "semdedup_pairs",
    _SEMDEDUP_SQL,
    doc="SemDeDup-style semantic dedup: Lloyd's k-means partitions "
    "the embedding corpus, then exact sequential-double cosine runs "
    f"only within each cluster; pairs >= {SEM_THRESHOLD} are semantic "
    "duplicates (survivor = min vec_id downstream). The cluster "
    "structure prunes the O(n²) pair space; members collect per "
    "cluster in ONE shuffle with pairs generated map-side, and "
    "mega-clusters fall back to a cluster-restricted self-join "
    "(skew-safe, like dedup.bucket_pairs).",
)
def semdedup_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = 10_000
) -> DataFrame:
    base = load(spark, sf_dir, "embeddings", fan_out=True)
    return semantic_pairs_of(
        base.select("vec_id", "embedding"),
        max_bucket=max_bucket,
        init_cents=_init_cents(base),
        bound_rows=table_rows(sf_dir, "embeddings"),
    ).orderBy("vec_a", "vec_b")


def semantic_pairs_of(
    e: DataFrame,
    threshold: float = SEM_THRESHOLD,
    max_bucket: int = 10_000,
    init_cents=None,
    n_clusters: int | str | None = None,
    bound_rows: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cosine) semantic-duplicate pairs of a
    (vec_id, embedding) frame — k-means clusters prune the pair
    space, exact cosine confirms within clusters.

    Pair generation is size-routed on driver-known cluster sizes (K
    rows — dimension-sized state, like the centroids themselves):

    - clusters at or under ``max_bucket`` → ONE cluster-keyed
      exchange into the vectorized applyInArrow pair kernel
      (:func:`_cluster_pair_cosines`): each member crosses the
      Python boundary once and the O(n²/K) cosine work runs as d
      vectorized multiply-adds per pair — bit-exact twin of the
      JVM HOF metric, per-task memory bounded by ``max_bucket``;
    - mega-clusters (> ``max_bucket``) go through the
      triangle-blocked self-join (:func:`operators.skew`) with the
      pairs-form Arrow metric — same pair set, and no executor ever
      holds an entire hot cluster.

    ``n_clusters`` sets K: an int pins it, ``"auto"`` scales it with
    sqrt(corpus rows) — the SemDeDup posture that keeps per-cluster
    populations (and the O(n²/K) within-cluster pair work) bounded as
    the corpus grows; costs one count job. None keeps the registered
    query's fixed :data:`K_CLUSTERS` (oracle-pinned). Past
    :data:`K_LITERAL_MAX` the assignment switches to the vectorized
    Arrow kernel (:func:`_argmin_numpy`) — O(1) plan size in K and a
    BLAS matmul per batch instead of K interpreted HOF evaluations
    per row.

    ``bound_rows``: a driver-known upper bound on ``e``'s row count
    (parquet footer stats, a staged count). No cluster can hold more
    members than the corpus has rows, so when the bound PROVES every
    cluster fits ``max_bucket`` the mega-cluster routing is dead plan
    weight (the r16 ``bucket_pairs(bound_rows=)`` precedent): the
    exact K-row sizes aggregate+collect and the assignment checkpoint
    (whose only multi-consumer was the big/small split) are skipped
    and ALL members feed the pair kernel as a single-consumer
    pipeline. ``"auto"`` tightens the bound to its own exact count
    for free. Unknown bounds (or ``scale_plans``) keep the full
    skew-safe routing — the 100 TB posture is unchanged.
    """
    import math

    from environmental_stac_generator_spark.operators.lineage import (
        cut_lineage,
    )

    if n_clusters == "auto":
        n = max(e.count(), 0)
        # the count IS an exact row bound, and tighter than any
        # looser bound the caller passed
        bound_rows = n if bound_rows is None else min(bound_rows, n)
        k = max(K_CLUSTERS, math.isqrt(n))
    else:
        k = int(n_clusters) if n_clusters else K_CLUSTERS
    # large K takes the vectorized Arrow assignment kernel: the
    # interpreted HOF costs K×d lambda evaluations per row and at
    # K≈sqrt(N) the assignment — not the pruned pair stage — becomes
    # the bottleneck (measured 2x slower than fixed-K at 50k rows);
    # the BLAS matmul kernel removes it. Oracle-pinned fixed-K runs
    # stay on the bit-exact literal/HOF kernels.
    kernel = "numpy" if k > K_LITERAL_MAX else "auto"
    assigned, _ = _lloyd_assign(e, init_cents=init_cents, k=k, kernel=kernel)
    if assigned is None:  # empty corpus: no clusters, no pairs
        return e.select(
            F.col("vec_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.lit(None).cast("double").alias("cosine"),
        ).limit(0)
    # The norm is computed ONCE per vector with the exact expression
    # the per-pair cosine divisor uses (sqrt of the sequential-double
    # self-dot), so every quotient's bits are unchanged while the
    # per-pair work drops from three dot products to one.
    def members_of(frame):
        return frame.select(
            "cluster",
            "vec_id",
            "embedding",
            F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
        )

    # provably-no-mega gate (r17, the bucket_pairs/embedding_near_dup
    # CBO posture): a cluster cannot outgrow the corpus, so a driver-
    # known row bound at or under max_bucket makes the sizes
    # aggregate+collect AND the assignment checkpoint dead weight —
    # the final assignment then has exactly ONE consumer (the pair
    # kernel's cluster-keyed exchange) and streams through it in a
    # single pipeline. Unknown stats / scale_plans keep the
    # exact-sizes routing below.
    if provably_small(bound_rows, max_bucket):
        return _cluster_pair_cosines(members_of(assigned), threshold)
    # materialize the FINAL assignment once (lazily: the sizes
    # aggregate below is the materializing action) — every downstream
    # consumer (both pair branches) then reads the stored partitions
    # instead of re-running the Lloyd's argmin pass over the corpus
    # (VERDICT r4 #3 / ADVICE: the one-scan framing)
    assigned = cut_lineage(assigned, eager=False)
    members = members_of(assigned)
    # The broadcast/bucket gate is BALANCE-ONLY (both paths emit the
    # identical pair set — property-tested at max_bucket=1), but it
    # must be driven by the sizes of the FINAL assignment it routes:
    # the Lloyd's-update-piggybacked histogram is always one centroid
    # update stale (it counts the round it aggregated, the routing
    # uses the round after), and a skewed cluster ballooning past
    # max_bucket in the last round would be misrouted into the
    # collect_list path whose single-row buffering the cap exists to
    # prevent. So: one exact K-row aggregate over the final
    # assignment, which doubles as the lazy checkpoint's
    # materializing action (the pair join then reads stored
    # partitions instead of re-running the argmin pass) — the cost is
    # one K-row shuffle, not a corpus scan.
    sizes = [
        (r["cluster"], r["n"])
        for r in members.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    spark = e.sparkSession
    big_ids = [c for c, n in sizes if n > max_bucket]
    small_m = (
        members.filter(~F.col("cluster").isin(big_ids)) if big_ids else members
    )
    # Bounded clusters: ONE cluster-keyed exchange feeds the
    # applyInArrow kernel, which enumerates and scores each cluster's
    # pairs in vectorized numpy (r16, guide §4.2/§8 — "move the heavy
    # bytes once": each member crosses the Python boundary once,
    # O(members·d), where the previous shapes paid O(pairs) JVM
    # interpreted dots [~61 s CPU on this stage at sf0.1] or
    # O(pairs·d) Arrow transfer of duplicated embeddings [measured a
    # wash]. Replaces both the broadcast fast path and the
    # collect_list map-side path; per-task memory stays bounded by
    # max_bucket exactly as the collect_list buffer was.)
    small = _cluster_pair_cosines(small_m, threshold)
    if not big_ids:
        return small
    # mega-clusters: triangle-blocked pair join (operators.skew).
    # A plain cluster-keyed self-join is not skew-safe — it hands
    # a viral cluster's entire O(n²) cosine workload to the one
    # reducer owning its key and buffers the full cluster there;
    # the blocked shape bounds every reducer at two
    # ~max_bucket-row blocks. Block counts come from the same
    # driver-known FINAL sizes the gate itself used (K rows).
    from environmental_stac_generator_spark.operators.skew import (
        blocked_self_pairs,
    )

    sizes_df = spark.createDataFrame(
        [(int(c), int(n)) for c, n in sizes if n > max_bucket],
        schema="cluster bigint, _n bigint",
    )
    big_m = members.filter(F.col("cluster").isin(big_ids)).join(
        F.broadcast(sizes_df), "cluster"
    )
    bp = blocked_self_pairs(big_m, ["cluster"], "vec_id", "_n", max_bucket)
    big_pairs = bp.select(
        F.col("a_vec_id").alias("vec_a"),
        F.col("a_embedding").alias("emb_a"),
        F.col("a_nrm").alias("nrm_a"),
        F.col("b_vec_id").alias("vec_b"),
        F.col("b_embedding").alias("emb_b"),
        F.col("b_nrm").alias("nrm_b"),
    )
    # no global sort here: chain consumers (semantic dedup's anti-join)
    # are order-free, and a 100 TB pair relation must not pay a range
    # exchange for cosmetics — the registered query orders for its
    # deterministic oracle comparison. The blocked pairs' metric runs
    # in the pairs-form Arrow kernel (bit-exact twin, same contract).
    return small.unionByName(
        _pair_cosines_arrow(big_pairs, threshold, filter_raw=False)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the standard embedding-compression pass
# before ANN index build / shard export (4x smaller vectors, dot
# products in integer SIMD downstream). Per-vector absmax scaling:
# scale = max|x| / 127, q_i = round_half_up(x_i / scale). Pure
# map-side array HOFs — zero shuffle until the (vec_id, idx, q)
# explode aggregates; exact integers, so the oracle hash is
# float-rounding-free by construction.

@register(
    "int8_quantize",
    """
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    ),
    q AS (
      SELECT vec_id,
             unnest(list_transform(e, x -> CAST(floor(
               x / (CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END) + 0.5
             ) AS BIGINT))) AS q,
             unnest(range(len(e))) AS idx
      FROM scaled
    )
    SELECT vec_id, CAST(idx AS BIGINT) AS idx, q FROM q
    """,
    doc="int8 scalar quantization of the embedding corpus: per-vector "
    "absmax scale (max|x|/127), half-up rounded codes in [-127, 127]. "
    "Map-side array HOFs only — at 100 TB this is one codegen'd scan; "
    "the exploded (vec_id, idx, q) grain here is the oracle-hashable "
    "view of the packed array the sink would write.",
)
def int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    scale = F.expr(
        "array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0D"
    )
    q = F.expr(
        "transform(embedding, x -> cast(floor("
        "cast(x as double) / (CASE WHEN _scale = 0.0D THEN 1.0D ELSE _scale END)"
        " + 0.5) as bigint))"
    )
    return (
        e.withColumn("_scale", scale)
        .select("vec_id", F.posexplode(q).alias("idx", "q"))
        .select("vec_id", F.col("idx").cast("bigint").alias("idx"), "q")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze & Schmid, "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011). The third
# leg of the ANN/compression surface next to LSH (`ann_lsh_*`), IVF
# (`ivf_ann_probe`) and scalar int8 (`int8_quantize`): the embedding
# is split into PQ_M subspaces and each subvector is replaced by the
# index of its nearest codebook centroid, so a dim-64 float32 vector
# (256 B) stores as PQ_M uint8 codes (8 B, 32x). ADC (asymmetric
# distance computation) then answers probes by summing PQ_M
# table-lookups per vector — the scan reads CODES, never floats,
# which is what makes a 100 TB corpus scannable from memory.
#
# Codebooks: the registered queries use the first PQ_K vectors (by
# vec_id) as each subspace's codebook — the same fixed-sample
# convention as `ivf_ann_probe`'s coarse centroids, which keeps the
# DuckDB oracle fully SQL-derivable from the data (no literal
# codebooks to leak float formatting through). A production index
# would Lloyd-train them: `pq_train_codebook` does exactly that on a
# driver-bounded sample and feeds the same `pq_encode_of` kernel
# (property-tested to never increase total quantization error vs the
# sampled codebook it starts from).
#
# Determinism contract with the oracle (same argument as `_dot_sql`):
# subtraction/multiply on float32-widened doubles are exact IEEE ops
# on both engines, both sides sum the dsub squared terms
# left-to-right (aggregate HOF from 0.0 here, left-assoc `+` there;
# 0.0 + t == t bitwise for the non-negative squares), and argmin
# tie-breaks on the lowest code on both (struct-ordered array_min
# here, `ORDER BY dist, k` row_number there).

PQ_M = 8  # subspaces (codes per vector)
PQ_K = 16  # centroids per subspace codebook (uint8-range, 4 bits used)
# The registered oracle SQL is generated at import time, so it is
# pinned to the driver corpus's embedding dim (EMB_DIM) — the Spark
# side asserts this in every registered wrapper so a corpus-dim drift
# fails loudly on both sides instead of silently checking wrong
# slices (ADVICE r7). Other dims go through pq_encode_of +
# _pq_duck_codes(dsub), both parameterized.
PQ_DSUB = EMB_DIM // PQ_M


def _pq_dsub(dim: int) -> int:
    """Subvector width for an embedding dim — raises on a remainder
    (the old ``dim // PQ_M`` silently DROPPED trailing dims from every
    code, ADVICE r7)."""
    if dim < PQ_M or dim % PQ_M:
        raise ValueError(
            f"embedding dim {dim} is not a positive multiple of "
            f"PQ_M={PQ_M}; trailing dims would be silently dropped"
        )
    return dim // PQ_M


def _assert_driver_dim(cb: list[list[float]]) -> None:
    """Registered-query guard: the oracle text beside these wrappers
    is fixed at dsub=PQ_DSUB, so the loaded corpus must be EMB_DIM-d."""
    if cb and len(cb[0]) != PQ_M * PQ_DSUB:
        raise ValueError(
            f"corpus embedding dim {len(cb[0])} != PQ_M*PQ_DSUB="
            f"{PQ_M * PQ_DSUB}; the registered oracle SQL is pinned at "
            "dsub=PQ_DSUB — use pq_encode_of/_pq_duck_codes(dsub) for "
            "other dims"
        )


def _pq_sample_codebook(e: DataFrame) -> list[list[float]]:
    """First PQ_K vectors by vec_id — the fixed sample codebook (one
    K-row driver collect, the IVF centroid-bootstrap pattern)."""
    rows = _id_range_rows(e, PQ_K)
    return [[float(v) for v in r.embedding] for r in rows]


def _pq_sqdist_sql(sub: str, cvals: list[float]) -> str:
    """Squared L2 distance between the ``sub`` array expression and a
    literal centroid subvector — sequential-double sum, the sqdist
    twin of :func:`_dot_sql`."""
    return (
        f"aggregate(zip_with({sub}, {_vec_sql(cvals)}, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _pq_code_sql(m: int, dsub: int, cb: list[list[float]]) -> str:
    """argmin centroid index for subspace ``m`` over the hoisted
    ``_s{m}`` subvector column (see :func:`_pq_with_subvectors`):
    array_min over (dist, k) structs — ties take the lowest code."""
    structs = ", ".join(
        f"struct({_pq_sqdist_sql(f'_s{m}', c[m * dsub:(m + 1) * dsub])} AS d, "
        f"{k} AS k)"
        for k, c in enumerate(cb)
    )
    return f"cast(array_min(array({structs})).k as bigint)"


def _pq_with_subvectors(
    e: DataFrame, dsub: int, col: str = "embedding"
) -> DataFrame:
    """Hoist each subspace slice of ``col`` into its own ``_s{m}``
    column so the PQ_K per-subspace distance evaluations share ONE
    slice instead of re-slicing per centroid — measured 1.45x on the
    encode scan. ``col`` defaults to the raw embedding; the residual
    IVFPQ path slices its ``_res`` column instead."""
    return e.withColumns(
        {
            f"_s{m}": F.expr(f"slice({col}, {m * dsub + 1}, {dsub})")
            for m in range(PQ_M)
        }
    )


def pq_encode_of(e: DataFrame, codebook: list[list[float]] | None = None) -> DataFrame:
    """(vec_id, m, code) PQ codes — ONE map-side scan, zero shuffle:
    every code is a codegen'd argmin over literal centroids, exactly
    the expression shape of `ivf_ann_probe`'s cell assignment. The
    long grain is the oracle-hashable view of the packed uint8 row a
    sink would write."""
    cb = codebook if codebook is not None else _pq_sample_codebook(e)
    spark = e.sparkSession
    if not cb:
        return spark.createDataFrame([], "vec_id bigint, m bigint, code bigint")
    dsub = _pq_dsub(len(cb[0]))
    codes = ", ".join(_pq_code_sql(m, dsub, cb) for m in range(PQ_M))
    return _pq_with_subvectors(e, dsub).select(
        "vec_id", F.posexplode(F.expr(f"array({codes})")).alias("m", "code")
    ).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("m").cast("bigint").alias("m"),
        "code",
    )


def _pq_duck_terms(dsub: int) -> str:
    """The oracle's subspace squared-L2: dsub left-associated terms
    over 1-indexed DOUBLE[] slices. Parameterized by the subvector
    width — the r7 text hard-coded 8 (i.e. assumed dim-64 corpora)
    and would have silently checked wrong slices on any other dim
    (ADVICE r7)."""
    return " + ".join(
        f"(e[r.m*{dsub}+{i}]-c[r.m*{dsub}+{i}])"
        f"*(e[r.m*{dsub}+{i}]-c[r.m*{dsub}+{i}])"
        for i in range(1, dsub + 1)
    )


# the codebook/codes CTE chain is derived from the DATA in SQL (first
# PQ_K rows), independently of the Spark expression generators — the
# ADVICE r7 zorder lesson: the two engines must not share generated
# text, and tests/test_similarity_pq.py anchors both against
# hand-computed literals besides.
def _pq_duck_codes(dsub: int) -> str:
    return f"""cb AS (
      SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id < {PQ_K}
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    d AS (
      SELECT vecs.vec_id, r.m, cb.k, {_pq_duck_terms(dsub)} AS dist
      FROM vecs CROSS JOIN range({PQ_M}) r(m) CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
      FROM d
    )"""


_PQ_DUCK_CODES = _pq_duck_codes(PQ_DSUB)


@register(
    "pq_encode",
    f"""
    WITH {_PQ_DUCK_CODES}
    SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(k AS BIGINT) AS code
    FROM codes WHERE rn = 1
    """,
    doc=f"Product-quantization encode: split each embedding into "
    f"{PQ_M} subspaces, code = argmin squared-L2 centroid per "
    f"subspace ({PQ_K}-entry fixed-sample codebooks). 32x "
    "compression; one codegen'd map pass, zero shuffle.",
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cb = _pq_sample_codebook(e)
    _assert_driver_dim(cb)
    return pq_encode_of(
        load(spark, sf_dir, "embeddings", fan_out=True), codebook=cb
    )


@register(
    "pq_ann_probe",
    f"""
    WITH {_PQ_DUCK_CODES},
    t AS (SELECT m, k, dist FROM d WHERE vec_id = 0),
    best AS (SELECT vec_id, m, k AS code FROM codes WHERE rn = 1 AND vec_id <> 0),
    adc AS (
      SELECT b.vec_id,
             ({" + ".join(f"MAX(CASE WHEN b.m = {m} THEN t.dist END)" for m in range(PQ_M))}) AS adc_raw
      FROM best b JOIN t ON t.m = b.m AND t.k = b.code
      GROUP BY b.vec_id
    )
    SELECT vec_id, floor(adc_raw * 100000.0 + 0.5) / 100000.0 AS adc
    FROM adc ORDER BY adc, vec_id LIMIT 10
    """,
    doc="PQ ADC probe: top-10 nearest to probe vec 0 by asymmetric "
    f"distance — per vector, sum of {PQ_M} precomputed "
    "probe-to-centroid table lookups selected by its codes. The scan "
    "touches codes only; the float corpus is never read at query "
    "time — the 100 TB memory-resident ANN path.",
)
def pq_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cb = _pq_sample_codebook(e)
    _assert_driver_dim(cb)
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    if not cb:
        return empty
    probe_emb = _probe_embedding(e)
    if probe_emb is None:
        return empty
    return pq_adc_rank_of(
        load(spark, sf_dir, "embeddings", fan_out=True),
        cb,
        [float(v) for v in probe_emb],
    )


def pq_adc_rank_of(
    e: DataFrame,
    cb: list[list[float]],
    probe: list[float],
    col: str = "embedding",
    exclude: int = 0,
) -> DataFrame:
    """ADC top-10 of ``e`` (minus the ``exclude`` probe id) against
    ``probe`` under the given codebook — the ranking kernel shared by
    the fixed-sample registered probes (probe vec 0) and the
    trained-codebook / multi-probe bench harnesses."""
    dsub = _pq_dsub(len(cb[0]))
    adc = _pq_adc_sql(probe, cb, dsub)
    return (
        _pq_with_subvectors(e.filter(F.col("vec_id") != exclude), dsub, col=col)
        .select("vec_id", rnd(F.expr(adc), 5).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


def pq_adc_rank_bcast(
    e: DataFrame,
    cb: list[list[float]],
    probe: list[float],
    col: str = "embedding",
    exclude: int = 0,
    limit_n: int = 10,
) -> DataFrame:
    """ADC ranking for codebooks past the literal-expression budget
    (K > K_LITERAL_MAX would make the generated argmin text O(K·dsub)
    per subspace): the codebook subvectors and the probe's distance
    tables enter the plan as ONE broadcast row each, and the per-row
    expression is O(PQ_M) — argmin over the broadcast array via a
    (d, k)-struct array_min (same lowest-code tiebreak as the literal
    kernel; property-tested equal at K=16). Per-row work: K sqdists +
    one table lookup per subspace.

    ``limit_n``: per-call top-N (default 10). Per-cell top-10s cover a
    global top-10 over a union of cells, but a REFINE pool deeper than
    10 needs each cell's top-R — a per-cell 10-cap silently truncated
    the r12 refine curves' candidate pools to 10·nprobe rows (caught
    because the executed index-refine row, whose pool is a true global
    top-R, scored far above the capped on-the-fly twin)."""
    dsub = _pq_dsub(len(cb[0]))

    def _sq(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            t = x - y
            acc += t * t
        return acc

    tables = [
        [_sq(probe[m * dsub:(m + 1) * dsub], c[m * dsub:(m + 1) * dsub]) for c in cb]
        for m in range(PQ_M)
    ]
    cbsub = [
        [[float(v) for v in c[m * dsub:(m + 1) * dsub]] for c in cb]
        for m in range(PQ_M)
    ]
    base = _pq_with_subvectors(e.filter(F.col("vec_id") != exclude), dsub, col=col)
    base = _with_centroid_array(base, cbsub, "array<array<array<double>>>", "_cbsub")
    base = _with_centroid_array(base, tables, "array<array<double>>", "_tab")
    adc = " + ".join(
        f"element_at(element_at(_tab, {m + 1}), "
        f"cast(array_min(transform(element_at(_cbsub, {m + 1}), (c, k) -> "
        f"struct(aggregate(zip_with(_s{m}, c, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, v) -> acc + v) AS d, k AS k))).k + 1 as int))"
        for m in range(PQ_M)
    )
    # the select projects _cbsub/_tab away — the broadcast columns
    # leave the plan there, no trailing drop needed
    return (
        base.select("vec_id", rnd(F.expr(adc), 5).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(limit_n)
    )


def pq_ann_probe_trained(
    spark: SparkSession, sf_dir: str, k: int = PQ_K
) -> DataFrame:
    """Bench-only (not registered — Lloyd's float means aren't
    engine-portable as SQL): the same ADC probe with a Lloyd-trained
    codebook instead of the fixed 16-row sample. On the driver corpus
    this doubles recall@10 (0.2 -> 0.4 at sf0.01) — the
    codebook-quality lever a production index would pull. ``k`` past
    K_LITERAL_MAX routes to the broadcast-codebook kernel."""
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    probe_emb = _probe_embedding(e)
    if probe_emb is None:
        return empty
    cb = pq_train_codebook(e, k=k)
    if not cb:
        return empty
    probe = [float(v) for v in probe_emb]
    if k <= K_LITERAL_MAX:
        return pq_adc_rank_of(e, cb, probe)
    return pq_adc_rank_bcast(e, cb, probe)


def _pq_adc_sql(probe: list[float], cb: list[list[float]], dsub: int) -> str:
    """The ADC ranking expression: PQ_M literal-table lookups selected
    by the row's codes, summed left-to-right.

    The distance table is DRIVER-computed (PQ_M x PQ_K doubles;
    Python float arithmetic is IEEE double in the same sequential
    order, so the literals are bit-identical to what either engine
    would compute) and enters the plan as literals — real ADC: the
    executor-side work per row is PQ_M array lookups + adds."""

    def _sq(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            t = x - y
            acc += t * t
        return acc

    tables = [
        [_sq(probe[m * dsub:(m + 1) * dsub], c[m * dsub:(m + 1) * dsub]) for c in cb]
        for m in range(PQ_M)
    ]
    return " + ".join(
        f"element_at({_vec_sql(tables[m])}, "
        f"cast({_pq_code_sql(m, dsub, cb)} + 1 as int))"
        for m in range(PQ_M)
    )


@register(
    "ivfpq_ann_probe",
    f"""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(c.centroid AS DOUBLE[])) DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (SELECT vec_id, centroid_id AS cell FROM scored WHERE rn = 1),
    pcell AS (SELECT cell FROM cells WHERE vec_id = 0),
    {_PQ_DUCK_CODES},
    t AS (SELECT m, k, dist FROM d WHERE vec_id = 0),
    best AS (
      SELECT co.vec_id, co.m, co.k AS code
      FROM codes co
      JOIN cells ON cells.vec_id = co.vec_id
      JOIN pcell ON cells.cell = pcell.cell
      WHERE co.rn = 1 AND co.vec_id <> 0
    ),
    adc AS (
      SELECT b.vec_id,
             ({" + ".join(f"MAX(CASE WHEN b.m = {m} THEN t.dist END)" for m in range(PQ_M))}) AS adc_raw
      FROM best b JOIN t ON t.m = b.m AND t.k = b.code
      GROUP BY b.vec_id
    )
    SELECT vec_id, floor(adc_raw * 100000.0 + 0.5) / 100000.0 AS adc
    FROM adc ORDER BY adc, vec_id LIMIT 10
    """,
    doc="IVFPQ: the composed FAISS-style ANN architecture — the IVF "
    "coarse quantizer routes the probe to one of "
    f"{N_CENTROIDS} cells, and PQ ADC ranks only that cell's members "
    "by table lookups over their codes (raw-vector codes, no "
    "residual encoding). At 100 TB: the inverted-file layout prunes "
    "the scan to ~1/K of the corpus and the ranking reads 8-byte "
    "codes, never floats.",
)
def ivfpq_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:
        return empty
    probe = _ivf_probe_cell(cents)
    if probe is None:
        return empty
    probe_vec, _p_norm, probe_cell = probe
    cb = _pq_sample_codebook(e)
    _assert_driver_dim(cb)
    if not cb:
        return empty
    dsub = _pq_dsub(len(cb[0]))
    adc = _pq_adc_sql([float(v) for v in probe_vec], cb, dsub)
    cell_members = _ivf_cells_of(e, cents).filter(
        (F.col("cell") == F.lit(probe_cell)) & (F.col("vec_id") != 0)
    )
    return (
        _pq_with_subvectors(cell_members, dsub)
        .select("vec_id", rnd(F.expr(adc), 5).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


def _ivfpq_residual_duck(dim: int, dsub: int) -> str:
    """Residual-IVFPQ oracle, parameterized by (dim, dsub): cells and
    residuals (x − centroid[cell]) are derived from the DATA in SQL —
    centroids ARE the first N_CENTROIDS embedding rows, so the
    residual is a self-join subtraction, exact IEEE on both engines.
    The codebook is the residuals of the PQ_K vectors AFTER the
    centroid rows (vec_ids [N_CENTROIDS, N_CENTROIDS + PQ_K), each
    relative to its OWN cell — the shared-residual-codebook FAISS
    convention). The offset matters: a centroid row's residual is the
    zero vector (its own cell's nearest centroid is itself), so the
    raw-PQ "first PQ_K rows" convention would make every codebook
    entry ~0 and the codes degenerate. Then the same d/codes/ADC
    chain as the raw-code oracle runs over residual arrays.

    Measured (bench `ann_recall_at_10`, sf0.01): with FIXED-SAMPLE
    codebooks residual codes do not beat raw codes (both 0.2) — the
    driver embeddings are L2-normalized near-orthogonal uniform
    vectors, so within-cell residuals have norm ~sqrt(2(1-cos)) > 1
    and a 16-row sample grid is equally bad for either. The FAISS
    claim shows up once codebooks are Lloyd-TRAINED:
    `ivfpq_residual_trained` reaches 0.5 vs 0.4 for trained raw PQ
    and 0.2 for every fixed-sample variant (exact-within-cell ceiling
    0.9). This registered fixed-sample entry exists for bit-exact
    oracle checkability; the trained twin is the production shape."""
    adc_terms = " + ".join(
        f"MAX(CASE WHEN b.m = {m} THEN t.dist END)" for m in range(PQ_M)
    )
    return f"""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               c.centroid) DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (SELECT vec_id, emb, centroid_id AS cell FROM scored WHERE rn = 1),
    resid AS (
      SELECT cl.vec_id, cl.cell,
             list_transform(generate_series(1, {dim}),
                            i -> cl.emb[i] - ct.centroid[i]) AS r
      FROM cells cl JOIN centroids ct ON ct.centroid_id = cl.cell
    ),
    cb AS (
      SELECT vec_id - {N_CENTROIDS} AS k, r AS c FROM resid
      WHERE vec_id >= {N_CENTROIDS} AND vec_id < {N_CENTROIDS + PQ_K}
    ),
    pcell AS (SELECT cell FROM cells WHERE vec_id = 0),
    vecs AS (
      SELECT resid.vec_id, resid.r AS e
      FROM resid JOIN pcell ON resid.cell = pcell.cell
    ),
    d AS (
      SELECT vecs.vec_id, r.m, cb.k, {_pq_duck_terms(dsub)} AS dist
      FROM vecs CROSS JOIN range({PQ_M}) r(m) CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
      FROM d
    ),
    t AS (SELECT m, k, dist FROM d WHERE vec_id = 0),
    best AS (SELECT vec_id, m, k AS code FROM codes WHERE rn = 1 AND vec_id <> 0),
    adc AS (
      SELECT b.vec_id, ({adc_terms}) AS adc_raw
      FROM best b JOIN t ON t.m = b.m AND t.k = b.code
      GROUP BY b.vec_id
    )
    SELECT vec_id, floor(adc_raw * 100000.0 + 0.5) / 100000.0 AS adc
    FROM adc ORDER BY adc, vec_id LIMIT 10
    """


@register(
    "ivfpq_residual_probe",
    _ivfpq_residual_duck(EMB_DIM, PQ_DSUB),
    doc="Residual IVFPQ (FAISS IndexIVFPQ semantics, Jégou 2011 §V): "
    "PQ codes are computed over x − centroid[cell] rather than raw "
    "vectors, which concentrates the coded distribution near 0 and is "
    "what keeps ADC recall usable at 32x compression. The probe's "
    "cell is driver-routed; the cell's members subtract ONE literal "
    "centroid map-side, then ADC ranks them by table lookups — same "
    "zero-shuffle shape as the raw-code probe.",
)
def ivfpq_residual_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:
        return empty
    probe = _ivf_probe_cell(cents)
    if probe is None:
        return empty
    probe_vec, _p_norm, probe_cell = probe
    # codebook sample OFFSET past the centroid rows: a centroid's own
    # residual is the zero vector, so sampling vec_id < PQ_K (which
    # equals the centroid id range) would degenerate every entry to ~0
    cb_rows = _id_range_rows(e, N_CENTROIDS + PQ_K, lo=N_CENTROIDS)
    if not cb_rows:
        return empty
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}

    def _residual(vec, cell: int) -> list[float]:
        return [float(x) - y for x, y in zip(vec, cent_by_id[cell])]

    # shared residual codebook: each sample coded against its OWN
    # cell's centroid — driver arithmetic is the same exact IEEE
    # subtraction the oracle's resid CTE performs
    cbres = [_residual(r.embedding, _ivf_cell_py(r.embedding, cents))
             for r in cb_rows]
    _assert_driver_dim(cbres)
    probe_res = _residual(probe_vec, probe_cell)
    dsub = _pq_dsub(len(cbres[0]))
    adc = _pq_adc_sql(probe_res, cbres, dsub)
    members = _ivf_cells_of(e, cents).filter(
        (F.col("cell") == F.lit(probe_cell)) & (F.col("vec_id") != 0)
    )
    # every member of the probe's cell shares its centroid, so the
    # residual is one literal-vector zip_with — map-side, no shuffle
    res = members.withColumn(
        "_res",
        F.expr(
            f"zip_with(embedding, {_vec_sql(cent_by_id[probe_cell])}, "
            "(x, y) -> cast(x as double) - y)"
        ),
    )
    return (
        _pq_with_subvectors(res, dsub, col="_res")
        .select("vec_id", rnd(F.expr(adc), 5).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


def _ivfpq_nprobe_adc_cte(dim: int, dsub: int) -> str:
    """The shared CTE chain of the nprobe residual-ADC oracles, up to
    and including the ``adc`` relation (vec_id, adc_raw over the
    probed cells' members) — `_ivfpq_residual_nprobe_duck` ranks it
    directly; `_ivfpq_refine_duck` re-ranks its top-R by exact
    cosine. One text, so the two oracles cannot drift."""
    adc_terms = " + ".join(
        f"MAX(CASE WHEN b.m = {m} THEN t.dist END)" for m in range(PQ_M)
    )
    return f"""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               c.centroid) DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (SELECT vec_id, emb, centroid_id AS cell FROM scored WHERE rn = 1),
    resid AS (
      SELECT cl.vec_id, cl.cell,
             list_transform(generate_series(1, {dim}),
                            i -> cl.emb[i] - ct.centroid[i]) AS r
      FROM cells cl JOIN centroids ct ON ct.centroid_id = cl.cell
    ),
    cb AS (
      SELECT vec_id - {N_CENTROIDS} AS k, r AS c FROM resid
      WHERE vec_id >= {N_CENTROIDS} AND vec_id < {N_CENTROIDS + PQ_K}
    ),
    pcells AS (
      SELECT centroid_id AS cell FROM scored WHERE vec_id = 0 AND rn <= {NPROBE}
    ),
    vecs AS (
      SELECT resid.vec_id, resid.cell, resid.r AS e
      FROM resid JOIN pcells USING (cell)
      WHERE resid.vec_id <> 0
    ),
    d AS (
      SELECT vecs.vec_id, vecs.cell, r.m, cb.k, {_pq_duck_terms(dsub)} AS dist
      FROM vecs CROSS JOIN range({PQ_M}) r(m) CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, cell, m, k,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
      FROM d
    ),
    presid AS (
      SELECT pc.cell,
             list_transform(generate_series(1, {dim}),
                            i -> pe.emb[i] - ct.centroid[i]) AS e
      FROM pcells pc
      JOIN centroids ct ON ct.centroid_id = pc.cell
      CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings WHERE vec_id = 0) pe
    ),
    t AS (
      SELECT presid.cell, r.m, cb.k, {_pq_duck_terms(dsub)} AS dist
      FROM (SELECT cell, e FROM presid) presid
      CROSS JOIN range({PQ_M}) r(m) CROSS JOIN cb
    ),
    best AS (SELECT vec_id, cell, m, k AS code FROM codes WHERE rn = 1),
    adc AS (
      SELECT b.vec_id, ({adc_terms}) AS adc_raw
      FROM best b
      JOIN t ON t.cell = b.cell AND t.m = b.m AND t.k = b.code
      GROUP BY b.vec_id
    )"""


def _ivfpq_residual_nprobe_duck(dim: int, dsub: int) -> str:
    """Residual-IVFPQ with nprobe cells — the full FAISS IndexIVFPQ
    query shape: members of every probed cell are coded against the
    SHARED residual codebook, and each cell gets its OWN probe
    distance table (the probe's residual differs per cell). Same
    exact-IEEE derivation discipline as the single-cell oracle."""
    return (
        _ivfpq_nprobe_adc_cte(dim, dsub)
        + """
    SELECT vec_id, floor(adc_raw * 100000.0 + 0.5) / 100000.0 AS adc
    FROM adc ORDER BY adc, vec_id LIMIT 10
    """
    )


def _ivfpq_refine_duck(dim: int, dsub: int, refine_r: int) -> str:
    """The refine (exact re-rank) oracle: the nprobe ADC ranking's
    top-``refine_r`` candidates — ranked by the SAME 5-dp-rounded ADC
    + vec_id order as the served probe — are re-scored by exact
    cosine against the probe vector and the top-10 returned. The
    re-rank reads the candidates' float embeddings (the ``cells``
    CTE), which is exactly what the index-served refine stage does
    inside its already-pruned partitions."""
    return (
        _ivfpq_nprobe_adc_cte(dim, dsub)
        + f""",
    topr AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (
                 ORDER BY floor(adc_raw * 100000.0 + 0.5) / 100000.0,
                          vec_id
               ) AS rr
        FROM adc
      ) ranked WHERE rr <= {refine_r}
    ),
    pvec AS (
      SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id,
           floor(list_cosine_similarity(c.emb, p.p) * 100000.0 + 0.5)
             / 100000.0 AS cosine
    FROM cells c JOIN topr USING (vec_id) CROSS JOIN pvec p
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """
    )


@register(
    "ivfpq_residual_nprobe",
    _ivfpq_residual_nprobe_duck(EMB_DIM, PQ_DSUB),
    doc=f"Residual IVFPQ with nprobe={NPROBE} — the full FAISS "
    "IndexIVFPQ query shape: route the probe to its nearest "
    f"{NPROBE} cells, subtract each member's OWN cell centroid "
    "map-side (one literal cell->centroid map over the probed "
    "cells), code against the shared residual codebook, and rank by "
    "per-cell ADC tables (the probe's residual differs per cell). "
    f"Scan prunes to ~{NPROBE}/{N_CENTROIDS} of the corpus and reads "
    "codes; every stage stays map-side after the one routing "
    "decision.",
)
def ivfpq_residual_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:
        return empty
    probe = _ivf_probe_cell(cents)
    if probe is None:
        return empty
    probe_vec, _p_norm, _pc = probe
    cb_rows = _id_range_rows(e, N_CENTROIDS + PQ_K, lo=N_CENTROIDS)
    if not cb_rows:
        return empty
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}

    def _residual(vec, cell: int) -> list[float]:
        return [float(x) - y for x, y in zip(vec, cent_by_id[cell])]

    cbres = [_residual(r.embedding, _ivf_cell_py(r.embedding, cents))
             for r in cb_rows]
    _assert_driver_dim(cbres)
    dsub = _pq_dsub(len(cbres[0]))
    top_cells = _ivf_top_cells_py(probe_vec, cents, NPROBE)

    def _sq(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            t = x - y
            acc += t * t
        return acc

    # per-cell probe tables: tables[cell][m][k]
    tables = {}
    for cell in top_cells:
        pres = _residual(probe_vec, cell)
        tables[cell] = [
            [_sq(pres[m * dsub:(m + 1) * dsub], c[m * dsub:(m + 1) * dsub])
             for c in cbres]
            for m in range(PQ_M)
        ]
    cmap = ", ".join(
        f"{cid}L, {_vec_sql(cent_by_id[cid])}" for cid in top_cells
    )
    members = (
        _ivf_cells_of(e, cents)
        .filter(F.col("cell").isin(top_cells) & (F.col("vec_id") != 0))
        .withColumn(
            "_res",
            F.expr(
                f"zip_with(embedding, element_at(map({cmap}), cell), "
                "(x, y) -> cast(x as double) - y)"
            ),
        )
    )
    adc = " + ".join(
        "element_at(element_at(map("
        + ", ".join(f"{cid}L, {_vec_sql(tables[cid][m])}" for cid in top_cells)
        + f"), cell), cast({_pq_code_sql(m, dsub, cbres)} + 1 as int))"
        for m in range(PQ_M)
    )
    return (
        _pq_with_subvectors(members, dsub, col="_res")
        .select("vec_id", rnd(F.expr(adc), 5).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


def ivfpq_residual_trained(
    spark: SparkSession, sf_dir: str, k: int = PQ_K, nprobe: int = 1
) -> DataFrame:
    """Bench-only twin of `ivfpq_residual_probe` with a Lloyd-trained
    residual codebook (trained on the GLOBAL residual distribution,
    the FAISS convention). The residual column is computed map-side
    via one literal cell->centroid map — no join, no shuffle. ``k``
    past K_LITERAL_MAX routes to the broadcast-codebook kernel.

    ``nprobe`` > 1 is the full PRODUCTION composition (VERDICT r8 #4:
    trained residual codebook + multi-cell routing measured as ONE
    row): each probed cell ranks its members against the probe's
    per-cell residual table (the probe residual differs per cell),
    and the per-cell top-10s re-rank into one global top-10 — a union
    of nprobe disjoint map passes, no extra shuffle class."""
    e = load(spark, sf_dir, "embeddings")
    empty = e.sparkSession.createDataFrame([], "vec_id bigint, adc double")
    cents = _id_range_rows(e, N_CENTROIDS)
    if not cents:
        return empty
    probe = _ivf_probe_cell(cents)
    if probe is None:
        return empty
    probe_vec, _p_norm, _probe_cell = probe
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    resid = residual_of(_ivf_cells_of(e, cents), cents, out="embedding")
    cb = pq_train_codebook(resid.select("vec_id", "embedding"), k=k)
    if not cb:
        return empty
    top_cells = _ivf_top_cells_py(probe_vec, cents, nprobe)
    out = None
    for cell in top_cells:
        probe_res = [
            float(x) - y for x, y in zip(probe_vec, cent_by_id[cell])
        ]
        members = resid.filter(F.col("cell") == F.lit(cell))
        ranked = (
            pq_adc_rank_of(members, cb, probe_res)
            if k <= K_LITERAL_MAX
            else pq_adc_rank_bcast(members, cb, probe_res)
        )
        out = ranked if out is None else out.unionByName(ranked)
    if nprobe == 1:
        return out
    # per-cell top-10s cover the global top-10 over the probed union
    return out.orderBy("adc", "vec_id").limit(10)


def _nearest_code(s, cents):
    """argmin_k |s - c_k|² per row via the matmul expansion
    |s|² − 2 s·c + |c|² (the |s|² term is a per-row constant, so the
    argmin drops it): one dgemm instead of materializing the
    (n, k, dsub) broadcast-difference cube — the `_coded_frame_numpy`
    trick applied to the trainers (VERDICT r10 #2; ~10x at k=256,
    where the cube is a 67 MB allocation per Lloyd step). Same first-
    minimum tiebreak as the cube argmin; only hairline float ties can
    assign differently (expansion vs squared-difference summation
    order), which shifts trained books in the low bits — the recall
    ladder is re-measured in the same commit as this kernel."""
    import numpy as np

    cn2 = np.einsum("kd,kd->k", cents, cents)
    return (cn2[None, :] - 2.0 * (s @ cents.T)).argmin(axis=1)


def pq_train_codebook(
    e: DataFrame,
    sample_n: int = 4096,
    iters: int = 10,  # converged on the driver corpus by ~8 (recall@10
    # plateaus at 0.4; 5 iters left it pre-convergence at 0.2)
    k: int = PQ_K,
) -> list[list[float]]:
    """Lloyd-trained PQ codebooks for production indexes: per
    subspace, k-means over a driver-bounded deterministic sample
    (lowest ``sample_n`` vec_ids — one bounded collect, the same
    budget as the hyperplane/centroid bootstraps). Returns the
    codebook in the flat [k][dim] layout ``pq_encode_of`` consumes —
    entry ``c[m*dsub:(m+1)*dsub]`` is subspace m's centroid c.
    Deterministic: sample order, init (first k sample rows), and a
    fixed iteration count; empty clusters keep their previous
    centroid. numpy float64 throughout."""
    import numpy as np

    rows = (
        e.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_n)
        .collect()
    )
    if len(rows) < k:
        return [[float(v) for v in r.embedding] for r in rows]
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    dim = x.shape[1]
    dsub = _pq_dsub(dim)
    books = []
    for m in range(PQ_M):
        s = x[:, m * dsub:(m + 1) * dsub]
        cents = s[:k].copy()
        for _ in range(iters):
            assign = _nearest_code(s, cents)
            for j in range(k):
                members = s[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        books.append(cents)
    # reassemble into full-dim rows so the same cb[...] slicing works
    return [
        [float(v) for m in range(PQ_M) for v in books[m][j]] for j in range(k)
    ]


def trainer_residual_sample(
    e: DataFrame, cents, sample_n: int = 4096
) -> DataFrame:
    """The trainers' bounded residual sample as a LOCAL DataFrame —
    the fast path for feeding :func:`pq_train_codebook` /
    :func:`opq_train_rotation` at large K.

    The trainers take a (vec_id, embedding=residual) frame and collect
    the lowest ``sample_n`` vec_ids. Composing that from
    ``residual_of(_ivf_cells_of(e, cents), cents)`` makes the
    trainer's TakeOrdered pay the full K-wide assignment + residual
    expression chain just to materialize a driver-bounded sample.
    Measured chain at K=256 on the 10x corpus (full narration with
    host probes: COVERAGE.md "trainer" chain): r10 opq_train_sec
    53.444 s → 29.65 s after the matmul encode kernel (the remainder
    was exactly this Spark-side sample chain) → with this helper,
    0.316 s sample + 2.204 s trainer core on a quiet host (steal
    0.03%) / 0.953 + 9.394 s on a host-elevated run (steal 0.56% —
    the artifact a single soak JSON pins depends on which host ran
    it; cite the chain, not one number). This helper instead
    collects the RAW sample rows (a TakeOrdered over the pushed
    (vec_id, embedding) scan) and computes own-cell assignment +
    residual driver-side as one numpy matmul — the
    `_coded_frame_numpy` kernel class applied to the trainer input:
    same first-extremum tiebreak over cid-sorted centroids, zero-norm
    rows to the first cell, elementwise float64 subtraction bit-equal
    to `residual_of`'s `cast(x as double) - y`; cells can differ from
    the HOF chain only on float hairline ties (the `_argmin_numpy`
    adjudication — parity pinned in tests/test_similarity_pq.py).
    The parity claim assumes non-zero centroid norms (what spherical
    k-means / the bootstrap always produce): a ZERO-NORM centroid
    diverges by construction — this kernel maps its norm to 1 (cosine
    0, the centroid loses) while `_ivf_cells_of` yields NaN cosine
    there and Spark's array_max ranks NaN above all doubles (the
    centroid wins) — so don't feed degenerate quantizers to either.

    Coupling (ADVICE r12): ``sample_n`` here caps what the downstream
    trainer can see — pass ONE shared value to this helper and to
    ``pq_train_codebook``/``opq_train_rotation``; a trainer asking
    for more rows than this sample holds silently trains on fewer.

    Scale note: this moves NO new data to the driver — the trainers
    already collect exactly these ``sample_n`` rows; it only moves
    WHERE the residual arithmetic for those rows runs. The returned
    frame is a local (createDataFrame) relation, so the trainer's
    internal orderBy/limit/collect is a driver round-trip, not a
    cluster job."""
    import numpy as np

    rows = (
        e.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_n)
        .collect()
    )
    schema = "vec_id bigint, embedding array<double>"
    if not rows or not cents:
        return e.sparkSession.createDataFrame(
            [(int(r.vec_id), [float(v) for v in r.embedding]) for r in rows],
            schema,
        )
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    c = np.asarray(
        [r.embedding for r in sorted(cents, key=lambda r: int(r.vec_id))],
        dtype=np.float64,
    )
    xn = np.sqrt(np.einsum("nd,nd->n", x, x))
    xn[xn == 0] = 1.0
    cn = np.sqrt(np.einsum("kd,kd->k", c, c))
    cn[cn == 0] = 1.0
    cell_idx = np.argmax((x @ c.T) / (xn[:, None] * cn[None, :]), axis=1)
    res = x - c[cell_idx]
    return e.sparkSession.createDataFrame(
        [
            (int(r.vec_id), [float(v) for v in res[i]])
            for i, r in enumerate(rows)
        ],
        schema,
    )


# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge et al., CVPR 2013)
#
# PQ's quantization error depends on how the D dims are split into
# PQ_M subspaces: correlated/unevenly-scaled dims in one subspace
# waste codebook entropy. OPQ learns an ORTHOGONAL rotation R so that
# codes are assigned in the rotated space x·R where subspace variances
# are balanced and cross-subspace correlation is minimized. Distances
# are rotation-invariant, so ADC in rotated space still estimates the
# true L2 — the probe's residual is rotated with the SAME R before the
# distance tables are built.
#
# Bench/production surface only (like the Lloyd-trained codebooks: a
# trained float rotation isn't portable as literal oracle SQL) —
# pytest-oracled instead: orthogonality, distance preservation, and a
# numpy-vs-Spark rotation-kernel parity property.
# ---------------------------------------------------------------------------


def rotate_vectors(
    df: DataFrame, rotation: list[list[float]], src: str = "embedding",
    out: str | None = None,
) -> DataFrame:
    """``out`` = ``src`` · R via ONE Arrow-batched numpy matmul per
    batch — the vectorized-kernel class (`_argmin_numpy`): a D×D
    rotation as a per-row SQL expression would be D² multiply-adds of
    interpreted HOF per row, while the batch matmul is a single dgemm.
    Map-side only: no shuffle, the rotation matrix rides in the UDF
    closure (K×D doubles — broadcast-variable class, 32 KB at D=64)."""
    import numpy as np
    import pandas as pd

    out = out or src
    rot = np.asarray(rotation, dtype=np.float64)

    def _rot(col):
        if not len(col):
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        return pd.Series(list(mat @ rot))

    # explicit returnType (no type-hint inference: `from __future__
    # import annotations` stringifies hints the inferencer can't
    # resolve against function-local imports)
    return df.withColumn(
        out, F.pandas_udf(_rot, "array<double>")(F.col(src))
    )


def _opq_eig_allocation_init(x, m: int, dsub: int):
    """Parametric OPQ init (Ge et al. §4): rotate onto the PCA basis,
    then greedily allocate eigen-directions to the M subspaces
    balancing the log-variance product — the closed-form optimum for
    Gaussian data, and the deterministic seed the non-parametric
    iterations refine."""
    import math as _math

    import numpy as np

    cov = np.cov(x.T)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(-w)
    w, v = w[order], v[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logprod = [0.0] * m
    for i in range(x.shape[1]):
        for b in sorted(range(m), key=lambda b: logprod[b]):
            if len(buckets[b]) < dsub:
                buckets[b].append(i)
                logprod[b] += _math.log(max(float(w[i]), 1e-12))
                break
    return v[:, [i for b in buckets for i in b]]


def opq_train_rotation(
    e: DataFrame,
    k: int = PQ_K,
    sample_n: int = 4096,
    outer: int = 10,
    inner: int = 10,
) -> tuple[list[list[float]], list[list[float]]]:
    """(rotation R, codebook) trained on a bounded deterministic
    driver sample (lowest ``sample_n`` vec_ids — the same collect
    budget as every other trainer). Non-parametric OPQ: eigenvalue-
    allocation init, then ``outer`` rounds of {one Lloyd refinement
    per subspace in rotated space; re-encode; orthogonal Procrustes
    solve R = UVᵀ of SVD(XᵀX̂)}, then ONE closing Lloyd pass in the
    returned rotation's space so the (R, codebook) pair is
    self-consistent (the loop ends on a rotation solve, so without
    the closing pass the book was trained against the previous
    rotation — ADVICE r10 #1). Deterministic end-to-end: frozen
    sample order, first-k init, fixed iteration counts, float64.

    The returned codebook lives in ROTATED space, flat [k][dim]
    layout — rank with ``pq_adc_rank_bcast(rotate_vectors(df, R),
    cb, probe·R)``. Degrades like ``pq_train_codebook``: a sample
    smaller than ``k`` returns (identity, sample rows) so callers
    keep the no-training semantics on tiny corpora.

    Measured at sf0.1 (mean recall@10 over 32 probes, nprobe=4
    composed residual path; BENCH_SELF_r12.json): k=64 0.200 → 0.2375,
    k=256 0.278 → 0.3187 — the codebook-quality lever past raw k
    (VERDICT r9 #3). Float-drift note (VERDICT r11 #2): the r12
    matmul-kernel rewrite plus the closing Lloyd pass moved these from
    the r10/r11 pins 0.244 / 0.322 by −0.007 / −0.003 — hairline-tie
    reassignments plus the consistency fix, ~1 neighbor-flip across
    32 probes, against a 53 s → 3.9 s trainer. The recall lever past
    the codebook itself is the refine stage: the same k=256 OPQ
    config reaches 0.5156 / 0.6500 / 0.7344 at refine R=32/64/128 vs
    the 0.7375 same-cells exact ceiling."""
    import numpy as np

    rows = (
        e.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_n)
        .collect()
    )
    dim = len(rows[0].embedding) if rows else 0
    if len(rows) < k:
        ident = [
            [1.0 if i == j else 0.0 for j in range(dim)] for i in range(dim)
        ]
        return ident, [[float(v) for v in r.embedding] for r in rows]
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    dsub = _pq_dsub(dim)
    rot = _opq_eig_allocation_init(x, PQ_M, dsub)

    def _sub(arr, m):
        return arr[:, m * dsub:(m + 1) * dsub]

    # both inner loops run on the `_nearest_code` matmul expansion —
    # the (n, k, dsub) broadcast-difference cube this replaced was the
    # 53 s at k=256 the r10 soak recorded (VERDICT r11 #2); same
    # first-minimum tiebreak, hairline float ties only, ladder
    # re-measured in the same commit (BENCH_SELF_r12.json)
    def _encode(xr, books):
        return [_nearest_code(_sub(xr, m), books[m]) for m in range(PQ_M)]

    def _lloyd(xr, books, iters):
        for m in range(PQ_M):
            s = _sub(xr, m)
            for _ in range(iters):
                assign = _nearest_code(s, books[m])
                for j in range(k):
                    members = s[assign == j]
                    if len(members):
                        books[m][j] = members.mean(axis=0)
        return books

    books = None
    for _ in range(outer):
        xr = x @ rot
        if books is None:
            books = _lloyd(xr, [_sub(xr, m)[:k].copy() for m in range(PQ_M)], inner)
        else:
            books = _lloyd(xr, books, 1)
        codes = _encode(xr, books)
        xhat = np.concatenate(
            [books[m][codes[m]] for m in range(PQ_M)], axis=1
        )
        u, _s, vt = np.linalg.svd(x.T @ xhat)
        rot = u @ vt
    # final half-step consistency (ADVICE r10 #1): the loop above ends
    # on a rotation solve, so `books` was last refined in the PREVIOUS
    # rotation's space — one closing Lloyd pass in the returned
    # rotation's space makes the (R, codebook) pair self-consistent
    # (the codebook callers use is trained against exactly the x·R
    # they will encode).
    books = _lloyd(x @ rot, books, 1)
    cb = [
        [float(v) for m in range(PQ_M) for v in books[m][j]] for j in range(k)
    ]
    return [[float(v) for v in row] for row in rot], cb


def pq_codes_bcast(e: DataFrame, cb: list[list[float]], col: str = "embedding") -> DataFrame:
    """``e`` + ``codes`` (array<int>) under a codebook PAST the
    literal budget: the encode twin of :func:`pq_adc_rank_bcast` —
    the codebook subvectors enter the plan as ONE broadcast array
    row and each subspace's argmin is a transform/array_min HOF over
    it (same (d, k)-struct lowest-code tiebreak as the literal
    `_pq_code_sql`, property-tested equal at K=16). Serves the
    materialized-index BUILD with trained K>16 codebooks."""
    dsub = _pq_dsub(len(cb[0]))
    cbsub = [
        [[float(v) for v in c[m * dsub:(m + 1) * dsub]] for c in cb]
        for m in range(PQ_M)
    ]
    base = _pq_with_subvectors(e, dsub, col=col)
    base = _with_centroid_array(base, cbsub, "array<array<array<double>>>", "_cbsub")
    codes = ", ".join(
        f"cast(array_min(transform(element_at(_cbsub, {m + 1}), (c, k) -> "
        f"struct(aggregate(zip_with(_s{m}, c, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, v) -> acc + v) AS d, k AS k))).k as int)"
        for m in range(PQ_M)
    )
    return base.withColumn("codes", F.expr(f"array({codes})")).drop(
        "_cbsub", *[f"_s{m}" for m in range(PQ_M)]
    )
