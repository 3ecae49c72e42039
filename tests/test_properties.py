"""Property-based checks (hypothesis) for exactness claims the
oracle comparisons rely on.

The reference has no property tests (SURVEY §5); these pin the two
invariants our scale rewrites depend on: salting never changes an
algebraic aggregate, and the affine MinHash family is a permutation
(injective) over its modulus.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from environmental_stac_generator_spark.plan_policy import provably_small, scale_plans
from environmental_stac_generator_spark.queries.dedup import (
    A_COEF,
    B_COEF,
    MINHASH_P,
    N_HASHES,
)
from environmental_stac_generator_spark.tables import load


@st.composite
def keyed_rows(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    keys = st.sampled_from(["a", "b", "hot"])
    vals = st.integers(min_value=-1000, max_value=1000)
    return [(draw(keys), float(draw(vals))) for _ in range(n)]


@settings(max_examples=10, deadline=None)
@given(rows=keyed_rows(), n_salt=st.integers(min_value=1, max_value=8))
def test_salted_agg_equals_plain_agg(spark, rows, n_salt):
    from environmental_stac_generator_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "key string, v double")
    salted = {
        r["key"]: (r["s"], r["n"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            keys=["key"],
            aggs={"s": ("sum", "v"), "n": ("count", "v"), "lo": ("min", "v"), "hi": ("max", "v")},
            salt_from="v",
            n_salt=n_salt,
        ).collect()
    }
    import pyspark.sql.functions as F

    plain = {
        r["key"]: (r["s"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("key")
        .agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert salted == plain


# Base hashes are 32-bit md5 prefixes, so the real input domain is
# [0, 2^32) — strictly inside Z_P (P = 2^32 + 15). That bound, not P,
# is what keeps a_k·x inside int64.
_BASE_MAX = 2**32 - 1


@given(
    x=st.integers(min_value=0, max_value=_BASE_MAX),
    y=st.integers(min_value=0, max_value=_BASE_MAX),
    k=st.integers(min_value=0, max_value=N_HASHES - 1),
)
@settings(max_examples=200, deadline=None)
def test_affine_family_is_permutation(x, y, k):
    """(a_k·x + b_k) mod P is injective over Z_P (P prime, a_k != 0
    mod P), so distinct base hashes never collide after permutation —
    minima are a true MinHash, not a lossy rehash. And the int64
    intermediate a_k·x never overflows on the real input domain."""
    hx = (A_COEF[k] * x + B_COEF[k]) % MINHASH_P
    hy = (A_COEF[k] * y + B_COEF[k]) % MINHASH_P
    assert (hx == hy) == (x == y)
    assert A_COEF[k] * x + B_COEF[k] <= 2**63 - 1


def test_coefficients_fit_int64():
    assert all(0 < a < 2**31 for a in A_COEF)
    assert all(0 <= b < MINHASH_P for b in B_COEF)
    # max product on the real domain: (2^31-1)·(2^32-1) + b < 2^63-1
    assert (2**31 - 1) * _BASE_MAX + max(B_COEF) < 2**63 - 1


# ---- F2 calendar-interval arithmetic vs dateutil.relativedelta ------
# The reference applies relativedelta(**{unit: i * step})
# (stac/generator.py:680-682,855-857) with step from
# parse_forecast_frequency (utils.py:122-158). leadtime_offset must
# reproduce it bit-for-bit, including fractional hours/days/weeks,
# month-end clamping, and the "Non-integer years and months are
# ambiguous" failure mode.

_BASE_TS = st.datetimes(
    min_value=__import__("datetime").datetime(1990, 1, 1),
    max_value=__import__("datetime").datetime(2035, 12, 31),
).map(lambda d: d.replace(microsecond=0))


@settings(max_examples=15, deadline=None)
@given(
    base=_BASE_TS,
    unit=st.sampled_from(["hours", "days", "weeks", "months", "years"]),
    step=st.sampled_from([0.25, 0.5, 1.0, 1.5, 2.0, 3.0, 6.0]),
    i=st.integers(min_value=0, max_value=40),
)
def test_leadtime_offset_matches_relativedelta(spark, base, unit, step, i):
    from dateutil.relativedelta import relativedelta

    from environmental_stac_generator_spark.functions.frequency import (
        leadtime_offset,
    )

    value = i * step
    df = spark.createDataFrame([(base,)], "ts timestamp")
    out_col = leadtime_offset("ts", unit, value)
    try:
        expected = base + relativedelta(**{unit: value})
    except ValueError:
        # non-integer months/years: the column form must raise too
        import pytest as _pytest

        with _pytest.raises(Exception, match="ambiguous"):
            df.select(out_col.alias("t")).collect()
        return
    got = df.select(out_col.alias("t")).first()["t"]
    assert got == expected, f"{base} + {value}{unit}: {got} != {expected}"


def test_leadtime_offset_month_end_clamp(spark):
    import datetime as dt

    from environmental_stac_generator_spark.functions.frequency import (
        leadtime_offset,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2020, 1, 31, 12, 30),)], "ts timestamp"
    )
    got = df.select(
        leadtime_offset("ts", "months", 1).alias("m"),
        leadtime_offset("ts", "years", 1).alias("y"),
    ).first()
    # clamps to Feb 29 AND keeps the time of day (relativedelta does)
    assert got["m"] == dt.datetime(2020, 2, 29, 12, 30)
    assert got["y"] == dt.datetime(2021, 1, 31, 12, 30)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 500)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n_parts=st.integers(min_value=1, max_value=6),
)
def test_global_running_sum_matches_single_partition_window(spark, rows, n_parts):
    """The two-phase range-partitioned prefix sum must equal the
    naive single-partition window cumsum exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    df = spark.createDataFrame(rows, "k bigint, v bigint")
    order = [(F.col("k"), True)]
    got = {
        r["k"]: r["rt"]
        for r in global_running_sum(
            df, order, "v", out_col="rt", num_partitions=n_parts
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_running_sum_fractional_value_column(spark):
    """The bucketed path must handle non-integer value columns: the
    driver-built offsets relation is typed by the SUM's data type, so
    the running-offset seed must be a float/Decimal, not int 0 (which
    createDataFrame rejects for DoubleType/DecimalType fields)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 0.25).alias("v")
    )
    got = {
        r["k"]: r["rt"]
        for r in global_running_sum(
            df, [F.col("k")], "v", out_col="rt", num_partitions=4
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_running_sum_leaves_no_persisted_rdd(spark, sf_dir):
    """VERDICT r3 #4: the prefix sum must not pin a corpus-sized cache
    for the session — after executing the query end-to-end there must
    be no lingering persisted RDD."""
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.range(0, 1_000).withColumn("v", F.col("id") % 7)
    out = global_running_sum(df, [F.col("id")], "v", out_col="rt")
    assert out.agg(F.max("rt")).first()[0] == df.agg(F.sum("v")).first()[0]
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()


def test_bucket_pairs_join_path_equals_array_path(spark, sf_dir):
    """Skew-safe mega-bucket fallback: forcing every bucket through
    the self-join path must produce exactly the map-side array-path
    pairs."""
    from environmental_stac_generator_spark.queries.dedup import (
        lsh_candidate_pairs,
    )

    array_path = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(spark, sf_dir).collect()
    }
    join_path = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(spark, sf_dir, max_bucket=1).collect()
    }
    assert array_path == join_path and len(array_path) > 0


def test_embedding_near_dup_join_path_equals_array_path(spark, sf_dir):
    from environmental_stac_generator_spark.queries.similarity import (
        embedding_near_dup,
    )

    array_path = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_near_dup(spark, sf_dir).collect()
    }
    join_path = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_near_dup(spark, sf_dir, max_bucket=1).collect()
    }
    assert array_path == join_path and len(array_path) > 0


def test_semdedup_pairs_shuffle_path_equals_broadcast_path(spark, sf_dir):
    """VERDICT r3 #2: `max_bucket` must actually gate the pair stage —
    forcing every cluster through the skew-safe blocked fallback
    (max_bucket=1: every cluster mega, triangle-blocked self-join +
    pairs-form Arrow metric) must yield exactly the default
    applyInArrow cluster-kernel path's pair set."""
    from environmental_stac_generator_spark.queries.similarity import (
        semdedup_pairs,
    )

    kernel_path = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semdedup_pairs(spark, sf_dir).collect()
    }
    blocked_path = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semdedup_pairs(spark, sf_dir, max_bucket=1).collect()
    }
    assert kernel_path == blocked_path and len(kernel_path) > 0


def test_kmeans_matches_numpy_lloyds(spark, sf_dir):
    """kmeans_clusters == a naive numpy Lloyd's run with the same
    init, iteration count, and 6-dp centroid rounding."""
    import numpy as np

    from environmental_stac_generator_spark.queries.similarity import (
        EMB_DIM,
        K_CLUSTERS,
        KMEANS_ITERS,
        kmeans_clusters,
    )
    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    cents = X[ids < K_CLUSTERS].copy()
    cids = ids[ids < K_CLUSTERS]
    for it in range(KMEANS_ITERS):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = cids[np.argmin(d, axis=1)]  # ties: lowest cluster id
        if it < KMEANS_ITERS - 1:
            keepc = sorted(set(assign.tolist()))
            cents = np.array(
                [
                    np.floor(X[assign == c].mean(axis=0) * 1e6 + 0.5) / 1e6
                    for c in keepc
                ]
            )
            cids = np.array(keepc)
    want = dict(zip(ids.tolist(), assign.tolist()))
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_clusters(spark, sf_dir).collect()
    }
    assert got == want
    assert X.shape[1] == EMB_DIM


def test_kmeans_broadcast_centroid_path_equals_literal_path(spark, sf_dir):
    """VERDICT r3 #6: past K_LITERAL_MAX the assignment must switch to
    the broadcast centroid-array HOF with bit-identical results — run
    k-means at K=64 through both paths and compare exactly."""
    from environmental_stac_generator_spark.queries import similarity

    def run():
        return sorted(
            tuple(r)
            for r in similarity.kmeans_clusters(spark, sf_dir).collect()
        )

    orig_k, orig_max = similarity.K_CLUSTERS, similarity.K_LITERAL_MAX
    similarity.K_CLUSTERS = 64
    try:
        similarity.K_LITERAL_MAX = 1_000_000  # force literal SQL
        literal = run()
        similarity.K_LITERAL_MAX = 0  # force broadcast array
        broadcast = run()
    finally:
        similarity.K_CLUSTERS, similarity.K_LITERAL_MAX = orig_k, orig_max
    assert literal == broadcast and len(literal) > 0


def test_ivf_broadcast_centroid_path_equals_literal_path(spark, sf_dir):
    from environmental_stac_generator_spark.queries import similarity

    def run():
        return sorted(
            tuple(r)
            for r in similarity.ivf_ann_probe(spark, sf_dir).collect()
        )

    orig_n, orig_max = similarity.N_CENTROIDS, similarity.K_LITERAL_MAX
    similarity.N_CENTROIDS = 64
    try:
        similarity.K_LITERAL_MAX = 1_000_000
        literal = run()
        similarity.K_LITERAL_MAX = 0
        broadcast = run()
    finally:
        similarity.N_CENTROIDS, similarity.K_LITERAL_MAX = orig_n, orig_max
    assert literal == broadcast and len(literal) > 0


def test_span_dedup_skew_safe_path_equals_window_path(spark, sf_dir):
    """VERDICT r3 #7: the no-window skew-safe plan (partial-agg count
    + h-co-partitioned join) must reproduce the window plan exactly."""
    from environmental_stac_generator_spark.queries.curation import span_dedup

    window_path = sorted(
        tuple(r) for r in span_dedup(spark, sf_dir).collect()
    )
    safe_path = sorted(
        tuple(r) for r in span_dedup(spark, sf_dir, skew_safe=True).collect()
    )
    assert window_path == safe_path and len(window_path) > 0


def test_global_running_sum_boundary_path_matches_naive(spark):
    """Large-input prefix sum (bucket boundaries active, including a
    descending key) must equal the single-partition window exactly and
    be identical across repeated executions."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.randint(1, 9)) for i in range(5_000)]
    df = spark.createDataFrame(rows, "id bigint, grp bigint, v bigint")
    order = [(F.col("grp"), False), (F.col("id"), True)]
    out = global_running_sum(df, order, "v", out_col="rt", num_partitions=8)
    got = {r["id"]: r["rt"] for r in out.collect()}
    again = {r["id"]: r["rt"] for r in out.collect()}
    assert got == again, "re-execution must be bit-stable"
    w = Window.orderBy(F.col("grp").desc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {r["id"]: r["rt"] for r in df.withColumn("rt", F.sum("v").over(w)).collect()}
    assert got == want


def test_tracked_pair_caches_are_releasable(spark, sf_dir):
    """ADVICE r4: the pair-bucket persists must not pin the session —
    after release_tracked() no tracked RDD may remain persisted."""
    from environmental_stac_generator_spark.operators.lineage import (
        _tracked_list,
        release_tracked,
    )
    from environmental_stac_generator_spark.queries.dedup import (
        lsh_candidate_pairs,
    )
    release_tracked()  # clean slate
    # force the skew-safe routing: the r16 provably-no-mega gate
    # otherwise drops the persist entirely on this small corpus (the
    # releasability invariant under test applies to the path that
    # persists)
    with scale_plans():
        assert lsh_candidate_pairs(spark, sf_dir).count() > 0
    assert _tracked_list(), "bucket_pairs must register its persist"
    tracked = list(_tracked_list())
    release_tracked()
    assert not _tracked_list()
    assert all(
        df.storageLevel.useMemory is False and df.storageLevel.useDisk is False
        for df in tracked
    )


def test_global_running_sum_stats_hint_path_matches_bucketed(spark):
    """The stats-driven small-relation path (``input_rows`` ≤
    SMALL_INPUT_ROWS → one-job window plan) must produce exactly the
    bucketed two-phase result, and a large hint must keep the
    scale-safe bucketed plan (no SinglePartition exchange of the
    input)."""
    import random

    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.operators.cumulative import (
        SMALL_INPUT_ROWS,
        global_running_sum,
    )

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 50), rng.randint(1, 9)) for i in range(2_000)]
    df = spark.createDataFrame(rows, "id bigint, grp bigint, v bigint")
    order = [(F.col("grp"), False), (F.col("id"), True)]
    small = global_running_sum(
        df, order, "v", out_col="rt", input_rows=len(rows)
    )
    bucketed = global_running_sum(
        df, order, "v", out_col="rt", num_partitions=8,
        input_rows=SMALL_INPUT_ROWS + 1,
    )
    assert {r["id"]: r["rt"] for r in small.collect()} == {
        r["id"]: r["rt"] for r in bucketed.collect()
    }
    # the small path is the one-job plan …
    assert "SinglePartition" in small._jdf.queryExecution().executedPlan().toString()
    # … and the large-hint plan never funnels the input through one
    # reducer: its only window is partitioned by the bucket id
    plan = bucketed._jdf.queryExecution().toString()
    assert "_pid" in plan


# ---------------------------------------------------------------------------
# Connected components: star contraction == label propagation, and the
# star path resolves high-diameter (chain) graphs in fewer rounds —
# the scale argument for components_of(algorithm="star").


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_star_components_equal_label_components(spark, edges):
    from environmental_stac_generator_spark.queries.dedup import components_of

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    label = {
        (r["doc_id"], r["cluster_id"])
        for r in components_of(pairs, algorithm="label").collect()
    }
    star = {
        (r["doc_id"], r["cluster_id"])
        for r in components_of(pairs, algorithm="star").collect()
    }
    assert star == label


def test_star_takes_fewer_rounds_on_chain(spark):
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
        _components_star,
    )

    # a 17-node chain: min-label propagation needs one round per hop,
    # star contraction collapses it at a doubling rate
    # (driver_max_pairs=0 forces the DISTRIBUTED fixpoint — the round
    # comparison is what this test is about)
    chain = [(i, i + 1) for i in range(16)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    ldf, label_rounds = _components_label(pairs, driver_max_pairs=0)
    sdf, star_rounds = _components_star(pairs)
    expect = {(i, 0) for i in range(17)}
    assert {(r["doc_id"], r["cluster_id"]) for r in ldf.collect()} == expect
    assert {(r["doc_id"], r["cluster_id"]) for r in sdf.collect()} == expect
    assert star_rounds * 2 <= label_rounds  # at least halves the rounds


def test_numpy_assignment_kernel_equals_hof_kernel(spark, sf_dir):
    """The vectorized Arrow assignment kernel (auto-K scale path)
    must produce the same clustering as the bit-exact HOF kernel —
    same cluster per vector at K=64, and therefore the same semantic
    pair set (pair cosines are computed JVM-side from the raw
    embeddings either way)."""
    from environmental_stac_generator_spark.queries.similarity import (
        _lloyd_assign,
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = {}
    for kernel in ("auto", "numpy"):
        assigned, _ = _lloyd_assign(e, k=64, kernel=kernel)
        out[kernel] = {
            (r["vec_id"], r["cluster"]) for r in assigned.collect()
        }
    assert out["auto"] == out["numpy"] and len(out["auto"]) > 0


def test_numpy_kernel_tolerates_null_and_ragged_embeddings(spark):
    """Dirty data must not crash the Arrow stage: null / wrong-length
    embeddings get a null _best from the numpy kernel, matching the
    HOF kernel's degradation instead of np.stack raising."""
    from environmental_stac_generator_spark.queries.similarity import (
        _argmin_sqdist,
    )

    e = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),
            (3, [0.5]),  # ragged: wrong dimensionality
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    by_kernel = {}
    for kernel in ("auto", "numpy"):
        rows = {
            r["vec_id"]: r["_best"]
            for r in _argmin_sqdist(e, cents, kernel=kernel).collect()
        }
        by_kernel[kernel] = rows
        # dirty rows degrade (null _best or null distance), never crash
        for dirty in (2, 3):
            assert rows[dirty] is None or rows[dirty]["d"] is None
        assert rows[1]["cid"] == 0 and rows[4]["cid"] == 1
    # clean rows agree across kernels
    assert by_kernel["auto"][1] == by_kernel["numpy"][1]
    assert by_kernel["auto"][4] == by_kernel["numpy"][4]


def test_components_null_ids_agree_across_gate(spark):
    """Half-null pairs normalize to self-pairs of the non-null id,
    so all three component paths (driver union-find, distributed
    label fixpoint, star contraction) agree: the non-null partner
    keeps a singleton label instead of vanishing, no spurious null
    node appears, and the driver path no longer TypeErrors sorting
    None against ids."""
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
        _components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 5), (6, None), (7, 7), (None, None)],
        "doc_a long, doc_b long",
    )
    small_df, r_small = _components_label(pairs)  # driver path
    big_df, _ = _components_label(pairs, driver_max_pairs=0)
    star_df, _ = _components_star(pairs)
    expect = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 6), (7, 7)}
    assert r_small == 0
    for df in (small_df, big_df, star_df):
        assert {(r["doc_id"], r["cluster_id"]) for r in df.collect()} == expect


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_driver_union_find_equals_distributed_fixpoint(spark, edges):
    """The small-relation driver union-find path must label exactly
    like the distributed min-label fixpoint on arbitrary graphs."""
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
    )

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    small_df, r_small = _components_label(pairs)  # takes the driver path
    big_df, r_big = _components_label(pairs, driver_max_pairs=0)
    assert r_small == 0 and r_big >= 1
    small = {(r["doc_id"], r["cluster_id"]) for r in small_df.collect()}
    big = {(r["doc_id"], r["cluster_id"]) for r in big_df.collect()}
    assert small == big


def test_components_execute_pair_pipeline_once(spark):
    """The pair relation feeding connected components must execute
    exactly once: the symmetric edge closure scans it from BOTH union
    branches, so without the upfront lineage cut the upstream pair
    pipeline (LSH bands / cosine buckets) would re-run per branch —
    twice in the label path, four times in star (nodes + edges).
    An accumulator-instrumented pipeline counts actual executions."""
    from environmental_stac_generator_spark.queries.dedup import components_of

    base = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    for algorithm in ("label", "star"):
        acc = spark.sparkContext.accumulator(0)

        def gen(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        pairs = base.repartition(4).mapInPandas(gen, base.schema)
        components_of(pairs, algorithm=algorithm).collect()
        assert acc.value == 50, f"{algorithm}: pipeline ran {acc.value / 50}x"


def test_semantic_pairs_auto_k(spark, sf_dir):
    """n_clusters='auto' (K ~ sqrt(N), the bounded-cluster SemDeDup
    posture) runs deterministically, honors the threshold, and its
    pair set is a SUPERSET-compatible dedup signal: every fixed-K
    pair whose endpoints share an auto-K cluster appears too."""
    from environmental_stac_generator_spark.queries.similarity import (
        SEM_THRESHOLD,
        semantic_pairs_of,
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    auto1 = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semantic_pairs_of(e, n_clusters="auto").collect()
    }
    auto2 = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semantic_pairs_of(e, n_clusters="auto").collect()
    }
    assert auto1 == auto2 and len(auto1) > 0  # deterministic
    assert all(c >= SEM_THRESHOLD and a < b for a, b, c in auto1)
    # pinning an explicit K equal to the default reproduces the
    # registered query's pair set exactly
    from environmental_stac_generator_spark.queries.similarity import (
        K_CLUSTERS,
    )

    fixed = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semantic_pairs_of(e).collect()
    }
    pinned = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semantic_pairs_of(e, n_clusters=K_CLUSTERS).collect()
    }
    assert fixed == pinned


def test_sql_rnd_is_the_oracle_rounding_template(spark):
    """functions.rounding.sql_rnd is the canonical template for the
    floor(x*10^n+0.5)/10^n formula the oracle SQL inlines: (a) its
    DuckDB evaluation is bit-identical to Spark's rnd on adversarial
    exact-half values (where engine round() disagrees), and (b) no
    registered oracle ever uses engine round(), whose half-rule
    differs between Spark and DuckDB."""
    import re

    import duckdb
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.functions.rounding import (
        rnd,
        sql_rnd,
    )
    from environmental_stac_generator_spark.registry import (
        load_full_registry,
    )

    vals = [0.05625, 0.12345, 2.5e-5, 1.00005, 123.45675, 0.99995]
    spark_out = [
        r["y"]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(rnd(F.col("x"), 4).alias("y"))
        .orderBy("y")
        .collect()
    ]
    duck_out = sorted(
        r[0]
        for v in vals
        for r in duckdb.sql(f"SELECT {sql_rnd(str(v), 4)}").fetchall()
    )
    assert spark_out == duck_out

    for name, spec in load_full_registry().items():
        if spec.sql:
            assert not re.search(r"(?<![\w_])round\s*\(", spec.sql, re.I), (
                f"{name}: oracle SQL uses engine round(), which differs "
                "from Spark on exact halves — use the sql_rnd formula"
            )


def test_plan_gate_degradation_posture():
    """The shared CBO gate: only proven-small stats pick the small
    plan; unknown stats and the scale-plan override both take the
    scale-safe side."""
    assert provably_small(10, 100)
    assert provably_small(100, 100)
    assert not provably_small(101, 100)
    assert not provably_small(None, 100)  # unknown stats are NOT small
    with scale_plans():
        assert not provably_small(1, 100)  # override forces scale side
    assert provably_small(1, 100)


def test_scale_plans_is_scoped():
    """scale_plans() holds for the calling context only: not on a
    thread started inside it, restored after an exception, nestable."""
    import threading

    def forced() -> bool:
        return not provably_small(1, 100)

    seen = []
    with scale_plans():
        t = threading.Thread(target=lambda: seen.append(forced()))
        t.start()
        t.join()
        with scale_plans():
            assert forced()
        assert forced()
    assert seen == [False] and not forced()
    try:
        with scale_plans():
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not forced()


def test_oracle_kmeans_stays_on_bit_exact_kernels():
    """VERDICT r5 watch item: the oracle-compared fixed-K path must
    never route through the vectorized numpy kernel, whose FP
    summation order differs from the sequential-double HOF. Pinned
    structurally: the fixed K sits at or under the literal-kernel
    cap, and semantic_pairs_of only switches kernels past that cap."""
    from environmental_stac_generator_spark.queries.similarity import (
        K_CLUSTERS,
        K_LITERAL_MAX,
    )

    assert K_CLUSTERS <= K_LITERAL_MAX


def test_freq_column_forms_are_ansi_safe_and_pluralized(spark):
    """The column parsers must behave like parse_forecast_frequency:
    NULL (not a job-killing ANSI cast error) for garbage, pluralized
    units for singular inputs — so per-row results always feed
    leadtime_offset."""
    from environmental_stac_generator_spark.functions.frequency import (
        freq_unit,
        freq_value,
    )

    df = spark.createDataFrame(
        [("1hour",), ("2.5days",), ("5fortnights",), ("",)], "freq string"
    )
    rows = {
        r["freq"]: (r["v"], r["u"])
        for r in df.select(
            "freq", freq_value("freq").alias("v"), freq_unit("freq").alias("u")
        ).collect()
    }
    assert rows["1hour"] == (1.0, "hours")
    assert rows["2.5days"] == (2.5, "days")
    assert rows["5fortnights"] == (None, "")
    assert rows[""] == (None, "")


def test_leadtime_offset_null_value_propagates_for_every_unit(spark):
    """A NULL offset must yield a NULL timestamp for months/years
    exactly as it does for hours — not fire raise_error."""
    import datetime as dt

    from environmental_stac_generator_spark.functions.frequency import (
        leadtime_offset,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2025, 1, 31, 6, 0), None)], "ts timestamp, v double"
    )
    import pyspark.sql.functions as F

    row = df.select(
        *[
            leadtime_offset("ts", u, F.col("v")).alias(u)
            for u in ("hours", "days", "weeks", "months", "years")
        ]
    ).first()
    assert all(row[u] is None for u in ("hours", "days", "weeks", "months", "years"))


def test_lsh_bucketed_offset_ids_returns_empty_not_one_bucket(spark, tmp_path):
    """A non-empty corpus whose ids all sit at or above N_PLANES has
    no hyperplanes — the bucketing must return EMPTY (matching the
    oracle's empty planes-CTE cross join), not the whole corpus under
    one '' bucket, which would degenerate the bucketed near-dup join
    into an all-pairs self-join."""
    import pandas as pd

    from environmental_stac_generator_spark.queries import similarity

    pd.DataFrame(
        {
            "vec_id": [100, 101, 102],
            "embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    out = similarity._lsh_bucketed(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == ["vec_id", "embedding", "bucket"]
    # and the near-dup consumer emits no pairs instead of O(n^2)
    assert similarity.embedding_near_dup(spark, str(tmp_path)).count() == 0


def test_global_running_sum_with_nan_keys_matches_window(spark):
    """NaN sort keys must bucket the same way Spark sorts them (NaN
    greater than everything): the bucketed plan equals the
    single-window plan even when keys contain NaN, and NaN never
    reaches the boundary list (where Python's sort would corrupt
    it)."""
    import math

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    rows = [(float(i), 1) for i in range(40)] + [(float("nan"), 1)] * 3
    df = spark.createDataFrame(rows, "k double, v int").withColumn(
        "tie", F.monotonically_increasing_id()
    )
    order = [(F.col("k"), True), (F.col("tie"), True)]
    got = sorted(
        r["rt"]
        for r in global_running_sum(
            df, order, "v", out_col="rt", num_partitions=4
        ).collect()
    )
    w = Window.orderBy("k", "tie").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(
        r["rt"] for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    )
    assert got == want
