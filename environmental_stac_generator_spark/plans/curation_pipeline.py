"""End-to-end training-corpus curation pipeline.

The curation twin of :class:`~environmental_stac_generator_spark.engine.EnvStacEngine`:
one call chains the §2.11 curation operators over a ``(doc_id, text,
source)`` DataFrame —

    exact dedup → near-dup dedup (MinHash-LSH + Jaccard verify) →
    semantic dedup (SemDeDup within-k-means-cluster cosine, when an
    embeddings frame is supplied) → benchmark decontamination →
    PII/entity redaction → quality filter → stratified mixing →
    DSIR importance selection (keep target-like docs) →
    token-budget selection → sequence packing

Every stage is the same Spark-first transform the registered queries
verify bit-for-bit against DuckDB; this module only composes them.
Each stage output is materialized once (``localCheckpoint``; a
reliable ``checkpoint`` when a checkpoint dir is configured, matching
``duplicate_clusters``): the near-dup and decontamination stages
consume their input several times (signatures + shingle sets + the
surviving rows), so without a barrier each downstream reference would
re-run the whole upstream chain — materialize-per-stage makes the
pipeline O(stages) corpus passes, and the per-stage survivor counts
in the report are then free reads of the materialized partitions.

Scale shape: dedup hashes and signatures are map-side; the only
corpus-sized shuffles are the exact-dedup hash partition and the
prefix-sum bucket partition (deterministic driver-frozen boundaries,
`operators/cumulative.py`). Probe shingle sets are eval-set-bounded
and broadcast-hinted; loser/contaminated id sets scale with the
duplication/contamination rate, so their anti-joins are unhinted and
AQE picks broadcast vs shuffle from runtime sizes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from environmental_stac_generator_spark.operators.lineage import (
    release_tracked,
)


@dataclass
class CurationConfig:
    """Knobs for :func:`curate`; defaults mirror the registered
    queries so results line up with the oracle-checked surface."""

    exact_dedup: bool = True
    near_dup_jaccard: float | None = 0.5  # None disables the stage
    # near-dup survivor policy: "first" keeps the lowest doc_id of
    # each duplicate cluster; "best_quality" keeps the highest-quality
    # member (quality score, lowest-id tiebreak) — what production
    # curators usually want
    dedup_keep: str = "first"
    # connected-components algorithm for duplicate clustering:
    # "label" (min-label propagation, fewest jobs on shallow near-dup
    # graphs) or "star" (large-star/small-star contraction, O(log
    # diameter) rounds — the scale path for chain-shaped graphs)
    cc_algorithm: str = "label"
    semantic_cosine: float | None = None  # needs an embeddings frame
    # SemDeDup cluster count: "auto" scales K with sqrt(corpus rows)
    # so within-cluster pair work stays bounded as the corpus grows;
    # an int pins it (the registered query's oracle uses the fixed
    # K_CLUSTERS)
    semantic_clusters: int | str = "auto"
    redact_pii: bool = False
    quality_min: float | None = None
    # CCNet-style fluency cut: max mean bigram NLL (nats/bigram) under
    # the corpus's hashed bigram LM; docs above it (or with no
    # bigrams) are dropped
    perplexity_max: float | None = None
    sample_rates: dict[str, int] = field(default_factory=dict)  # source -> %
    default_rate: int = 100
    importance_target: str | None = None  # DSIR target domain
    token_budget: int | None = None
    seq_len: int = 2_048


@dataclass
class CurationResult:
    selected: DataFrame  # surviving (doc_id, text, source, n_tokens, quality)
    packed: DataFrame  # (seq_id, n_docs, tokens) context windows
    stats: dict[str, int]  # per-stage survivor counts


def _exact_dedup(docs: DataFrame) -> DataFrame:
    # min-doc_id survivor per content hash: one shuffle on the hash.
    # NULL-text rows pass through untouched — md5(NULL) is NULL for
    # every such row, so deduping them would collapse N distinct
    # null-text documents into one survivor (they are missing data,
    # not duplicates of each other).
    nulls = docs.filter(F.col("text").isNull())
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = (
        docs.filter(F.col("text").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.unionByName(nulls)


def _near_dedup(
    docs: DataFrame,
    threshold: float,
    keep: str = "first",
    cc_algorithm: str = "label",
    known_rows: int | None = None,
) -> DataFrame:
    from environmental_stac_generator_spark.queries.dedup import (
        components_of,
        verified_pairs_of,
    )

    # No broadcast hint on the loser anti-join: the loser set is
    # candidate-bounded, which is corpus-scale in a duplicate-heavy
    # corpus — AQE runtime-sizes it (still a broadcast when the set is
    # actually small). ``known_rows`` is the staged input's exact
    # materialized count — it feeds bucket_pairs' provably-no-mega
    # gate (r16), dropping the dead skew routing on small corpora.
    pairs = verified_pairs_of(docs, threshold=threshold, bound_rows=known_rows)
    if keep == "first":
        # drop the higher id of every verified pair
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    elif keep == "best_quality":
        # group verified pairs into duplicate clusters, keep the
        # highest-quality member per cluster (lowest-id tiebreak); the
        # quality relation is computed only for cluster members —
        # duplicate-volume-bounded, never the whole corpus
        from environmental_stac_generator_spark.queries.text import with_quality

        members = components_of(pairs, algorithm=cc_algorithm)
        # semi-join docs down to cluster members BEFORE scoring:
        # Catalyst will not prune the map-side quality expression
        # (full tokenization) to members through an inner join, so the
        # narrowing must sit below with_quality in the plan (ADVICE r4)
        member_docs = docs.join(
            members.select("doc_id"), "doc_id", "left_semi"
        )
        scored = members.join(
            with_quality(member_docs).select("doc_id", "quality"), "doc_id"
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("quality").desc(), F.col("doc_id")
        )
        losers = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("doc_id")
        )
    else:
        raise ValueError(f"unknown dedup_keep policy: {keep!r}")
    return docs.join(losers, "doc_id", "left_anti")


def _decontaminate(docs: DataFrame, probes: DataFrame) -> DataFrame:
    from environmental_stac_generator_spark.queries.dedup import shingles_of

    probe_sh = shingles_of(probes).select("shingle").distinct()
    contaminated = (
        shingles_of(docs)
        .join(F.broadcast(probe_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    # contaminated-id volume tracks contamination rate, not the eval
    # set — unhinted, so AQE runtime-sizes the anti-join
    return docs.join(contaminated, "doc_id", "left_anti")


def _semantic_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    n_clusters: int | str = "auto",
    known_rows: int | None = None,
) -> DataFrame:
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )

    # SemDeDup: k-means clusters prune the pair space, exact cosine
    # confirms; drop the higher id of each pair (keep-first). The
    # loser set is pair-bounded — corpus-scale when duplication is
    # heavy — so the anti-join is unhinted and AQE runtime-sizes it.
    #
    # Scope the embeddings to the CURRENT survivor set first: pairing
    # over the full corpus lets a surviving doc lose to a pair-mate an
    # earlier stage already removed — cosine similarity is not
    # transitive through the removed doc's own keeper, so both copies
    # of that content could vanish. The semi-join also keeps the
    # k-means pass (and the auto-K sqrt(N)) sized to the rows that
    # can actually be dropped.
    # ``known_rows`` (the staged survivor count) bounds the semi-joined
    # embeddings frame from above, so it feeds the provably-no-mega
    # gate exactly like _near_dedup's bound_rows
    pairs = semantic_pairs_of(
        embeddings.join(docs.select("doc_id"), "doc_id", "left_semi").select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
        threshold=threshold,
        n_clusters=n_clusters,
        bound_rows=known_rows,
    )
    losers = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def _redact(docs: DataFrame) -> DataFrame:
    from environmental_stac_generator_spark.queries.text import redacted_text_col

    # row-local regex rewrite — a map stage; downstream stages (and
    # the packed sequences) see only redacted text. The SAME shared
    # expression with_pii fingerprints, so redacted_fp always matches
    # the text this stage actually produces.
    return docs.withColumn("text", redacted_text_col("text"))


def _stratified(docs: DataFrame, rates: dict[str, int], default: int) -> DataFrame:
    from environmental_stac_generator_spark.queries.curation import _SPARK_BUCKET

    rate = F.lit(default)
    for s, r in sorted(rates.items()):
        rate = F.when(F.col("source") == s, r).otherwise(rate)
    return docs.filter(F.expr(_SPARK_BUCKET) < rate)


def _perplexity_select(docs: DataFrame, max_nll_per_bigram: float) -> DataFrame:
    from environmental_stac_generator_spark.queries.text import perplexity_of

    # keep fluent docs: mean bigram NLL under the corpus bigram LM at
    # or below the cut. The per-doc score relation is (doc_id, ints)
    # — never the text — and joins back keyed on doc_id.
    keep = (
        perplexity_of(docs)
        .filter(
            (F.col("n_bigrams") > 0)
            & (F.col("nll_micro") <= F.col("n_bigrams") * max_nll_per_bigram * 1e6)
        )
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def _importance_select(docs: DataFrame, target: str) -> DataFrame:
    from environmental_stac_generator_spark.queries.curation import (
        importance_logw_of,
    )

    # DSIR data selection: keep documents whose hashed-unigram LLR vs
    # the target domain is positive (target-like). The per-doc weight
    # relation is (doc_id, logw) — ints only, never the text — and the
    # winner set joins back broadcast-bounded at test scale or as a
    # doc_id-keyed shuffle join at corpus scale (Catalyst/AQE picks).
    winners = (
        importance_logw_of(docs, target)
        .filter(F.col("logw_micro") > 0)
        .select("doc_id")
    )
    return docs.join(winners, "doc_id", "left_semi")


def _budget_select(
    docs: DataFrame, budget: int, input_rows: int | None = None
) -> DataFrame:
    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    order = [(F.col("quality"), False), (F.col("doc_id"), True)]
    # quality is analytically in [0, 1]: static cuts skip the
    # boundary-sampling scan (balance-only decision)
    n = docs.sparkSession.sparkContext.defaultParallelism
    bounds = [(1.0 - i / n, -1) for i in range(1, n)]
    ranked = global_running_sum(
        docs, order, "n_tokens", out_col="_cum", boundaries=bounds,
        input_rows=input_rows, materialize_input=True,
    )
    return ranked.filter(F.col("_cum") <= budget).drop("_cum")


def _pack(
    docs: DataFrame, seq_len: int, input_rows: int | None = None
) -> DataFrame:
    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    # materialize_input, like the registered twins: on the bucketed
    # path the input is consumed by the totals job, the window pass,
    # and (here, with no static boundaries) the boundary-sampling
    # scan — an unstaged with_quality upstream would otherwise
    # re-tokenize the corpus per pass
    placed = global_running_sum(
        docs, [(F.col("doc_id"), True)], "n_tokens", out_col="_cum",
        input_rows=input_rows, materialize_input=True,
    ).withColumn("_start", F.col("_cum") - F.col("n_tokens"))
    return (
        placed.groupBy(
            F.floor(F.col("_start") / seq_len).cast("bigint").alias("seq_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )


def curate(
    docs: DataFrame,
    probes: DataFrame | None = None,
    config: CurationConfig | None = None,
    embeddings: DataFrame | None = None,
) -> CurationResult:
    """Run the full curation chain over a (doc_id, text, source)
    frame; ``probes`` is the eval set to decontaminate against;
    ``embeddings`` is an optional (doc_id, embedding) frame enabling
    the SemDeDup semantic-dedup stage (``config.semantic_cosine``)."""
    from environmental_stac_generator_spark.queries.text import with_quality

    cfg = config or CurationConfig()
    stats: dict[str, int] = {}
    spark = docs.sparkSession
    reliable = bool(spark.sparkContext.getCheckpointDir())

    last_count: list[int] = [0]

    def staged(df: DataFrame, stage: str) -> DataFrame:
        # one materialization per stage: downstream multi-consumption
        # reads the stored partitions instead of re-running upstream.
        # On the localCheckpoint path, LAZY checkpoint + count = ONE
        # job that both computes/stores the partitions and counts them
        # (the cut_lineage(eager=False) pattern); the eager form paid a
        # second scheduled job per stage just to count the stored
        # blocks. The reliable checkpoint(eager=False) path is still
        # two: after the counting job, Spark runs a second job that
        # recomputes the unpersisted partitions to write the files.
        out = (
            df.checkpoint(eager=False)
            if reliable
            else df.localCheckpoint(eager=False)
        )
        stats[stage] = last_count[0] = out.count()
        # the stage output is stored, so any tracked pair-bucket
        # caches created while building it (dedup.bucket_pairs,
        # similarity.embedding_near_dup) are no longer needed —
        # release them here instead of pinning one per input frame
        # for the session (ADVICE r4)
        release_tracked()
        return out

    cur = staged(docs, "input")
    if cfg.exact_dedup:
        cur = staged(_exact_dedup(cur), "exact_dedup")
    if cfg.near_dup_jaccard is not None:
        cur = staged(
            _near_dedup(
                cur,
                cfg.near_dup_jaccard,
                keep=cfg.dedup_keep,
                cc_algorithm=cfg.cc_algorithm,
                known_rows=last_count[0],
            ),
            "near_dedup",
        )
    if cfg.semantic_cosine is not None:
        if embeddings is None:
            # a REQUESTED filter silently not applied is the worst
            # failure mode of a curation config — same posture as the
            # dedup_keep validation
            raise ValueError(
                "semantic_cosine is set but no embeddings frame was "
                "given; pass embeddings=(doc_id, embedding) or unset "
                "semantic_cosine"
            )
        cur = staged(
            _semantic_dedup(
                cur, embeddings, cfg.semantic_cosine,
                n_clusters=cfg.semantic_clusters,
                known_rows=last_count[0],
            ),
            "semantic_dedup",
        )
    if probes is not None:
        cur = staged(_decontaminate(cur, probes), "decontaminate")
    if cfg.redact_pii:
        cur = staged(_redact(cur), "redact")

    scored = with_quality(cur).drop(
        "avg_token_len", "stopword_ratio", "distinct_ratio"
    )
    if cfg.quality_min is not None:
        scored = scored.filter(F.col("quality") >= cfg.quality_min)
        scored = staged(scored, "quality_filter")
    if cfg.perplexity_max is not None:
        scored = staged(
            _perplexity_select(scored, cfg.perplexity_max), "perplexity"
        )
    if cfg.sample_rates or cfg.default_rate < 100:
        scored = staged(
            _stratified(scored, cfg.sample_rates, cfg.default_rate), "mixing"
        )
    if cfg.importance_target is not None:
        scored = staged(
            _importance_select(scored, cfg.importance_target), "importance"
        )
    if cfg.token_budget is not None:
        # every stage in this chain is a 1:1 map or a row filter over
        # the last staged frame, so last_count is an upper bound on
        # the prefix-sum input — exactly the stats a CBO would use
        scored = staged(
            _budget_select(scored, cfg.token_budget, last_count[0]), "budget"
        )

    packed = staged(_pack(scored, cfg.seq_len, last_count[0]), "sequences")
    return CurationResult(selected=scored, packed=packed, stats=stats)
