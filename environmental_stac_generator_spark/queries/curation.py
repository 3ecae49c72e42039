"""Training-data curation operators (SURVEY §2.11 north-star
extensions): the selection half of a pretraining pipeline.

- ``stratified_sample`` — deterministic per-source (stratum) sampling
  by a stable content-independent hash of the key: each source keeps
  its configured percentage, reproducibly, with zero coordination —
  the data-mixing primitive. At 100 TB this is a map-side filter; no
  shuffle, no sort, no RNG state.
- ``decontaminate`` — drop every document sharing any word 3-gram
  with an eval/probe set (the standard benchmark-contamination
  guard). The probe shingle set is tiny and broadcast; the corpus is
  scanned once and anti-joined — never self-joined.
- ``token_budget_select`` — greedy quality-ordered selection under a
  global token budget: rank by quality, running-sum token counts,
  keep while the budget holds. The running sum is stats-adaptive
  (``operators.cumulative``): parquet footer row counts pick the
  one-job window plan for provably small relations and the two-phase
  range-partitioned prefix sum at scale, where only the per-doc
  metric relation (not the corpus text) is shuffled.

- ``sequence_pack`` — lay documents end-to-end in deterministic id
  order and assign each to the fixed-length context window its start
  offset falls in (the pretraining packing pass), again via the
  parallel prefix sum.
- ``chunk_documents`` — fixed-size strided token windows per document
  (the RAG/pretraining chunking pass): chunk starts are a generated
  in-row sequence, the explode is a narrow transform — one map-side
  scan, no shuffle.

All five are SQL-oracle checked bit-for-bit (md5-based hashing is
identical in Spark and DuckDB).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.plan_policy import (
    measured_small,
    provably_small,
    table_rows,
)
from environmental_stac_generator_spark.registry import register
from environmental_stac_generator_spark.tables import load

# stratum -> keep percentage (a data-mixing recipe)
SAMPLE_RATES = {"web": 25, "books": 75, "wiki": 50, "code": 100}
DEFAULT_RATE = 10

# stable 16-bit bucket from the doc key: md5 is bit-identical across
# engines, and hashing the KEY (not the text) keeps sampling
# independent of content edits.
_SPARK_BUCKET = (
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 100"
)
_DUCK_BUCKET = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100"
)


def _rate_case_duck() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
    )
    return f"CASE source {whens} ELSE {DEFAULT_RATE} END"


@register(
    "stratified_sample",
    f"""
    WITH sampled AS (
      SELECT doc_id, source
      FROM documents
      WHERE {_DUCK_BUCKET} < {_rate_case_duck()}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM sampled GROUP BY source
    """,
    doc="Deterministic stratified sampling: per-source keep-rate "
    "applied via a stable md5 bucket of the key — the data-mixing "
    "primitive. Map-side filter; the checksum columns pin the exact "
    "surviving id set, not just counts.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for s, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("source") == s, r).otherwise(rate)
    sampled = d.filter(F.expr(_SPARK_BUCKET) < rate)
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("doc_id").alias("doc_id_sum"),
    )


N_PROBE_DOCS = 5  # doc_id < 5 stands in for the eval set


@register(
    "decontaminate",
    f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    shingled AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM words WHERE len(w) >= 3
    ),
    probe AS (
      SELECT DISTINCT shingle FROM shingled WHERE doc_id < {N_PROBE_DOCS}
    ),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM shingled s JOIN probe p ON s.shingle = p.shingle
      WHERE s.doc_id >= {N_PROBE_DOCS}
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_clean,
           CAST(sum(d.doc_id) AS BIGINT) AS doc_id_sum
    FROM documents d
    WHERE d.doc_id >= {N_PROBE_DOCS}
      AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
    GROUP BY d.source
    """,
    doc="Benchmark decontamination: drop every training document "
    "sharing any word 3-gram with the (broadcast) eval probe set — "
    "one corpus scan + shingle anti-join, never an O(n²) compare. "
    "The id-sum column pins the exact surviving set.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.queries.dedup import shingles_of

    # Only the CORPUS shingle pass is fanned: each fan_out consumer
    # builds its own round-robin exchange (no reuse across different
    # pushed filters), so fanning the shared frame shipped the full
    # text through three exchanges (r16 profile) when the probe side
    # is a doc_id<5-pruned scan and the survivor side reads only
    # (doc_id, source) — both stay fused column/predicate-pruned
    # parquet scans.
    docs = load(spark, sf_dir, "documents")
    shingled = shingles_of(load(spark, sf_dir, "documents", fan_out=True))
    probe = (
        shingles_of(docs.filter(F.col("doc_id") < N_PROBE_DOCS))
        .select("shingle")
        .distinct()
    )
    contaminated = (
        shingled.filter(F.col("doc_id") >= N_PROBE_DOCS)
        .join(F.broadcast(probe), "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = (
        docs.select("doc_id", "source")
        .filter(F.col("doc_id") >= N_PROBE_DOCS)
        .join(contaminated, "doc_id", "left_anti")  # AQE runtime-sizes
    )
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum("doc_id").alias("doc_id_sum"),
    )


TOKEN_BUDGET = 20_000


@register(
    "token_budget_select",
    f"""
    WITH metrics AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM metrics
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
    GROUP BY source
    """,
    doc="Token-budget curation: rank documents by lexical diversity "
    "(distinct/total token ratio, deterministic id tiebreak), take "
    "the prefix whose running token sum fits the global budget. The "
    "running sum is operators.cumulative.global_running_sum with "
    "relation stats (parquet footer row count): small inputs get the "
    "one-job window plan, large ones the two-phase range-partitioned "
    "prefix sum — fully parallel at 100 TB, shuffling only the "
    "per-doc metric relation (never the text). Path equality is "
    "property-tested.",
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    d = load(spark, sf_dir, "documents")
    metrics = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (
            F.size(F.array_distinct(F.split("text", " "))).cast("double")
            / F.size(F.split("text", " "))
        ).alias("ratio"),
    )
    order = [(F.col("ratio"), False), (F.col("doc_id"), True)]
    # ratio is analytically in (0, 1]: even static cuts skip the
    # boundary-sampling scan entirely (balance-only decision)
    n = spark.sparkContext.defaultParallelism
    bounds = [(1.0 - i / n, -1) for i in range(1, n)]
    # small/large plan choice AND the tokenize-once materialization
    # both live inside global_running_sum (one source of truth);
    # materialize_input declares metrics expensive (it tokenizes)
    ranked = global_running_sum(
        metrics,
        order,
        "n_tokens",
        out_col="cum_tokens",
        boundaries=bounds,
        input_rows=table_rows(sf_dir, "documents"),
        materialize_input=True,
    )
    return (
        ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
    )


SEQ_LEN = 2_048


@register(
    "sequence_pack",
    f"""
    WITH metrics AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_off
      FROM metrics
    )
    SELECT CAST(start_off // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM placed GROUP BY 1
    """,
    doc="Sequence packing: lay documents end-to-end in deterministic "
    "id order and assign each to the fixed-length training sequence "
    "its start offset falls in — the pretraining context-window "
    "packing pass. The running offset is the stats-adaptive prefix "
    "sum (operators/cumulative.py): packing 100 TB takes the "
    "two-phase plan with no single-reducer sort, shuffling only "
    "(doc_id, n_tokens) pairs.",
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.operators.cumulative import (
        global_running_sum,
    )

    d = load(spark, sf_dir, "documents")
    metrics = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    placed = global_running_sum(
        metrics,
        [(F.col("doc_id"), True)],
        "n_tokens",
        out_col="cum",
        input_rows=table_rows(sf_dir, "documents"),
        materialize_input=True,
    ).withColumn("start_off", F.col("cum") - F.col("n_tokens"))
    return (
        placed.groupBy(
            F.floor(F.col("start_off") / SEQ_LEN).cast("bigint").alias("seq_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
    )


VOCAB_TOP_K = 30


@register(
    "vocab_top_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS n_occ,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM toks GROUP BY tok
    )
    SELECT tok, n_occ, n_docs
    FROM counts ORDER BY n_occ DESC, tok LIMIT {VOCAB_TOP_K}
    """,
    doc=f"Corpus vocabulary heavy hitters: top-{VOCAB_TOP_K} tokens by "
    "occurrence count with document frequency — the "
    "tokenizer-vocabulary/stopword-discovery pass. Map-side partial "
    "aggregation means the shuffle carries one row per distinct token "
    "per partition (vocabulary-sized, not corpus-sized), and the "
    "top-k is a TakeOrdered, never a full sort.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), "tok")
        .limit(VOCAB_TOP_K)
    )


CHUNK_SIZE = 128  # tokens per chunk
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


@register(
    "chunk_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             unnest(range(1, len(words) + 1, {CHUNK_STRIDE})) AS start
      FROM toks
    )
    SELECT c.doc_id,
           CAST((c.start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t.words, c.start,
                               c.start + {CHUNK_SIZE} - 1)) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(t.words, c.start,
                                          c.start + {CHUNK_SIZE} - 1), ' '))
             AS chunk_hash
    FROM chunks c JOIN toks t ON c.doc_id = t.doc_id
    """,
    doc=f"Document chunking: fixed {CHUNK_SIZE}-token windows at "
    f"stride {CHUNK_STRIDE} (trailing chunk clamped) — the "
    "RAG/pretraining chunking pass. Chunk starts are a generated "
    "in-row sequence and the explode is a narrow transform: one "
    "map-side scan, no shuffle, no matter the corpus size; the "
    "chunk hash pins the exact text content cross-engine.",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts"))
    chunks = toks.select(
        "doc_id",
        "ts",
        F.explode(
            F.expr(f"sequence(1, size(ts), {CHUNK_STRIDE})")
        ).alias("start"),
    )
    sliced = F.expr(f"slice(ts, start, {CHUNK_SIZE})")
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.size(sliced).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", sliced).cast("binary")).alias("chunk_hash"),
    )


SPAN_W = 16  # tokens per exact-match window (Lee et al. use 50 BPE
# tokens on web-scale corpora; 16 fits the short synthetic docs)

SPAN_WINDOW_MAX_GROUP = 262_144  # largest (span-hash -> docs) group
# the window plan may buffer in one task. Calibrated by measurement
# (VERDICT r12 #5; committed numbers live in SOAK_r13.json's
# `span_window_cliff` block — cite the artifact, not this comment): a
# sweep forcing ONE hot span hash through BOTH plans found NO buffer
# cliff up to a 1,048,576-row group — the window plan WON at every
# measured size (a 1M group of narrow (hash, doc_id, source) rows is
# ~tens of MB in one task's sort buffer). The r7-era 2048 gate made
# every kilo-viral corpus pay a skew-safe premium the window plan
# demonstrably never needed (measured ~2.2x on the 250x natural
# corpus, SOAK_r13 natural_scale). 2^18 keeps 4x measured headroom below the largest swept
# size while still insuring against the genuinely unbounded tail (a
# 100M-copy span is ~4 GB in one task — that is what the skew-safe
# plan exists for). Both plans are property-tested equal, so moving
# the threshold can never change results, only the plan.
SPAN_GATE_SAMPLE_MOD = 64  # deterministic 1/64 doc sample for the bound


def span_max_group_bound(
    d: DataFrame, sample_mod: int = SPAN_GATE_SAMPLE_MOD
) -> int:
    """Upper confidence bound on the largest span-hash doc group, from
    a deterministic 1/``sample_mod`` DOC sample (VERDICT r7 #1: gating
    on corpus row count alone made every large corpus pay the ~1.7x
    skew-safe premium, viral or not).

    Sampling DOCS (not hashes) is what makes the bound sound: every
    hash group of true size G contributes Binomial(G, 1/S) sampled
    members, so a viral group cannot hide — whereas sampling hash
    values would only see the viral group with probability 1/S. The
    estimate inflates the sampled max by 3 binomial standard
    deviations plus a small-count floor before scaling back by S.
    Cost: one scan of 1/S of the corpus plus a 1/S-sized partial-agg
    shuffle — ~2% of the span job to decide a ~40% premium."""
    import math

    toks = (
        d.filter(F.expr(f"pmod(xxhash64(doc_id), {sample_mod}) = 0"))
        .select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= SPAN_W)
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {SPAN_W} + 1), "
                f"s -> md5(cast(concat_ws(' ', slice(w, s, {SPAN_W})) as binary)))"
            )
        ).alias("h"),
    )
    mx = (
        wins.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    ) or 0
    return int((mx + 3 * math.sqrt(mx) + 5) * sample_mod)


@register(
    "span_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    wins AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(w) - {SPAN_W} + 2),
                    s -> md5(array_to_string(
                           list_slice(w, CAST(s AS INT),
                                      CAST(s AS INT) + {SPAN_W} - 1), ' '))))
               AS h
      FROM toks WHERE len(w) >= {SPAN_W}
    ),
    per_doc_h AS (
      SELECT h, doc_id, source, count(*) AS occ
      FROM wins GROUP BY h, doc_id, source
    ),
    dup_h AS (
      SELECT h FROM per_doc_h GROUP BY h HAVING count(*) >= 2
    ),
    flagged AS (
      SELECT p.source, p.doc_id, sum(p.occ) AS dup_wins
      FROM per_doc_h p JOIN dup_h d ON p.h = d.h
      GROUP BY p.source, p.doc_id
    ),
    flagged_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs_flagged,
             CAST(sum(dup_wins) AS BIGINT) AS n_dup_windows,
             CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
      FROM flagged GROUP BY source
    ),
    totals AS (
      SELECT source, CAST(sum(len(w) - {SPAN_W} + 1) AS BIGINT) AS n_windows
      FROM toks WHERE len(w) >= {SPAN_W} GROUP BY source
    )
    SELECT t.source,
           CAST(coalesce(f.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
           CAST(coalesce(f.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           t.n_windows,
           CAST(coalesce(f.doc_id_sum, 0) AS BIGINT) AS doc_id_sum
    FROM totals t LEFT JOIN flagged_src f ON t.source = f.source
    """,
    doc=f"Exact-substring span dedup (Lee et al. 2021 style): every "
    f"stride-1 {SPAN_W}-token window is hashed map-side; a window "
    "hash seen in >= 2 distinct documents marks an exactly repeated "
    "span. Per source: docs carrying any repeated span, repeated "
    "window occurrences, total windows, and the flagged-id checksum. "
    "Shuffles carry only (hash, doc_id) pairs with map-side combine "
    "-- never window text; the dup filter and the flag join are both "
    "co-partitioned on the hash (one exchange, reused), and the "
    "final rollup is by source. Scale path: at 100 TB the window "
    "relation is corpus-token-sized but narrow (32-hex hash + id); "
    "raising SPAN_W or sampling window starts trades recall for "
    "volume without changing the plan shape.",
)
def span_dedup(
    spark: SparkSession, sf_dir: str, skew_safe: bool | None = None
) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True)
    if skew_safe is None:
        from environmental_stac_generator_spark.operators.cumulative import (
            SMALL_INPUT_ROWS,
        )

        # two-stage gate (VERDICT r7 #1). Stage 1, free: footer row
        # counts bound ANY hash group by the corpus row count, so a
        # provably small corpus takes the cheaper one-scan window plan
        # with no further work. Stage 2, one cheap sampled job: bound
        # the LARGEST span-hash group — large-but-unviral corpora
        # (bounded group tail) keep the ~1.7x cheaper window plan, and
        # only corpora with measured kilo-scale viral spans pay the
        # skew-safe premium (ADVICE r4: the plan that must survive a
        # viral boilerplate span). Both paths are property-tested
        # equal, so the gate can never change results; under
        # scale_plans() neither stage holds and no sampling job runs.
        skew_safe = not (
            provably_small(table_rows(sf_dir, "documents"), SMALL_INPUT_ROWS)
            or measured_small(
                lambda: span_max_group_bound(d), SPAN_WINDOW_MAX_GROUP
            )
        )
    toks = (
        d.select("doc_id", "source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= SPAN_W)
    )
    # totals consumer: split+size+agg only — keep it on the fused
    # pruned scan instead of paying its own full-text fan exchange
    # (fan_out exchanges are NOT reused across consumers; r16 profile)
    toks0 = (
        load(spark, sf_dir, "documents")
        .select("source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= SPAN_W)
    )
    wins = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {SPAN_W} + 1), "
                f"s -> md5(cast(concat_ws(' ', slice(w, s, {SPAN_W})) as binary)))"
            )
        ).alias("h"),
    )
    per_doc_h = wins.groupBy("h", "doc_id", "source").agg(
        F.count(F.lit(1)).alias("occ")
    )
    # docs-per-hash via a window over the (hash, doc) grain instead of
    # a groupBy + self-join: the join formulation evaluates the
    # window-explode subplan TWICE (its two consumers need different
    # partitionings, so no exchange reuse) — the window keeps it one
    # scan of the hashed windows.
    #
    # Skew caveat (VERDICT r3 #7): a viral boilerplate span makes one
    # hot hash, and WindowExec must buffer that entire hash group in a
    # single task. `skew_safe=True` (the DEFAULT — the registered
    # query must take the plan that survives a viral span, ADVICE r4;
    # parity with the window plan is property-tested) switches to a
    # plan with no window at all: repartition the (hash, doc) grain by
    # h ONCE, derive the >=2-distinct-docs hash set with a partial-agg
    # count (map-side combined — a hot hash reaches its reducer as one
    # row per map task), and flag by an h-co-partitioned join (the
    # repartition exchange is reused by both consumers, so still one
    # scan; the hot hash streams through the join instead of
    # buffering).
    from pyspark.sql.window import Window

    if skew_safe:
        per_h = per_doc_h.repartition("h")
        dup_h = (
            per_h.groupBy("h")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("h")
        )
        flagged = (
            per_h.join(dup_h, "h")
            .groupBy("source", "doc_id")
            .agg(F.sum("occ").alias("dup_wins"))
        )
    else:
        flagged = (
            per_doc_h.withColumn(
                "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
            )
            .filter(F.col("nd") >= 2)
            .groupBy("source", "doc_id")
            .agg(F.sum("occ").alias("dup_wins"))
        )
    flagged_src = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_flagged"),
        F.sum("dup_wins").alias("n_dup_windows"),
        F.sum("doc_id").alias("doc_id_sum"),
    )
    totals = toks0.groupBy("source").agg(
        F.sum(F.size("w") - SPAN_W + 1).alias("n_windows")
    )
    return totals.join(F.broadcast(flagged_src), "source", "left").select(
        "source",
        F.coalesce("n_docs_flagged", F.lit(0)).cast("bigint").alias("n_docs_flagged"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
        F.col("n_windows").cast("bigint").alias("n_windows"),
        F.coalesce("doc_id_sum", F.lit(0)).cast("bigint").alias("doc_id_sum"),
    )


N_IMP_BUCKETS = 64  # hashed token-distribution buckets
IMP_TARGET = "src0"  # the target domain whose distribution we match
IMP_TARGET_DEFAULT = IMP_TARGET  # alias for callers / the curate chain

_IMP_SPARK_BUCKET = (
    f"cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint) % {N_IMP_BUCKETS}"
)
_IMP_DUCK_BUCKET = (
    f"CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT) % {N_IMP_BUCKETS}"
)


def importance_logw_of(
    docs: DataFrame, target: str = IMP_TARGET_DEFAULT
) -> DataFrame:
    """(doc_id, source, logw_micro) DSIR importance log-weights of a
    (doc_id, text, source) frame vs the ``target`` domain — the
    per-document form the curate chain filters on. Plan shape (r16):
    ONE token explode feeding a (doc, source, bucket) COUNT aggregate
    (map-side combined — the exchange carries at most 64 rows per doc
    of plain ints), materialized once (cut_lineage); the 64-row ratio
    table and the per-doc weights both derive from those counts, so
    the corpus is tokenized ONCE — the previous shape re-ran the
    token explode for the ratio aggregate AND the weight join (three
    scan+tokenize stages in the r16 profile; guide §2.4 "two
    operations keyed the same way can share one pass"). Per-doc
    weight = Σ cnt·lr_micro — exact integer arithmetic, values
    bit-identical to the per-token sum."""
    from environmental_stac_generator_spark.operators.lineage import (
        cut_lineage,
    )

    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    b = toks.select(
        "doc_id", "source", F.expr(_IMP_SPARK_BUCKET).alias("bucket")
    )
    bcnt = cut_lineage(
        b.groupBy("doc_id", "source", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        eager=False,  # the ratio broadcast build materializes it
    )
    joined = bcnt.groupBy("bucket").agg(
        F.sum("cnt").alias("rc"),
        F.sum(
            F.when(F.col("source") == target, F.col("cnt")).otherwise(F.lit(0))
        ).alias("tc"),
    )
    tot = joined.agg(
        F.sum("rc").alias("r_tot"), F.sum("tc").alias("t_tot")
    )
    lr = F.expr(
        f"ln((tc + 1.0) / (t_tot + {N_IMP_BUCKETS})) "
        f"- ln((rc + 1.0) / (r_tot + {N_IMP_BUCKETS}))"
    )
    ratios = joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(lr * 1e6 + F.lit(0.5)).cast("bigint").alias("lr_micro"),
    )
    return (
        bcnt.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("cnt") * F.col("lr_micro")).alias("logw_micro"))
    )



@register(
    "importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, source, {_IMP_DUCK_BUCKET} AS bucket FROM toks
    ),
    rc AS (SELECT bucket, count(*) AS rc FROM b GROUP BY bucket),
    tc AS (SELECT bucket, count(*) AS tc FROM b
           WHERE source = '{IMP_TARGET}' GROUP BY bucket),
    ratios AS (
      SELECT r.bucket,
             CAST(floor((ln((coalesce(t.tc, 0) + 1.0)
                            / ((SELECT coalesce(sum(tc), 0) FROM tc)
                               + {N_IMP_BUCKETS}))
                        - ln((r.rc + 1.0)
                            / ((SELECT sum(rc) FROM rc)
                               + {N_IMP_BUCKETS})))
                       * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
      FROM rc r LEFT JOIN tc t ON r.bucket = t.bucket
    ),
    per_doc AS (
      SELECT doc_id, source, CAST(sum(lr_micro) AS BIGINT) AS logw_micro
      FROM b JOIN ratios USING (bucket) GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_target_like,
           CAST(sum(logw_micro) AS BIGINT) AS logw_sum_micro,
           CAST(sum(CASE WHEN logw_micro > 0 THEN doc_id ELSE 0 END) AS BIGINT)
             AS doc_id_sum
    FROM per_doc GROUP BY source
    """,
    doc=f"DSIR-style importance weighting: per-document log-likelihood "
    f"ratio of a hashed {N_IMP_BUCKETS}-bucket unigram model of the "
    f"'{IMP_TARGET}' target domain vs the raw corpus (add-one "
    "smoothed) — the data-selection op that upsamples target-like "
    "documents. Bucket log-ratios are rounded once to 6-dp "
    "micro-integers, so every per-doc weight is an ORDER-INDEPENDENT "
    "integer sum (bit-stable at any parallelism, no float-sum "
    "nondeterminism). Plan: one token explode into ONE tiny bucket "
    "aggregate (raw + target counts as conditional partials in the "
    "same pass), a broadcast join of the 64-row ratio table back "
    "onto the token stream, one integer partial-agg shuffle per "
    "doc. At 100 TB the token relation is corpus-sized but the "
    "shuffle carries only (doc_id, partial-sum) rows.",
)
def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = importance_logw_of(load(spark, sf_dir, "documents", fan_out=True))
    pos = F.col("logw_micro") > 0
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(pos, 1).otherwise(0)).cast("bigint").alias("n_target_like"),
        F.sum("logw_micro").cast("bigint").alias("logw_sum_micro"),
        F.sum(F.when(pos, F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("doc_id_sum"),
    )
