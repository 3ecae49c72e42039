"""Driver-facing consolidated registry: SURVEY §2 + §2.11 in ≤50 rows.

The driver's CORRECTNESS check covers the first 50 ``queries()``
entries, so the full fine-grained registry (110 queries as of r9 —
kept intact for tests, bench continuity, and debugging granularity;
see ``registry.load_full_registry``) is consolidated here into 50
driver-facing entries: 42 SQL-oracle-checked + 8 rows-only kernels.

Two merge shapes, chosen so every absorbed query keeps bit-exact
verification:

- **column merge** — same table, same row grain: one single-scan
  projection carries all the absorbed queries' columns (e.g.
  ``datetime_scalars`` = interval_arith + date_formats +
  id_templating; ``text_profile`` = token_count + lang_id +
  doc_fingerprint). No joins on the Spark side; plans unchanged.
- **typed union** — different grains: each sub-result is projected
  onto a shared flat schema with a ``part`` discriminator and
  ``UNION ALL``-ed; the oracle applies the identical projection to
  the original oracle SQL as a subquery. A value error in ANY
  absorbed query still flips the merged hash.

Rows-only kernels union as ``(part, payload)`` where payload is
``to_json(struct(*))`` — flat, sortable output, which also fixes the
round-1 canonicalizer errors on nested ``attrs map`` /
``features array`` columns (VERDICT r1 items 2-3).

The old name → consolidated row mapping is documented in COVERAGE.md.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType

from environmental_stac_generator_spark.registry import QuerySpec

_DUCK = {"string": "VARCHAR", "bigint": "BIGINT", "double": "DOUBLE", "int": "INTEGER"}

# Shared flat schemas for typed-union merges: (column, type) pairs.
EXTENT = [("grp", "string"), ("xmin", "double"), ("ymin", "double"),
          ("xmax", "double"), ("ymax", "double"),
          ("t_start", "string"), ("t_end", "string")]
COUNTS = [("k1", "string"), ("k2", "string"), ("n1", "bigint"), ("n2", "bigint")]
PIVOT = [("k1", "bigint"), ("k2", "bigint"), ("v1", "double"), ("v2", "double"),
         ("v3", "double"), ("v4", "double"), ("v5", "double")]
PAIRS = [("a", "bigint"), ("b", "bigint"), ("v", "bigint")]
NEARDUP = [("doc_id", "bigint"), ("sig", "string"), ("jaccard", "double")]
SKIP = [("grp", "string"), ("n_new", "bigint")]
FACTDIM = [("k1", "string"), ("k2", "string"), ("amount", "double"), ("n", "bigint")]
CLASSIFIER = [("k1", "string"), ("k2", "string"), ("metric", "double"), ("n", "bigint")]
ROWSCALAR = [("k1", "string"), ("k2", "string"), ("v", "double"), ("s", "string")]
ANN = [("a", "bigint"), ("b", "bigint"), ("cosine", "double")]
ORDERED = [("grp", "string"), ("key", "string"), ("aux", "string"), ("idx", "bigint")]
WINAGG = [("window_start", "string"), ("grp", "string"), ("window_end", "string"),
          ("n_events", "bigint"), ("sum_value", "double")]
SKETCH = [("grp", "string"), ("v1", "double"), ("v2", "double"),
          ("v3", "double"), ("v4", "double")]
CURATION = [("source", "string"), ("n", "bigint"), ("v1", "bigint"),
            ("v2", "bigint"), ("doc_id_sum", "bigint")]

Part = tuple[str, str, dict[str, str]]  # (label, source query name, col → src expr)


def _union_fn(
    full: dict[str, QuerySpec], schema: list[tuple[str, str]], parts: list[Part]
) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for label, src, mapping in parts:
            base = full[src].fn(spark, sf_dir)
            cols = [F.lit(label).alias("part")]
            for name, typ in schema:
                expr = mapping.get(name)
                col = F.lit(None) if expr is None else F.expr(expr)
                cols.append(col.cast(typ).alias(name))
            proj = base.select(*cols)
            out = proj if out is None else out.unionByName(proj)
        return out

    return fn


def _union_sql(
    full: dict[str, QuerySpec], schema: list[tuple[str, str]], parts: list[Part]
) -> str:
    sels = []
    for i, (label, src, mapping) in enumerate(parts):
        cols = ", ".join(
            f"CAST({mapping.get(name, 'NULL')} AS {_DUCK[typ]}) AS {name}"
            for name, typ in schema
        )
        sels.append(
            f"SELECT '{label}' AS part, {cols} FROM (\n{full[src].sql}\n) AS _p{i}"
        )
    return "\nUNION ALL\n".join(sels)


def _merged(full, schema, parts, doc) -> QuerySpec:
    return QuerySpec(
        fn=_union_fn(full, schema, parts), sql=_union_sql(full, schema, parts), doc=doc
    )


def _json_rows_fn(
    full: dict[str, QuerySpec], parts: list[tuple[str, str]]
) -> Callable[[SparkSession, str], DataFrame]:
    """Rows-only merge: each kernel's output becomes flat
    (part, payload-JSON) rows — stable 2-column schema, no nested
    types for the driver canonicalizer to choke on."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for label, src in parts:
            df = full[src].fn(spark, sf_dir)
            keep = [f.name for f in df.schema.fields if not isinstance(f.dataType, BinaryType)]
            proj = df.select(
                F.lit(label).alias("part"),
                F.to_json(F.struct(*[F.col(c) for c in keep])).alias("payload"),
            )
            out = proj if out is None else out.unionByName(proj)
        return out

    return fn


def _kernel(full, parts, doc) -> QuerySpec:
    return QuerySpec(fn=_json_rows_fn(full, parts), sql=None, doc=doc)


_CACHE: dict[str, QuerySpec] | None = None
_CACHE_FOR: dict | None = None  # the registry object the cache was built from
# (a live reference, not id(): set only AFTER a successful build, so a
# failed build can't pin the key, and the reference can't be recycled
# the way a GC'd dict's id() can)


def _quality_with_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from environmental_stac_generator_spark.queries.text import (
        perplexity_of,
        quality_of,
    )
    from environmental_stac_generator_spark.tables import load

    d = load(spark, sf_dir, "documents", fan_out=True)
    return quality_of(d).join(perplexity_of(d), "doc_id")


def build(full: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    global _CACHE, _CACHE_FOR
    # cache keyed on the registry object: returning a dict built from
    # a DIFFERENT `full` (a filtered/extended registry in tests or a
    # second REGISTRY instance) would silently serve stale fns closed
    # over the old mapping
    if _CACHE is not None and _CACHE_FOR is full:
        return _CACHE

    from environmental_stac_generator_spark.queries import scalars as _sc
    from environmental_stac_generator_spark.queries import text as _tx

    keep = lambda n: (n, full[n])  # noqa: E731

    entries: list[tuple[str, QuerySpec]] = (
        [
            # ---- aggregates / arrays (A1-A8, N1-N6) ----------------
            keep("q1_pricing_summary"),
            keep("band_stats"),
            (
                "collection_extent",
                _merged(
                    full,
                    EXTENT,
                    [
                        ("bbox", "bbox_agg",
                         {"grp": "l_returnflag", "xmin": "xmin", "ymin": "ymin",
                          "xmax": "xmax", "ymax": "ymax"}),
                        ("temporal", "temporal_extent",
                         {"grp": "o_orderpriority", "t_start": "extent_start",
                          "t_end": "extent_end"}),
                        ("merged", "extent_merge",
                         {"grp": "o_orderpriority", "t_start": "merged_start",
                          "t_end": "merged_end"}),
                        ("utc", "ensure_utc_ts",
                         {"grp": "event_type", "t_start": "first_utc",
                          "t_end": "last_utc"}),
                    ],
                    doc="A1 bbox + A2 temporal extent + J8 extent merge + F4 "
                    "ensure_utc as one typed union (absorbs bbox_agg, "
                    "temporal_extent, extent_merge, ensure_utc_ts).",
                ),
            ),
            (
                "agg_counts",
                _merged(
                    full,
                    COUNTS,
                    [
                        ("dir_size", "dir_size_sum",
                         {"k1": "source", "n1": "total_bytes", "n2": "n_files"}),
                        ("leadtime_count", "leadtime_count",
                         {"k1": "event_type", "n1": "n_distinct", "n2": "n_rows"}),
                        ("distinct_keys", "distinct_keys",
                         {"k1": "event_type", "k2": "user_bucket"}),
                        ("dedupe_guard", "dedupe_guard", {"n1": "n_unique"}),
                    ],
                    doc="A5 dir-size sum + A6 leadtime count + W4 distinct "
                    "keys/dedupe guard (absorbs dir_size_sum, leadtime_count, "
                    "distinct_keys, dedupe_guard).",
                ),
            ),
            keep("overview_pyramid"),
            (
                "band_pivot",
                _merged(
                    full,
                    PIVOT,
                    [
                        ("events", "band_pivot",
                         {"k1": "user_bucket", "v1": "click", "v2": "error",
                          "v3": "purchase", "v4": "signup", "v5": "view"}),
                        ("grid", "grid_to_wide",
                         {"k1": "yc", "k2": "xc", "v1": "band_a", "v2": "band_n",
                          "v3": "band_r"}),
                    ],
                    doc="N1 band stacking: long→wide pivot + the cell-level "
                    "grid regroup (absorbs band_pivot, grid_to_wide).",
                ),
            ),
            keep("geojson_bbox"),
            keep("explode_embeddings"),
            # ---- dedup family (§2.11) ------------------------------
            keep("dedup_exact"),
            (
                "minhash_lsh",
                _merged(
                    full,
                    PAIRS,
                    [
                        ("sig", "minhash_signatures",
                         {"a": "doc_id", "b": "k", "v": "minhash"}),
                        ("pair", "lsh_candidate_pairs",
                         {"a": "doc_a", "b": "doc_b"}),
                        ("incr", "incremental_lsh_dedup",
                         {"a": "new_doc", "b": "first_dup",
                          "v": "n_dup_candidates"}),
                    ],
                    doc="MinHash signatures + LSH banding candidate pairs + "
                    "incremental cross-batch dedup of a new batch against "
                    "the stored corpus (absorbs minhash_signatures, "
                    "lsh_candidate_pairs, incremental_lsh_dedup; all "
                    "map-side signatures, pairs from grouped buckets — one "
                    "shuffle; the incremental check broadcasts the batch).",
                ),
            ),
            keep("lsh_verified_pairs"),
            (
                "text_near_dup",
                _merged(
                    full,
                    NEARDUP,
                    [
                        ("simhash", "simhash", {"doc_id": "doc_id", "sig": "simhash"}),
                        ("ngram", "ngram_jaccard_vs_probe",
                         {"doc_id": "doc_id", "jaccard": "jaccard"}),
                    ],
                    doc="SimHash signatures + n-gram Jaccard probe ranking "
                    "(absorbs simhash, ngram_jaccard_vs_probe).",
                ),
            ),
            keep("duplicate_clusters"),
            # ---- geo / layout --------------------------------------
            keep("bbox_reproject"),
            keep("zorder_spatial"),
            # ---- joins (J1-J8) -------------------------------------
            (
                "skip_existing",
                _merged(
                    full,
                    SKIP,
                    [
                        ("collections", "skip_existing_collections",
                         {"grp": "o_orderstatus", "n_new": "n_new"}),
                        ("items", "skip_existing_items",
                         {"grp": "l_returnflag", "n_new": "n_new"}),
                    ],
                    doc="J4/J5 skip-existing via bulk anti-join, single and "
                    "composite keys (absorbs skip_existing_collections, "
                    "skip_existing_items).",
                ),
            ),
            keep("get_or_create_collections"),
            keep("upsert_merge"),
            (
                "fact_dim_join",
                _merged(
                    full,
                    FACTDIM,
                    [
                        ("star", "star_join_enrich",
                         {"k1": "region_name", "k2": "nation_name",
                          "amount": "total_bal", "n": "n_customers"}),
                        ("fact", "orders_lineitem_join",
                         {"k1": "o_orderpriority", "amount": "revenue",
                          "n": "n_lines"}),
                    ],
                    doc="J3 dimension lookup star join (broadcast) + fact-fact "
                    "equi-join on the shuffle key (absorbs star_join_enrich, "
                    "orders_lineitem_join).",
                ),
            ),
            # ---- scalar functions (P3-P8, F1-F17, C1) --------------
            (
                "datetime_scalars",
                QuerySpec(
                    fn=_sc.datetime_scalars,
                    sql=_sc.DATETIME_SCALARS_SQL,
                    doc="F2 calendar-interval arithmetic + F3 the 4 datetime "
                    "string formats + F7 id templating in ONE single-scan "
                    "projection (absorbs interval_arith, date_formats, "
                    "id_templating).",
                ),
            ),
            (
                "classifier_scalars",
                _merged(
                    full,
                    CLASSIFIER,
                    [
                        ("freq", "freq_parse",
                         {"k1": "freq", "k2": "freq_unit", "metric": "freq_value",
                          "n": "n"}),
                        ("hemisphere", "hemisphere",
                         {"k1": "hemisphere", "n": "n"}),
                        ("unit", "unit_rescale",
                         {"k1": "units", "metric": "total_metres", "n": "n"}),
                        ("mime", "mime_guess",
                         {"k1": "ext", "k2": "media_type", "n": "n"}),
                        ("title", "title_string",
                         {"k1": "r_regionkey", "k2": "title"}),
                    ],
                    doc="F1 frequency parse + P7 hemisphere + P8/F16 unit "
                    "rescale + F11 MIME guess + F6 title derivation (absorbs "
                    "freq_parse, hemisphere, unit_rescale, mime_guess, "
                    "title_string).",
                ),
            ),
            (
                "row_scalars",
                _merged(
                    full,
                    ROWSCALAR,
                    [
                        ("floor2dp", "floor_2dp",
                         {"k1": "event_id", "v": "value_floored"}),
                        ("coord", "coord_coalesce",
                         {"k1": "l_orderkey", "k2": "l_linenumber", "v": "coord_x"}),
                        ("href", "href_rewrite",
                         {"k1": "doc_id", "k2": "href", "s": "rewritten"}),
                    ],
                    doc="F15 2dp floor + P3 coordinate coalesce + F8 href "
                    "rewrite, per-row scalar kernels (absorbs floor_2dp, "
                    "coord_coalesce, href_rewrite).",
                ),
            ),
            keep("md5_multihash"),
            keep("json_props_extract"),
            keep("config_guard"),
            # ---- similarity search (§2.11) -------------------------
            keep("cosine_topk"),
            keep("knn_join"),
            (
                "ann_lsh",
                _merged(
                    full,
                    ANN,
                    [
                        ("probe", "ann_lsh_probe",
                         {"a": "vec_id", "cosine": "cosine"}),
                        ("multiprobe", "ann_lsh_multiprobe",
                         {"a": "vec_id", "cosine": "cosine"}),
                        ("near_dup", "embedding_near_dup",
                         {"a": "vec_a", "b": "vec_b", "cosine": "cosine"}),
                        ("semdedup", "semdedup_pairs",
                         {"a": "vec_a", "b": "vec_b", "cosine": "cosine"}),
                    ],
                    doc="Random-hyperplane LSH ANN: bucket-probe ranking + "
                    "Hamming-radius multi-probe ranking (r8) + "
                    "embedding-cosine near-dup pairs from bucket groups + "
                    "SemDeDup-style within-k-means-cluster semantic dup "
                    "pairs (absorbs ann_lsh_probe, ann_lsh_multiprobe, "
                    "embedding_near_dup, semdedup_pairs; ann_lsh_buckets "
                    "is their shared map stage). ann_lsh_multiprobe is "
                    "the ONLY LSH probe consumers should reach — the "
                    "single-bucket part exists for oracle checkability "
                    "(its measured recall@10 is ~0).",
                ),
            ),
            (
                "ivf_ann_probe",
                _merged(
                    full,
                    [("a", "bigint"), ("b", "bigint"), ("metric", "double")],
                    [
                        ("ivf", "ivf_ann_probe",
                         {"a": "vec_id", "metric": "cosine"}),
                        ("ivf_nprobe", "ivf_ann_nprobe",
                         {"a": "vec_id", "metric": "cosine"}),
                        ("pq_code", "pq_encode",
                         {"a": "vec_id", "b": "m", "metric": "code"}),
                        ("pq_adc", "pq_ann_probe",
                         {"a": "vec_id", "metric": "adc"}),
                        ("ivfpq", "ivfpq_ann_probe",
                         {"a": "vec_id", "metric": "adc"}),
                        ("ivfpq_res", "ivfpq_residual_probe",
                         {"a": "vec_id", "metric": "adc"}),
                        ("ivfpq_res_np", "ivfpq_residual_nprobe",
                         {"a": "vec_id", "metric": "adc"}),
                        ("ivf_index", "ivf_index_probe",
                         {"a": "vec_id", "metric": "cosine"}),
                        ("ivfpq_index", "ivfpq_index_probe",
                         {"a": "vec_id", "metric": "adc"}),
                        ("ivfpq_refine", "ivfpq_index_refine",
                         {"a": "vec_id", "metric": "cosine"}),
                    ],
                    doc="Quantized ANN: IVF cell-probe ranking (single- "
                    "and nprobe=4 multi-cell) + product-quantization "
                    "codes (32x compression, fixed-sample codebooks) + PQ "
                    "ADC top-k probe + the composed IVFPQ cell-routed ADC "
                    "probe, raw-code and residual-code (absorbs "
                    "ivf_ann_probe, pq_encode, pq_ann_probe, "
                    "ivfpq_ann_probe — r7; ivfpq_residual_probe, "
                    "ivf_ann_nprobe — r8; ivf_index_probe, "
                    "ivfpq_index_probe — r9: the same probes against the "
                    "MATERIALIZED partitionBy(cell) index, partition-"
                    "pruned reads instead of full-corpus cell recompute; "
                    "ivfpq_index_refine — r11: exact re-rank of the "
                    "top-R ADC candidates against the persisted floats, "
                    "read only from the probed partitions).",
                ),
            ),
            keep("kmeans_clusters"),
            # ---- sketches / skew / temporal ------------------------
            keep("exact_percentiles"),
            keep("salted_agg"),
            keep("salted_join"),
            keep("asof_join_events"),
            keep("range_join_tiers"),
            # ---- training-data curation (§2.11) --------------------
            (
                "curation_suite",
                _merged(
                    full,
                    CURATION,
                    [
                        ("stratified", "stratified_sample",
                         {"source": "source", "n": "n_sampled",
                          "v1": "first_doc", "v2": "last_doc",
                          "doc_id_sum": "doc_id_sum"}),
                        ("decontaminate", "decontaminate",
                         {"source": "source", "n": "n_clean",
                          "doc_id_sum": "doc_id_sum"}),
                        ("token_budget", "token_budget_select",
                         {"source": "source", "n": "n_selected",
                          "v1": "tokens", "doc_id_sum": "doc_id_sum"}),
                        ("seq_pack", "sequence_pack",
                         {"source": "seq_id", "n": "n_docs",
                          "v1": "tokens", "doc_id_sum": "doc_id_sum"}),
                        ("chunks", "chunk_documents",
                         {"source": "chunk_hash", "n": "chunk_idx",
                          "v1": "n_chunk_tokens", "doc_id_sum": "doc_id"}),
                        ("vocab", "vocab_top_tokens",
                         {"source": "tok", "n": "n_occ", "v1": "n_docs"}),
                        ("span_dedup", "span_dedup",
                         {"source": "source", "n": "n_docs_flagged",
                          "v1": "n_dup_windows", "v2": "n_windows",
                          "doc_id_sum": "doc_id_sum"}),
                        ("importance", "importance_weights",
                         {"source": "source", "n": "n_target_like",
                          "v1": "logw_sum_micro", "v2": "n_docs",
                          "doc_id_sum": "doc_id_sum"}),
                    ],
                    doc="Training-data curation: deterministic stratified "
                    "sampling (data mixing), benchmark decontamination "
                    "(3-gram overlap vs eval probes), token-budget quality "
                    "selection, context-window sequence packing, strided "
                    "document chunking, vocabulary heavy hitters, "
                    "exact-substring span dedup, and DSIR-style hashed "
                    "importance weighting (absorbs stratified_sample, "
                    "decontaminate, token_budget_select, sequence_pack, "
                    "chunk_documents, vocab_top_tokens, span_dedup, "
                    "importance_weights).",
                ),
            ),
            # ---- text analysis (§2.11) -----------------------------
            (
                "quality_score",
                QuerySpec(
                    fn=_quality_with_perplexity,
                    sql=f"""
    WITH q AS ({_tx.QUALITY_SQL}),
    p AS ({_tx.PERPLEXITY_SQL})
    SELECT q.*, p.n_bigrams, p.nll_micro
    FROM q JOIN p USING (doc_id)
    """,
                    doc="Per-doc quality columns (length / stopword / "
                    "lexical-diversity score) joined with the CCNet-style "
                    "hashed-bigram-LM perplexity score (absorbs "
                    "quality_score, perplexity_score).",
                ),
            ),
            (
                "text_profile",
                QuerySpec(
                    fn=_tx.text_profile,
                    sql=_tx.TEXT_PROFILE_SQL,
                    doc="One-scan text analysis: token counting (whitespace + "
                    "BPE-ish regex), language-ID heuristic, content "
                    "fingerprints, and Gopher-style 2-gram repetition "
                    "fractions via a map-side sorted-run scan (absorbs "
                    "token_count, lang_id, doc_fingerprint, "
                    "repetition_profile).",
                ),
            ),
            # ---- windows / ordering (W1-W4, P4-P5) -----------------
            (
                "ordered_select",
                _merged(
                    full,
                    ORDERED,
                    [
                        ("leadtime_idx", "leadtime_index",
                         {"grp": "o_orderpriority", "key": "o_orderkey",
                          "aux": "init_date", "idx": "leadtime_idx"}),
                        ("band_idx", "band_index",
                         {"grp": "o_orderpriority", "key": "o_orderstatus",
                          "idx": "bidx"}),
                        ("time_slice", "time_slice_select",
                         {"grp": "o_orderstatus", "key": "o_orderkey",
                          "aux": "o_custkey"}),
                        ("first", "first_per_group",
                         {"grp": "o_custkey", "key": "first_orderkey",
                          "aux": "first_orderdate"}),
                    ],
                    doc="W1 positional leadtime index + N2 band index + P4 "
                    "time-equality slice + W2 first-per-group (absorbs "
                    "leadtime_index, band_index, time_slice_select, "
                    "first_per_group).",
                ),
            ),
            (
                "windowed_aggs",
                _merged(
                    full,
                    WINAGG,
                    [
                        ("tumbling", "tumbling_window_agg",
                         {"window_start": "window_start", "grp": "event_type",
                          "n_events": "n_events", "sum_value": "sum_value"}),
                        ("sliding", "sliding_window_agg",
                         {"window_start": "window_start",
                          "n_events": "n_events", "sum_value": "sum_value"}),
                        ("session", "session_window_agg",
                         {"window_start": "session_start", "grp": "user_id",
                          "window_end": "session_end",
                          "n_events": "n_events", "sum_value": "sum_value"}),
                    ],
                    doc="Event-time windows: tumbling 1-day + sliding 2d/1d + "
                    "session (6h gap) aggregations (absorbs "
                    "tumbling_window_agg, sliding_window_agg, "
                    "session_window_agg; streaming twins in streaming_suite).",
                ),
            ),
            keep("time_rollup"),
            keep("event_cube"),
            # ---- rows-only kernels (S/K/T/U families) --------------
            (
                "netcdf_scan",
                _kernel(
                    full,
                    [("long", "netcdf_scan_long"), ("meta", "netcdf_metadata_scan")],
                    doc="S1/U1 NetCDF slab scan exploded JVM-side to long "
                    "rows + attr-only "
                    "metadata scan (absorbs netcdf_scan_long, "
                    "netcdf_metadata_scan; attrs map serialized to JSON "
                    "payload).",
                ),
            ),
            (
                "raster_encode",
                _kernel(
                    full,
                    [("cog", "cog_encode"), ("ncslice", "netcdf_slice_write")],
                    doc="K1/K2/U2/U3 applyInPandas packed-slab stack → COG "
                    "encode "
                    "and per-init-time NetCDF slice write (absorbs "
                    "cog_encode, netcdf_slice_write).",
                ),
            ),
            (
                "stac_pipeline",
                _kernel(
                    full,
                    [("items", "stac_item_documents"),
                     ("roundtrip", "stac_catalog_roundtrip")],
                    doc="K4/N6/S3 STAC item JSON assembly + catalog write/"
                    "read-back/link-traversal roundtrip (absorbs "
                    "stac_item_documents, stac_catalog_roundtrip).",
                ),
            ),
            (
                "streaming_suite",
                _kernel(
                    full,
                    [("incremental", "streaming_incremental_merge"),
                     ("windowed", "streaming_windowed_counts"),
                     ("stateful", "streaming_stateful_extent"),
                     ("dedup", "streaming_dedup")],
                    doc="T1-T4: incremental file-source merge (foreachBatch "
                    "idempotent sink), watermarked windowed counts, "
                    "applyInPandasWithState running extent, and watermarked "
                    "streaming exact-dedup of a replayed source (absorbs the "
                    "four streaming_* entries).",
                ),
            ),
            (
                "multimodal_pipeline",
                _kernel(
                    full,
                    [("features", "multimodal_features"),
                     ("frames", "multimodal_frame_sample")],
                    doc="Multimodal: Arrow-batched decode/feature kernel + "
                    "video frame-sampling plumbing (absorbs "
                    "multimodal_features, multimodal_frame_sample; feature "
                    "array serialized to JSON payload).",
                ),
            ),
            keep("asset_probe"),
            (
                "storage_layout",
                _kernel(
                    full,
                    [("partitioned", "partitioned_roundtrip"),
                     ("bucketed", "bucketed_colocated_join")],
                    doc="Hive-partitioned store write + partition-pruned read, "
                    "and bucketed zero-exchange co-located join (absorbs "
                    "partitioned_roundtrip, bucketed_colocated_join).",
                ),
            ),
            (
                "approx_sketches",
                QuerySpec(
                    fn=_union_fn(
                        full,
                        SKETCH,
                        [
                            ("hll", "hll_cardinality",
                             {"grp": "l_returnflag", "v1": "approx_orders",
                              "v2": "approx_parts"}),
                            ("gk", "approx_percentiles",
                             {"grp": "l_returnflag", "v1": "p25", "v2": "p50",
                              "v3": "p75", "v4": "p95"}),
                        ],
                    ),
                    sql=None,
                    doc="HyperLogLog++ cardinalities + Greenwald-Khanna "
                    "approximate percentiles (engine-specific sketches — "
                    "rows-only; error bounds pinned in tests/test_sketches.py; "
                    "absorbs hll_cardinality, approx_percentiles).",
                ),
            ),
        ]
    )
    # dict() keeps only the LAST value for a repeated key: a reused
    # entry name would silently shadow a query out of the driver
    # window while a <=50 length check still passed — assert
    # uniqueness and the exact documented count (42 SQL + 8 rows-only)
    names = [n for n, _ in entries]
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"duplicate driver entry names: {sorted(dupes)}"
    reg: dict[str, QuerySpec] = dict(entries)
    assert len(reg) == 50, f"driver window must hold exactly 50: {len(reg)}"
    _CACHE, _CACHE_FOR = reg, full  # only a SUCCESSFUL build caches
    return reg
