"""Query registry: every implemented operator bound to a name, a Spark
callable (spark, sf_dir) -> DataFrame, and (where SQL-expressible) the
DuckDB oracle SQL the driver hash-checks it against.

This is the single source of truth behind __spark_entry__.py's queries() /
oracle_sql(), tests/test_oracle_parity.py (the local mirror of the driver's
t2 gate) and bench.py (entries flagged bench=True).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.numeric import dec_sum, dec_sum_sql
from streamprocessing_with_kafka_spark.operators import (
    analytics,
    bpe,
    bucketing,
    compose,
    crud,
    decontaminate,
    dedup,
    features,
    graph,
    history,
    joins,
    multimodal,
    profile,
    quality,
    sampling,
    similarity,
    sketches,
    text,
    timeseries,
    tpch_extra,
    windows,
)
from streamprocessing_with_kafka_spark.sources import csv_source, generator, json_source, orc_source
from streamprocessing_with_kafka_spark.operators.route import (
    ENVELOPE_SQL,
    ROUTE_SQL,
    connect_envelope,
    route,
)
from streamprocessing_with_kafka_spark.operators.validate import (
    VALIDATE_ENRICH_SQL,
    validate_and_enrich,
)
from streamprocessing_with_kafka_spark.sources.raw_orders import RAW_ORDERS_SQL, raw_orders
from streamprocessing_with_kafka_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    sql: Optional[str]  # DuckDB oracle; None -> rows-only check
    bench: bool = False
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, sql: Optional[str], bench: bool = False, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = Query(name, fn, sql, bench, doc)
        return fn

    return deco


def registry() -> dict[str, Query]:
    """All registered queries, ordered so the driver's 50-query correctness
    window (= the FIRST 50 entries) is exactly CORRECTNESS_WINDOW; the
    rest follow in registration order."""
    ordered = {name: _REGISTRY[name] for name in CORRECTNESS_WINDOW}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def pipeline_sql(final_select: str) -> str:
    """Compose the shared CTE chain for the reference pipeline oracle."""
    return (
        f"WITH raw AS ({RAW_ORDERS_SQL}),\n"
        f"validated AS ({VALIDATE_ENRICH_SQL}),\n"
        f"routed AS ({ROUTE_SQL})\n"
        f"{final_select}"
    )


# --------------------------------------------------------------------------
# Reference-parity pipeline (SURVEY.md §2.1-§2.4)
# --------------------------------------------------------------------------


@register(
    "flagship_pipeline",
    pipeline_sql("SELECT * FROM routed"),
    bench=True,
    doc="S3+T1-T9+R1: full validate/enrich/route over the raw order stream",
)
def flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return route(validate_and_enrich(raw_orders(spark, sf_dir)))


@register(
    "route_enriched",
    pipeline_sql(
        "SELECT order_id, product_name, quantity, price, order_date, total_price "
        "FROM routed WHERE target = 'enriched_orders'"
    ),
    doc="R1 valid branch: the enriched_orders topic payload",
)
def route_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        flagship_pipeline(spark, sf_dir)
        .filter(F.col("target") == "enriched_orders")
        .select("order_id", "product_name", "quantity", "price", "order_date", "total_price")
    )


@register(
    "route_invalid",
    pipeline_sql(
        "SELECT kafka_key, status_message FROM routed WHERE target = 'invalid_orders'"
    ),
    doc="ST6 dead-letter branch with reject reason",
)
def route_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        flagship_pipeline(spark, sf_dir)
        .filter(F.col("target") == "invalid_orders")
        .select("kafka_key", "status_message")
    )


@register(
    "schema_envelope",
    pipeline_sql(ENVELOPE_SQL),
    doc="T10 Kafka-Connect schema envelope (order_validator.py:95-123), "
    "byte-identical JSON in both engines",
)
def schema_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connect_envelope(flagship_pipeline(spark, sf_dir)).select(
        "kafka_key", "value"
    )


@register(
    "stream_counters",
    pipeline_sql(
        "SELECT COUNT(*) AS processed, "
        "COUNT(*) FILTER (WHERE is_valid) AS valid, "
        "COUNT(*) FILTER (WHERE NOT is_valid) AS invalid FROM routed"
    ),
    doc="ST3 running counters (batch twin of observe() metrics)",
)
def stream_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_pipeline(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("processed"),
        F.count_if(F.col("is_valid")).alias("valid"),
        F.count_if(~F.col("is_valid")).alias("invalid"),
    )


@register(
    "date_normalize",
    pipeline_sql(
        "SELECT r.order_id, r.order_date AS raw_date, v.order_date AS norm_date "
        "FROM raw r JOIN validated v USING (order_id) WHERE r.order_id IS NOT NULL"
    ),
    doc="T7 epoch-days -> YYYY-MM-DD normalization, null-guarded (ST4 fix)",
)
def date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = raw_orders(spark, sf_dir).select(
        "order_id", F.col("order_date").alias("raw_date")
    )
    norm = validate_and_enrich(raw_orders(spark, sf_dir)).select(
        "order_id", F.col("order_date").alias("norm_date")
    )
    return raw.join(norm, "order_id").filter(F.col("order_id").isNotNull())


# --------------------------------------------------------------------------
# CRUD surface (SURVEY.md §2.5) + K2 merge semantics
# --------------------------------------------------------------------------


@register(
    "sql_enriched_orders",
    pipeline_sql(
        "SELECT order_id, product_name, total_price FROM routed WHERE is_valid"
    ),
    doc="Q1: the reference's documented end-to-end check (SELECT * FROM "
    "enriched_orders, README.md:157) through the spark.sql text front end",
)
def sql_enriched_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    flagship_pipeline(spark, sf_dir).createOrReplaceTempView("enriched_orders_view")
    return spark.sql(
        "SELECT order_id, product_name, total_price "
        "FROM enriched_orders_view WHERE is_valid"
    )


@register("crud_scan", "SELECT * FROM orders", doc="Q2 full collection scan")
def crud_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders")


@register(
    "crud_filter",
    "SELECT * FROM orders WHERE o_custkey = 42",
    doc="Q3 equality filter by key (pushed to the parquet scan)",
)
def crud_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return crud.filter_by_key(load_table(spark, sf_dir, "orders"), "o_custkey", 42)


@register(
    "crud_append",
    "SELECT * FROM orders UNION ALL SELECT 999999999, 1, 'O', 400.0, "
    "TIMESTAMP '2025-11-09 00:00:00', '1-URGENT'",
    doc="Q4 append one row (the golden WASP order analog)",
)
def crud_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    row = spark.range(1).select(
        F.lit(999999999).cast("long").alias("o_orderkey"),
        F.lit(1).cast("long").alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(400.0).alias("o_totalprice"),
        F.lit("2025-11-09 00:00:00").cast("timestamp").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    return crud.append_rows(o, row)


@register(
    "crud_delete",
    # NOT EXISTS, not NOT IN: a delete request names concrete keys, so a
    # NULL-key base row is untargetable and SURVIVES (the engine's
    # anti-join semantics). NOT IN would return NULL for such a row and
    # drop it -- the classic three-valued-logic trap the r10 mixed_keys
    # sweep caught here.
    "SELECT * FROM orders o WHERE NOT EXISTS "
    "(SELECT 1 FROM orders d WHERE d.o_orderkey % 97 = 0 "
    "AND d.o_orderkey = o.o_orderkey)",
    doc="Q5 delete-by-key as a broadcast left_anti join",
)
def crud_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    doomed = o.filter(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    return crud.delete_by_keys(o, doomed, "o_orderkey")


_UPSERT_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         round(o_totalprice * 2, 2) AS o_totalprice, o_orderdate, o_orderpriority,
         (o_orderkey % 100 = 0) AS is_tombstone
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT b.* FROM orders b  -- NOT EXISTS: NULL-key rows are untargetable
  WHERE NOT EXISTS (SELECT 1 FROM updates u
                    WHERE u.o_orderkey = b.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM updates WHERE NOT is_tombstone
"""


@register(
    "crud_upsert",
    _UPSERT_SQL,
    doc="K2 JDBC-sink semantics: PK upsert + null-payload tombstone delete",
)
def crud_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_orderkey") % 100 == 0).alias("is_tombstone"),
    )
    return crud.merge_upsert(o, updates, "o_orderkey")


@register(
    "crud_forget",
    crud.FORGET_AUDIT_SQL,
    doc="right-to-be-forgotten cascade audit: one broadcast forget-set "
    "anti-joined across documents AND embeddings (no orphaned derivative); "
    "per-surface before/removed/after counts, one shuffle-free scan each",
)
def crud_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    forget = docs.filter(F.col("doc_id") % crud.FORGET_KEY_MOD == 0).select("doc_id")
    return crud.forget_audit(docs, emb, forget)


# --------------------------------------------------------------------------
# Deduplication (documents / embeddings) -- north star
# --------------------------------------------------------------------------

register("dedup_exact", dedup.DEDUP_EXACT_SQL, doc="exact dedup by canonical fingerprint, hash-groupBy, deterministic keeper")(dedup.dedup_exact)
register("dedup_ngram_jaccard", dedup.NGRAM_JACCARD_SQL, bench=True, doc="exact Jaccard over 3-gram shingles, blocked on shared shingles (no cross join); production DF-cap knob unit-tested")(
    dedup.ngram_jaccard_pairs
)
register(
    "dedup_ngram_jaccard_capped",
    dedup.NGRAM_JACCARD_CAPPED_SQL,
    doc="the PRODUCTION jaccard plan: hot-shingle df cap ON (oracle applies "
    "the identical df filter), precision-1 subset of the exact pairs",
)(dedup.ngram_jaccard_pairs_capped)
register("dedup_minhash_lsh", dedup.MINHASH_LSH_SQL, bench=True, doc="MinHash signatures (single-md5 hash family) + banded LSH candidates + exact verify")(dedup.minhash_lsh_pairs)
register("dedup_simhash", dedup.SIMHASH_PAIRS_SQL, doc="60-bit SimHash with lossless pigeonhole banding (recall 1 vs brute force)")(dedup.simhash_pairs)
register(
    "dedup_embedding_cosine",
    dedup.EMBEDDING_NEAR_DUP_SQL,
    doc="embedding near-dup pairs via banded random-hyperplane LSH "
    "candidates (equi-join on band key, never all-pairs) + exact cosine "
    "verify; deterministic md5 planes make the candidate set "
    "oracle-reproducible; recall vs brute force bounded in tests",
)(dedup.embedding_near_dup)
register(
    "text_decontaminate",
    decontaminate.DECONTAMINATE_SQL,
    bench=True,
    doc="benchmark decontamination: exact 5-gram collision vs a broadcast "
    "eval-set n-gram dictionary; per-doc contamination fraction + flag",
)(decontaminate.decontaminate)
register(
    "dedup_cluster_keepers",
    dedup.DEDUP_CLUSTER_KEEPERS_SQL,
    doc="connected components over the near-dup graph via iterative "
    "min-label propagation (oracle: recursive-CTE reachability)",
)(dedup.dedup_cluster_keepers)
register(
    "dedup_embedding_cosine_capped",
    dedup.EMBEDDING_NEAR_DUP_CAPPED_SQL,
    doc="the PRODUCTION embedding near-dup plan: hot-bucket cap ON (oracle "
    "applies the identical bucket filter), precision-1 subset of the "
    "uncapped pairs",
)(dedup.embedding_near_dup_capped)
register(
    "dedup_dup_spans",
    dedup.DUP_SPAN_STATS_SQL,
    doc="exact-substring (word 8-gram) cross-document duplication per doc "
    "(Lee et al. 2021): span df table, no doc self-join, keep/drop verdict",
)(dedup.dup_span_stats)
register(
    "text_dup_span_scrub",
    dedup.DUP_SPAN_SCRUB_SQL,
    doc="duplicated-span REMOVAL (Lee et al. 2021): all but the corpus-first "
    "occurrence of each duplicated word 8-gram cut out and the text rebuilt "
    "by a narrow array filter -- dup_span_stats is the audit, this is the edit",
)(dedup.dup_span_scrub)
register(
    "dedup_incremental",
    dedup.DEDUP_INCREMENTAL_SQL,
    doc="daily-ingest dedup: NEW batch classified against the HISTORICAL "
    "corpus (exact fingerprint semi-join + stored MinHash bands + exact "
    "verify) -- history never self-joins again, only the batch moves",
)(dedup.dedup_incremental)

# --------------------------------------------------------------------------
# Similarity search (embeddings) -- north star
# --------------------------------------------------------------------------

register("embedding_stats", similarity.EMBEDDING_STATS_SQL, doc="typed vector-column metadata: dim + L2 norm")(similarity.embedding_stats)
register("ann_topk_bruteforce", similarity.ANN_TOPK_BRUTEFORCE_SQL, bench=True, doc="exact cosine top-k via broadcast probe (the recall baseline)")(
    similarity.ann_topk_bruteforce
)
register("ann_topk_lsh", similarity.ANN_TOPK_LSH_SQL, doc="ANN via random-hyperplane LSH buckets + exact rerank")(similarity.ann_topk_lsh)
register("ann_ivf_assignments", similarity.IVF_ASSIGNMENTS_SQL, doc="IVF nearest-centroid cell assignment (broadcast centroids)")(
    similarity.ivf_assignments
)
register("ann_ivf_topk", similarity.IVF_TOPK_SQL, doc="IVF search: probe nearest cells, rerank candidates only")(similarity.ivf_topk)
register(
    "ann_topk_multiprobe",
    similarity.ANN_TOPK_MULTIPROBE_SQL,
    doc="multi-probe LSH ANN (Lv 2007): query-side Hamming-1 bucket probes "
    "over the same corpus index as ann_topk_lsh -- recall of extra bands "
    "at zero index cost",
)(similarity.ann_topk_multiprobe)
register(
    "embedding_quantize",
    similarity.EMBEDDING_QUANTIZE_SQL,
    doc="per-vector symmetric int8 quantization: scale + code string + "
    "exact integer squared norm (4x smaller ANN corpus, narrow map only)",
)(similarity.embedding_quantize)
register(
    "ann_topk_quantized",
    similarity.ANN_TOPK_QUANTIZED_SQL,
    doc="banded-LSH ANN reranked on int8 codes: exact int64 dot products, "
    "one final divide -- the memory-compressed serving path; error vs "
    "float cosine bounded in tests",
)(similarity.ann_topk_quantized)
register(
    "dedup_semantic",
    similarity.DEDUP_SEMANTIC_SQL,
    doc="SemDeDup (Abbas et al. 2023): nearest-centroid cell assignment + "
    "within-cell cosine pruning -- pair search is a self EQUI-join on cell "
    "id, quadratic term bounded by cluster size, deterministic min-id keeper",
)(similarity.dedup_semantic)

# --------------------------------------------------------------------------
# Text analysis (documents) -- north star
# --------------------------------------------------------------------------

register("text_stats", text.TEXT_STATS_SQL, bench=True, doc="per-document surface statistics (chars/tokens/uniques)")(text.text_stats)
register("text_token_count", text.TOKEN_COUNT_SQL, doc="whitespace + BPE-ish regex token counting")(text.token_count)
register("text_lang_id", text.LANG_ID_SQL, doc="stopword-ratio language-ID heuristic")(text.lang_id)
register("text_quality_score", text.QUALITY_SCORE_SQL, doc="composite length/punctuation/stopword quality score")(text.quality_score)
register(
    "text_bigram_logprob",
    text.BIGRAM_LOGPROB_SQL,
    doc="per-doc avg bigram NLL under an add-one corpus LM (conditional "
    "perplexity proxy: penalizes improbable transitions); decimal-exact "
    "log sums, bigram-table equi-join",
)(text.bigram_logprob)
register(
    "text_quality_classifier",
    text.QUALITY_CLASSIFIER_SQL,
    doc="fastText-shaped learned quality filter: logistic over a hashed "
    "bag-of-words (exact int64 feature sums) + stopword density; "
    "no shuffle, no UDF",
)(text.quality_classifier)
register("text_fingerprint", text.FINGERPRINT_SQL, doc="canonical-text md5 fingerprint + content shard key")(text.fingerprint)
register(
    "text_pii_scrub",
    text.PII_SCRUB_SQL,
    doc="email/phone redaction with pre-redaction audit counts; pure "
    "regexp, codegen'd, runs at scan speed",
)(text.pii_scrub)
register(
    "text_chunk",
    text.CHUNK_DOCUMENTS_SQL,
    doc="fixed-token chunking with overlap (array slice + explode, no UDF)",
)(text.chunk_documents)
register(
    "text_repetition",
    text.REPETITION_SQL,
    doc="Gopher-style dup-bigram / top-bigram repetition fractions, all "
    "higher-order array functions, zero shuffle",
)(text.repetition_metrics)
register(
    "text_term_df",
    text.TERM_DF_SQL,
    doc="corpus document-frequency + smoothed IDF (vocab-sized shuffle only)",
)(text.term_df)
register(
    "text_unigram_logprob",
    text.UNIGRAM_LOGPROB_SQL,
    doc="perplexity-proxy quality signal: per-doc avg unigram NLL under "
    "an add-one-smoothed corpus LM; vocab broadcast, two shuffles, "
    "decimal-quantized logs for order-independent sums",
)(text.unigram_logprob)
register(
    "text_heavy_hitters",
    text.TOKEN_HEAVY_HITTERS_SQL,
    doc="exact corpus heavy hitters via two-phase candidates-then-recount: "
    "per-partition local-fraction pigeonhole candidates (mapInPandas, no "
    "recall loss, partition-count-independent), broadcast-semi recount "
    "with an in-plan global threshold -- ONE job, no driver scalars, the "
    "token tail never shuffles; oracle is the naive full groupBy",
)(text.token_heavy_hitters)
register(
    "text_curation_pipeline",
    text.CURATION_PIPELINE_SQL,
    bench=True,
    doc="composed flagship curation: lang + quality + repetition gates, "
    "PII scrub, exact-dedup keeper -- one scan, one shuffle",
)(text.curation_pipeline)
register(
    "text_pack_sequences",
    text.PACK_SEQUENCES_SQL,
    doc="concat-then-chunk LLM sequence packing: shard-parallel running "
    "token offsets, fixed-capacity seq_id + in-sequence offset per doc "
    "(no global sort -- parallelism = shard count)",
)(text.pack_sequences)

# --------------------------------------------------------------------------
# Deterministic sampling / data mixing (documents) -- north star
# --------------------------------------------------------------------------

register(
    "sample_stratified",
    sampling.STRATIFIED_SAMPLE_SQL,
    doc="deterministic top-K per (lang, source) stratum by md5 rank; "
    "retry-stable (no rand())",
)(sampling.stratified_sample)
register(
    "sample_weighted_mix",
    sampling.WEIGHTED_MIX_SQL,
    doc="per-source keep-rate mixing via hash-fraction threshold; broadcast "
    "rates dim, narrow-map filter",
)(sampling.weighted_mix)
register(
    "sample_temperature",
    sampling.TEMPERATURE_SAMPLE_SQL,
    doc="temperature-flattened source mixture (p^(1/T) re-weighting): "
    "in-plan derived keep rates, broadcast back, deterministic hash filter",
)(sampling.temperature_sample)
register(
    "docs_shuffle_shard",
    sampling.SHUFFLE_SHARD_SQL,
    doc="global training shuffle without a global sort: md5 shard + "
    "per-shard md5-ordered position, reproducible byte-for-byte",
)(sampling.shuffle_shard)
register(
    "text_domain_mix",
    sampling.DOMAIN_MIX_SQL,
    doc="data-mixture dashboard: per-source doc/token counts, token share, "
    "uniform-target rebalance weight (window totals, one corpus scan)",
)(sampling.domain_mix)
register(
    "pipeline_curate_shard",
    compose.CURATE_SHARD_SQL,
    doc="v2 curation flagship: learned quality gate + cross-doc dup-span "
    "gate + decontamination gate -> reproducible shuffle-shard, one query",
)(compose.curate_shard_pipeline)

# --------------------------------------------------------------------------
# Multimodal columns (binary payloads + Pandas-UDF decode plumbing)
# --------------------------------------------------------------------------

register("mm_binary_meta", multimodal.MM_BINARY_META_SQL, doc="typed metadata over opaque binary payloads (no decode): size, content md5, shard key")(multimodal.mm_binary_meta)
register(
    "mm_decode",
    multimodal.MM_DECODE_SQL,
    doc="Arrow-batched mapInPandas decode: real pure-Python BMP/WAV "
    "container parse where the payload is a genuine container, md5 stub "
    "fallback otherwise (no codecs in the sandbox)",
)(multimodal.mm_decode)
register("mm_frame_sample", multimodal.MM_FRAME_SAMPLE_SQL, doc="per-frame fan-out for video rows: strided sample, content-addressed frames")(multimodal.mm_frame_sample)
register(
    "mm_feature_extract",
    multimodal.MM_FEATURE_ROWS_SQL,
    doc="binary -> array<float> featurization via Arrow-batched mapInPandas: "
    "seeded integer random projection of the decoded 8x8 luma grid (real "
    "pixels on the BMP/PIL path, hex-md5-chain stub grid otherwise -- r6 "
    "item 4; recall pinned on noisy-duplicate BMPs in tests); batch shape "
    "is the GPU-featurizer contract; registered as the posexploded "
    "(doc_id, mm_type, dim, value) projection so the driver can "
    "canonicalize it (r2's one red row was the raw array shape)",
)(multimodal.mm_feature_rows)
register(
    "mm_ann_topk",
    multimodal.MM_ANN_TOPK_SQL,
    doc="composed multimodal similarity search: Arrow-batched feature "
    "extraction -> modality-blocked cosine top-k (features plug straight "
    "into the similarity operators)",
)(multimodal.mm_ann_topk)
register(
    "mm_resize",
    multimodal.MM_RESIZE_SQL,
    doc="aspect-preserving resize dims JVM-side; only pixel work belongs "
    "in the decode UDF",
)(multimodal.mm_resize)

# --------------------------------------------------------------------------
# Temporal operators Spark lacks native syntax for + SCD2 + gap-fill
# --------------------------------------------------------------------------

register(
    "scd2_customer_priority",
    history.CUSTOMER_PRIORITY_SCD2_SQL,
    doc="SCD Type-2 dimension versioning: per-key null-safe change "
    "detection + half-open validity intervals + is_current flag, one "
    "hash partitioning carries both window passes",
)(history.customer_priority_scd2)
register(
    "join_asof_events",
    joins.ASOF_JOIN_EVENTS_SQL,
    bench=True,
    doc="as-of join via single-shuffle running-last window (oracle: native ASOF JOIN)",
)(joins.asof_join_events)
register(
    "join_asof_tolerance",
    joins.ASOF_JOIN_TOLERANCE_SQL,
    doc="as-of join with a staleness bound (merge_asof tolerance / kdb wj): "
    "same single shuffle, microsecond-exact post-window null-out",
)(joins.asof_join_tolerance)
register(
    "join_range_events",
    joins.RANGE_JOIN_EVENTS_SQL,
    doc="interval-containment join via bucketed equi-join (oracle: inequality join)",
)(joins.range_join_events)
register(
    "events_gapfill",
    windows.GAPFILL_USER_HOURLY_SQL,
    doc="hypertable-style gap-fill + LOCF: sequence()-generated dense "
    "hourly spine per user, last-observation carried across gaps",
)(windows.gapfill_user_hourly)
register(
    "snapshot_diff",
    history.SNAPSHOT_DIFF_SQL,
    doc="CDC/data-versioning audit between two corpus snapshots: "
    "added/removed/changed/unchanged per doc_id, one full-outer equi "
    "join of 32-byte fingerprints (text never shuffles)",
)(history.documents_snapshot_diff)
register(
    "events_late_audit",
    windows.WATERMARK_LATE_AUDIT_SQL,
    doc="watermark late-data accounting (SS semantics: frontier advances "
    "at micro-batch boundaries to prior max - delay): per-batch "
    "n_events/n_late; corpus scanned once, frontier broadcast back",
)(windows.watermark_late_audit)

# -- position 50: re-prove the r1 hash-mismatch fix (HUGEINT vs BIGINT) ----
register(
    "agg_priority_line_counts",
    tpch_extra.PRIORITY_SHIPMENT_COUNTS_SQL,
    doc="TPC-H Q12 shape (no l_shipmode: keyed on l_linestatus): join + "
    "conditional high/low priority counts in one aggregate pass; oracle "
    "SUMs cast to BIGINT so both engines hash identical result types",
)(tpch_extra.priority_shipment_counts)

# ==========================================================================
# Past the driver's 50-query correctness window from here down.
# ==========================================================================

# --------------------------------------------------------------------------
# Event-time windows (streaming analog, batch-checked)
# --------------------------------------------------------------------------

register("events_tumbling", windows.TUMBLING_EVENTS_SQL, bench=True, doc="fixed event-time windows (streaming twin: window() + watermark)")(
    windows.tumbling_events
)
register("events_sliding", windows.SLIDING_EVENTS_SQL, doc="overlapping event-time windows via window(slideDuration)")(windows.sliding_events)
register("events_session", windows.SESSION_EVENTS_SQL, bench=True, doc="gap-based session windows (session_window) per user")(windows.session_events)
register("events_dedup", windows.DEDUP_EVENTS_SQL, doc="exact event dedup with deterministic keeper (streaming twin: dropDuplicatesWithinWatermark)")(windows.dedup_events)
register("events_props_metrics", windows.PROPS_METRICS_SQL, doc="JSON props extraction (get_json_object) + aggregation")(windows.props_metrics)
register(
    "events_value_percentiles",
    windows.VALUE_PERCENTILES_SQL,
    doc="exact interpolated percentiles per event type (the recall "
    "baseline for sketch_value_quantiles)",
)(windows.value_percentiles)
register(
    "events_rolling_zscore",
    windows.ROLLING_ZSCORE_SQL,
    doc="rolling out-of-sample anomaly z-score per user from decimal-exact "
    "trailing moments (one sort window, three aggregates, no Welford "
    "order-dependence)",
)(windows.rolling_zscore)
register(
    "events_interarrival",
    windows.USER_INTERARRIVAL_SQL,
    doc="per-user inter-arrival gap profile: exact integer-microsecond "
    "gaps from one lag window, aggregate reuses the window's user_id "
    "partitioning (single shuffle)",
)(windows.user_interarrival)
register(
    "events_rollup_cascade",
    windows.ROLLUP_CASCADE_DAILY_SQL,
    doc="multi-granularity rollup cascade: daily rollup folded from "
    "hourly mergeable partials (count + exact decimal sum), never "
    "rescanning raw events; oracle is the direct daily scan",
)(windows.rollup_cascade_daily)
register(
    "events_cohort_retention",
    windows.COHORT_RETENTION_SQL,
    doc="weekly first-seen cohorts x activity weeks; co-partitioned "
    "user_id stages, tiny final rollup",
)(windows.cohort_retention)
register(
    "events_funnel",
    windows.FUNNEL_STEPS_SQL,
    doc="ordered view->click->purchase funnel via conditional mins in one "
    "single-shuffle aggregate (no self-joins)",
)(windows.funnel_steps)
register(
    "events_pivot_activity",
    windows.PIVOT_USER_ACTIVITY_SQL,
    doc="pivot with declared values (no inference scan, pinned schema)",
)(windows.pivot_user_activity)
register(
    "events_running_value",
    windows.RUNNING_USER_VALUE_SQL,
    doc="analytic windows: decimal-exact running sum + lag delta + row_number",
)(windows.running_user_value)
register(
    "events_props_variant",
    windows.PROPS_VARIANT_SHRED_SQL,
    doc="VARIANT-typed semi-structured shredding: try_parse_json once, "
    "typed variant_get path extraction, decile-bucketed aggregate",
)(windows.props_variant_shred)
register(
    "join_full_outer_user_days",
    joins.FULL_OUTER_USER_DAYS_SQL,
    doc="FULL OUTER join of two co-partitioned per-(user, day) aggregates: "
    "both null-extension sides exercised, no third exchange",
)(joins.full_outer_user_days)
register(
    "text_hashed_tfidf",
    features.SLOT_WEIGHTS_SQL,
    doc="signed feature-hashing TF-IDF (stateless featurizer, no "
    "vocabulary table; one doc_id partitioning carries the pipeline; "
    "decimal-quantized weight sums for order-independent floats) -- "
    "registered as the SPARSE (doc_id, slot, wf) frame, the scale-native "
    "shape (the dense array<float> assembly is the narrow projection "
    "hashed_tfidf_frame on top of it; arrays are not driver-checkable, "
    "r4 red row)",
)(features.slot_weights)
register(
    "text_ann_topk",
    features.TEXT_ANN_TOPK_SQL,
    doc="similarity search over raw text with no embedding model: hashed "
    "TF-IDF -> exact cosine top-k (composition proof that the featurizer "
    "output plugs into the ANN operators)",
)(features.text_ann_topk)
register(
    "text_decontaminate_attribution",
    decontaminate.DECONTAMINATE_ATTRIBUTION_SQL,
    doc="contamination attribution: which eval doc leaked into which "
    "training doc, scored by containment (shared 5-grams / eval doc's "
    "5-grams); eval side doc-tagged + broadcast, corpus never shuffles "
    "against it",
)(decontaminate.decontaminate_attribution)
register(
    "text_decontaminate_fuzzy",
    decontaminate.DECONTAMINATE_FUZZY_SQL,
    doc="FUZZY decontamination: training docs that are MinHash near-dups "
    "of an eval doc (paraphrase/partial-edit leakage the exact 5-gram "
    "gate misses); eval bands + shingles broadcast, corpus never "
    "shuffles against the eval side; same band family as "
    "dedup_minhash_lsh so one signature pass serves both",
)(decontaminate.decontaminate_fuzzy)
register(
    "split_leakage_safe",
    dedup.SPLIT_LEAKAGE_SAFE_SQL,
    doc="dedup-aware train/val/test split: near-dup CLUSTER is the atomic "
    "unit (split by md5 of the cluster keeper), so near-duplicates can "
    "never straddle splits -- the eval-leakage guard; no-straddling "
    "property-tested",
)(dedup.split_leakage_safe)

# --------------------------------------------------------------------------
# Relational analytics (bench workload; driver-green in CORRECTNESS_r01)
# --------------------------------------------------------------------------

register("agg_pricing_summary", analytics.PRICING_SUMMARY_SQL, bench=True, doc="TPC-H Q1-style pricing summary: filtered scan + map-side-combinable decimal aggregates")(
    analytics.pricing_summary
)
register("join_revenue_by_nation", analytics.REVENUE_BY_NATION_SQL, bench=True, doc="orders |X| customer |X| nation with both dimensions explicitly broadcast")(
    analytics.revenue_by_nation
)
register("window_top_orders", analytics.TOP_ORDERS_PER_CUSTOMER_SQL, bench=True, doc="ranking window top-k per customer with deterministic tie-break")(
    analytics.top_orders_per_customer
)
register("agg_order_rollup", analytics.ORDER_ROLLUP_SQL, doc="ROLLUP grouping sets in one Expand pass")(analytics.order_rollup)
register("setop_urgent_not_fulfilled", analytics.URGENT_NOT_FULFILLED_SQL, doc="EXCEPT DISTINCT set operation")(
    analytics.urgent_not_fulfilled
)
register("topk_parts_by_revenue", analytics.TOP_PARTS_BY_REVENUE_SQL, bench=True, doc="fact-side aggregate joined to a broadcast dimension, global top-k")(
    analytics.top_parts_by_revenue
)
register("join_shipping_priority", analytics.SHIPPING_PRIORITY_SQL, bench=True, doc="TPC-H Q3-style 3-way filtered join, filters pushed below the joins")(
    analytics.shipping_priority
)
register("join_semi_urgent_customers", analytics.CUSTOMERS_WITH_URGENT_SQL, doc="EXISTS as a broadcast left-semi join (no row duplication)")(
    analytics.customers_with_urgent_orders
)
register("agg_order_cube", analytics.ORDER_CUBE_SQL, doc="CUBE grouping sets in one Expand pass")(analytics.order_cube)
register(
    "agg_customer_order_dist",
    analytics.CUSTOMER_ORDER_DISTRIBUTION_SQL,
    doc="TPC-H Q13 shape: left-outer join keeps zero-order customers, "
    "count-per-customer histogram",
)(analytics.customer_order_distribution)
register(
    "join_salted_skew",
    joins.SALTED_SKEW_JOIN_SQL,
    doc="skew-proof salted shuffle join (fact salt from PK, dim replicated "
    "via explode); oracle is the plain join",
)(joins.salted_skew_join)
register(
    "agg_small_qty_revenue",
    analytics.SMALL_QUANTITY_REVENUE_SQL,
    doc="TPC-H Q17 shape: decorrelated per-part avg-quantity subquery, "
    "broadcast brand dim, dec-safe threshold",
)(analytics.small_quantity_revenue)
register(
    "join_bucketed_colocated",
    bucketing.BUCKETED_JOIN_SQL,
    doc="fact-to-fact join over bucketed tables: zero exchanges on the "
    "join (asserted in tests/test_bucketing.py); one ingest-time shuffle "
    "amortized over every downstream join",
)(bucketing.bucketed_order_lineitem_join)
register(
    "agg_salted_revenue",
    analytics.SALTED_REVENUE_BY_STATUS_SQL,
    doc="skew-proof two-phase salted aggregation; oracle is the unsalted "
    "single-phase groupBy (salting must be answer-invisible)",
)(analytics.salted_revenue_by_status)
register(
    "join_large_volume_customers",
    analytics.LARGE_VOLUME_CUSTOMERS_SQL,
    doc="TPC-H Q18 shape: HAVING over a fact aggregate, tiny result "
    "broadcast back through orders and customer (one shuffle total)",
)(analytics.large_volume_customers)
register(
    "agg_grouping_sets",
    analytics.ORDER_GROUPING_SETS_SQL,
    doc="explicit GROUPING SETS via the spark.sql front end: one Expand "
    "pass, generalizes the rollup/cube shorthands",
)(analytics.order_grouping_sets)
register(
    "setop_intersect",
    analytics.URGENT_AND_FULFILLED_SQL,
    doc="INTERSECT DISTINCT set operation (completes the EXCEPT / UNION "
    "ALL family)",
)(analytics.urgent_and_fulfilled)
register(
    "join_local_supplier_volume",
    analytics.LOCAL_SUPPLIER_VOLUME_SQL,
    bench=True,
    doc="TPC-H Q5 shape: 6-table join, every dim hop broadcast, single "
    "lineitem|X|orders shuffle; local-supplier predicate rides the "
    "supplier broadcast probe",
)(analytics.local_supplier_volume)
register(
    "join_anti_inactive_customers",
    analytics.INACTIVE_RICH_CUSTOMERS_SQL,
    doc="TPC-H Q22 shape: in-plan scalar subquery (1-row broadcast) + "
    "left-anti join + segment rollup",
)(analytics.inactive_rich_customers)
register(
    "agg_argmin_supplier",
    analytics.CHEAPEST_SUPPLIER_PER_NATION_SQL,
    doc="TPC-H Q2 decorrelation pattern: per-group argmin via min(struct) "
    "aggregate -- shuffle moves |groups| rows, not all (oracle: "
    "row_number window)",
)(analytics.cheapest_supplier_per_nation)
register(
    "agg_forecast_revenue",
    analytics.FORECAST_REVENUE_CHANGE_SQL,
    doc="TPC-H Q6 shape: three range predicates pushed to the scan + one "
    "map-side-combinable aggregate -- runs at scan speed",
)(analytics.forecast_revenue_change)
register(
    "join_returned_item_topk",
    analytics.RETURNED_ITEM_TOPK_SQL,
    doc="TPC-H Q10 shape: filtered fact join -> per-customer aggregate -> "
    "broadcast dim -> global top-k",
)(analytics.returned_item_topk)
register(
    "agg_promo_revenue_pct",
    analytics.PROMO_REVENUE_PCT_SQL,
    doc="TPC-H Q14 shape: conditional-aggregate ratio in ONE pass over a "
    "broadcast part join",
)(analytics.promo_revenue_pct)
register(
    "join_disjunctive_predicates",
    analytics.DISJUNCTIVE_PREDICATE_REVENUE_SQL,
    doc="TPC-H Q19 shape: OR-of-conjuncts across join sides; equi-key "
    "extraction keeps the join a broadcast hash join",
)(analytics.disjunctive_predicate_revenue)
register(
    "join_semi_late_shipments",
    analytics.LATE_SHIPMENT_PRIORITY_COUNTS_SQL,
    doc="TPC-H Q4 shape: correlated EXISTS with non-equi conjunct as a "
    "left-semi join + priority rollup",
)(analytics.late_shipment_priority_counts)
register(
    "join_volume_shipping",
    tpch_extra.VOLUME_SHIPPING_SQL,
    doc="TPC-H Q7 shape: nation-pair trade volume; nation broadcast twice "
    "under two roles, pair disjunction after both hops, one fact shuffle",
)(tpch_extra.volume_shipping)
register(
    "join_market_share",
    tpch_extra.MARKET_SHARE_SQL,
    bench=True,
    doc="TPC-H Q8 shape: conditional-aggregate market-share ratio across "
    "a 7-relation join; every dim broadcast, orders gated through the "
    "customer chain BEFORE the lineitem join; the STATIC plan also emits "
    "up to 3 small pre-gate exchanges and an SMJ that AQE converts back "
    "to broadcast (executed plan: 7 BHJ / 0 SMJ, see PLANS.md) -- the "
    "big lineitem|X|gated-orders exchange is the only one that scales",
)(tpch_extra.market_share)
register(
    "join_product_profit",
    tpch_extra.PRODUCT_TYPE_PROFIT_SQL,
    doc="TPC-H Q9 shape (no partsupp: profit net of discount): LIKE-filtered "
    "part broadcast, (nation, year) profit rollup",
)(tpch_extra.product_type_profit)
register(
    "join_top_supplier",
    tpch_extra.TOP_SUPPLIER_SQL,
    doc="TPC-H Q15 shape: per-supplier revenue CTE + in-plan scalar max "
    "(ties preserved via equality, not LIMIT)",
)(tpch_extra.top_supplier)
register(
    "agg_supplier_count_by_part",
    tpch_extra.SUPPLIER_COUNT_BY_PART_SQL,
    doc="TPC-H Q16 shape (lineitem as the supply relation): COUNT(DISTINCT) "
    "two-phase aggregate + NOT IN as broadcast left-anti",
)(tpch_extra.supplier_count_by_part)
register(
    "join_waiting_supplier",
    tpch_extra.WAITING_SUPPLIER_SQL,
    doc="TPC-H Q21 shape (latest-shipper-in-order as 'late'): EXISTS/NOT "
    "EXISTS pair decorrelated into one per-order aggregate + co-partitioned "
    "join-back, all hops on the order-key shuffle",
)(tpch_extra.waiting_supplier)
register(
    "agg_important_parts",
    tpch_extra.IMPORTANT_PARTS_SQL,
    doc="TPC-H Q11 shape (value = shipped revenue): HAVING vs a global "
    "scalar fraction; total derived from the per-part partials -- ONE "
    "lineitem pass, integer-scaled decimal threshold",
)(tpch_extra.important_parts)
register(
    "join_excess_shippers",
    tpch_extra.EXCESS_SHIPPERS_SQL,
    doc="TPC-H Q20 shape (dominance = >half a part's shipped qty): nested "
    "IN with correlated aggregate, decorrelated via window SUM over one "
    "pass; tiny survivor set broadcast into a left-semi probe",
)(tpch_extra.excess_shippers)
register(
    "profile_documents",
    profile.PROFILE_DOCUMENTS_SQL,
    doc="single-pass per-column table profile (rows/nulls/distincts/"
    "min/max): one scan, one Expand-based multi-distinct aggregate, "
    "one unpivot",
)(profile.profile_documents)
register(
    "profile_drift",
    profile.PROFILE_DRIFT_SQL,
    doc="distribution-drift monitor between the first/second half of the "
    "event stream's time range: per-type volumes, user counts, exact-"
    "decimal mean shift + Welch z, drift flag; ONE scan, one shuffle, "
    "in-plan integer-microsecond cutoff (no driver scalar)",
)(profile.profile_drift)
register(
    "sketch_distinct_users",
    sketches.DISTINCT_USERS_VERDICT_SQL,
    doc="HLL++ approx distinct as a VERDICT FRAME (r6 item 3): estimate "
    "and exact computed side by side in one grouped aggregate, bounded-"
    "error boolean emitted as data; oracle states exact counts + literal "
    "TRUE (sketch algorithms differ across engines, so the verdict -- "
    "not the estimate -- is the hash-checkable surface); raw estimate "
    "frame = sketches.approx_distinct_users",
)(sketches.distinct_users_verdict)
register(
    "sketch_value_quantiles",
    sketches.VALUE_QUANTILES_VERDICT_SQL,
    doc="Greenwald-Khanna approx quantiles as a VERDICT FRAME: exact "
    "rank-window check per quantile (count(<), count(<=) bracket "
    "(q+-eps)n), verdict booleans as data, oracle literal TRUE; raw "
    "estimate frame = sketches.approx_value_quantiles",
)(sketches.value_quantiles_verdict)
register(
    "sketch_quantile_rollup",
    sketches.QUANTILE_ROLLUP_VERDICT_SQL,
    doc="mergeable-summary rollup VERDICT FRAME: per-day KLL sketches "
    "merged (merge preserves the rank-error bound), merged p50/p95/p99 "
    "rank-checked exactly via a 1-row broadcast -- proves the whole "
    "sketch->merge->query chain; raw frame = "
    "sketches.value_quantile_rollup",
)(sketches.quantile_rollup_verdict)
register(
    "sketch_distinct_rollup",
    sketches.DISTINCT_ROLLUP_VERDICT_SQL,
    doc="mergeable-summary distinct rollup VERDICT FRAME: per-day HLL "
    "union estimate vs exact global distinct (union must DEDUPE users "
    "across days; a sum-of-dailies defect lands ~|days|x out of bound); "
    "raw frame = sketches.distinct_users_rollup",
)(sketches.distinct_rollup_verdict)

# --------------------------------------------------------------------------
# Generators + JSON sources (S3/S4/S5)
# --------------------------------------------------------------------------

register(
    "gen_orders",
    generator.generator_sql(100),
    doc="S5 seeded synthetic order generator (LCG, engine-independent)",
)(lambda spark, sf_dir: generator.generate_orders(spark, 100))
register("json_parse_orders", json_source.JSON_PARSE_ORDERS_SQL, doc="S3 null-safe JSON parse: corrupt records yield nulls, never exceptions")(
    json_source.json_parse_orders
)
register(
    "json_order_collection",
    json_source.ORDER_COLLECTION_SQL,
    doc="S4 json-server-style collection file source",
)(json_source.order_collection_query)
register(
    "csv_parse_orders",
    csv_source.CSV_PARSE_ORDERS_SQL,
    doc="S3 (CSV flavor): null-safe from_csv parse, PERMISSIVE + corrupt "
    "flag; syntactic (parser) vs semantic (try_cast) errors kept distinct",
)(csv_source.csv_parse_orders)
register(
    "pack_efficiency",
    text.PACK_EFFICIENCY_SQL,
    doc="per-shard packing audit over pack_sequences: sequences used, "
    "fill ratio (padding waste), boundary-straddling docs -- one "
    "aggregate over the packing frame, no extra corpus scan",
)(text.pack_efficiency)
register(
    "events_top_paths",
    windows.EVENTS_TOP_PATHS_SQL,
    doc="frequent-path mining: top runs of 3 consecutive event types "
    "per user (the discovery complement to the fixed-steps funnel); "
    "lead x2 on one user partitioning, vocabulary-sized count, "
    "TakeOrdered top-K (no global sort)",
)(windows.events_top_paths)
register(
    "pipeline_export_packed",
    compose.EXPORT_PACKED_SQL,
    doc="v3 flagship -- the training-data EXPORT: DSIR importance "
    "resampling -> fuzzy (near-dup) decontamination -> MinHash cluster "
    "dedup keeper -> concat-then-chunk sequence packing; emits the "
    "packed-layout manifest a data loader reads",
)(compose.export_packed_pipeline)
register(
    "text_bm25_topk",
    text.TEXT_BM25_TOPK_SQL,
    doc="Okapi BM25 ranked retrieval per probe doc: term-at-a-time over "
    "an inverted-index-shaped postings frame, doc length via window on "
    "the postings' own partitioning (no second corpus pass), idf "
    "broadcast; tf saturation + length normalization -- the lexical "
    "first-stage ranker beside text_ann_topk's cosine",
)(text.text_bm25_topk)
register(
    "sample_dsir",
    sampling.DSIR_SAMPLE_SQL,
    doc="DSIR importance resampling (Xie et al. 2023): hashed-unigram "
    "log-likelihood ratio of a target-source LM vs the raw LM, keep "
    "probability proportional to exp(score); LM tables are bucket-count-"
    "sized broadcasts, corpus never self-joins; decimal-quantized logs + "
    "md5 uniform make the sample retry-stable and oracle-exact",
)(sampling.dsir_sample)
register(
    "orc_roundtrip_orders",
    orc_source.ORC_ROUNDTRIP_SQL,
    doc="ORC ingestion surface: deterministic orders slice written to ORC "
    "and read back via the native vectorized reader; the oracle computes "
    "the slice from parquet, so any loss/coercion in the hop fails the "
    "hash check",
)(orc_source.orc_roundtrip_orders)

register(
    "ann_kmeans_train",
    similarity.KMEANS_TRAIN_SQL,
    doc="distributed Lloyd's k-means (cosine, 3 fixed iterations) -- the "
    "training step behind the IVF family's centroids: zero-shuffle "
    "broadcast fold-argmax assignment + map-side-combinable (cell, dim) "
    "decimal-mean update, localCheckpoint between rounds (CC pattern); "
    "oracle unrolls the identical iterations",
)(similarity.kmeans_train)
register(
    "dedup_containment",
    dedup.CONTAINMENT_PAIRS_SQL,
    doc="asymmetric near-dup pairs by shingle containment "
    "(inter / min set size): catches subset duplication Jaccard dilutes; "
    "same blocked shared-shingle equi-join as dedup_ngram_jaccard, same "
    "persisted hash frame, no cross join",
)(dedup.containment_pairs)
register(
    "events_ewma",
    timeseries.EWMA_USER_VALUE_SQL,
    doc="per-user truncated EWMA in event time: K lag() columns over ONE "
    "sort window replace the inherently-sequential recursion "
    "(order-pinned fixed-weight sums, deterministic across engines and "
    "partition layouts)",
)(timeseries.ewma_user_value)
register(
    "events_markov",
    timeseries.MARKOV_TRANSITIONS_SQL,
    doc="first-order event-type Markov transition matrix from per-user "
    "lag pairs: one sort window + one 5x5-key map-side-combinable "
    "aggregate; row normalizer windows the tiny aggregated frame",
)(timeseries.markov_transitions)
register(
    "events_mad_outliers",
    timeseries.MAD_OUTLIER_SUMMARY_SQL,
    doc="robust per-type outlier audit: exact median + MAD with a 3*MAD "
    "fence as two window aggregates + one groupBy, all riding a single "
    "event_type partitioning -- one exchange total "
    "(approx_percentile drop-in at 100 TB)",
)(timeseries.mad_outlier_summary)
register(
    "ann_ivf_topk_trained",
    similarity.IVF_TOPK_TRAINED_SQL,
    doc="IVF search served from the TRAINED k-means centroids (the "
    "offline-train / freeze / serve production path): same broadcast "
    "scoring + cell-id equi-join plan as ann_ivf_topk, model frame "
    "swapped for ann_kmeans_train's output",
)(similarity.ivf_topk_trained)
register(
    "events_autocorr",
    timeseries.AUTOCORR_HOURLY_SQL,
    doc="lag-1..3 autocorrelation of each type's hourly value series: "
    "covariance expanded algebraically so ONE aggregate per type "
    "collects every term as an exact decimal sum (no mean-first second "
    "pass), r_k arithmetic in fixed-order double",
)(timeseries.autocorr_hourly)
register(
    "events_cusum",
    timeseries.CUSUM_CHANGEPOINTS_SQL,
    doc="two-sided CUSUM change-point detection per type (Page 1954), "
    "de-recursed: c_t = S_t - min(0, running-min S_j), one sort window "
    "carrying exact-decimal running sum + extremum instead of the "
    "sequential fold; 6dp-quantized terms keep both engines bit-equal",
)(timeseries.cusum_changepoints)
register(
    "events_attribution",
    timeseries.ATTRIBUTION_LAST_TOUCH_SQL,
    doc="daily last-touch attribution: purchases credited to the user's "
    "latest click within 24h via a running conditional max on the shared "
    "user sort window -- no purchase-to-click self-join; exact integer-"
    "microsecond recency compare",
)(timeseries.attribution_last_touch)
register(
    "events_type_overlap",
    timeseries.TYPE_OVERLAP_SQL,
    doc="exact audience overlap (Jaccard + lift) between event-type user "
    "sets: per-user sorted type set explodes its C(k,2) pairs in place "
    "(no distinct-frame self-join), pair counts aggregate on a "
    "vocabulary-sized key; sizes/total joined back as broadcasts",
)(timeseries.type_overlap)
register(
    "pipeline_events_health",
    timeseries.EVENTS_HEALTH_REPORT_SQL,
    doc="the monitoring-plane flagship: per-type health row gluing "
    "median/MAD outlier pressure, lag-1 autocorrelation, and CUSUM "
    "alarm counts -- already-audited constituents joined on "
    "vocabulary-sized frames, oracle composes the same constituent SQL",
)(timeseries.events_health_report)
register(
    "ann_pq_train",
    similarity.ANN_PQ_TRAIN_SQL,
    doc="product-quantization codebook training (Jegou et al. 2011): "
    "per-subspace Lloyd rounds from deterministic seeds -- assignment is "
    "a zero-shuffle broadcast fold-argmin, update a model-sized "
    "decimal-mean shuffle; 6dp-rounded so the oracle trains bit-identical "
    "codebooks",
)(similarity.ann_pq_train)
register(
    "ann_topk_pq",
    similarity.ANN_TOPK_PQ_SQL,
    doc="PQ search, ADC scan -> exact rerank: corpus encoded as PQ_M "
    "small codes (16x compression), shortlist by summed broadcast-table "
    "lookups (equi-join, map-side-combinable decimal sum), only the "
    "Q*shortlist survivors pay full-dimension distance; recall@5 = 1.0 "
    "vs exact L2 pinned in tests",
)(similarity.ann_topk_pq)
register(
    "events_histogram",
    windows.VALUE_HISTOGRAM_SQL,
    doc="equi-width value histogram per event type with empty bins "
    "surfaced: vocabulary-sized min/max pre-pass broadcast back onto the "
    "scan, bin counts on a bounded key, sequence()-exploded bin spine "
    "left-joins the counts -- no corpus-sized join anywhere",
)(windows.value_histogram)
register(
    "events_histogram_equidepth",
    windows.VALUE_HISTOGRAM_EQUIDEPTH_SQL,
    doc="equi-depth twin of events_histogram: bin edges at exact value "
    "quantiles (per-type percentile aggregate, broadcast back), bin id "
    "= fixed-order fold over the edge array, counts on a bounded key; "
    "approx_percentile is the documented drop-in at fact scale",
)(windows.value_histogram_equidepth)
register(
    "graph_triangles",
    graph.TRIANGLE_CLUSTERING_SQL,
    doc="triangle count + degree + local clustering coefficient per user "
    "over the (type, hour) co-occurrence graph: ordered-edge storage, "
    "triangles as two equi-joins over the edge list (a<b<c closed "
    "triples), corners credited via one explode -- no theta joins",
)(graph.triangle_clustering)
register(
    "window_customer_quartiles",
    analytics.CUSTOMER_REVENUE_QUARTILES_SQL,
    doc="distribution-rank windows over per-customer revenue: ntile(4) "
    "quartile + percent_rank + cume_dist on a deterministic "
    "(revenue DESC, custkey) total order; order-less customers rank at "
    "0 revenue via the left join",
)(analytics.customer_revenue_quartiles)
register(
    "dedup_stats_by_source",
    dedup.DEDUP_STATS_BY_SOURCE_SQL,
    doc="the dedup dashboard: per-source duplication pressure from the "
    "MinHash near-dup clusters -- docs entangled, keeper-export drops, "
    "drop fraction, clusters touching the source; labels frame is "
    "|dup docs| rows, final aggregate |sources|-keyed",
)(dedup.dedup_stats_by_source)
register(
    "pipeline_corpus_report",
    compose.CORPUS_REPORT_SQL,
    doc="the curation-plane flagship: one row per source gluing "
    "duplication pressure (dedup dashboard), distributional drift "
    "(entropy + KL), and heuristic quality (mean score + keep rate) -- "
    "already-audited constituents joined on |sources|-sized frames, "
    "oracle composes the same constituent SQL as CTEs",
)(compose.corpus_report_pipeline)
register(
    "basket_part_pairs",
    analytics.BASKET_PART_PAIRS_SQL,
    doc="market-basket 2-itemsets: per-order sorted part set explodes "
    "its own C(k,2) pairs (no lineitem self-join), support/confidence/"
    "lift on the frequent-pair frame, top-K by lift; oracle is the "
    "textbook self-join -- two algorithms, one fixpoint",
)(analytics.basket_part_pairs)
register(
    "text_source_divergence",
    text.SOURCE_DIVERGENCE_SQL,
    doc="mixture monitoring: per-source unigram entropy + KL divergence "
    "from the corpus distribution; one corpus scan to the (source, term) "
    "frame, totals re-aggregate from it and broadcast back, per-term "
    "contributions decimal-quantized so sums are order-independent",
)(text.source_divergence)
register(
    "quality_report",
    quality.QUALITY_REPORT_SQL,
    doc="Deequ-shaped constraint audit: completeness / PK-uniqueness / "
    "domain / bounds / FK-containment over orders + documents, each "
    "table ONE map-side-combinable aggregate pass; the FK check joins "
    "key projections only (keys shuffle, rows never move)",
)(quality.quality_report)
register(
    "join_fuzzy_names",
    quality.FUZZY_NAME_PAIRS_SQL,
    doc="edit-distance<=1 similarity self-join via FastSS deletion-"
    "neighborhood blocking: variant equi-join (recall exactly 1) + "
    "levenshtein verify, never a cross join; oracle runs the brute-"
    "force quadratic join so parity proves the recall claim",
)(quality.fuzzy_name_pairs)
register(
    "privacy_k_anonymity",
    quality.K_ANONYMITY_SQL,
    doc="k-anonymity audit over the (nation, segment) quasi-identifier "
    "tuple: equivalence-class sizes, k-violation flag, 1/size re-"
    "identification risk; one bounded-key map-side-combinable groupBy",
)(quality.k_anonymity_audit)
register(
    "privacy_l_diversity",
    quality.L_DIVERSITY_SQL,
    doc="l-diversity audit (k-anonymity's successor): per quasi-class "
    "distinct-l and entropy-l of the members' order-priority sensitive "
    "attribute, homogeneity-attack flag; one custkey co-shuffle join + "
    "a bounded-domain two-level aggregate, DECIMAL-quantized entropy",
)(quality.l_diversity_audit)
register(
    "text_collocations",
    text.COLLOCATIONS_SQL,
    doc="PMI/NPMI collocation mining (Church & Hanks 1990): corpus "
    "adjacent-pair ranking on exact integer counts, min-count filter "
    "BEFORE the unigram equi-joins, fixed-order float arithmetic only",
)(text.collocations)
register(
    "text_vocab_growth",
    text.VOCAB_GROWTH_SQL,
    doc="vocabulary growth curve + Heaps'-law exponent: global prefix "
    "sum via the two-phase bucket decomposition (no global window), "
    "exact first-occurrence attribution, DECIMAL-quantized log-log OLS "
    "fit broadcast onto every checkpoint row; oracle runs the single-"
    "node global window so parity proves the decomposition",
)(text.vocab_growth)
register(
    "events_chi2_independence",
    timeseries.CHI2_TYPE_HOUR_SQL,
    doc="Pearson chi-squared independence of event_type x hour-of-day: "
    "one aggregate to the bounded contingency frame, marginals via "
    "windows on that tiny frame, scalar totals via 1-row broadcast; "
    "per-cell terms decimal-quantized so the statistic is order-free",
)(timeseries.chi2_type_hour)
register(
    "events_concurrency",
    windows.SESSION_CONCURRENCY_SQL,
    doc="exact per-day peak concurrent sessions WITHOUT a global sort: "
    "sessions split into per-day segments (one bounded explode), the "
    "+1/-1 sweep runs as a DAY-partitioned running sum, peak = max "
    "prefix; half-open tie semantics pinned (-1 sorts before +1)",
)(windows.session_concurrency)
register(
    "text_bpe_train",
    bpe.BPE_TRAIN_SQL,
    doc="distributed BPE tokenizer training (Sennrich 2016): corpus "
    "touched ONCE (word-freq aggregate), then fixed unrolled merge "
    "rounds on the vocabulary frame -- bounded pair-count shuffle, "
    "deterministic argmin winner via 1-row broadcast, in-plan left "
    "fold merge (F.aggregate == DuckDB list_reduce); all-integer "
    "state, bit-identical across engines",
)(bpe.bpe_train)
register(
    "text_bpe_encode",
    bpe.BPE_ENCODE_SQL,
    doc="encode the corpus with the corpus-trained BPE merges: per-doc "
    "token count + chars-per-token fertility; segmentation lives on "
    "the vocab frame (word -> |symbols|), corpus words equi-join that "
    "map and sum per doc -- the corpus never re-runs the folds",
)(bpe.bpe_encode)
register(
    "quality_benford",
    quality.BENFORD_AUDIT_SQL,
    doc="Benford first-significant-digit audit of o_totalprice (the "
    "fabricated-numbers screen): digit extracted with INTEGER "
    "arithmetic only (no libm log10 on the data path), one 9-key "
    "map-side-combinable aggregate + a 9-row window for shares",
)(quality.benford_audit)
register(
    "pipeline_quality_gate",
    quality.QUALITY_GATE_SQL,
    doc="the quality-plane release gate: uniform (audit, check, metric, "
    "passed) rows composing the set-level constraint report, the "
    "Benford MAD fraud screen, and the k-anonymity at-risk share -- "
    "summaries aggregate bounded frames, no corpus work beyond parts",
)(quality.quality_gate)
register(
    "events_seasonality",
    timeseries.SEASONALITY_PROFILE_SQL,
    doc="per-type seasonal indices over the (dow, hour) grid: one "
    "aggregate to the bounded cell frame, band windows re-aggregate "
    "EXACT decimal sums; dow = integer epoch-day arithmetic because "
    "Spark and DuckDB dayofweek() disagree on origin and range",
)(timeseries.seasonality_profile)
register(
    "profile_key_skew",
    profile.KEY_SKEW_SQL,
    doc="join-key skew advisor: heaviest keys with row share and "
    "per-key skew factor (diagnosis for AQE-skew/salting; "
    "join_salted_skew is the treatment); one corpus count shuffle, "
    "checkpointed counts feed partial top-K + 1-row broadcast totals",
)(profile.key_skew_profile)
register(
    "events_rolling_wau",
    windows.ROLLING_WAU_SQL,
    doc="exact trailing-7-day distinct users per day (rolling WAU): "
    "sliding distinct does not decompose over overlapping frames, so "
    "the corpus collapses to distinct (user, day) pairs once and the "
    "TINY pair frame fans x7 onto report days; per-day HLL union is "
    "the documented sketch swap-in at 100 TB",
)(windows.rolling_wau)
register(
    "agg_rfm_segments",
    analytics.RFM_SEGMENTS_SQL,
    doc="RFM quartile segmentation of customers from order history: "
    "one corpus aggregate to per-customer stats, integer epoch-day "
    "recency vs a 1-row broadcast max date, exact-percentile edges "
    "broadcast back, pure-comparison scores; <= 64 segment rows",
)(analytics.rfm_segments)
register(
    "agg_revenue_concentration",
    analytics.REVENUE_CONCENTRATION_SQL,
    doc="Pareto dashboard: exact Gini over per-customer spend (sort-"
    "based formula, tie-permutation invariant, decimal-quantized "
    "rank-weighted sums) + top-decile revenue share; one corpus "
    "aggregate, rank + sums on the checkpointed customer frame",
)(analytics.revenue_concentration)
register(
    "window_pareto_frontier",
    analytics.PARETO_FRONTIER_SQL,
    doc="skyline / Pareto frontier on (recency, price): corpus "
    "collapses to the bounded (date, price) grid first, frontier is "
    "one ordered scan over <= |dates| rows; oracle runs the quadratic "
    "NOT-EXISTS domination definition -- two algorithms, one answer",
)(analytics.pareto_frontier)
register(
    "events_streaks",
    timeseries.USER_STREAKS_SQL,
    doc="gaps-and-islands consecutive-day streaks per user: distinct "
    "(user, day) collapse first, day_number - row_number run keys, "
    "deterministic tie-break via islands equi-join (no min_by)",
)(timeseries.user_streaks)
register(
    "orders_backlog",
    windows.ORDERS_BACKLOG_SQL,
    doc="per-day peak open orders (order lifecycle = orderdate until "
    "last line ships): one shuffle builds per-order intervals, then "
    "the SHARED daily_interval_peaks day-partitioned sweep -- the "
    "session_concurrency machinery re-applied to a second domain",
)(windows.orders_backlog)
register(
    "events_runs_test",
    timeseries.RUNS_TEST_SQL,
    doc="Wald-Wolfowitz runs test per type (random vs trending/"
    "oscillating around the median): closed-form z from exact integer "
    "counts, no float accumulation; median-valued hours excluded, "
    "one-sided series NULL explicitly",
)(timeseries.runs_test)
register(
    "events_drawdown",
    timeseries.HOURLY_DRAWDOWN_SQL,
    doc="maximum drawdown per type over the hourly series (a PATH "
    "property mean/variance monitors miss): cumulative-max window on "
    "the bounded rollup, deterministic earliest-trough tie-break",
)(timeseries.hourly_drawdown)
register(
    "text_char_entropy",
    text.CHAR_ENTROPY_SQL,
    doc="per-doc character Shannon entropy (compressibility proxy, "
    "both tails are junk): ZERO-shuffle narrow projection -- distinct "
    "chars counted inside the row via array filter/size, entropy as a "
    "DECIMAL-quantized in-row fold, scan speed at any corpus size",
)(text.char_entropy)
register(
    "text_source_jsd",
    text.SOURCE_JSD_SQL,
    doc="pairwise Jensen-Shannon divergence matrix between source "
    "unigram distributions (symmetric, <= ln 2, no smoothing needed): "
    "dense vocab x sources grid self-joined per pair, DECIMAL-"
    "quantized contributions, explicit 0 ln 0 guards",
)(text.source_jsd)
register(
    "events_markov_entropy",
    timeseries.MARKOV_ENTROPY_SQL,
    doc="Markov entropy rate (plug-in): per-state conditional entropy "
    "of the next event type + the corpus rate and marginal entropy -- "
    "the predictability rollup of events_markov, same single corpus "
    "pass, all downstream frames <= 25 rows, DECIMAL-quantized ln sums",
)(timeseries.markov_entropy)
register(
    "events_logrank",
    analytics.FULFILLMENT_LOGRANK_SQL,
    doc="log-rank test (Mantel 1966): censoring-correct comparison of "
    "high-priority vs other fulfillment survival -- per-event-day "
    "hypergeometric O-E/V terms quantized to DECIMAL, chi2(1df) "
    "statistic; the KM operator's inferential companion",
)(analytics.fulfillment_logrank)
register(
    "agg_discount_elasticity",
    analytics.DISCOUNT_ELASTICITY_SQL,
    doc="grouped OLS (quantity ~ discount per brand): all five moments "
    "in ONE map-side-combinable aggregate with DECIMAL-quantized sums "
    "(no REGR_* UDAFs -- float merge order), slope/intercept/R^2 in "
    "fixed-order doubles, explicit zero-variance NULLs",
)(analytics.discount_elasticity)
register(
    "events_survival_km",
    analytics.FULFILLMENT_SURVIVAL_SQL,
    doc="Kaplan-Meier fulfillment survival with right-censoring "
    "(orders first-shipping inside the last window contribute risk "
    "time but no event): per-day at-risk/events/censored + S(t) via "
    "DECIMAL-quantized ln cumsum over the BOUNDED duration domain",
)(analytics.fulfillment_survival)
register(
    "agg_abc_parts",
    analytics.ABC_PARTS_SQL,
    doc="ABC revenue classification of parts: the two-phase prefix-sum "
    "decomposition applied to a VALUE ordering (exact-percentile "
    "cutpoint buckets, per-bucket decimal cumsums + offsets, every "
    "window bounded); oracle runs the single-node global window",
)(analytics.abc_parts)
register(
    "sketch_bloom_membership",
    sketches.BLOOM_MEMBERSHIP_SQL,
    doc="Bloom filter membership (Bloom 1970): BLOOM_K Carter-Wegman "
    "bit positions per key, the filter = distinct bit set (mergeable "
    "by union); mixed present/absent probes, NO-FALSE-NEGATIVE "
    "structural guarantee; oracle reproduces the filter bit-for-bit",
)(sketches.bloom_membership)
register(
    "agg_cohort_ltv",
    analytics.COHORT_LTV_SQL,
    doc="cohort LTV triangle: first-order-month cohorts, exact integer "
    "month ages, cumulative revenue per member via one cohort-"
    "partitioned cumsum over the bounded (cohort, age) grid",
)(analytics.cohort_ltv)
register(
    "sketch_count_min",
    sketches.COUNT_MIN_SQL,
    doc="count-min sketch (Cormode-Muthukrishnan 2005): additive "
    "DEPTH x WIDTH counters from the Carter-Wegman md5 family, built "
    "on the vocab-sized count frame (never the token stream); probe "
    "estimates vs true counts, oracle reproduces the sketch "
    "cell-for-cell",
)(sketches.count_min_estimates)
register(
    "events_funnel_timing",
    timeseries.FUNNEL_TIMING_SQL,
    doc="view->purchase time-to-convert: conditional-min instants per "
    "user (no self-join), exact integer-microsecond gaps, corpus "
    "conversion rate + exact latency percentiles in one final row",
)(timeseries.funnel_timing)
register(
    "events_seasonal_anomaly",
    timeseries.SEASONAL_ANOMALY_SQL,
    doc="seasonal-naive anomaly detection: hourly buckets z-scored "
    "against their same-hour-of-week profile (two bounded map-side-"
    "combinable aggregates, profile broadcast back); explicit under-"
    "history/zero-variance NULL guard, never engine 0/0",
)(timeseries.seasonal_anomaly)
register(
    "events_rolling_time_window",
    windows.ROLLING_TIME_WINDOW_SQL,
    doc="RANGE-frame trailing 30-minute per-user window (value-offset "
    "frame, the mode no rows-frame operator exercises): exact integer-"
    "microsecond range arithmetic, in-frame decimal sums, one "
    "user-partitioned sort window",
)(windows.rolling_time_window)
register(
    "pipeline_orders_ops_report",
    compose.ORDERS_OPS_REPORT_SQL,
    doc="v5 composed flagship: monthly orders OPS dashboard gluing "
    "ship-latency percentiles + peak open-order backlog (daily sweep "
    "max) + mean open-at-start congestion -- three month-keyed joins "
    "of independently-proven tiny frames; oracle composes the same "
    "SQL constants as CTEs",
)(compose.orders_ops_report)
register(
    "text_zipf_fit",
    text.ZIPF_FIT_SQL,
    doc="Zipf rank-frequency log-log fit over the term head (vocab "
    "top-K via distributed TakeOrdered, no global sort): slope, "
    "intercept, top-rank share -- text_vocab_growth's companion "
    "corpus-health number",
)(text.zipf_fit)
register(
    "events_sax_words",
    timeseries.SAX_DAILY_WORDS_SQL,
    doc="SAX symbolic daily words (Lin/Keogh 2003): hourly rollup -> "
    "4-hour PAA -> per-type z-normalize -> Gaussian-breakpoint "
    "letters; grep-able motif/anomaly shapes, one corpus shuffle, "
    "order-proof word assembly via array_sort'ed collect_list",
)(timeseries.sax_daily_words)
register(
    "profile_correlations",
    profile.NUMERIC_CORRELATIONS_SQL,
    doc="Pearson correlation matrix over lineitem numerics: every "
    "moment for all pairs in ONE map-side-combinable aggregate "
    "(decimal-quantized sums, no corr() UDAF), fixed-order assembly",
)(profile.numeric_correlations)
register(
    "mm_phash_index",
    multimodal.MM_PHASH_INDEX_SQL,
    doc="perceptual-hash (aHash) index of the image corpus: real pixel "
    "path for BMP/PIL, hex-md5-chain stub otherwise; per-doc 64-bit hash "
    "+ Hamming-0 cluster size (never vacuously empty); the banded "
    "pigeonhole pair join (recall 1 at Hamming <= 3, JVM bit_count "
    "verify) is phash_pairs, pinned on genuine BMPs in tests; oracle "
    "rebuilds the stub-branch hash BIT-FOR-BIT in SQL (r6 item 3 -- the "
    "registered corpus is all-stub; real-pixel branches stay "
    "fixture-pinned)",
)(multimodal.mm_phash_index)
register(
    "join_asof_nearest",
    joins.NEAREST_JOIN_EVENTS_SQL,
    doc="nearest-event join (closest view EITHER direction, ties to "
    "the earlier): one user window carries prev forward + next "
    "backward, row-local integer-microsecond verdict; oracle is a "
    "LATERAL nested loop ordered by absolute gap",
)(joins.nearest_join_events)
register(
    "agg_ship_latency_monthly",
    analytics.SHIP_LATENCY_MONTHLY_SQL,
    doc="order-to-first-ship SLA percentiles per month: two bounded "
    "map-side-combinable shuffles, exact percentile with the "
    "approx_percentile 100 TB drop-in documented",
)(analytics.ship_latency_monthly)
register(
    "agg_mode_by_nation",
    analytics.MODE_SEGMENT_BY_NATION_SQL,
    doc="exact per-group mode with a DETERMINISTIC tie-break (engine "
    "mode()/min_by() tie order is unspecified): corpus collapses to "
    "counts in one shuffle, ranking window on the <= 125-row frame",
)(analytics.mode_segment_by_nation)
register(
    "join_interval_stab",
    windows.ORDERS_OPEN_AT_START_SQL,
    doc="interval-stabbing join (how many other orders were open at "
    "each order's placement instant) via the day-partitioned sweep: "
    "probe points ride the delta window at pri 2, NO inequality "
    "self-join; oracle runs the quadratic d.s <= p < d.e join",
)(windows.orders_open_at_start)
register(
    "events_cep_match",
    timeseries.CEP_CLICK_PURCHASE_SQL,
    doc="MATCH_RECOGNIZE-style CEP: purchase preceded by a click within "
    "30min with NO intervening error -- the negation needs no anti-join "
    "(two running conditional maxima on the shared user sort window, "
    "match iff last-error older than last-click); exact microseconds",
)(timeseries.cep_click_purchase)
register(
    "events_holt_forecast",
    timeseries.HOLT_FORECAST_SQL,
    doc="Holt linear-trend (double exponential smoothing) per type over "
    "the hourly rollup, de-recursed: the coupled level/trend recursion "
    "becomes K lag() columns with precomputed M^j c matrix-power "
    "weights on one sort window; rows without full K-history emit NULL",
)(timeseries.holt_forecast)
register(
    "embedding_pca_power",
    similarity.EMBEDDING_PCA_POWER_SQL,
    doc="top principal component by fixed power-iteration rounds: corpus "
    "work = two map-side-combinable aggregates (per-dim mean + outer-"
    "product covariance via nested-transform explode, NO corpus "
    "self-join); iteration/Rayleigh/trace all on the DIM^2 model frame",
)(similarity.embedding_pca_power)
register(
    "graph_pagerank",
    graph.PAGERANK_SQL,
    doc="PageRank over the co-occurrence graph, fixed unrolled rounds "
    "(the de-recursion pattern): per round one Pregel-style shuffle on "
    "src + map-side-combinable mass sum on dst, teleport term from an "
    "in-plan 1-row broadcast, 6dp-rounded state keeps engines bit-equal",
)(graph.pagerank)
register(
    "sample_budget_waterfill",
    sampling.BUDGET_WATERFILL_SQL,
    doc="token-budget mixture planning: closed-form water-filling (sorted "
    "prefix-sum windows, zero driver round-trips) allocates "
    "min(avail, lambda*w) per source to exactly exhaust the budget; one "
    "corpus scan, everything else on the |sources|-row frame",
)(sampling.budget_waterfill)


# The driver hash-checks the first 50 names registry() returns, so every
# entry needs oracle SQL.
CORRECTNESS_WINDOW = [
    # 1-12: reference parity block (SURVEY §2 contract)
    "flagship_pipeline",
    "route_enriched",
    "route_invalid",
    "schema_envelope",
    "stream_counters",
    "date_normalize",
    "sql_enriched_orders",
    "crud_scan",
    "crud_filter",
    "crud_append",
    "crud_delete",
    "crud_upsert",
    "text_decontaminate",
    "text_decontaminate_attribution",
    "text_decontaminate_fuzzy",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_simhash",
    "dedup_dup_spans",
    "dedup_cluster_keepers",
    "split_leakage_safe",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_capped",
    "text_ann_topk",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_multiprobe",
    "ann_topk_quantized",
    "ann_ivf_assignments",
    "ann_ivf_topk",
    "ann_ivf_topk_trained",
    "ann_kmeans_train",
    "ann_pq_train",
    "ann_topk_pq",
    "embedding_pca_power",
    "mm_ann_topk",
    "graph_triangles",
    "graph_pagerank",
    "join_interval_stab",
    "orders_backlog",
    "pipeline_orders_ops_report",
    "join_fuzzy_names",
    "basket_part_pairs",
    "topk_parts_by_revenue",
    "join_shipping_priority",
    "join_local_supplier_volume",
    "join_market_share",
    "quality_benford",
    "profile_key_skew",
]

assert len(CORRECTNESS_WINDOW) == 50, len(CORRECTNESS_WINDOW)
assert len(set(CORRECTNESS_WINDOW)) == 50
_missing = [n for n in CORRECTNESS_WINDOW if n not in _REGISTRY]
assert not _missing, f"window names not registered: {_missing}"
