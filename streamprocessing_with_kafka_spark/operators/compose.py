"""End-to-end corpus curation composition -- the 'v2 flagship' that chains
the round-3 operators into the shape a real pretraining data job runs as
ONE Spark query: learned quality gate -> cross-document duplicated-span
gate -> benchmark-decontamination gate -> reproducible shuffle-shard of
the survivors.

Relation to `text.curation_pipeline` (the v1 flagship): v1 gates on
surface heuristics and dedups exact fingerprints inside one scan; v2
layers the CROSS-DOCUMENT signals (span df table, eval-set collisions)
and a learned filter on top, then materializes the training-ready
permutation. Both are registered; a user picks by pipeline stage.

Scale shape: the three gates are independent branches over the same
documents scan -- the classifier is a narrow projection (no shuffle), the
span gate and decontamination each shuffle on their own hash keys -- and
the final assembly is doc_id-keyed equi-joins of per-doc frames followed
by the one-exchange shard window. Nothing here is quadratic; the widest
structure is the span df table, same as `dedup_dup_spans`.

Semantics note: the decontamination stage scores only non-eval documents
with >= NGRAM_N tokens, so the inner join doubles as two more gates --
eval-set members and sub-n-gram snippets are excluded from the training
corpus, which is exactly what a curation run wants (and the oracle SQL
reproduces, so the contract is pinned, not accidental).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from streamprocessing_with_kafka_spark.functions.hashing import md5_long, md5_long_sql
from streamprocessing_with_kafka_spark.operators.decontaminate import (
    DECONTAMINATE_SQL,
    decontaminate,
)
from streamprocessing_with_kafka_spark.operators.dedup import (
    DUP_SPAN_STATS_SQL,
    dup_span_stats,
)
from streamprocessing_with_kafka_spark.operators.sampling import N_SHARDS
from streamprocessing_with_kafka_spark.operators.text import (
    QUALITY_CLASSIFIER_SQL,
    quality_classifier,
)


def curate_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_prob, dup_frac, contamination_frac, shard, pos):
    the documents that pass all three gates, with their training-shard
    assignment and reproducible within-shard position."""
    qc = quality_classifier(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "quality_prob"
    )
    ds = dup_span_stats(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "dup_frac"
    )
    dc = decontaminate(spark, sf_dir).filter(~F.col("is_contaminated")).select(
        "doc_id", "contamination_frac"
    )
    kept = qc.join(ds, "doc_id").join(dc, "doc_id")
    h = md5_long(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        kept.select("*", h.alias("h"), (h % N_SHARDS).cast("int").alias("shard"))
        .select(
            "doc_id",
            "quality_prob",
            "dup_frac",
            "contamination_frac",
            "shard",
            F.row_number().over(w).alias("pos"),
        )
    )


_SHUF = md5_long_sql("'shuf|' || CAST(doc_id AS VARCHAR)")

CURATE_SHARD_SQL = f"""
WITH qc AS ({QUALITY_CLASSIFIER_SQL}),
ds AS ({DUP_SPAN_STATS_SQL}),
dc AS ({DECONTAMINATE_SQL}),
kept AS (
  SELECT qc.doc_id, qc.quality_prob, ds.dup_frac, dc.contamination_frac
  FROM qc JOIN ds ON qc.doc_id = ds.doc_id
          JOIN dc ON qc.doc_id = dc.doc_id
  WHERE qc.keep AND ds.keep AND NOT dc.is_contaminated
),
sharded AS (
  SELECT *, CAST({_SHUF} % {N_SHARDS} AS INTEGER) AS shard, {_SHUF} AS h
  FROM kept
)
SELECT doc_id, quality_prob, dup_frac, contamination_frac, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
FROM sharded
"""


# ------------------------------------------------ v3: packed export

def export_packed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v3 flagship -- the training-data EXPORT job: DSIR importance
    resampling (tilt the raw corpus toward the target domain) -> fuzzy
    decontamination (drop near-duplicates of benchmark docs, not just
    exact n-gram hits) -> MinHash cluster dedup (keep one doc per
    near-dup component) -> concat-then-chunk sequence packing of the
    survivors. Output is the packed-layout manifest a data loader reads:
    (doc_id, avg_logratio, shard, n_tokens, start_offset, seq_id,
    offset_in_seq).

    Relation to v1/v2: v1 (`text_curation_pipeline`) gates on surface
    heuristics, v2 (`pipeline_curate_shard`) adds cross-document and
    learned signals; v3 is the SELECTION + EXPORT stage that follows
    them -- distribution tilting, benchmark hygiene, canonical near-dup
    collapse, and the physical training layout, one oracle-checked query.

    Scale shape: each stage is the already-audited plan of its standalone
    operator (DSIR: bucket-LM broadcasts; fuzzy: eval-side broadcasts;
    CC: bounded label propagation with localCheckpoint) glued by doc_id
    equi-joins and two broadcast left-antis (the drop sides are slivers
    by construction: contaminated docs and non-keepers). Packing adds
    the one shard-keyed exchange. The DSIR stage already excludes the
    target-distribution slice itself, so the export contains only raw-
    corpus survivors.

    The fuzzy-decontamination and cluster-dedup stages both consume the
    shingle frame and its MinHash band keys; standalone each builds its
    own, but the pipeline builds BOTH exactly once per invocation (one
    corpus shingle explode + one signature aggregate instead of two of
    each) and passes them through the constituents' frame parameters --
    bit-identical expressions, declared outputs unchanged (r13)."""
    from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
    from streamprocessing_with_kafka_spark.operators.decontaminate import (
        decontaminate_fuzzy_from_shingles,
    )
    from streamprocessing_with_kafka_spark.operators.dedup import (
        _band_keys,
        _shingles_with_count,
        _signature_agg,
        dedup_cluster_keepers,
    )
    from streamprocessing_with_kafka_spark.operators.sampling import dsir_sample
    from streamprocessing_with_kafka_spark.operators.text import (
        PACK_CAPACITY,
        PACK_SHARDS,
        _tokens,
    )
    from streamprocessing_with_kafka_spark.sources.tables import load_table

    from streamprocessing_with_kafka_spark.operators.decontaminate import (
        EVAL_MOD,
    )

    # eval-slice members are excluded OUTRIGHT (they are the benchmark,
    # not training data -- same contract the v2 pipeline pins); fuzzy
    # decontamination then drops their near-duplicates
    kept = (
        dsir_sample(spark, sf_dir)
        .filter(F.col("is_kept") & (F.col("doc_id") % EVAL_MOD != 0))
        .select("doc_id", "avg_logratio")
    )
    sh = _shingles_with_count(spark, sf_dir)
    bands = local_checkpoint(_band_keys(_signature_agg(sh)))
    contaminated = (
        decontaminate_fuzzy_from_shingles(sh, bands=bands)
        .select("doc_id")
        .distinct()
    )
    gated = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")
    # near-dup collapse happens AMONG THE GATED SURVIVORS: each cluster
    # keeps its smallest surviving member -- collapsing against the full
    # corpus's keeper would export NOTHING for a cluster whose keeper was
    # itself sampled out or contaminated
    clusters = dedup_cluster_keepers(spark, sf_dir, sh=sh, bands=bands).select(
        "doc_id", "keeper_doc_id"
    )
    wc = Window.partitionBy("cluster")
    survivors = (
        gated.join(F.broadcast(clusters), "doc_id", "left")
        .withColumn("cluster", F.coalesce("keeper_doc_id", "doc_id"))
        .withColumn("_rep", F.min("doc_id").over(wc))
        .filter(F.col("doc_id") == F.col("_rep"))
        .select("doc_id", "avg_logratio")
    )
    lens = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tokens()).alias("n_tokens")
    )
    docs = survivors.join(lens, "doc_id").select(
        "doc_id",
        "avg_logratio",
        "n_tokens",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "avg_logratio",
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / PACK_CAPACITY).alias("seq_id"),
        (start % PACK_CAPACITY).alias("offset_in_seq"),
    )


def _export_packed_sql() -> str:
    from streamprocessing_with_kafka_spark.operators.decontaminate import (
        DECONTAMINATE_FUZZY_SQL,
        EVAL_MOD,
    )
    from streamprocessing_with_kafka_spark.operators.dedup import (
        DEDUP_CLUSTER_KEEPERS_SQL,
    )
    from streamprocessing_with_kafka_spark.operators.sampling import DSIR_SAMPLE_SQL
    from streamprocessing_with_kafka_spark.operators.text import (
        PACK_CAPACITY,
        PACK_SHARDS,
    )

    return f"""
WITH dsir AS ({DSIR_SAMPLE_SQL}),
fuzzy AS ({DECONTAMINATE_FUZZY_SQL}),
cc AS (SELECT * FROM ({DEDUP_CLUSTER_KEEPERS_SQL})),
gated AS (
  SELECT doc_id, avg_logratio FROM dsir
  WHERE is_kept AND doc_id % {EVAL_MOD} != 0
    AND doc_id NOT IN (SELECT doc_id FROM fuzzy)
),
clustered AS (
  SELECT g.doc_id, g.avg_logratio,
         COALESCE(cc.keeper_doc_id, g.doc_id) AS cluster
  FROM gated g LEFT JOIN cc ON g.doc_id = cc.doc_id
),
survivors AS (
  SELECT doc_id, avg_logratio FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY cluster) AS _rep
    FROM clustered
  ) WHERE doc_id = _rep
),
docs AS (
  SELECT s.doc_id, s.avg_logratio,
         len(string_split(d.text, ' ')) AS n_tokens,
         CAST(s.doc_id % {PACK_SHARDS} AS INTEGER) AS shard
  FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
),
off AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM docs
)
SELECT doc_id, avg_logratio, shard, n_tokens, start_offset,
       CAST(floor(start_offset / {PACK_CAPACITY}) AS BIGINT) AS seq_id,
       CAST(start_offset % {PACK_CAPACITY} AS BIGINT) AS offset_in_seq
FROM off
"""


EXPORT_PACKED_SQL = _export_packed_sql()


def corpus_report_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION-plane flagship: one row per source gluing the
    corpus-monitoring family -- duplication pressure (MinHash cluster
    dashboard), distributional drift (unigram entropy + KL from the
    corpus), and heuristic quality (mean score + keep rate) -- the table
    a data-curation operator reads before deciding what to ingest,
    resample, or drop next run.

    Composition contract (the `pipeline_events_health` pattern): every
    constituent is the ALREADY-audited registered operator, glued by
    source equi-joins on |sources|-sized frames; the oracle composes the
    identical constituent SQL as CTEs, so the composed row can only be
    right if every constituent is."""
    from streamprocessing_with_kafka_spark.functions.numeric import dec_sum
    from streamprocessing_with_kafka_spark.operators.dedup import (
        dedup_stats_by_source,
    )
    from streamprocessing_with_kafka_spark.operators.text import (
        quality_score,
        source_divergence,
    )
    from streamprocessing_with_kafka_spark.sources.tables import load_table

    stats = dedup_stats_by_source(spark, sf_dir)
    div = source_divergence(spark, sf_dir).select(
        "source", "n_tokens", "entropy", "kl_from_corpus"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = (
        quality_score(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.round(dec_sum("quality") / F.count(F.lit(1)).cast("double"), 6).alias(
                "mean_quality"
            ),
            F.round(
                F.sum(F.col("keep").cast("long")) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("keep_frac"),
        )
    )
    return (
        stats.join(div, "source")
        .join(q, "source")
        .select(
            "source",
            "n_docs",
            "drop_frac",
            "n_clusters",
            "n_tokens",
            "entropy",
            "kl_from_corpus",
            "mean_quality",
            "keep_frac",
        )
    )


def _corpus_report_sql() -> str:
    from streamprocessing_with_kafka_spark.functions.numeric import round_sql
    from streamprocessing_with_kafka_spark.operators.dedup import (
        DEDUP_STATS_BY_SOURCE_SQL,
    )
    from streamprocessing_with_kafka_spark.operators.text import (
        QUALITY_SCORE_SQL,
        SOURCE_DIVERGENCE_SQL,
    )

    mean_q = round_sql(
        "CAST(CAST(SUM(CAST(quality AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
        " / COUNT(*)",
        6,
    )
    keep_f = round_sql("SUM(CASE WHEN keep THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)", 6)
    return f"""
WITH stats AS ({DEDUP_STATS_BY_SOURCE_SQL}),
div AS ({SOURCE_DIVERGENCE_SQL}),
qs AS ({QUALITY_SCORE_SQL}),
q AS (
  SELECT source, {mean_q} AS mean_quality, {keep_f} AS keep_frac
  FROM qs JOIN documents USING (doc_id)
  GROUP BY source
)
SELECT stats.source, n_docs, drop_frac, n_clusters,
       n_tokens, entropy, kl_from_corpus, mean_quality, keep_frac
FROM stats JOIN div ON stats.source = div.source
JOIN q ON stats.source = q.source
"""


CORPUS_REPORT_SQL = _corpus_report_sql()


# ---------------------------------------- v5 flagship: orders ops report

def orders_ops_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORDERS OPERATIONS monthly dashboard -- this round's composed
    flagship, gluing the interval family into one frame per month:
    order volume, order-to-first-ship latency percentiles
    (`agg_ship_latency_monthly`), the month's PEAK open-order backlog
    (max of `orders_backlog`'s daily sweep), and the mean congestion an
    order is born into (`join_interval_stab`'s open-at-start count
    averaged over the month's placements).

    Every constituent is independently driver-proven; the report is
    three month-keyed equi-joins of already-tiny frames (<= |months|
    rows each), so the composition adds no scale risk.  The three
    constituents each need a per-order lineitem aggregate (first ship,
    last ship x2); standalone they compute their own, but the pipeline
    computes ONE fused groupBy(l_orderkey).agg(min, max) -- one corpus
    scan + shuffle instead of three -- materialized per invocation via
    an eager localCheckpoint and passed into the constituents through
    their frame parameters (bit-identical expressions, so the declared
    outputs are unchanged; r13).  The oracle composes the SAME SQL
    constants as CTEs."""
    from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
    from streamprocessing_with_kafka_spark.operators.analytics import (
        ship_latency_monthly,
    )
    from streamprocessing_with_kafka_spark.operators.windows import (
        orders_backlog,
        orders_open_at_start,
    )
    from streamprocessing_with_kafka_spark.sources.tables import load_table

    p = spark.sparkContext.defaultParallelism
    per_order = local_checkpoint(
        load_table(spark, sf_dir, "lineitem", rebalance=False)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max(
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            ).alias("e_us"),
        )
        # same width pin as _last_ship_per_order: the sweeps' interval
        # explode reads this frame and AQE would coalesce it narrow
        .repartition(p)
    )
    last_ship = per_order.select("l_orderkey", "e_us")
    lat = ship_latency_monthly(
        spark, sf_dir, first_ship=per_order.select("l_orderkey", "first_ship")
    )
    peak = (
        orders_backlog(spark, sf_dir, last_ship=last_ship)
        .groupBy(F.date_trunc("MONTH", F.col("day")).alias("month"))
        .agg(F.max("peak_concurrency").alias("peak_backlog"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("MONTH", F.col("o_orderdate")).alias("month")
    )
    stab = (
        orders_open_at_start(spark, sf_dir, last_ship=last_ship)
        .join(orders, "o_orderkey")
        .groupBy("month")
        .agg(
            F.round(
                F.sum(F.col("n_open_at_start").cast("decimal(28,10)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_open_at_start")
        )
    )
    return (
        lat.join(peak, "month")
        .join(stab, "month")
        .select(
            "month",
            "n_orders",
            "p50_days",
            "p95_days",
            "peak_backlog",
            "avg_open_at_start",
        )
    )


def _ops_report_sql() -> str:
    from streamprocessing_with_kafka_spark.operators.analytics import (
        SHIP_LATENCY_MONTHLY_SQL,
    )
    from streamprocessing_with_kafka_spark.operators.windows import (
        ORDERS_BACKLOG_SQL,
        ORDERS_OPEN_AT_START_SQL,
    )

    from streamprocessing_with_kafka_spark.functions.numeric import round_sql

    cong = round_sql(
        "CAST(CAST(SUM(CAST(s.n_open_at_start AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE)", 6)
    return f"""
WITH lat AS ({SHIP_LATENCY_MONTHLY_SQL}),
bk AS ({ORDERS_BACKLOG_SQL}),
stab AS ({ORDERS_OPEN_AT_START_SQL}),
peak AS (
  SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
         MAX(peak_concurrency) AS peak_backlog
  FROM bk GROUP BY 1
),
congestion AS (
  SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
         {cong} AS avg_open_at_start
  FROM stab s JOIN orders o ON s.o_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT lat.month, lat.n_orders, lat.p50_days, lat.p95_days,
       peak.peak_backlog, congestion.avg_open_at_start
FROM lat JOIN peak USING (month) JOIN congestion USING (month)
"""


ORDERS_OPS_REPORT_SQL = _ops_report_sql()
