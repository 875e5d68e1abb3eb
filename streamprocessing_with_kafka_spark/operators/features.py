"""Hashed TF-IDF feature vectors over `documents` -- the classic scalable
text -> dense-vector step (feature hashing / the "hashing trick") that
bridges the text-analysis family to the similarity-search operators: the
output is the same typed `array<float>` shape `embeddings.embedding`
carries, so hashed vectors plug straight into the ANN / near-dup paths.

Scale design:
  - No vocabulary table to build, broadcast, or keep consistent across a
    1000-executor cluster: a term's slot is md5(term) % HASH_DIM and its
    sign a second md5 bit, so the featurizer is stateless -- the property
    that makes feature hashing THE production choice at 100 TB (Weinberger
    et al. 2009; Vowpal Wabbit).
  - ONE partitioning carries the whole doc-side pipeline: tokens are
    hash-partitioned by doc_id up front, and every later aggregate
    (term counts, slot sums, vector assembly) groups by a superset of
    doc_id, so Catalyst reuses that single exchange for all three -- no
    (doc_id, term) or (doc_id, slot) reshuffles (pinned in
    tests/test_plan_shapes.py). The document-frequency table is
    vocab-sized, aggregated once and broadcast back; the corpus size is a
    broadcast 1-row aggregate (no driver collect).
  - Weight sums are quantized to DECIMAL(28,10) before aggregation so the
    result is independent of partition/merge order (same pattern as
    dec_sum), which is what makes a float pipeline oracle-checkable.
  - The dense assembly (map_from_entries + a sequence() fill) is a narrow
    projection -- no explode of the slot space, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.hashing import md5_long, md5_long_sql
from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import (
    dec_sum_sql,
    round_sql as _round_sql,
)
from streamprocessing_with_kafka_spark.operators.text import _tokens
from streamprocessing_with_kafka_spark.sources.tables import load_table

HASH_DIM = 32  # slots; production sizes 2^18-2^22 -- plan shape unchanged


def slot_weights_frame(d: DataFrame) -> DataFrame:
    """(doc_id, slot, wf): the SPARSE signed-hash TF-IDF representation --
    per-doc nonzero slot weights, rounded to the same float32 values the
    dense vectors carry. The sparse frame is the scale-native shape: the
    dense assembly is a narrow projection on top of it, and the text ANN
    search scores term-at-a-time from it without ever materializing
    vectors.

    weight(term) = tf * (ln((N+1)/(df+1)) + 1), folded into slot
    md5(term) % HASH_DIM with sign 1 - 2*(md5(term||'|s') & 1); collisions
    partially cancel instead of compounding -- the unbiased-estimate trick
    from the feature-hashing literature."""
    toks = d.select("doc_id", F.explode(_tokens()).alias("term")).repartition(
        d.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")) + 1
    sign = 1 - 2 * (md5_long(F.concat(F.col("term"), F.lit("|s"))) % 2)
    slot = md5_long(F.col("term")) % HASH_DIM
    weighted = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            slot.alias("slot"),
            (sign * F.col("tf") * idf).cast("decimal(28,10)").alias("wq"),
        )
    )
    slots = weighted.groupBy("doc_id", "slot").agg(F.sum("wq").alias("w"))
    return slots.select(
        "doc_id",
        "slot",
        F.round(F.col("w").cast("double"), 6).cast("float").alias("wf"),
    )


def hashed_tfidf_frame(d: DataFrame) -> DataFrame:
    """(doc_id, feature array<float>) over any (doc_id, text) frame:
    signed-hash TF-IDF vectors -- the dense assembly over
    slot_weights_frame (map lookup + sequence() fill, narrow)."""
    sw = slot_weights_frame(d)
    m = F.map_from_entries(F.collect_list(F.struct("slot", "wf")))
    return (
        sw.groupBy("doc_id")
        .agg(m.alias("m"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(HASH_DIM - 1)),
                lambda s: F.coalesce(F.col("m")[s.cast("long")], F.lit(0.0).cast("float")),
            ).alias("feature"),
        )
    )


def hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashed_tfidf_frame over the documents table."""
    return hashed_tfidf_frame(load_table(spark, sf_dir, "documents"))


def slot_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slot_weights_frame over the documents table."""
    return slot_weights_frame(load_table(spark, sf_dir, "documents"))


def _slot_weights_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, slot, wf, n2): sparse slot weights plus the doc's squared
    L2 norm, attached by a window over the SAME doc_id partitioning the
    featurizer already established (no extra shuffle, and downstream
    joins carry the norm instead of re-deriving it through a separate
    aggregate branch). The norm sum is an exact-decimal accumulator, so
    it is partition-order independent.

    Materialized ONCE PER INVOCATION via an eager localCheckpoint: the
    ANN search references the slot frame from several join branches, and
    without a materialized frame each branch would recompute the whole
    featurizer pipeline (the r2 dense self-join paid it twice; four
    sparse branches would pay it four times). A persist()-backed
    cross-call memo (r2-r11) is NOT used: the CacheManager keys persisted
    plans, so a later identical invocation -- the next timed run of a
    bench loop -- would silently reuse the first run's bytes instead of
    recomputing from parquet (see dedup._shingles_with_count)."""
    from pyspark.sql import Window as W

    wf2 = (F.col("wf").cast("double") * F.col("wf").cast("double")).cast(
        "decimal(28,10)"
    )
    return local_checkpoint(
        slot_weights(spark, sf_dir)
        .filter(F.col("wf") != 0)
        .withColumn("n2", F.sum(wf2).over(W.partitionBy("doc_id")).cast("double"))
    )


_W_SQL = (
    "CAST((1 - 2 * ({sign_h} % 2)) * tf "
    "* (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1) AS DECIMAL(28,10))"
).format(sign_h=md5_long_sql("term || '|s'"))

#: The toks/tf/dfc/nd/slots pipeline shared VERBATIM by all three oracle
#: strings below (slot weights, dense assembly, text ANN) -- one constant
#: so the three can never silently diverge (r5 advice).
_SLOTS_CTE = f"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
slots AS (
  SELECT doc_id, {md5_long_sql('term')} % {HASH_DIM} AS slot, SUM({_W_SQL}) AS w
  FROM tf JOIN dfc USING (term), nd
  GROUP BY 1, 2
)"""

#: Oracle for the SPARSE (doc_id, slot, wf) registered shape. The driver's
#: pandas canonicalizer cannot sort array cells (r4 red row: "unhashable
#: type: 'list'"), so the REGISTERED query is this flat frame; the dense
#: array assembly stays an internal projection (hashed_tfidf_frame),
#: plan-pinned in tests/test_plan_shapes.py. Zero-weight slots (full sign
#: cancellation) are kept by both engines.
SLOT_WEIGHTS_SQL = f"""
WITH {_SLOTS_CTE}
SELECT doc_id, slot,
       CAST({_round_sql("CAST(CAST(w AS VARCHAR) AS DOUBLE)", 6)} AS FLOAT) AS wf
FROM slots
"""

#: Dense-array oracle -- UNREGISTERED (array cells are driver-ineligible)
#: but kept alive by tests/test_features.py::test_hashed_tfidf_dense_oracle
#: so it cannot rot against the shared CTE prefix.
HASHED_TFIDF_SQL = f"""
WITH {_SLOTS_CTE},
dense AS (
  SELECT d.doc_id, spine.s, slots.w
  FROM (SELECT DISTINCT doc_id FROM slots) d
  CROSS JOIN (SELECT unnest(range(0, {HASH_DIM})) AS s) spine
  LEFT JOIN slots ON slots.doc_id = d.doc_id AND slots.slot = spine.s
)
SELECT doc_id,
       list(CAST({_round_sql("CAST(CAST(COALESCE(w, 0) AS VARCHAR) AS DOUBLE)", 6)} AS FLOAT)
            ORDER BY s) AS feature
FROM dense GROUP BY doc_id
"""


# ---------------------------------------- text similarity search (composed)

TXT_TOP_K = 5
TXT_N_QUERIES = 3  # doc_id < 3 are the probe documents


def text_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over raw text with NO embedding model: hashed
    TF-IDF -> exact cosine top-k for the probe documents, scored
    TERM-AT-A-TIME from the sparse slot frame (the inverted-index scoring
    pattern): dot products are a broadcast equi-join of the probes' slot
    weights against the corpus slot weights + one aggregate, norms one
    more aggregate on the SAME doc_id partitioning -- the dense vectors
    are never materialized, and the featurizer pipeline is paid once, not
    once per join side (r2's dense self-join compiled to 9 shuffles; this
    plan halves that, audit in PLANS.md).

    Every sum is an exact-decimal accumulator (dec_sum pattern), so dots
    and norms are partition-order-independent and the cosine values are
    oracle-reproducible; a pair appears iff the probe and the doc share a
    nonzero slot (a no-overlap doc has cosine 0 and can never reach a
    meaningful top-k anyway -- both engines apply the same rule)."""
    from pyspark.sql import Window as W

    sw = _slot_weights_with_norm(spark, sf_dir)
    q_slots = sw.filter(F.col("doc_id") < TXT_N_QUERIES).select(
        F.col("doc_id").alias("q_id"),
        "slot",
        F.col("wf").alias("qwf"),
        F.col("n2").alias("q2"),
    )
    prod = (F.col("qwf").cast("double") * F.col("wf").cast("double")).cast("decimal(28,10)")
    scored = (
        F.broadcast(q_slots)
        .join(sw.withColumnRenamed("doc_id", "n_id"), "slot")
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("n_id", "q_id")
        .agg(
            F.sum(prod).cast("double").alias("dotd"),
            F.first("q2").alias("q2"),
            F.first("n2").alias("n2"),
        )
        .select(
            "q_id",
            "n_id",
            F.round(F.col("dotd") / (F.sqrt("q2") * F.sqrt("n2")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TXT_TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


_N2_SQL = (
    "CAST(CAST(SUM(CAST(CAST(wf AS DOUBLE) * CAST(wf AS DOUBLE) AS DECIMAL(28,10))) "
    "OVER (PARTITION BY doc_id) AS VARCHAR) AS DOUBLE)"
)
_PROD_SQL = dec_sum_sql("CAST(q.wf AS DOUBLE) * CAST(n.wf AS DOUBLE)")
_COSINE_SQL = f"{_PROD_SQL} / (sqrt(any_value(q.n2)) * sqrt(any_value(n.n2)))"

TEXT_ANN_TOPK_SQL = f"""
WITH {_SLOTS_CTE},
sw0 AS (
  SELECT * FROM (
    SELECT doc_id, slot,
           CAST({_round_sql("CAST(CAST(w AS VARCHAR) AS DOUBLE)", 6)} AS FLOAT) AS wf
    FROM slots
  ) WHERE wf <> 0
),
sw AS (SELECT doc_id, slot, wf, {_N2_SQL} AS n2 FROM sw0),
scored AS (
  SELECT q.doc_id AS q_id, n.doc_id AS n_id,
         {_round_sql(_COSINE_SQL, 6)} AS cosine
  FROM sw q JOIN sw n USING (slot)
  WHERE q.doc_id < {TXT_N_QUERIES} AND q.doc_id <> n.doc_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TXT_TOP_K}
"""
