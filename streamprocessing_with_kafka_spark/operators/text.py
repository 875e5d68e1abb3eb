"""Text-analysis operators over the `documents` table -- the
training-data-pipeline surface (BASELINE.json north star): token stats,
language ID, quality scoring, fingerprinting.

Everything is built-in column expressions (split / higher-order filter /
regexp / md5): JVM-side, codegen'd, zero Python on the hot path -- at
100 TB these run as a single narrow projection over the corpus scan with
full column pruning (only `doc_id`/`text` are read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import round_sql as _round_sql
from streamprocessing_with_kafka_spark.sources.tables import load_table

# Tiny English function-word list for the n-gram/stopword language
# heuristic. Real deployments would plug a trained model in via the same
# column contract.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def _tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(
            (F.length("text") - (n_tokens - 1)) / n_tokens.cast("double"), 6
        ).alias("avg_token_len"),
        F.size(F.array_distinct(_tokens())).alias("n_unique_tokens"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
  length(text) AS n_chars,
  len(string_split(text, ' ')) AS n_tokens,
  round((length(text) - (len(string_split(text, ' ')) - 1))
        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens
FROM documents
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letter runs / digit runs / single punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "bpe_ish_tokens"
        ),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS bpe_ish_tokens
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic, checked against the given lang."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    n_stop = F.size(F.filter(_tokens(), lambda x: x.isin(*EN_STOPWORDS)))
    ratio = F.round(n_stop / n_tokens.cast("double"), 6)
    return d.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stopwords"),
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


LANG_ID_SQL = f"""
SELECT doc_id, lang,
  n_stopwords,
  stop_ratio,
  CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM (
  SELECT doc_id, lang,
    len(list_filter(string_split(text, ' '),
                    x -> list_contains({_STOP_SQL}, x))) AS n_stopwords,
    round(len(list_filter(string_split(text, ' '),
                          x -> list_contains({_STOP_SQL}, x)))
          / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio
  FROM documents
)
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality score in [0,1]: length band + stopword
    density + size sanity -- the shape of a pretraining quality filter."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    n_stop = F.size(F.filter(_tokens(), lambda x: x.isin(*EN_STOPWORDS)))
    stop_ratio = n_stop / n_tokens.cast("double")
    score = F.round(
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.3
        + F.when(F.length("text").between(100, 2000), F.lit(1.0)).otherwise(0.5) * 0.2,
        6,
    )
    return d.select(
        "doc_id",
        score.alias("quality"),
        (score >= 0.6).alias("keep"),
    )


QUALITY_SCORE_SQL = f"""
SELECT doc_id, quality, quality >= 0.6 AS keep
FROM (
  SELECT doc_id,
    round(
      least(n_tokens / CAST(200.0 AS DOUBLE), 1.0) * 0.5
      + least((n_stop / CAST(n_tokens AS DOUBLE)) * 10.0, 1.0) * 0.3
      + (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END) * 0.2,
    6) AS quality
  FROM (
    SELECT doc_id, text,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_filter(string_split(text, ' '),
                      x -> list_contains({_STOP_SQL}, x))) AS n_stop
    FROM documents
  )
)
"""


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+?[0-9][0-9 ()-]{7,}[0-9]"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email/phone patterns, report counts.

    Pure regexp_replace/regexp_extract_all -- JVM-side, codegen'd, no UDF;
    at 100 TB this runs at scan speed as a narrow map. Counting BEFORE
    redaction gives the audit trail a compliance pipeline needs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{EMAIL_RE}', 0)) AS n_emails,
  len(regexp_extract_all(text, '{PHONE_RE}', 0)) AS n_phones,
  regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM documents
"""

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap -- the standard prep step
    before embedding/training on long documents.

    Chunk starts stride by (CHUNK_TOKENS - CHUNK_OVERLAP); each chunk
    joins its token slice back to text. All array ops (split, sequence,
    slice, explode) -- a narrow map + generate, no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((F.size("w") - 1 - F.lit(CHUNK_OVERLAP)).cast("double") / stride)
            .cast("int"),
            F.lit(0),
        ),
    )
    return (
        d.select("doc_id", "w", F.explode(starts).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.array_join(
                F.slice("w", F.col("chunk_id") * stride + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            F.least(
                F.size("w") - F.col("chunk_id") * stride, F.lit(CHUNK_TOKENS)
            ).alias("n_tokens"),
        )
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(
           CAST(floor(CAST(len(w) - 1 - {CHUNK_OVERLAP} AS DOUBLE)
                      / {CHUNK_TOKENS - CHUNK_OVERLAP}) AS INTEGER), 0) + 1)) AS chunk_id
  FROM d
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
  array_to_string(w[chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                    chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}], ' ') AS chunk_text,
  least(len(w) - chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP}, {CHUNK_TOKENS}) AS n_tokens
FROM c
"""


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-bigram fraction
    and most-frequent-bigram share, per document.

    Computed entirely with higher-order array functions (transform /
    filter / array_distinct) inside one narrow projection -- no explode,
    no shuffle. At 100 TB the alternative (explode bigrams + two
    groupBys) would shuffle ~20x the corpus bytes; this form touches each
    row once and is O(distinct * n) per row, bounded by document length."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.expr(
            "transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    d = d.select("doc_id", bigrams.alias("ng"))
    n = F.size("ng")
    denom = F.when(n > 0, n.cast("double"))
    top = F.expr(
        "array_max(transform(array_distinct(ng), x -> size(filter(ng, y -> y = x))))"
    )
    return d.select(
        "doc_id",
        n.alias("n_bigrams"),
        F.round((n - F.size(F.array_distinct("ng"))) / denom, 6).alias(
            "dup_bigram_frac"
        ),
        F.round(top / denom, 6).alias("top_bigram_frac"),
    )


REPETITION_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 2
         THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         ELSE [] END AS ng
  FROM t
)
SELECT doc_id,
  CAST(len(ng) AS INTEGER) AS n_bigrams,
  round((len(ng) - len(list_distinct(ng)))
        / CAST(nullif(len(ng), 0) AS DOUBLE), 6) AS dup_bigram_frac,
  round(list_max(list_transform(list_distinct(ng),
                                x -> len(list_filter(ng, y -> y = x))))
        / CAST(nullif(len(ng), 0) AS DOUBLE), 6) AS top_bigram_frac
FROM g
"""


def term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table with smoothed IDF -- the shared
    statistic under TF-IDF ranking and rare-token filtering.

    One explode of per-doc DISTINCT terms (so a term counts once per doc)
    -> one groupBy(term) with map-side partial aggregation -> broadcast
    of the single-row corpus count. The only shuffle is keyed on `term`,
    whose cardinality is the vocabulary, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("n_docs"))
    dfreq = (
        d.select(F.explode(F.array_distinct(_tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    return dfreq.crossJoin(F.broadcast(total)).select(
        "term",
        "df",
        F.round(
            F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)), 6
        ).alias("idf"),
    )


TERM_DF_SQL = """
WITH e AS (
  SELECT unnest(list_distinct(string_split(text, ' '))) AS term FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, count(*) AS df,
  round(ln(CAST(n_docs + 1 AS DOUBLE) / (count(*) + 1)), 6) AS idf
FROM e, n
GROUP BY term, n_docs
"""


def canonical_text(col: str = "text") -> Column:
    """Normalization under fingerprinting: lowercase, trim, collapse runs
    of spaces."""
    return F.lower(F.trim(F.regexp_replace(F.col(col), " +", " ")))


CANONICAL_TEXT_SQL = "lower(trim(regexp_replace(text, ' +', ' ', 'g')))"


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 over canonicalized text."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(canonical_text()).alias("fingerprint"),
        F.substring(F.md5(canonical_text()), 1, 8).alias("shard_key"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
  md5({CANONICAL_TEXT_SQL}) AS fingerprint,
  substr(md5({CANONICAL_TEXT_SQL}), 1, 8) AS shard_key
FROM documents
"""


QUALITY_KEEP = 0.6
DUP_BIGRAM_MAX = 0.6


def curation_gated(d: DataFrame, *, pushdown_barrier: bool = True) -> DataFrame:
    """The streaming-safe stage of the curation flagship: every per-doc
    signal (stopword ratio, quality, dup-bigram fraction, scrubbed text,
    fingerprint) in a single narrow projection + the gate filter. Pure
    DataFrame -> DataFrame, so the same code runs in the batch query, the
    oracle harness, and a readStream (narrow ops are streaming-legal;
    only the keeper step differs per mode).

    pushdown_barrier=False for streams: the barrier uses
    monotonically_increasing_id (illegal on streaming plans), and a
    micro-batch never has the pushdown-duplication problem it guards
    against."""
    n_tokens = F.size(_tokens())
    n_stop = F.size(F.filter(_tokens(), lambda x: x.isin(*EN_STOPWORDS)))
    stop_ratio = n_stop / n_tokens.cast("double")
    quality = F.round(
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.3
        + F.when(F.length("text").between(100, 2000), F.lit(1.0)).otherwise(0.5) * 0.2,
        6,
    )
    bigrams = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 1),"
        " i -> concat(element_at(split(text, ' '), i), ' ',"
        " element_at(split(text, ' '), i + 1)))"
    )
    dup_frac = F.round(
        (F.size(bigrams) - F.size(F.array_distinct(bigrams)))
        / F.when(F.size(bigrams) > 0, F.size(bigrams).cast("double")),
        6,
    )
    # The gate predicate must NOT sink below this projection: pushdown
    # would (a) substitute the aliases, re-evaluating every heavy
    # regex/array expression a second time in the Filter, and (b) on a
    # row-group-starved local file, land below the rebalance exchange
    # onto a single core. A nondeterministic column in the projection is
    # the supported barrier -- Catalyst only pushes predicates through
    # fully-deterministic projections -- and costs nothing (dropped
    # right after the gates).
    cols = [
        F.col("doc_id"),
        F.col("lang"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        dup_frac.alias("dup_bigram_frac"),
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
        F.md5(canonical_text()).alias("fingerprint"),
        n_tokens.alias("n_tokens"),
    ]
    gates = (
        (F.col("stop_ratio") >= 0.05)  # lang gate: en heuristic
        & (F.col("quality") >= QUALITY_KEEP)
        & (F.col("dup_bigram_frac") < DUP_BIGRAM_MAX)
    )
    if pushdown_barrier:
        cols.append(F.monotonically_increasing_id().alias("_nd_barrier"))
        # always-true conjunct on the nondeterministic column: Catalyst
        # must not push a nondeterministic predicate, so the whole gate
        # stays here (pushdown is per-referenced-alias, so a barrier in
        # the projection alone does not stop it)
        gates = gates & (F.col("_nd_barrier") >= 0)
    return d.select(*cols).filter(gates).drop("_nd_barrier")


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE pass: language gate, quality
    gate, repetition gate, PII scrub, exact-dedup keeper -- the composed
    flagship of the training-data surface.

    Structure matters more than any single metric here: every per-doc
    signal is computed in curation_gated's single narrow projection over
    one scan -- NOT by joining the individual operators, which would
    re-scan the corpus once per signal. The only shuffle is the final
    fingerprint-keeper window, and Spark's WindowGroupLimit caps it at
    one surviving row per fingerprint group per map task. The streaming
    twin (streaming/curation.py) swaps the window for state-backed
    dropDuplicates."""
    from pyspark.sql import Window as W

    scored = curation_gated(load_table(spark, sf_dir, "documents"))
    keeper = W.partitionBy("fingerprint").orderBy("doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(keeper))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "lang", "quality", "dup_bigram_frac", "n_tokens", "scrubbed"
        )
    )


CURATION_PIPELINE_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '),
                    x -> list_contains({_STOP_SQL}, x)))
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
    round(
      least(len(string_split(text, ' ')) / CAST(200.0 AS DOUBLE), 1.0) * 0.5
      + least((len(list_filter(string_split(text, ' '),
                               x -> list_contains({_STOP_SQL}, x)))
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 10.0, 1.0) * 0.3
      + (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END) * 0.2,
    6) AS quality,
    round((len(ng) - len(list_distinct(ng)))
          / CAST(nullif(len(ng), 0) AS DOUBLE), 6) AS dup_bigram_frac,
    regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
    md5({CANONICAL_TEXT_SQL}) AS fingerprint
  FROM (
    SELECT *,
      [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS ng
    FROM (SELECT *, string_split(text, ' ') AS w FROM documents)
  )
),
gated AS (
  SELECT * FROM scored
  WHERE stop_ratio >= 0.05 AND quality >= {QUALITY_KEEP}
    AND dup_bigram_frac < {DUP_BIGRAM_MAX}
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rk
  FROM gated
)
SELECT doc_id, lang, quality, dup_bigram_frac,
       CAST(n_tokens AS INTEGER) AS n_tokens, scrubbed
FROM kept WHERE rk = 1
"""


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram negative log-likelihood under an
    add-one-smoothed corpus language model -- the classic cheap
    perplexity proxy for pretraining quality filtering (high avg NLL =
    rare/garbled tokens, low = boilerplate).

    Two shuffles total: one corpus explode -> groupBy(term) builds the
    vocab (map-side combinable, vocabulary-sized output), one
    groupBy(doc_id) re-aggregates the scored tokens. The vocab and the
    1-row totals BROADCAST back onto the token stream -- at 100 TB the
    LM table is millions of rows, still broadcast range; cap to a top-K
    vocab (everything else smooths to the unseen-token probability) if
    it outgrows that. Per-token logs are quantized to DECIMAL(28,10)
    before summing, so the per-doc sum is order-independent and
    engine-exact (same pattern as dec_sum)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("total"), F.count(F.lit(1)).alias("v"))
    p = (F.col("c") + 1) / (F.col("total") + F.col("v")).cast("double")
    nll = (-F.log(p)).cast("decimal(28,10)")
    return (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(nll).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_nll"),
        )
    )


UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
vocab AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
tot AS (SELECT sum(c) AS total, count(*) AS v FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
  {_round_sql("CAST(CAST(SUM(CAST(-ln((c + 1) / CAST(total + v AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*)", 6)} AS avg_nll
FROM toks JOIN vocab USING (term), tot
GROUP BY doc_id
"""


HH_PHI = 0.002  # heavy-hitter support: tokens covering >= 0.2% of the corpus


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens with frequency >= ceil(HH_PHI * N),
    N = total token occurrences) via the classic two-phase
    candidates-then-recount plan -- ONE Spark job, no driver-side scalars.

    Phase 1 finds CANDIDATES without shuffling the token tail: a
    mapInPandas pass counts tokens per partition and emits only those with
    local count >= HH_PHI * (that partition's OWN token count). By
    pigeonhole, any token with global count >= HH_PHI * N must clear that
    LOCAL fraction in at least one partition (if it missed it everywhere,
    summing the strict inequalities over partitions would contradict the
    global bound), so the candidate set is a superset of the true heavy
    hitters -- no recall loss, and, unlike a count-based local threshold
    derived from an assumed partition count, the guarantee holds for
    WHATEVER partitioning the Arrow execution path actually uses. The long
    tail (the overwhelming shuffle mass at 100 TB) dies map-side.

    Phase 2 broadcast-semi-joins the tiny candidate set against the token
    stream and recounts exactly; the global threshold is applied IN-PLAN
    from a broadcast 1-row total (count of exploded token rows -- the same
    definition the oracle and the naive plan use, so NULL texts, which
    explode to zero rows, cannot skew it). No collect()/first() anywhere:
    the whole operator is a single declarative plan.

    The naive plan (groupBy(token) over every occurrence) shuffles
    |distinct tokens| rows per map task; this one shuffles only
    candidates. The oracle is the naive plan in DuckDB -- the two-phase
    rewrite must be answer-invisible."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens()).alias("token"))
    phi = HH_PHI

    def candidates(batches):
        import math

        import pandas as pd
        from collections import Counter

        counts: Counter = Counter()
        part_total = 0
        for pdf in batches:
            part_total += len(pdf)
            counts.update(pdf["token"])
        local_t = math.ceil(phi * part_total)
        yield pd.DataFrame(
            {"token": [t for t, n in counts.items() if n >= local_t]}
        )

    cand = toks.mapInPandas(candidates, schema="token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    threshold = F.greatest(F.lit(1), F.ceil(phi * F.col("_total")))
    return (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") >= threshold)
        .select("token", "n")
    )


TOKEN_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
thr AS (
  SELECT GREATEST(1, CAST(ceil({HH_PHI} * COUNT(*)) AS BIGINT)) AS t FROM toks
)
SELECT token, COUNT(*) AS n
FROM toks, thr
GROUP BY token, thr.t
HAVING COUNT(*) >= t
"""


PACK_CAPACITY = 512  # tokens per training sequence
PACK_SHARDS = 8  # parallel packing streams


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing for LLM training: documents are
    laid end-to-end per shard (deterministic doc_id order) and each doc is
    assigned the fixed-capacity training sequence its FIRST token falls in
    (seq_id) plus its offset inside that sequence.

    Sharding first (doc_id % PACK_SHARDS) is what makes this scale: the
    running-offset window sorts within a shard, so packing parallelism is
    the shard count and no global single-reducer sort exists. Raising
    shards only changes which docs share a sequence, not the invariants
    (offsets dense per shard, every sequence except a shard's last filled
    to capacity)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / PACK_CAPACITY).alias("seq_id"),
        (start % PACK_CAPACITY).alias("offset_in_seq"),
    )


PACK_SEQUENCES_SQL = f"""
WITH docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         doc_id % {PACK_SHARDS} AS shard
  FROM documents
),
off AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM docs
)
SELECT doc_id, shard, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
  CAST(floor(start_offset / {PACK_CAPACITY}) AS BIGINT) AS seq_id,
  CAST(start_offset % {PACK_CAPACITY} AS BIGINT) AS offset_in_seq
FROM off
"""


# ----------------------- hashed linear quality classifier (fastText-shaped)

#: logistic coefficients: bias, mean-hashed-token-weight, stopword-ratio.
#: Stand-ins for a trained model -- the PLUMBING (hashed bag-of-words ->
#: linear score -> sigmoid -> keep/drop) is the contract a real fastText /
#: linear quality classifier drops into.
QC_BIAS = 0.0
QC_W_TOKENS = 3.0
QC_W_STOP = 1.5
QC_KEEP_PROB = 0.39  # ~corpus median; a trained model would calibrate this


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style learned quality filter: a logistic model over a
    hashed bag-of-words (the hashing-trick feature map of fastText /
    CCNet's quality classifiers) plus a stopword-density feature.

    Per-token weights are md5-derived integers in [-1000, 1000], so the
    document's feature sum is an EXACT int64 accumulated by a left fold --
    no float summation-order hazard -- and the only floating point is the
    final affine + sigmoid, computed with the identical expression shape
    in the DuckDB oracle and rounded to 6dp. Swapping the md5 weights for
    trained ones is a one-expression change.

    Scale: pure per-row expression pipeline over one scan -- no shuffle,
    no UDF, whole-stage codegen'd; the classifier cost is ~one md5 per
    token, the same order as tokenization itself."""
    from streamprocessing_with_kafka_spark.functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + (md5_long(F.concat(F.lit("qw|"), x)) % 2001 - 1000),
    )
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_TOKENS) * (w_sum / (1000.0 * n.cast("double")))
        + F.lit(QC_W_STOP) * (n_stop / n.cast("double"))
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob >= QC_KEEP_PROB).alias("keep"),
    )


QUALITY_CLASSIFIER_SQL = f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({QC_BIAS}
             + {QC_W_TOKENS} * (w_sum / (1000.0 * CAST(n AS DOUBLE)))
             + {QC_W_STOP} * (n_stop / CAST(n AS DOUBLE))))), 6) AS quality_prob,
       round(1.0 / (1.0 + exp(-({QC_BIAS}
             + {QC_W_TOKENS} * (w_sum / (1000.0 * CAST(n AS DOUBLE)))
             + {QC_W_STOP} * (n_stop / CAST(n AS DOUBLE))))), 6)
         >= {QC_KEEP_PROB} AS keep
FROM (
  SELECT doc_id,
    len(w) AS n,
    list_sum(list_transform(w,
      x -> CAST(('0x' || substr(md5('qw|' || x), 1, 15)) AS BIGINT) % 2001 - 1000))
      AS w_sum,
    len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) AS n_stop
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
"""


# ------------------------- bigram LM scoring (conditional perplexity proxy)


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram negative log-likelihood under an
    add-one-smoothed corpus model: NLL of P(w_i | w_{i-1}) averaged over
    positions 2..n. The conditional upgrade of `unigram_logprob` -- it
    penalizes improbable token TRANSITIONS (shuffled/garbled text scores
    high even when every token is common), which is what LM-perplexity
    quality filters actually measure.

    Scale shape: bigram occurrences explode once (positions, not
    distinct); their count table aggregates map-side-combinably and the
    scoring join is an EQUI-join on the bigram key -- at 100 TB the
    bigram table outgrows broadcast range, so it shuffles, which is the
    honest plan (the context/unigram table stays broadcast). Per-pair
    logs quantize to DECIMAL(28,10) before summing, so the per-doc sum
    is partition-order-independent and engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens()
    idx = F.when(
        F.size(w) >= 2, F.sequence(F.lit(2), F.size(w))
    ).otherwise(F.array().cast("array<int>"))
    pairs = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(w, i - 1).alias("w_prev"),
                    F.element_at(w, i).alias("w"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w_prev").alias("w_prev"), F.col("bg.w").alias("w"))
    toks = d.select(F.explode(w).alias("term"))
    ctx = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = ctx.agg(F.count(F.lit(1)).alias("v"))
    big = pairs.groupBy("w_prev", "w").agg(F.count(F.lit(1)).alias("c2"))
    p = (F.col("c2") + 1) / (F.col("c1") + F.col("v")).cast("double")
    nll = (-F.log(p)).cast("decimal(28,10)")
    return (
        pairs.join(big, ["w_prev", "w"])
        .join(F.broadcast(ctx), F.col("w_prev") == F.col("term"))
        .crossJoin(F.broadcast(vocab_n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(nll).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_bigram_nll"),
        )
    )


BIGRAM_LOGPROB_SQL = f"""
WITH pairs AS (
  SELECT doc_id, w[i-1] AS w_prev, w[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(2, len(w) + 1)) AS t(i)
),
ctx AS (
  SELECT term, count(*) AS c1
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
vocab_n AS (SELECT count(*) AS v FROM ctx),
big AS (SELECT w_prev, w, count(*) AS c2 FROM pairs GROUP BY 1, 2)
SELECT doc_id, count(*) AS n_bigrams,
  {_round_sql("CAST(CAST(SUM(CAST(-ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*)", 6)} AS avg_bigram_nll
FROM pairs
JOIN big USING (w_prev, w)
JOIN ctx ON pairs.w_prev = ctx.term, vocab_n
GROUP BY doc_id
"""


# ------------------------------------------------------ BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 3  # doc_id < 3 are the probe documents (text_ann_topk's set)
BM25_TOP_K = 5


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones): per probe document,
    the top-K corpus documents by the Okapi BM25 score over shared terms
    -- the lexical-ranking complement to text_ann_topk's TF-IDF cosine
    (BM25's tf saturation + length normalization is the default first-
    stage ranker in retrieval pipelines; cosine favors short spammy docs).

    Scale design (term-at-a-time over an inverted-index-shaped frame):
    ONE corpus explode -> postings groupBy (doc_id, term) with tf; doc
    length = a window SUM over the postings' own doc_id partitioning (no
    second corpus pass, no lengths join); df/idf = a vocabulary-sized
    groupBy broadcast back onto the postings; query terms = the probes'
    posting rows, a broadcast sliver. The per-(query, doc) score is one
    aggregate over candidate postings -- candidates exist only where a
    probe term matches, exactly an inverted-index seek. Nothing joins
    the corpus against itself.

    Determinism: idf is ln quantized to DECIMAL(28,10) (unigram_logprob
    pattern); each term's BM25 contribution is quantized the same way
    before the per-pair sum, so scores are partition-order-independent
    and oracle-exact; top-K ties break on n_id."""
    return text_bm25_topk_frame(load_table(spark, sf_dir, "documents"))


def bm25_index(d: DataFrame):
    """(postings, dfreq, stats) for a (doc_id, text) corpus -- the
    storable retrieval index: postings (doc_id, term, tf, dl), the
    vocabulary-sized idf table, and the 1-row corpus stats. Shared by
    the batch ranker and the streaming query gate so scores can never
    drift."""
    from pyspark.sql import Window as W

    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).alias("total_len"),
    )
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("dl", F.sum("tf").over(W.partitionBy("doc_id")))
    )
    idf_dec = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    ).cast("decimal(28,10)")
    dfreq = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select("term", idf_dec.alias("idf"))
    )
    return postings, dfreq, stats


def bm25_topk_for_queries(
    qterms: DataFrame, index, exclude_self: bool = False
) -> DataFrame:
    """Rank the corpus for a (q_id, term) query-term frame against a
    bm25_index -- the scoring tail shared by batch and streaming.

    exclude_self drops q_id == n_id BEFORE ranking and is only correct
    when q_id lives in the CORPUS id space (the batch probe path, whose
    probes are corpus docs scoring against themselves); an external
    query stream must leave it off -- its ids are unrelated to corpus
    doc_ids, and a coincidental collision must still retrieve the doc."""
    from pyspark.sql import Window as W

    postings, dfreq, stats = index
    avgdl = F.col("total_len") / F.col("n_docs").cast("double")
    contrib = (
        F.col("idf").cast("double")
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
        )
    ).cast("decimal(28,10)")
    hits = F.broadcast(qterms).join(
        postings.withColumnRenamed("doc_id", "n_id"), "term"
    )
    if exclude_self:
        hits = hits.filter(F.col("q_id") != F.col("n_id"))
    scored = (
        hits
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "n_id")
        .agg(F.round(F.sum(contrib).cast("double"), 6).alias("bm25"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("bm25").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("q_id", "n_id", "bm25", "rank")
    )


def text_bm25_topk_frame(d: DataFrame) -> DataFrame:
    """Frame-level core of text_bm25_topk over any (doc_id, text) frame."""
    index = bm25_index(d)
    postings = index[0]
    qterms = (
        postings.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), "term")
    )
    # probes ARE corpus docs here -> exclude the self-match pre-ranking
    return bm25_topk_for_queries(qterms, index, exclude_self=True)


TEXT_BM25_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_len
  FROM documents
),
postings AS (
  SELECT doc_id, term, COUNT(*) AS tf,
         SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS dl
  FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term,
         CAST(ln(1 + (n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
           AS DECIMAL(28,10)) AS idf
  FROM postings, stats
  GROUP BY term, n_docs
),
scored AS (
  SELECT q.doc_id AS q_id, p.doc_id AS n_id,
    {{round_expr}} AS bm25
  FROM postings q
  JOIN postings p ON p.term = q.term AND p.doc_id <> q.doc_id
  JOIN dfreq ON dfreq.term = q.term, stats
  WHERE q.doc_id < {BM25_N_QUERIES}
  GROUP BY q.doc_id, p.doc_id
)
SELECT q_id, n_id, bm25, CAST(rk AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY bm25 DESC, n_id ASC) AS rk
  FROM scored
)
WHERE rk <= {BM25_TOP_K}
""".replace(
    "{round_expr}",
    _round_sql(
        "CAST(CAST(SUM(CAST("
        "CAST(CAST(idf AS VARCHAR) AS DOUBLE)"
        f" * (p.tf * ({BM25_K1} + 1))"
        f" / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * p.dl"
        " / (total_len / CAST(n_docs AS DOUBLE))))"
        " AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)",
        6,
    ),
)


# --------------------------------------------------- packing efficiency

def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing-efficiency audit over pack_sequences' layout:
    sequences used, fill ratio (tokens / capacity actually allocated),
    and how many docs straddle a sequence boundary -- the padding-waste
    and truncation-exposure numbers an LLM training job reports per
    shard before burning GPU-hours on the layout.

    One aggregate over the packing frame (which itself is one window
    pass); no extra corpus scan."""
    p = pack_sequences(spark, sf_dir)
    end = F.col("start_offset") + F.col("n_tokens")
    n_seqs = (F.ceil(F.max(end) / F.lit(PACK_CAPACITY))).cast("long")
    total = F.sum("n_tokens")
    return (
        p.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            total.alias("total_tokens"),
            n_seqs.alias("n_seqs"),
            F.round(
                total / (n_seqs * PACK_CAPACITY).cast("double"), 6
            ).alias("fill_ratio"),
            F.count_if(
                F.col("offset_in_seq") + F.col("n_tokens") > PACK_CAPACITY
            ).alias("boundary_docs"),
        )
        .orderBy("shard")
    )


PACK_EFFICIENCY_SQL = f"""
WITH packed AS ({PACK_SEQUENCES_SQL})
SELECT shard, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(ceil(MAX(start_offset + n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS n_seqs,
  {_round_sql(f"CAST(SUM(n_tokens) AS BIGINT) / CAST(CAST(ceil(MAX(start_offset + n_tokens) / {PACK_CAPACITY}) AS BIGINT) * {PACK_CAPACITY} AS DOUBLE)", 6)} AS fill_ratio,
  COUNT(CASE WHEN offset_in_seq + n_tokens > {PACK_CAPACITY} THEN 1 END)
    AS boundary_docs
FROM packed
GROUP BY shard
ORDER BY shard
"""


def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram ENTROPY and KL divergence from the corpus
    distribution -- the mixture-monitoring row for curation ("is src7
    drifting into boilerplate? is its vocabulary collapsing?").

    ONE corpus scan: tokens aggregate to the (source, term) frame (a
    map-side-combinable shuffle, vocab x sources rows); term and corpus
    totals RE-aggregate from that small frame -- never rescanning raw --
    and broadcast back. Per-term contributions -p*ln(p) and p*ln(p/q)
    are quantized to DECIMAL(28,10) before the per-source sum (the
    `unigram_logprob` pattern), so the sums are order-independent and
    engine-exact. KL needs no smoothing: every source term is in the
    corpus by construction (support(P) subset of support(Q)).
    Entropy in nats; 6dp."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    # st feeds FOUR consumers (term/source/corpus totals + the scoring
    # join); truncation runs the corpus explode+count once instead of
    # four times (9-shuffle plan otherwise). Vocab x sources rows.
    st = local_checkpoint(st)
    term_tot = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    corpus_tot = term_tot.agg(F.sum("c_t").alias("t"))
    p = F.col("c_st") / F.col("t_s").cast("double")
    q = F.col("c_t") / F.col("t").cast("double")
    ent_term = (-(p * F.log(p))).cast("decimal(28,10)")
    kl_term = (p * F.log(p / q)).cast("decimal(28,10)")
    return (
        st.join(F.broadcast(term_tot), "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.first("t_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(ent_term).cast("double"), 6).alias("entropy"),
            F.round(F.sum(kl_term).cast("double"), 6).alias("kl_from_corpus"),
        )
    )


SOURCE_DIVERGENCE_SQL = f"""
WITH st AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
cst AS (SELECT source, term, COUNT(*) AS c_st FROM st GROUP BY 1, 2),
term_tot AS (SELECT term, SUM(c_st) AS c_t FROM cst GROUP BY term),
src_tot AS (SELECT source, SUM(c_st) AS t_s FROM cst GROUP BY source),
corpus_tot AS (SELECT SUM(c_t) AS t FROM term_tot)
SELECT source,
  CAST(any_value(t_s) AS BIGINT) AS n_tokens,
  COUNT(*) AS n_terms,
  {_round_sql("CAST(CAST(SUM(CAST(-(c_st / CAST(t_s AS DOUBLE)) * ln(c_st / CAST(t_s AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)", 6)} AS entropy,
  {_round_sql("CAST(CAST(SUM(CAST((c_st / CAST(t_s AS DOUBLE)) * ln((c_st / CAST(t_s AS DOUBLE)) / (c_t / CAST(t AS DOUBLE))) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)", 6)} AS kl_from_corpus
FROM cst JOIN term_tot USING (term) JOIN src_tot USING (source), corpus_tot
GROUP BY source
"""


# --------------------------------------------- PMI collocation mining

COLLOC_MIN_COUNT = 3  # bigrams rarer than this are noise, not collocations
COLLOC_TOP_K = 50


def collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: adjacent word pairs ranked by
    pointwise mutual information (Church & Hanks 1990) -- the classic
    "strongly associated phrase" detector ("new york" scores high, "of
    the" scores low even though it is frequent).  Complements
    `bigram_logprob` (which SCORES documents under a corpus model; this
    RANKS the corpus' own pairs) and `text_term_df`.

    pmi  = ln( p(a,b) / (p(a) p(b)) ), npmi = pmi / -ln p(a,b) in
    [-1, 1] -- all probabilities share the total-token denominator (the
    standard approximation; npmi = 1 iff the words occur only as the
    pair).  Both are pure fixed-order arithmetic on exact integer
    counts -- no float accumulation anywhere, so engine parity is exact
    before the final 6dp round.

    Scale: bigram positions explode once and count map-side-combinably
    (the `bigram_logprob` shape); the min-count filter runs BEFORE the
    two unigram-count equi-joins, so only the (tiny) surviving pair set
    joins; totals are 1-row broadcasts.  At 100 TB the unigram table
    outgrows broadcast range and the joins co-shuffle on the word key,
    which is the honest plan."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens()
    # guard: sequence(2, n) runs DESCENDING for n < 2 and would index
    # element_at(w, 0) -- a runtime error on 1-token docs (the oracle's
    # range(2, n+1) is just empty there)
    idx = F.when(
        F.size(w) >= 2, F.sequence(F.lit(2), F.size(w))
    ).otherwise(F.array().cast("array<int>"))
    pairs = d.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(w, i - 1).alias("w_prev"),
                    F.element_at(w, i).alias("w"),
                ),
            )
        ).alias("bg")
    ).select(F.col("bg.w_prev").alias("w_prev"), F.col("bg.w").alias("w"))
    big = (
        pairs.groupBy("w_prev", "w")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
    )
    toks = d.select(F.explode(w).alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    tot = toks.agg(F.count(F.lit(1)).alias("t_tokens"))
    # one denominator for BOTH pair and unigram probabilities (the
    # standard approximation): keeps npmi <= 1 with equality iff the
    # words occur only as the pair
    p_ab = F.col("c_ab").cast("double") / F.col("t_tokens").cast("double")
    p_a = F.col("c_a").cast("double") / F.col("t_tokens").cast("double")
    p_b = F.col("c_b").cast("double") / F.col("t_tokens").cast("double")
    pmi = F.log(p_ab / (p_a * p_b))
    scored = (
        # no broadcast HINT on the unigram sides: autoBroadcastJoinThreshold
        # broadcasts them at test scale and degrades to the documented
        # co-shuffle when the vocabulary outgrows broadcast range
        big.join(
            uni.select(F.col("term").alias("w_prev"), F.col("c1").alias("c_a")),
            "w_prev",
        )
        .join(
            uni.select(F.col("term").alias("w"), F.col("c1").alias("c_b")),
            "w",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w_prev",
            "w",
            "c_ab",
            F.round(pmi, 6).alias("pmi"),
            F.round(pmi / -F.log(p_ab), 6).alias("npmi"),
        )
    )
    return scored.orderBy(
        F.col("npmi").desc(), F.col("w_prev").asc(), F.col("w").asc()
    ).limit(COLLOC_TOP_K)


COLLOCATIONS_SQL = f"""
WITH pairs AS (
  SELECT w[i-1] AS w_prev, w[i] AS w
  FROM (SELECT string_split(text, ' ') AS w FROM documents),
       UNNEST(range(2, len(w) + 1)) AS t(i)
),
big AS (
  SELECT w_prev, w, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
  HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
),
uni AS (
  SELECT term, COUNT(*) AS c1
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
tot AS (
  SELECT (SELECT COUNT(*) FROM (SELECT unnest(string_split(text, ' '))
          FROM documents)) AS t_tokens
)
SELECT w_prev, w, c_ab,
  {_round_sql(
      "ln((CAST(c_ab AS DOUBLE) / CAST(t_tokens AS DOUBLE))"
      " / ((CAST(ca.c1 AS DOUBLE) / CAST(t_tokens AS DOUBLE))"
      "    * (CAST(cb.c1 AS DOUBLE) / CAST(t_tokens AS DOUBLE))))", 6)} AS pmi,
  {_round_sql(
      "ln((CAST(c_ab AS DOUBLE) / CAST(t_tokens AS DOUBLE))"
      " / ((CAST(ca.c1 AS DOUBLE) / CAST(t_tokens AS DOUBLE))"
      "    * (CAST(cb.c1 AS DOUBLE) / CAST(t_tokens AS DOUBLE))))"
      " / -ln(CAST(c_ab AS DOUBLE) / CAST(t_tokens AS DOUBLE))", 6)} AS npmi
FROM big
JOIN uni ca ON ca.term = w_prev
JOIN uni cb ON cb.term = w, tot
ORDER BY npmi DESC, w_prev ASC, w ASC
LIMIT {COLLOC_TOP_K}
"""


# ------------------------------- vocabulary growth curve (Heaps' law)

VOCAB_BUCKET = 64  # docs per prefix-sum range; |docs|/64 offset rows


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve + Heaps'-law fit: after each document
    (in doc_id order), the cumulative token count N and cumulative
    distinct vocabulary V, plus the corpus' fitted Heaps exponent
    (V ~ k N^beta; natural text sits around beta ~ 0.4-0.6 -- a corpus
    whose beta collapses toward 0 is template/boilerplate, toward 1 is
    noise/garbage, so the exponent is a one-number corpus-health
    signal a curation pipeline tracks per source/snapshot).

    Scale design -- a GLOBAL running sum without a global window: the
    classic two-phase distributed prefix sum.  Phase 1 aggregates
    per-doc (n_tokens, n_new_words) into VOCAB_BUCKET-sized doc_id
    ranges; the |docs|/64-row bucket frame takes a (tiny, driver-scale)
    ordered cumsum for range offsets; phase 2 broadcasts the offsets
    back and each range computes its interior cumsum under
    partitionBy(bucket) -- every window runs on a bounded partition.
    "New words per doc" is exact: each word attributes to its global
    min(doc_id) (one word-key shuffle).  The DuckDB oracle uses the
    single-node global window, so the driver check proves the
    decomposition IS the global prefix sum.  The Heaps fit is closed-
    form log-log OLS with DECIMAL-quantized terms (order-independent),
    broadcast back onto every checkpoint row."""
    from pyspark.sql import Window as W

    from streamprocessing_with_kafka_spark.functions.numeric import dec_sum

    # NULL-text docs leave the study at the scan: the explode path
    # drops them implicitly, but per_doc would otherwise keep them with
    # a NULL token count, padding the curve with 50 no-op checkpoint
    # rows and tilting the Heaps fit (r9 mixed-nulls sweep).
    # NULL-doc_id docs leave too (r10 mixed_keys): the curve is ordered
    # BY doc_id, so a document without an identity has no position on
    # the axis -- and its words must not claim first-use attribution.
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    w = _tokens()
    per_doc = d.select("doc_id", F.size(w).alias("n_tokens"))
    new_words = (
        d.select("doc_id", F.explode(F.array_distinct(w)).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    base = (
        per_doc.join(new_words, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.floor(F.col("doc_id") / VOCAB_BUCKET).alias("bucket"),
        )
    )
    # base feeds BOTH the offsets aggregate and the per-range join;
    # without truncation each consumer re-runs the word-attribution
    # shuffles (13-shuffle plan). |docs| rows: cheap to materialize.
    base = local_checkpoint(base)
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        base.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bt"), F.sum("n_new").alias("bn"))
        .select(
            "bucket",
            F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("tok_off"),
            F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("new_off"),
        )
    )
    wd = W.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cp = base.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        (F.col("tok_off") + F.sum("n_tokens").over(wd)).alias("cum_tokens"),
        (F.col("new_off") + F.sum("n_new").over(wd)).alias("cum_vocab"),
    )
    cp = local_checkpoint(cp)  # feeds the OLS fit AND the final projection
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_vocab").cast("double"))
    fit = cp.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(x).alias("sx"),
        dec_sum(y).alias("sy"),
        dec_sum(x * y).alias("sxy"),
        dec_sum(x * x).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return cp.crossJoin(F.broadcast(fit)).select(
        "doc_id",
        "cum_tokens",
        "cum_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6
        ).alias("heaps_k"),
    )


_HEAPS_BETA_SQL = (
    "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
)

VOCAB_GROWTH_SQL = f"""
WITH per_doc AS (
  -- NULL-text docs are absent from the engine's token explode; filter
  -- them here too (otherwise cum_vocab pins at 0 and ln(0) aborts).
  -- NULL-doc_id docs leave the study on both sides (r10): no position
  -- on the doc_id axis, no first-use attribution.
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
new_words AS (
  -- same study population as per_doc (text AND doc_id non-NULL); the
  -- text filter is stated even though string_split(NULL) unnests to
  -- zero rows, so both sides declare the population explicitly.
  SELECT doc_id, COUNT(*) AS n_new FROM (
    SELECT term, MIN(doc_id) AS doc_id FROM (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
    GROUP BY term)
  GROUP BY doc_id
),
base AS (
  SELECT per_doc.doc_id, n_tokens, COALESCE(n_new, 0) AS n_new
  FROM per_doc LEFT JOIN new_words ON per_doc.doc_id = new_words.doc_id
),
cp AS (
  SELECT doc_id,
    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_tokens,
    CAST(SUM(n_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_vocab
  FROM base
),
fit AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    {
      "CAST(CAST(SUM(CAST(ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    } AS sx,
    {
      "CAST(CAST(SUM(CAST(ln(CAST(cum_vocab AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    } AS sy,
    {
      "CAST(CAST(SUM(CAST(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    } AS sxy,
    {
      "CAST(CAST(SUM(CAST(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    } AS sxx
  FROM cp
)
SELECT doc_id, cum_tokens, cum_vocab,
  {_round_sql(_HEAPS_BETA_SQL, 6)} AS heaps_beta,
  {_round_sql(f"exp((sy - ({_HEAPS_BETA_SQL}) * sx) / n)", 6)} AS heaps_k
FROM cp, fit
"""


# ---------------------------------------------- Zipf rank-frequency fit

ZIPF_TOP_K = 500  # fit the head; the tail deviates from the power law


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the term rank-frequency head: log-log OLS
    slope (natural text sits near -1) plus the top-rank share --
    `text_vocab_growth`'s companion corpus-health number (Heaps and
    Zipf are two views of the same token process; a corpus whose slope
    drifts toward 0 is template spam, steeper than -1.5 is a
    degenerate vocabulary).

    Scale: term counts are one map-side-combinable shuffle; the head
    extracts via TakeOrdered (distributed partial top-K -- no global
    sort, no single-partition window over the vocabulary); ranking and
    the DECIMAL-quantized OLS run on the ZIPF_TOP_K-row frame.  Output
    is one row, engine-exact at 6dp."""
    from pyspark.sql import Window as W

    from streamprocessing_with_kafka_spark.functions.numeric import dec_sum

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = counts.orderBy(F.col("c").desc(), F.col("term").asc()).limit(
        ZIPF_TOP_K
    )
    w = W.orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = head.select(
        F.row_number().over(w).alias("rank"), F.col("c")
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("c").cast("double"))
    fit = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(x).alias("sx"),
        dec_sum(y).alias("sy"),
        dec_sum(x * y).alias("sxy"),
        dec_sum(x * x).alias("sxx"),
        F.max(F.when(F.col("rank") == 1, F.col("c"))).alias("top_c"),
        F.sum("c").alias("head_tokens"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        F.col("n").cast("long").alias("n_terms_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6
        ).alias("zipf_c"),
        F.round(
            F.col("top_c").cast("double") / F.col("head_tokens").cast("double"),
            6,
        ).alias("top_rank_share"),
    )


_ZIPF_SLOPE_SQL = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"

ZIPF_FIT_SQL = f"""
WITH counts AS (
  SELECT term, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
head AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rank
  FROM counts ORDER BY c DESC, term ASC LIMIT {ZIPF_TOP_K}
),
fit AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxy,
    CAST(CAST(SUM(CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
    MAX(CASE WHEN rank = 1 THEN c END) AS top_c,
    SUM(c) AS head_tokens
  FROM head
)
SELECT CAST(n AS BIGINT) AS n_terms_fit,
  {_round_sql(_ZIPF_SLOPE_SQL, 6)} AS zipf_slope,
  {_round_sql(f"exp((sy - ({_ZIPF_SLOPE_SQL}) * sx) / n)", 6)} AS zipf_c,
  {_round_sql("CAST(top_c AS DOUBLE) / CAST(head_tokens AS DOUBLE)", 6)} AS top_rank_share
FROM fit
"""


# --------------------------------- pairwise source JSD distance matrix

def source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions -- the symmetric, bounded (<= ln 2) DISTANCE
    MATRIX companion of `source_divergence` (which scores each source
    against the corpus): which sources are interchangeable and which
    bring genuinely different text, the number a mixture designer reads
    before collapsing or re-weighting sources.  JSD needs no smoothing
    (the mixture M covers both supports), unlike raw KL.

    Shape: one corpus pass to the (source, term) counts; a DENSE
    (term x source) probability grid (vocab x |sources| rows -- still
    vocabulary-scale) self-joins on term under source_a < source_b, so
    the pair frame is vocab x C(|sources|,2) rows, never corpus-sized;
    per-term contributions quantize to DECIMAL before the per-pair
    sums.  0 ln 0 terms are exact zero by the explicit p > 0 guards."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # st feeds totals, the term list, AND the grid join; truncation
    # runs the corpus explode+count once
    st = local_checkpoint(st)
    tot = st.groupBy("source").agg(F.sum("c").alias("t_s"))
    terms = st.select("term").distinct()
    sources = tot
    grid = (
        terms.crossJoin(F.broadcast(sources))
        .join(st, ["source", "term"], "left")
        .select(
            "term",
            "source",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("t_s").cast("double")
            ).alias("p"),
        )
    )
    a = grid.select(
        "term", F.col("source").alias("source_a"), F.col("p").alias("pa")
    )
    b = grid.select(
        "term", F.col("source").alias("source_b"), F.col("p").alias("pb")
    )
    pairs = a.join(b, "term").filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("pa") + F.col("pb")) / 2
    term_contrib = (
        F.when(F.col("pa") > 0, F.col("pa") * F.log(F.col("pa") / m)).otherwise(
            F.lit(0.0)
        )
        + F.when(F.col("pb") > 0, F.col("pb") * F.log(F.col("pb") / m)).otherwise(
            F.lit(0.0)
        )
    ) / 2
    out = pairs.groupBy("source_a", "source_b").agg(
        F.sum(term_contrib.cast("decimal(28,10)")).cast("double").alias("jsd")
    )
    return out.select(
        "source_a",
        "source_b",
        F.round(F.col("jsd"), 6).alias("jsd"),
        F.round(F.col("jsd") / F.lit(0.6931471805599453), 6).alias("jsd_norm"),
    )


SOURCE_JSD_SQL = f"""
WITH st AS (
  SELECT source, term, COUNT(*) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents)
  GROUP BY 1, 2
),
tot AS (SELECT source, SUM(c) AS t_s FROM st GROUP BY 1),
terms AS (SELECT DISTINCT term FROM st),
grid AS (
  SELECT terms.term, tot.source,
         COALESCE(st.c, 0) / CAST(tot.t_s AS DOUBLE) AS p
  FROM terms CROSS JOIN tot
  LEFT JOIN st ON st.source = tot.source AND st.term = terms.term
),
pairs AS (
  SELECT a.term, a.source AS source_a, b.source AS source_b,
         a.p AS pa, b.p AS pb
  FROM grid a JOIN grid b ON a.term = b.term AND a.source < b.source
),
agg AS (
  SELECT source_a, source_b,
    CAST(CAST(SUM(CAST((
        CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0.0 END
      + CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0.0 END
    ) / 2 AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS jsd
  FROM pairs GROUP BY 1, 2
)
SELECT source_a, source_b, {_round_sql('jsd', 6)} AS jsd,
       {_round_sql('jsd / 0.6931471805599453', 6)} AS jsd_norm
FROM agg
"""


# ------------------------------- per-doc character entropy (zero-shuffle)

def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy in bits/char -- the
    cheap compressibility proxy (low entropy = repetitive/boilerplate/
    padding, high = encrypted/binary-ish junk; both tails are what a
    quality filter wants flagged before paying for tokenization).

    ZERO SHUFFLE: the per-doc distinct-char counts compute INSIDE one
    row via array expressions -- distinct chars (bounded by the
    alphabet), each counted with a size(filter()) pass over the char
    array -- so the whole operator is a narrow codegen'd projection at
    scan speed, the `text_stats` family shape.  O(alphabet x len) per
    row beats a corpus-wide (doc, char) shuffle at any scale.  Entropy
    terms are a fixed fold over the per-row counts array: DECIMAL-
    quantized inside the aggregate expression, order-fixed by the
    array itself."""
    d = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    uniq = F.array_distinct(chars)
    counts = F.transform(
        uniq, lambda ch: F.size(F.filter(chars, lambda c: c == ch))
    )
    n = F.length("text")
    ent = F.aggregate(
        counts,
        F.lit(0).cast("decimal(28,10)"),
        lambda acc, c: (
            acc
            + (
                -(c.cast("double") / n.cast("double"))
                * F.log2(c.cast("double") / n.cast("double"))
            ).cast("decimal(28,10)")
        ).cast("decimal(28,10)"),
    ).cast("double")
    return d.select(
        "doc_id",
        n.alias("n_chars"),
        # split('', '') yields [''] in both engines: an empty doc must
        # report 0 distinct chars, not a phantom one
        F.when(n > 0, F.size(uniq)).otherwise(F.lit(0)).alias(
            "n_distinct_chars"
        ),
        F.when(n > 0, F.round(ent, 6)).otherwise(F.lit(0.0)).alias(
            "char_entropy_bits"
        ),
    )


CHAR_ENTROPY_SQL = f"""
SELECT doc_id,
  length(text) AS n_chars,
  CASE WHEN length(text) > 0
       THEN len(list_distinct(string_split(text, ''))) ELSE 0 END
    AS n_distinct_chars,
  CASE WHEN length(text) > 0 THEN {_round_sql(
      "CAST(CAST(list_aggregate(list_transform(list_distinct(string_split(text, '')),"
      " ch -> CAST(-(CAST(len(list_filter(string_split(text, ''), c -> c = ch)) AS DOUBLE)"
      "   / CAST(length(text) AS DOUBLE))"
      " * log2(CAST(len(list_filter(string_split(text, ''), c -> c = ch)) AS DOUBLE)"
      "   / CAST(length(text) AS DOUBLE)) AS DECIMAL(28,10))), 'sum') AS VARCHAR) AS DOUBLE)",
      6)} ELSE 0.0 END AS char_entropy_bits
FROM documents
"""
