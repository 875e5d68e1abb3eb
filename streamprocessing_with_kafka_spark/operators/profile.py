"""Single-pass table profiling: per-column row/null/distinct counts and
min/max -- the data-quality primitive a 100 TB curation pipeline runs
before anything else (schema drift, null explosions, cardinality checks).

The reference has no profiling surface (SURVEY.md §2.6 lists its whole
query surface as `SELECT * FROM enriched_orders`); this is north-star
superset surface alongside the text/dedup operators.

Scale design: ALL columns profile in ONE scan. Nulls and min/max are
plain map-side-combinable aggregates; each exact COUNT(DISTINCT col)
adds a branch to the same Expand-based multi-distinct aggregate (Spark
plans n distinct aggregates as one Expand fan-out of n+1 replicas ->
one shuffle), so the table is still read once -- the shuffle carries
per-column deduped values, not rows x columns. For wide tables or
approximate needs, swap countDistinct for approx_count_distinct and the
Expand disappears (HLL partials merge map-side); kept exact here so the
DuckDB oracle matches bit-for-bit.

min/max compute on the NATIVE type and cast to string afterwards --
casting first would compare "10" < "9" lexicographically. Int and string
casts render identically in Spark and DuckDB (doubles would not; the
profiled tables here carry only int/string columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.sources.tables import load_table


def profile_frame(df: DataFrame) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_value, max_value) per
    column of `df`, computed in one aggregate pass + one unpivot."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    wide = df.agg(*aggs)
    # unpivot the single wide row into one row per column; stack() is a
    # driver-free projection (the wide frame is 1 row)
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _dist_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value)"
        ),
        F.col("_n_rows").alias("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of the documents table (the curation input)."""
    return profile_frame(load_table(spark, sf_dir, "documents"))


def _col_profile_sql(table: str, c: str) -> str:
    return f"""
  SELECT '{c}' AS column, COUNT(*) AS n_rows,
         COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
         COUNT(DISTINCT {c}) AS n_distinct,
         CAST(MIN({c}) AS VARCHAR) AS min_value,
         CAST(MAX({c}) AS VARCHAR) AS max_value
  FROM {table}"""


PROFILE_DOCUMENTS_SQL = "\n  UNION ALL\n".join(
    _col_profile_sql("documents", c)
    for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


# ------------------------------------------------------- drift monitor

#: drift flags (computed on the ROUNDED outputs so the boundary behavior
#: is engine-identical): Welch |z| beyond Z_FLAG, or window volume ratio
#: outside [RATIO_LO, RATIO_HI]
Z_FLAG = 3.0
RATIO_LO = 0.8
RATIO_HI = 1.25


def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between the first and second half of
    the event stream's time range: per event_type volumes, user counts,
    mean `value`, a Welch z on the mean shift, and a drift flag -- the
    "did this feed change under me?" check a continuously-ingesting
    100 TB pipeline runs per partition-day before training on it.

    Scale design: ONE scan, one shuffle. The time cutoff is an in-plan
    1-row min/max aggregate broadcast back (no driver scalar, no second
    job); both windows then profile as conditional aggregates inside a
    single groupBy(event_type) -- no self-join of window A vs window B,
    no second pass. Sums route through exact decimals (functions/
    numeric.dec_sum) so the drift statistics are order-independent and
    reproducible: a re-run (or the DuckDB oracle) produces bit-identical
    z-scores, which matters when the flag gates an ingest.

    The cutoff is (min+max) DIV 2 in integer microseconds -- exact
    integer arithmetic, unlike a double avg whose summation order would
    move the boundary between runs."""
    return profile_drift_frame(load_table(spark, sf_dir, "events"))


def profile_drift_frame(e: DataFrame) -> DataFrame:
    """Frame-level core of profile_drift over any (ts, event_type,
    user_id, value) frame."""
    from streamprocessing_with_kafka_spark.functions.numeric import dec_sum

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = (
        e.agg(F.min(us).alias("_lo"), F.max(us).alias("_hi"))
        .select(F.expr("(_lo + _hi) DIV 2").alias("_cut"))
    )
    in_a = us < F.col("_cut")

    def _sum(cond, col):  # exact decimal sum of a windowed expression
        return dec_sum(F.when(cond, col))

    g = (
        e.crossJoin(F.broadcast(bounds))
        .withColumn("_a", in_a)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("_a"), 1)).alias("n_a"),
            F.count(F.when(~F.col("_a"), 1)).alias("n_b"),
            F.countDistinct(F.when(F.col("_a"), F.col("user_id"))).alias("users_a"),
            F.countDistinct(F.when(~F.col("_a"), F.col("user_id"))).alias("users_b"),
            _sum(F.col("_a"), F.col("value")).alias("_s_a"),
            _sum(~F.col("_a"), F.col("value")).alias("_s_b"),
            _sum(F.col("_a"), F.col("value") * F.col("value")).alias("_q_a"),
            _sum(~F.col("_a"), F.col("value") * F.col("value")).alias("_q_b"),
        )
    )
    return drift_score(g)


def drift_score(g: DataFrame) -> DataFrame:
    """Shared drift scoring: from a per-type stats frame with columns
    (event_type, n_a, n_b, users_a, users_b, _s_a, _s_b, _q_a, _q_b)
    compute means, the Welch z on the mean shift, the volume ratio, and
    the drift flag. Used by both the batch split-window monitor and the
    streaming per-ingest-batch audit, so their verdicts are
    definitionally identical."""
    # try_divide throughout: a type confined to one window (n=0) or with
    # a single observation (n-1=0) must yield NULL statistics, not an
    # ANSI DIVIDE_BY_ZERO -- and DuckDB's native x/0 -> NULL is exactly
    # try_divide, so the edge semantics stay engine-identical.
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mean_a, mean_b = (
        F.try_divide(F.col("_s_a"), na),
        F.try_divide(F.col("_s_b"), nb),
    )
    var_a = F.try_divide(
        F.col("_q_a") - F.try_divide(F.col("_s_a") * F.col("_s_a"), na), na - 1
    )
    var_b = F.try_divide(
        F.col("_q_b") - F.try_divide(F.col("_s_b") * F.col("_s_b"), nb), nb - 1
    )
    # guard the variance sum BEFORE sqrt (exactly like the oracle's
    # se_pos): a mathematically-zero variance can round to -epsilon in
    # double, and sqrt(-eps) is NaN -- which Spark orders ABOVE zero, so
    # a post-sqrt `se > 0` guard would emit welch_z = NaN and a spurious
    # flag where DuckDB emits NULL
    sev = F.try_divide(var_a, na) + F.try_divide(var_b, nb)
    se = F.when(sev > 0, F.sqrt(sev))
    z = F.round(F.try_divide(mean_b - mean_a, se), 4)
    ratio = F.round(F.try_divide(nb, na), 6)
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        "users_a",
        "users_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.when((F.col("n_a") > 1) & (F.col("n_b") > 1) & (sev > 0), z)
        .alias("welch_z"),
        ratio.alias("count_ratio"),
        (
            F.coalesce(
                F.abs(
                    F.when((F.col("n_a") > 1) & (F.col("n_b") > 1) & (sev > 0), z)
                ) > Z_FLAG,
                F.lit(False),
            )
            # NULL ratio = the type appeared out of nowhere (n_a = 0):
            # that IS drift, so the out-of-range test defaults true
            | F.coalesce((ratio < RATIO_LO) | (ratio > RATIO_HI), F.lit(True))
        ).alias("drift_flag"),
    ).orderBy("event_type")


def _drift_sql() -> str:
    from streamprocessing_with_kafka_spark.functions.numeric import (
        dec_sum_sql,
        round_sql,
    )

    def _s(cond: str, expr: str) -> str:
        return dec_sum_sql(f"CASE WHEN {cond} THEN {expr} END")

    z_raw = (
        "(_s_b / nb - _s_a / na) / "
        "sqrt(((_q_a - _s_a * _s_a / na) / (na - 1)) / na + "
        "((_q_b - _s_b * _s_b / nb) / (nb - 1)) / nb)"
    )
    se_pos = (
        "n_a > 1 AND n_b > 1 AND "
        "((_q_a - _s_a * _s_a / na) / (na - 1)) / na + "
        "((_q_b - _s_b * _s_b / nb) / (nb - 1)) / nb > 0"
    )
    return f"""
WITH cut AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS _cut FROM events
),
g AS (
  SELECT event_type,
    COUNT(CASE WHEN epoch_us(ts) < _cut THEN 1 END) AS n_a,
    COUNT(CASE WHEN epoch_us(ts) >= _cut THEN 1 END) AS n_b,
    COUNT(DISTINCT CASE WHEN epoch_us(ts) < _cut THEN user_id END) AS users_a,
    COUNT(DISTINCT CASE WHEN epoch_us(ts) >= _cut THEN user_id END) AS users_b,
    {_s('epoch_us(ts) < _cut', 'value')} AS _s_a,
    {_s('epoch_us(ts) >= _cut', 'value')} AS _s_b,
    {_s('epoch_us(ts) < _cut', 'value * value')} AS _q_a,
    {_s('epoch_us(ts) >= _cut', 'value * value')} AS _q_b
  FROM events, cut
  GROUP BY event_type
),
wide AS (
  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb FROM g
),
scored AS (
  SELECT event_type, n_a, n_b, users_a, users_b,
    {round_sql('_s_a / na', 6)} AS mean_a,
    {round_sql('_s_b / nb', 6)} AS mean_b,
    CASE WHEN {se_pos} THEN {round_sql(z_raw, 4)} END AS welch_z,
    {round_sql('nb / na', 6)} AS count_ratio
  FROM wide
)
SELECT *,
  COALESCE(abs(welch_z) > {Z_FLAG}, FALSE)
    OR COALESCE(count_ratio < {RATIO_LO} OR count_ratio > {RATIO_HI}, TRUE)
    AS drift_flag
FROM scored
ORDER BY event_type
"""


PROFILE_DRIFT_SQL = _drift_sql()


# ------------------------------------------------ join-key skew advisor

SKEW_TOP_K = 10


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for the orders->customer join key: the heaviest
    SKEW_TOP_K keys with their row share and per-key skew factor
    (count / mean-rows-per-key) -- the evidence a planner (or an
    engineer) needs to decide between plain hash join, AQE skew
    handling, and explicit salting (`join_salted_skew` is the
    treatment; this is the diagnosis).

    Plan: one map-side-combinable count per key (the only corpus
    shuffle), localCheckpointed because both the top-K and the scalar
    totals re-read it; top-K = sort-limit on the counts frame (partial
    TakeOrdered, never a full sort of all keys); scalars attach via the
    1-row broadcast idiom."""
    orders = load_table(spark, sf_dir, "orders")
    counts = local_checkpoint(
        orders.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    # materialize the top-K BEFORE the scalar crossJoin: left under a
    # join, Catalyst can strip the sort and degrade limit(K) to an
    # arbitrary-K LocalLimit; the eager checkpoint pins the
    # TakeOrderedAndProject execution
    top = local_checkpoint(counts.orderBy(F.desc("cnt"), F.asc("key")).limit(SKEW_TOP_K))
    mean_per_key = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    return top.crossJoin(F.broadcast(totals)).select(
        "key",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_rows").cast("double"), 6).alias("share"),
        "n_rows",
        "n_keys",
        F.round(mean_per_key, 6).alias("mean_per_key"),
        F.round(F.col("cnt").cast("double") / mean_per_key, 6).alias("skew_factor"),
    )


from streamprocessing_with_kafka_spark.functions.numeric import round_sql  # noqa: E402

KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY 1
), totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys FROM counts
), top AS (
  SELECT key, cnt FROM counts ORDER BY cnt DESC, key ASC LIMIT {SKEW_TOP_K}
)
SELECT key, cnt,
       {round_sql("cnt::DOUBLE / n_rows::DOUBLE", 6)} AS share,
       n_rows, n_keys,
       {round_sql("n_rows::DOUBLE / n_keys::DOUBLE", 6)} AS mean_per_key,
       {round_sql("cnt::DOUBLE / (n_rows::DOUBLE / n_keys::DOUBLE)", 6)}
         AS skew_factor
FROM top, totals
"""


# ------------------------------------------ numeric correlation matrix

CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric columns --
    the profiling pass that catches derived/duplicated measures and
    feature leakage before a column ships into a training set.

    ONE map-side-combinable aggregate collects every moment (n, sums,
    squares, cross-products) for all C(4,2) pairs in a single corpus
    scan -- no per-pair passes, no corr() UDAF (whose float merge order
    is partition-dependent): each moment is a DECIMAL(28,10)-quantized
    sum, and the correlation assembles in fixed-order double arithmetic
    identical to the oracle's, so parity is exact at 6dp.  The 1-row
    moments frame explodes to the 6 output pairs driver-side-free via
    a literal array."""
    from streamprocessing_with_kafka_spark.functions.numeric import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in CORR_COLS:
        aggs.append(dec_sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dec_sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1 :]:
            aggs.append(dec_sum(F.col(a) * F.col(b)).alias(f"sx_{a}_{b}"))
    m = li.agg(*aggs)
    pairs = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1 :]:
            cov = F.col("n") * F.col(f"sx_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            var_a = F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            var_b = F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    # a zero-variance column has no defined correlation:
                    # explicit NULL (ANSI Spark would throw on /0, and
                    # engines disagree on 0/0 -> NaN vs NULL otherwise)
                    F.when(
                        (var_a > 0) & (var_b > 0),
                        F.round(cov / (F.sqrt(var_a) * F.sqrt(var_b)), 6),
                    ).alias("pearson_r"),
                )
            )
    return m.select(
        F.explode(F.array(*pairs)).alias("p"), F.col("n").cast("long").alias("n_rows")
    ).select("p.col_a", "p.col_b", "p.pearson_r", "n_rows")


def _corr_sql() -> str:
    from streamprocessing_with_kafka_spark.functions.numeric import (
        dec_sum_sql,
        round_sql,
    )

    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in CORR_COLS:
        moments.append(f"{dec_sum_sql(c)} AS s_{c}")
        moments.append(f"{dec_sum_sql(f'{c} * {c}')} AS ss_{c}")
    sel = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1 :]:
            moments.append(f"{dec_sum_sql(f'{a} * {b}')} AS sx_{a}_{b}")
            r = (
                f"(n * sx_{a}_{b} - s_{a} * s_{b})"
                f" / (sqrt(n * ss_{a} - s_{a} * s_{a})"
                f" * sqrt(n * ss_{b} - s_{b} * s_{b}))"
            )
            guard = (
                f"n * ss_{a} - s_{a} * s_{a} > 0"
                f" AND n * ss_{b} - s_{b} * s_{b} > 0"
            )
            sel.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"CASE WHEN {guard} THEN {round_sql(r, 6)} END AS pearson_r, "
                f"CAST(n AS BIGINT) AS n_rows "
                "FROM m"
            )
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(sel)
    )


NUMERIC_CORRELATIONS_SQL = _corr_sql()
