"""Per-entity time-series analytics over the `events` table: smoothing
(EWMA), behavioral structure (Markov transitions), and robust outlier
detection (median/MAD) -- the monitoring layer a training-data ingest
pipeline runs next to its windowed aggregates (SURVEY.md §2.6 family;
the reference has no time-series surface at all).

Scale notes: every operator here is one shuffle -- either a user-keyed
sort window (EWMA, transitions) or a type-keyed aggregate (MAD) -- with
all arithmetic in fixed-order double expressions so results are
bit-identical across engines and partition layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import DEC, dec_sum_sql, round_sql
from streamprocessing_with_kafka_spark.sources.tables import load_table

# ------------------------------------------------------------- EWMA

#: smoothing factor and truncation depth. A truncated EWMA (fixed K lags,
#: weights renormalized over the lags that exist) replaces the recursive
#: definition y_i = a*x_i + (1-a)*y_{i-1}: the recursion is inherently
#: sequential per key (a chain the engine cannot parallelize or make
#: order-independent), while the truncated form is K lag() columns over
#: ONE sort window -- embarrassingly parallel across keys, deterministic,
#: and within (1-a)^K (= 0.3^8 ~ 6e-5 relative) of the infinite-history
#: value. At 100 TB this is the difference between a window scan and a
#: per-key sequential fold.
EWMA_ALPHA = 0.7
EWMA_LAGS = 8

#: fixed weight ladder a*(1-a)^k, k=0..K-1; Python float repr round-trips
#: exactly through both Spark's and DuckDB's literal parsers, so both
#: engines compute with bit-identical coefficients.
_EWMA_WEIGHTS = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** k for k in range(EWMA_LAGS)]


def ewma_frame(ev: DataFrame) -> DataFrame:
    """Per-user truncated EWMA of `value` in event-time order, over any
    frame with (user_id, event_id, ts, value).

    One user-keyed sort window carries all K lags; numerator and
    normalizer are fixed-order sums of K terms (k=0 first), so the double
    arithmetic is order-pinned and matches both the SQL twin and the
    streaming twin (streaming/ewma.py replays the identical fixed-order
    float ops per row) bit-for-bit. The normalizer re-weights over the
    lags that exist, so early rows (fewer than K predecessors) get a
    proper convex combination instead of a damped one."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value") if k == 0 else F.lag("value", k).over(w) for k in range(EWMA_LAGS)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(EWMA_LAGS):  # fixed accumulation order: k ascending
        num = num + F.coalesce(lags[k] * F.lit(_EWMA_WEIGHTS[k]), F.lit(0.0))
        den = den + F.when(lags[k].isNotNull(), F.lit(_EWMA_WEIGHTS[k])).otherwise(F.lit(0.0))
    n_hist = sum(
        (F.when(lags[k].isNotNull(), F.lit(1)).otherwise(F.lit(0)) for k in range(EWMA_LAGS)),
        F.lit(0),
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        n_hist.cast("int").alias("n_hist"),
        # den == 0 only if every lag (incl. the row's own value) is null;
        # null out instead of leaking an engine-specific inf/nan
        F.when(den != 0.0, F.round(num / den, 6)).alias("ewma"),
    )


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewma_frame over the events table."""
    return ewma_frame(load_table(spark, sf_dir, "events"))


def _ewma_terms_sql() -> tuple[str, str, str]:
    lag = lambda k: "value" if k == 0 else f"lag(value, {k}) OVER w"  # noqa: E731
    num = " + ".join(
        f"coalesce({lag(k)} * {w!r}, 0.0)" for k, w in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"(CASE WHEN {lag(k)} IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    n = " + ".join(
        f"(CASE WHEN {lag(k)} IS NOT NULL THEN 1 ELSE 0 END)" for k in range(EWMA_LAGS)
    )
    return num, den, n


_NUM_SQL, _DEN_SQL, _NHIST_SQL = _ewma_terms_sql()

EWMA_USER_VALUE_SQL = f"""
SELECT user_id, event_id, ts, value,
       CAST({_NHIST_SQL} AS INT) AS n_hist,
       {round_sql(f'({_NUM_SQL}) / NULLIF({_DEN_SQL}, 0.0)', 6)} AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------- Markov transitions


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next_type | prev_type), plus the raw transition counts.

    One sort window derives (prev_type, event_type) adjacent pairs; the
    count aggregate is map-side combinable on a 5x5 key space, and the
    row-probability normalizer is a window over the tiny aggregated frame
    (no second scan of events). The per-user partitioning means sequences
    never cross users -- session boundaries are the keys, exactly how a
    cluster would shard the state."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    row_total = F.sum("transitions").over(W.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "event_type",
        "transitions",
        F.round(F.col("transitions") / row_total.cast("double"), 6).alias("prob"),
    )


MARKOV_TRANSITIONS_SQL = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, COUNT(*) AS transitions
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, event_type, transitions,
       {round_sql(
           'transitions / CAST(SUM(transitions) OVER (PARTITION BY prev_type)'
           ' AS DOUBLE)', 6)} AS prob
FROM counts
"""


# ------------------------------------------------- median/MAD outliers

#: robust outlier fence: |value - median| > MAD_K * MAD. 3x MAD is the
#: textbook robust analog of 3-sigma; unlike mean/stddev it is immune to
#: the outliers it is hunting.
MAD_K = 3.0


def mad_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier audit: exact median, MAD (median
    absolute deviation), and the count/extent of values outside the
    MAD_K fence.

    Median must exist before deviations do (irreducible for exact MAD),
    but both passes ride ONE event_type partitioning: med is a
    whole-partition window aggregate, abs_dev a narrow projection on the
    same partitioning, mad a second window over it, and the final
    per-type summary a groupBy that reuses the partitioning -- one
    exchange total (was 6: the join-back formulation recompiled the
    med/dev subtree per reference). Exact linear-interpolation percentile
    both sides keeps the fence bit-deterministic vs the oracle. At
    100 TB swap `percentile` for `approx_percentile` (mergeable sketch,
    same call shape, bounded error); the exact percentile buffers a
    value-counts map per type either way, so the window form costs no
    more memory than the groupBy form did."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    dev = (
        ev.withColumn("med", F.expr("percentile(value, 0.5)").over(w))
        .withColumn("abs_dev", F.abs(F.col("value") - F.col("med")))
        .withColumn("mad", F.expr("percentile(abs_dev, 0.5)").over(w))
    )
    is_out = F.col("abs_dev") > F.lit(MAD_K) * F.col("mad")
    return dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.coalesce(F.sum(is_out.cast("long")), F.lit(0)).alias("n_outliers"),
        F.round(F.max(F.when(is_out, F.col("abs_dev"))), 6).alias("max_abs_dev"),
    )


#: the joins are IS NOT DISTINCT FROM, not USING: the engine's window
#: PARTITION BY keeps a NULL event_type group (as SQL grouping does),
#: and an equi-join back would silently drop it (r9 mixed-nulls sweep).
MAD_OUTLIER_SUMMARY_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, m.n_events, abs(e.value - m.med) AS abs_dev
  FROM events e JOIN med m ON e.event_type IS NOT DISTINCT FROM m.event_type
),
mad AS (
  SELECT event_type, any_value(med) AS med, any_value(n_events) AS n_events,
         quantile_cont(abs_dev, 0.5) AS mad
  FROM dev GROUP BY 1
),
outliers AS (
  SELECT d.event_type AS event_type, COUNT(*) AS n_outliers,
         max(d.abs_dev) AS max_abs_dev
  FROM dev d JOIN mad m ON d.event_type IS NOT DISTINCT FROM m.event_type
  WHERE d.abs_dev > {MAD_K!r} * m.mad
  GROUP BY 1
)
SELECT m.event_type, CAST(m.n_events AS BIGINT) AS n_events,
       {round_sql('m.med', 6)} AS med,
       {round_sql('m.mad', 6)} AS mad,
       coalesce(o.n_outliers, 0) AS n_outliers,
       {round_sql('o.max_abs_dev', 6)} AS max_abs_dev
FROM mad m LEFT JOIN outliers o
  ON m.event_type IS NOT DISTINCT FROM o.event_type
"""


# ------------------------------------------------- autocorrelation

#: autocorrelation lags computed over each type's hourly series
ACF_LAGS = 3


def autocorr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..ACF_LAGS autocorrelation of each event type's hourly value
    series -- the seasonality/burstiness profile of the stream (is load
    sticky hour-over-hour?).

    Determinism: the textbook estimator needs the mean BEFORE the
    deviations, which would be a second pass; instead the covariance is
    expanded algebraically (sum x_t*x_{t-k}, sum x_t, sum x_{t-k},
    counts) so ONE aggregate per type collects every term as an exact
    decimal sum -- order-independent, then the r_k arithmetic runs in
    fixed-order double. Adjacent = consecutive observed hourly buckets
    (gaps close ranks; a gap-filled spine is `events_gapfill`'s job).

    Scale: hourly rollup is one map-side-combinable shuffle; the lag
    window + final aggregate ride one event_type partitioning over the
    |types * hours| rollup frame -- corpus-size-independent."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no place on
    # the time axis -- excluded here AND in the oracle CTE AND by the
    # streaming twins' ingest gates, so all three surfaces agree.
    hourly = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    )
    w = W.partitionBy("event_type").orderBy("bucket")
    dec = lambda c: c.cast(DEC)  # noqa: E731
    prod = lambda a, b: (dec(a) * dec(b)).cast("decimal(38,10)")  # noqa: E731
    lagged = hourly.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"xl{k}") for k in range(1, ACF_LAGS + 1)],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("s1"),
        F.sum(prod(F.col("x"), F.col("x"))).cast("double").alias("sxx"),
    ]
    for k in range(1, ACF_LAGS + 1):
        xl = F.col(f"xl{k}")
        aggs += [
            F.count(xl).alias(f"n{k}"),
            F.sum(prod(F.col("x"), xl)).cast("double").alias(f"sxy{k}"),
            F.sum(F.when(xl.isNotNull(), dec(F.col("x")))).cast("double").alias(f"sa{k}"),
            F.sum(F.when(xl.isNotNull(), dec(xl))).cast("double").alias(f"sb{k}"),
        ]
    g = lagged.groupBy("event_type").agg(*aggs)
    mu = F.col("s1") / F.col("n").cast("double")
    den = F.col("sxx") - F.col("n").cast("double") * mu * mu
    out_cols = [F.col("event_type"), F.col("n").alias("n_buckets")]
    for k in range(1, ACF_LAGS + 1):
        num = (
            F.col(f"sxy{k}")
            - mu * F.col(f"sa{k}")
            - mu * F.col(f"sb{k}")
            + F.col(f"n{k}").cast("double") * mu * mu
        )
        out_cols.append(
            F.when(den != 0.0, F.round(num / den, 6)).alias(f"r{k}")
        )
    return g.select(*out_cols)


def _acf_sql() -> str:
    dsum = lambda e: f"CAST(CAST(SUM(CAST(({e}) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"  # noqa: E731
    dprod = (
        lambda a, b: f"CAST(CAST(SUM(CAST(CAST(({a}) AS DECIMAL(28,10)) * CAST(({b}) AS DECIMAL(28,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    )  # noqa: E731
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY bucket) AS xl{k}"
        for k in range(1, ACF_LAGS + 1)
    )
    agg_cols = [
        "COUNT(*) AS n",
        f"{dsum('x')} AS s1",
        f"{dprod('x', 'x')} AS sxx",
    ]
    for k in range(1, ACF_LAGS + 1):
        agg_cols += [
            f"COUNT(xl{k}) AS n{k}",
            f"{dprod('x', f'xl{k}')} AS sxy{k}",
            f"{dsum(f'CASE WHEN xl{k} IS NOT NULL THEN x END')} AS sa{k}",
            f"{dsum(f'xl{k}')} AS sb{k}",
        ]
    r_cols = ", ".join(
        round_sql(
            f"(sxy{k} - (s1 / n) * sa{k} - (s1 / n) * sb{k}"
            f" + n{k} * (s1 / n) * (s1 / n))"
            f" / NULLIF(sxx - n * (s1 / n) * (s1 / n), 0.0)",
            6,
        )
        + f" AS r{k}"
        for k in range(1, ACF_LAGS + 1)
    )
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {dsum('value')} AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
lagged AS (SELECT event_type, x, {lag_cols} FROM hourly),
g AS (SELECT event_type, {', '.join(agg_cols)} FROM lagged GROUP BY 1)
SELECT event_type, n AS n_buckets, {r_cols} FROM g
"""


AUTOCORR_HOURLY_SQL = _acf_sql()


# ------------------------------------------------- CUSUM change points

#: classic CUSUM tuning: slack k = CUSUM_K * sigma absorbs in-control
#: noise, alarm fires when the accumulated drift tops CUSUM_H * sigma.
CUSUM_K = 0.5
CUSUM_H = 4.0


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection over each type's hourly
    value series -- the classic sequential drift detector (Page 1954),
    de-recursed for a distributed engine:

      the textbook form c_t = max(0, c_{t-1} + x_t - mu - k) is an
      inherently sequential fold; but c_t == S_t - min_{j<=t} S_j for
      the plain cumulative sum S_t of (x_t - mu - k), so ONE sort window
      carrying a running sum and a running min replaces the recursion
      (same trick mirrored for the downward side with a running max).

    Determinism: the per-term deviation is rounded to 6dp in double
    (cross-engine stable) then accumulated as an exact DECIMAL running
    sum, so S_t is order-exact; mu/sigma come from the same decimal
    moment sums as rolling_zscore. Scale: hourly rollup is one
    map-side-combinable shuffle; the CUSUM window rides one event_type
    partitioning over the |types * hours| frame."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no place on
    # the time axis -- excluded here AND in the oracle CTE AND by the
    # streaming twins' ingest gates, so all three surfaces agree.
    hourly = ev.filter(F.col("ts").isNotNull()).groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    xd = F.col("x").cast(DEC)
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("s1"),
        F.sum((xd * xd).cast("decimal(38,10)")).cast("double").alias("sxx"),
    )
    mu = F.col("s1") / F.col("n").cast("double")
    sigma = F.sqrt(
        F.greatest(F.col("sxx") / F.col("n").cast("double") - mu * mu, F.lit(0.0))
    )
    dims = stats.select(
        "event_type",
        mu.alias("mu"),
        (F.lit(CUSUM_K) * sigma).alias("k"),
        F.round(F.lit(CUSUM_H) * sigma, 6).alias("h"),
    )
    j = hourly.join(F.broadcast(dims), "event_type")
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # 6dp-rounded doubles quantize identically to DECIMAL in both engines
    term_up = F.round(F.col("x") - F.col("mu") - F.col("k"), 6).cast(DEC)
    term_dn = F.round(F.col("x") - F.col("mu") + F.col("k"), 6).cast(DEC)
    s_up = F.sum(term_up).over(w)
    s_dn = F.sum(term_dn).over(w)
    # the recursion starts from a virtual S_0 = 0 (c_0 = 0), so the
    # running extremum must include 0: c_t = S_t - min(0, min_j S_j)
    zero = F.lit(0).cast(DEC)
    cusum_up = (s_up - F.least(F.min(s_up).over(w), zero)).cast("double")
    cusum_dn = (F.greatest(F.max(s_dn).over(w), zero) - s_dn).cast("double")
    return j.select(
        "event_type",
        "bucket",
        "x",
        F.round(cusum_up, 6).alias("cusum_up"),
        F.round(cusum_dn, 6).alias("cusum_dn"),
        (
            (F.round(cusum_up, 6) > F.col("h"))
            | (F.round(cusum_dn, 6) > F.col("h"))
        ).alias("is_alarm"),
    )


def _cusum_sql() -> str:
    dsum = "CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    dxsum = "CAST(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    dxxsum = (
        "CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(28,10)) * CAST(x AS DECIMAL(28,10))"
        " AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    )
    term_up = round_sql("x - mu - k", 6)
    term_dn = round_sql("x - mu + k", 6)
    dec2dbl = lambda e: f"CAST(CAST(({e}) AS VARCHAR) AS DOUBLE)"  # noqa: E731
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, {dsum} AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n, {dxsum} AS s1, {dxxsum} AS sxx
  FROM hourly GROUP BY 1
),
dims AS (
  SELECT event_type,
         s1 / n AS mu,
         {CUSUM_K!r} * sqrt(greatest(sxx / n - (s1 / n) * (s1 / n), 0.0)) AS k,
         {round_sql(f'{CUSUM_H!r} * sqrt(greatest(sxx / n - (s1 / n) * (s1 / n), 0.0))', 6)} AS h
  FROM stats
),
terms AS (
  SELECT h.event_type, h.bucket, h.x, d.h,
         CAST({term_up} AS DECIMAL(28,10)) AS tu,
         CAST({term_dn} AS DECIMAL(28,10)) AS td
  FROM hourly h JOIN dims d USING (event_type)
),
sums AS (
  SELECT event_type, bucket, x, h,
         SUM(tu) OVER w AS s_up, SUM(td) OVER w AS s_dn
  FROM terms
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cus AS (
  SELECT event_type, bucket, x, h,
         {dec2dbl('s_up - least(MIN(s_up) OVER w, CAST(0 AS DECIMAL(28,10)))')} AS cu,
         {dec2dbl('greatest(MAX(s_dn) OVER w, CAST(0 AS DECIMAL(28,10))) - s_dn')} AS cd
  FROM sums
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket, x,
       {round_sql('cu', 6)} AS cusum_up,
       {round_sql('cd', 6)} AS cusum_dn,
       ({round_sql('cu', 6)} > h OR {round_sql('cd', 6)} > h) AS is_alarm
FROM cus
"""


CUSUM_CHANGEPOINTS_SQL = _cusum_sql()


# ------------------------------------------------- touch attribution

#: lookback for crediting a purchase to the user's latest click
ATTR_WINDOW_HOURS = 24


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily last-touch attribution: each purchase is credited to the
    user's most recent click within ATTR_WINDOW_HOURS; per day, how many
    purchases were attributed and how much value they carried -- the
    conversion-analytics complement to `events_funnel` (fixed steps) and
    `events_top_paths` (discovery).

    The candidate click rides a RUNNING conditional max over the same
    (user, time) sort window every per-user operator here uses -- no
    purchase-to-click self-join, which at 100 TB would shuffle events
    against itself; timestamps compare in exact integer microseconds
    (the user_interarrival contract). One user-keyed window + one daily
    aggregate = two shuffles total."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    last_click_us = F.max(
        F.when(F.col("event_type") == "click", us)
    ).over(w)
    horizon_us = F.lit(ATTR_WINDOW_HOURS * 3_600 * 1_000_000)
    purchases = ev.select(
        "event_type",
        "value",
        F.to_date("ts").alias("day"),
        (us - last_click_us).alias("since_click_us"),
    ).filter(F.col("event_type") == "purchase")
    attributed = F.col("since_click_us").isNotNull() & (
        F.col("since_click_us") <= horizon_us
    )
    n = F.count(F.lit(1))
    n_attr = F.sum(attributed.cast("long"))
    return purchases.groupBy("day").agg(
        n.alias("purchases"),
        n_attr.alias("attributed"),
        F.round(n_attr / n.cast("double"), 6).alias("attribution_rate"),
        F.sum(
            F.when(attributed, F.col("value").cast(DEC))
        ).cast("double").alias("attributed_value"),
    )


ATTRIBUTION_LAST_TOUCH_SQL = f"""
WITH tagged AS (
  SELECT event_type, value, CAST(ts AS DATE) AS day,
         epoch_us(ts) - MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS since_click_us
  FROM events
),
p AS (
  SELECT day, value,
         (since_click_us IS NOT NULL
          AND since_click_us <= {ATTR_WINDOW_HOURS * 3_600 * 1_000_000}) AS attributed
  FROM tagged WHERE event_type = 'purchase'
)
SELECT day, COUNT(*) AS purchases,
       CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS attributed,
       {round_sql('SUM(CASE WHEN attributed THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)', 6)} AS attribution_rate,
       CAST(CAST(SUM(CASE WHEN attributed THEN CAST(value AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS attributed_value
FROM p GROUP BY day
"""


# ---------------------------------------------- type co-occurrence

def type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience overlap between event types: for every unordered
    type pair, how many users did both, the Jaccard of the two user
    sets, and the lift vs independence -- the behavioral co-occurrence
    matrix behind "users who error also purchase?" questions.

    NO set self-join, ONE corpus scan + ONE corpus shuffle: collect_set
    per user dedups and gathers in a single user-keyed aggregate
    (map-side partial); each user's sorted type set then emits, in ONE
    narrow explode, its C(k,2) pairs PLUS a singleton marker per type
    PLUS one total marker -- so a single vocabulary-sized count
    aggregate yields pair co-occurrences, per-type audience sizes, and
    the user total together (three branches would otherwise recompute
    the corpus aggregate once each; column pruning defeats exchange
    reuse). The tiny counts frame is localCheckpointed once and the
    assembly joins are all broadcast. The self-join formulation (the
    oracle's, fine at oracle scale) would shuffle the distinct frame
    against itself."""
    ev = load_table(spark, sf_dir, "events")
    # user_id IS NOT NULL: a NULL user is not an audience member --
    # pooling every NULL-user event into one phantom "user" would
    # fabricate co-occurrence (and SQL's equi-self-join drops NULL
    # users anyway); both sides state the gate (r10 mixed_keys sweep).
    per_user = ev.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    types = F.col("types")
    null_s = F.lit(None).cast("string")
    pair_structs = F.flatten(
        F.transform(
            types,
            lambda x, i: F.transform(
                F.slice(types, i + 2, F.size(types)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    singleton_structs = F.transform(
        types, lambda t: F.struct(t.alias("a"), null_s.alias("b"))
    )
    total_struct = F.array(F.struct(null_s.alias("a"), null_s.alias("b")))
    marks = per_user.select(
        F.explode(
            F.concat(pair_structs, singleton_structs, total_struct)
        ).alias("p")
    )
    counts = local_checkpoint(
        marks.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    both = counts.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).select(
        F.col("a").alias("type_a"), F.col("b").alias("type_b"), F.col("c").alias("users_both")
    )
    sizes = counts.filter(F.col("a").isNotNull() & F.col("b").isNull()).select(
        F.col("a").alias("event_type"), F.col("c").alias("users")
    )
    total = counts.filter(F.col("a").isNull()).select(F.col("c").alias("n_users"))
    j = (
        both.join(
            F.broadcast(sizes.withColumnsRenamed({"event_type": "type_a", "users": "users_a"})),
            "type_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"event_type": "type_b", "users": "users_b"})),
            "type_b",
        )
        .crossJoin(F.broadcast(total))
    )
    union = (F.col("users_a") + F.col("users_b") - F.col("users_both")).cast("double")
    lift = (
        F.col("users_both") * F.col("n_users")
    ).cast("double") / (F.col("users_a") * F.col("users_b")).cast("double")
    return j.select(
        "type_a",
        "type_b",
        "users_a",
        "users_b",
        "users_both",
        F.round(F.col("users_both") / union, 6).alias("jaccard"),
        F.round(lift, 6).alias("lift"),
    )


TYPE_OVERLAP_SQL = f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL),
both_c AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS users_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (SELECT event_type, COUNT(*) AS users FROM ut GROUP BY 1),
total AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut)
SELECT type_a, type_b, sa.users AS users_a, sb.users AS users_b, users_both,
       {round_sql('users_both / CAST(sa.users + sb.users - users_both AS DOUBLE)', 6)} AS jaccard,
       {round_sql('CAST(users_both * n_users AS DOUBLE) / CAST(sa.users * sb.users AS DOUBLE)', 6)} AS lift
FROM both_c
JOIN sizes sa ON type_a = sa.event_type
JOIN sizes sb ON type_b = sb.event_type
CROSS JOIN total
"""


# ---------------------------------------------- composed health report

def events_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring-plane flagship: one row per event type gluing the
    round's detector family -- robust center/spread and outlier pressure
    (median/MAD), hour-over-hour stickiness (lag-1 autocorrelation), and
    accumulated-drift alarms (CUSUM) -- the table an on-call pipeline
    operator reads first.

    Composition contract (the curation/export flagship pattern): each
    constituent is the ALREADY-audited operator, glued by event_type
    equi-joins on vocabulary-sized frames; the oracle composes the same
    constituent SQL as CTEs, so the composed row can only be right if
    every constituent is."""
    mad = mad_outlier_summary(spark, sf_dir)
    acf = autocorr_hourly(spark, sf_dir).select("event_type", "n_buckets", "r1")
    alarms = (
        cusum_changepoints(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.sum(F.col("is_alarm").cast("long")).alias("cusum_alarms"),
            F.max(F.when(F.col("is_alarm"), F.col("bucket"))).alias("last_alarm"),
        )
    )
    return (
        mad.join(acf, "event_type")
        .join(alarms, "event_type")
        .select(
            "event_type",
            "n_events",
            "med",
            "mad",
            "n_outliers",
            "n_buckets",
            "r1",
            "cusum_alarms",
            "last_alarm",
        )
    )


EVENTS_HEALTH_REPORT_SQL = f"""
WITH m AS ({MAD_OUTLIER_SUMMARY_SQL}),
a AS ({AUTOCORR_HOURLY_SQL}),
c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN is_alarm THEN 1 ELSE 0 END) AS BIGINT) AS cusum_alarms,
         MAX(CASE WHEN is_alarm THEN bucket END) AS last_alarm
  FROM ({CUSUM_CHANGEPOINTS_SQL}) GROUP BY 1
)
SELECT m.event_type, m.n_events, m.med, m.mad, m.n_outliers,
       a.n_buckets, a.r1, c.cusum_alarms, c.last_alarm
FROM m JOIN a USING (event_type) JOIN c USING (event_type)
"""


# ------------------------------------------ Holt linear-trend forecast

#: Holt's linear method (level + trend double exponential smoothing),
#: de-recursed the EWMA way -- but the state here is the 2-vector
#: s_t = (level_t, trend_t) obeying s_t = M s_{t-1} + c*y_t, so the lag
#: weights are the matrix powers M^j c instead of a scalar ladder.
#: Truncating at K lags drops the M^t s_0 init term, which decays at
#: |lambda|^K with |lambda| = sqrt(det M) = sqrt(1 - HOLT_BETA +
#: HOLT_ALPHA*HOLT_BETA... (complex pair; ~0.7^12 ~ 1.4% here) -- rows
#: with fewer than K prior buckets emit NULL rather than a damped guess.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.3
HOLT_LAGS = 12
HOLT_HORIZON = 3  # forecast y_{t+h} = level + h * trend


def _holt_weights() -> list[tuple[float, float]]:
    """(level_weight_j, trend_weight_j) = M^j c for lag j, computed once
    in Python floats; repr() round-trips exactly through both engines'
    literal parsers, so the coefficients are bit-identical everywhere."""
    a, b = HOLT_ALPHA, HOLT_BETA
    m00, m01 = 1.0 - a, 1.0 - a
    m10, m11 = -a * b, 1.0 - a * b
    s = (a, a * b)  # c
    out = []
    for _ in range(HOLT_LAGS):
        out.append(s)
        s = (m00 * s[0] + m01 * s[1], m10 * s[0] + m11 * s[1])
    return out


_HOLT_WEIGHTS = _holt_weights()


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly Holt linear-trend state + h-step forecast.

    The inherently-sequential coupled recursion (level_t feeds trend_t
    feeds level_{t+1}) becomes K lag() columns on ONE sort window per
    type: level and trend are fixed-order weighted sums of the last K
    hourly buckets with the precomputed M^j c coefficients -- the same
    embarrassingly-parallel shape as `events_ewma`, generalized from a
    scalar decay ladder to a 2-state linear system. A NULL lag nulls the
    whole sum (no coalesce), so only rows with full K-history forecast.

    Scale: one map-side-combinable hourly rollup, then everything rides
    a |types * hours| frame -- corpus-size-independent. Buckets are the
    observed hourly grid (gaps close ranks; compose with
    `events_gapfill` for a strict wall-clock grid)."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no place on
    # the time axis -- excluded here AND in the oracle CTE AND by the
    # streaming twins' ingest gates, so all three surfaces agree.
    hourly = ev.filter(F.col("ts").isNotNull()).groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 6).alias("x"))
    w = W.partitionBy("event_type").orderBy("bucket")
    lags = [
        F.col("x") if j == 0 else F.lag("x", j).over(w) for j in range(HOLT_LAGS)
    ]
    level = F.lit(0.0)
    trend = F.lit(0.0)
    for j in range(HOLT_LAGS):  # fixed accumulation order: j ascending
        level = level + lags[j] * F.lit(_HOLT_WEIGHTS[j][0])
        trend = trend + lags[j] * F.lit(_HOLT_WEIGHTS[j][1])
    return hourly.select(
        "event_type",
        "bucket",
        "x",
        F.round(level, 6).alias("level"),
        F.round(trend, 6).alias("trend"),
        F.round(level + float(HOLT_HORIZON) * trend, 6).alias("forecast"),
    )


def _holt_sums_sql() -> tuple[str, str]:
    lag = lambda j: "x" if j == 0 else f"lag(x, {j}) OVER w"  # noqa: E731
    level = " + ".join(
        f"{lag(j)} * {wl!r}" for j, (wl, _) in enumerate(_HOLT_WEIGHTS)
    )
    trend = " + ".join(
        f"{lag(j)} * {wb!r}" for j, (_, wb) in enumerate(_HOLT_WEIGHTS)
    )
    return level, trend


_HOLT_LEVEL_SQL, _HOLT_TREND_SQL = _holt_sums_sql()

HOLT_FORECAST_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {round_sql(dec_sum_sql('value'), 6)} AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, CAST(bucket AS TIMESTAMP) AS bucket, x,
       {round_sql(f'({_HOLT_LEVEL_SQL})', 6)} AS level,
       {round_sql(f'({_HOLT_TREND_SQL})', 6)} AS trend,
       {round_sql(f'({_HOLT_LEVEL_SQL}) + {float(HOLT_HORIZON)!r} * ({_HOLT_TREND_SQL})', 6)} AS forecast
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
"""


# --------------------------------------- CEP pattern match (A->B, no C)

CEP_WINDOW_MINUTES = 30  # click -> purchase must close within this


def cep_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style complex-event-processing: per user, emit
    every purchase whose LATEST preceding click is (a) within
    CEP_WINDOW_MINUTES and (b) not invalidated by an intervening
    'error' event -- the "A then B within T, no C between" pattern that
    CEP engines sell as a dedicated operator (SQL:2016
    MATCH_RECOGNIZE; Flink CEP), here expressed as TWO running
    conditional maxima on the one per-user sort window every
    events operator shares.

    The negation ("no C between") needs no anti-join: the pattern
    matches iff the running-last error is OLDER than the running-last
    click at the purchase row (both exact integer microseconds).  At
    100 TB this is still one corpus shuffle on user_id; a streaming
    deployment carries the same two timestamps as per-user state
    (exactly the `streaming/attribution.py` shape, one more long).

    Output: one row per matched purchase with the bound A/B events and
    the gap."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    last_click_us = F.max(F.when(F.col("event_type") == "click", us)).over(w)
    last_error_us = F.max(F.when(F.col("event_type") == "error", us)).over(w)
    horizon_us = F.lit(CEP_WINDOW_MINUTES * 60 * 1_000_000)
    tagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        us.alias("us"),
        last_click_us.alias("click_us"),
        last_error_us.alias("error_us"),
    ).filter(F.col("event_type") == "purchase")
    matched = tagged.filter(
        F.col("click_us").isNotNull()
        & (F.col("us") - F.col("click_us") <= horizon_us)
        & (F.col("error_us").isNull() | (F.col("error_us") < F.col("click_us")))
    )
    return matched.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("purchase_ts"),
        F.timestamp_micros(F.col("click_us")).alias("click_ts"),
        (F.col("us") - F.col("click_us")).alias("gap_us"),
    )


CEP_CLICK_PURCHASE_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
         MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER w AS click_us,
         MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
           OVER w AS error_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
       make_timestamp(click_us) AS click_ts,
       us - click_us AS gap_us
FROM tagged
WHERE event_type = 'purchase'
  AND click_us IS NOT NULL
  AND us - click_us <= {CEP_WINDOW_MINUTES * 60 * 1_000_000}
  AND (error_us IS NULL OR error_us < click_us)
"""


# ------------------------------- chi-squared independence (type x hour)

def chi2_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between event_type and
    hour-of-day -- the distribution-shift / seasonality screen a corpus
    monitor runs over categorical slices ("is traffic mix independent
    of time?").

    Scale design: the ONLY corpus work is one map-side-combinable
    aggregate to the bounded contingency frame (|types| x 24 cells);
    marginals come from windows over that tiny frame and the scalar
    totals attach via the in-plan 1-row broadcast idiom (no driver
    collect).  Expected counts use double multiply-then-divide (each op
    correctly rounded -> engine-identical, and no BIGINT overflow at
    any scale); per-cell terms are decimal-quantized before summing so
    the statistic is partition-order independent.

    Output: one row per event_type with its observed total, its
    decimal-exact contribution to the statistic, and the shared
    (chi2_total, dof) -- the monitoring-dashboard shape."""
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint the bounded contingency frame: it feeds the spine
    # (twice), the cell join, and the totals -- without it each reuse
    # re-derives the frame from a fresh corpus scan
    observed = local_checkpoint(
        ev.groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    # densify: zero cells contribute their full expected count to the
    # statistic (term = exp when obs = 0), so the spine of ALL
    # (type, hour) combinations must exist -- a bounded vocab x 24
    # cross of two tiny distinct frames, never the corpus
    cells = (
        observed.select("event_type")
        .distinct()
        .crossJoin(observed.select("hr").distinct())
        .join(observed, ["event_type", "hr"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
    )

    totals = cells.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("hr").alias("n_hours"),
    )
    w_type = W.partitionBy("event_type")
    w_hr = W.partitionBy("hr")
    with_marg = (
        cells.withColumn("row_tot", F.sum("obs").over(w_type))
        .withColumn("col_tot", F.sum("obs").over(w_hr))
        .crossJoin(F.broadcast(totals))
    )
    # try_divide twice: an all-NULL (event_type, hr) slice never rejoins
    # the densify spine (NULL = NULL is not a match), leaving n = 0 --
    # the oracle's 0/0 is NULL, ANSI `/` would abort the screen
    exp = F.try_divide(
        F.col("row_tot").cast("double") * F.col("col_tot").cast("double"),
        F.col("n").cast("double"),
    )
    diff = F.col("obs").cast("double") - exp
    term = F.try_divide(diff * diff, exp).cast(DEC)
    return (
        with_marg.groupBy("event_type", "n_types", "n_hours")
        .agg(
            F.sum("obs").alias("n_events"),
            F.sum(term).alias("contrib_dec"),
        )
        .select(
            "event_type",
            "n_events",
            F.round(F.col("contrib_dec").cast("double"), 6).alias("chi2_contrib"),
            F.round(
                F.sum(F.col("contrib_dec")).over(W.partitionBy()).cast("double"), 6
            ).alias("chi2_total"),
            ((F.col("n_types") - 1) * (F.col("n_hours") - 1)).alias("dof"),
        )
    )


CHI2_TYPE_HOUR_SQL = f"""
WITH observed AS (
  SELECT event_type, hour(ts) AS hr, COUNT(*) AS obs
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT s.event_type, s.hr, COALESCE(o.obs, 0) AS obs
  FROM (SELECT t.event_type, h.hr
        FROM (SELECT DISTINCT event_type FROM observed) t,
             (SELECT DISTINCT hr FROM observed) h) s
  LEFT JOIN observed o
    ON s.event_type = o.event_type AND s.hr = o.hr
), tot AS (
  SELECT SUM(obs) AS n, COUNT(DISTINCT event_type) AS n_types,
         COUNT(DISTINCT hr) AS n_hours
  FROM cells
), terms AS (
  SELECT c.event_type, c.obs,
         CAST(
           (CAST(c.obs AS DOUBLE)
              - CAST(SUM(c.obs) OVER (PARTITION BY c.event_type) AS DOUBLE)
                * CAST(SUM(c.obs) OVER (PARTITION BY c.hr) AS DOUBLE)
                / CAST(t.n AS DOUBLE))
           * (CAST(c.obs AS DOUBLE)
              - CAST(SUM(c.obs) OVER (PARTITION BY c.event_type) AS DOUBLE)
                * CAST(SUM(c.obs) OVER (PARTITION BY c.hr) AS DOUBLE)
                / CAST(t.n AS DOUBLE))
           / (CAST(SUM(c.obs) OVER (PARTITION BY c.event_type) AS DOUBLE)
                * CAST(SUM(c.obs) OVER (PARTITION BY c.hr) AS DOUBLE)
                / CAST(t.n AS DOUBLE))
         AS DECIMAL(28,10)) AS term,
         t.n_types, t.n_hours
  FROM cells c, tot t
), per_type AS (
  SELECT event_type, n_types, n_hours,
         SUM(obs) AS n_events, SUM(term) AS contrib_dec
  FROM terms GROUP BY 1, 2, 3
)
SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
       {round_sql("CAST(CAST(contrib_dec AS VARCHAR) AS DOUBLE)", 6)} AS chi2_contrib,
       {round_sql("CAST(CAST(SUM(contrib_dec) OVER () AS VARCHAR) AS DOUBLE)", 6)}
         AS chi2_total,
       (n_types - 1) * (n_hours - 1) AS dof
FROM per_type
"""


# ------------------------------- seasonal profile (hour x day-of-week)

def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type seasonal indices over the (day-of-week, hour-of-day)
    grid: cell mean value, plus hour-of-day and day-of-week indices
    (band mean / type mean) -- the seasonal-naive decomposition a
    monitor needs before flagging 'low traffic' at 4am as an anomaly.

    dow computes as INTEGER arithmetic on epoch days ((days + 3) % 7,
    0 = Monday): Spark's dayofweek() and DuckDB's dayofweek() disagree
    on both origin and range, so neither touches the data path.  One
    map-side-combinable aggregate to the bounded (type, dow, hour)
    frame (<= |types| x 168 rows); every band statistic is a window
    over that tiny frame re-aggregating EXACT decimal sums, so indices
    are partition-order independent."""
    ev = load_table(spark, sf_dir, "events")
    # integer DIV, not cast-of-true-division: Spark's long cast
    # truncates where DuckDB's BIGINT cast rounds-to-nearest
    dow = (
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
        + F.lit(3)
    ) % F.lit(7)
    cells = ev.groupBy(
        "event_type",
        dow.alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("s"),
    )
    w_type = W.partitionBy("event_type")
    w_hr = W.partitionBy("event_type", "hr")
    w_dow = W.partitionBy("event_type", "dow")

    def mean(s_col, n_col):
        return s_col.cast("double") / n_col.cast("double")

    enriched = (
        cells.withColumn("type_s", F.sum("s").over(w_type))
        .withColumn("type_n", F.sum("n").over(w_type))
        .withColumn("hr_s", F.sum("s").over(w_hr))
        .withColumn("hr_n", F.sum("n").over(w_hr))
        .withColumn("dow_s", F.sum("s").over(w_dow))
        .withColumn("dow_n", F.sum("n").over(w_dow))
    )
    type_mean = mean(F.col("type_s"), F.col("type_n"))
    return enriched.select(
        "event_type",
        "dow",
        "hr",
        "n",
        F.round(mean(F.col("s"), F.col("n")), 6).alias("cell_mean"),
        F.round(mean(F.col("hr_s"), F.col("hr_n")) / type_mean, 6).alias(
            "hour_index"
        ),
        F.round(mean(F.col("dow_s"), F.col("dow_n")) / type_mean, 6).alias(
            "dow_index"
        ),
    )


_SEAS_DEC = "CAST(CAST({} AS VARCHAR) AS DOUBLE)"

SEASONALITY_PROFILE_SQL = f"""
WITH cells AS (
  SELECT event_type,
         ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
         hour(ts) AS hr,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,10))) AS s
  FROM events GROUP BY 1, 2, 3
), enriched AS (
  SELECT event_type, dow, hr, n,
         {_SEAS_DEC.format('s')} AS s_d,
         {_SEAS_DEC.format('SUM(s) OVER (PARTITION BY event_type)')} AS type_s,
         SUM(n) OVER (PARTITION BY event_type) AS type_n,
         {_SEAS_DEC.format('SUM(s) OVER (PARTITION BY event_type, hr)')} AS hr_s,
         SUM(n) OVER (PARTITION BY event_type, hr) AS hr_n,
         {_SEAS_DEC.format('SUM(s) OVER (PARTITION BY event_type, dow)')} AS dow_s,
         SUM(n) OVER (PARTITION BY event_type, dow) AS dow_n
  FROM cells
)
SELECT event_type, dow, hr, n,
       {round_sql("s_d / n::DOUBLE", 6)} AS cell_mean,
       {round_sql("(hr_s / hr_n::DOUBLE) / (type_s / type_n::DOUBLE)", 6)}
         AS hour_index,
       {round_sql("(dow_s / dow_n::DOUBLE) / (type_s / type_n::DOUBLE)", 6)}
         AS dow_index
FROM enriched
"""


# --------------------------------- activity streaks (gaps-and-islands)

def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity streaks -- the canonical
    gaps-and-islands pattern: distinct active days collapse to runs via
    the day_number - row_number() constant-per-run key, runs aggregate
    to islands, islands roll up per user (total active days, number of
    streaks, longest streak and its start date, earliest on ties --
    no min_by/max_by, whose tie order is engine-defined).

    Scale: the corpus collapses to distinct (user, day) FIRST (one
    map-side-combinable shuffle, bounded by users x days); every window
    after that is user-partitioned over day counts, never event rows.
    The longest-streak start resolves with an islands self-equi-join on
    (user, longest_len) instead of a positional pick, so the plan stays
    deterministic under ties."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no day on the
    # streak axis -- excluded here and in the oracle's days CTE.
    days = ev.filter(F.col("ts").isNotNull()).select(
        "user_id", F.date_trunc("DAY", F.col("ts")).alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        (
            F.unix_date(F.col("day").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    islands = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start")
    )
    per_user = islands.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )
    return (
        per_user.join(
            islands.select(
                "user_id",
                F.col("len").alias("longest_streak"),
                F.col("start"),
            ),
            ["user_id", "longest_streak"],
        )
        .groupBy("user_id", "n_active_days", "n_streaks", "longest_streak")
        .agg(F.min("start").alias("longest_start"))
    )


USER_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day
  FROM events WHERE ts IS NOT NULL
),
isl AS (
  SELECT user_id, day,
         datediff('day', DATE '1970-01-01', CAST(day AS DATE))
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
islands AS (
  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start
  FROM isl GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(SUM(len) AS BIGINT) AS n_active_days,
         COUNT(*) AS n_streaks,
         MAX(len) AS longest_streak
  FROM islands GROUP BY 1
)
SELECT p.user_id, p.n_active_days, p.n_streaks, p.longest_streak,
       CAST(MIN(i.start) AS TIMESTAMP) AS longest_start
FROM per_user p
JOIN islands i ON i.user_id = p.user_id AND i.len = p.longest_streak
GROUP BY 1, 2, 3, 4
"""


# ------------------------------- SAX symbolic series representation

SAX_SEG_HOURS = 4  # 6 segments per day
#: Gaussian equiprobable breakpoints for a 4-letter alphabet
#: (Lin/Keogh/Lonardi/Chiu 2003); float repr literals parse
#: bit-identically in both engines
SAX_BREAKS = (-0.6745, 0.0, 0.6745)


def sax_daily_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of each event type's
    hourly value series: per day, a 6-letter word -- PAA over 4-hour
    segments, z-normalized against the TYPE's whole-series hourly
    moments, discretized at the Gaussian equiprobable breakpoints.
    The classic symbolic representation behind motif/anomaly discovery
    at scale: grep-able daily shapes instead of raw floats (two days
    with the same word are candidate motifs; a never-seen word is the
    anomaly shortlist).

    Determinism: hourly sums, segment PAA numerators, and the type
    moments are all DECIMAL-quantized; mean/std/z assemble in the same
    fixed-order double arithmetic as the oracle (std = 0 pins z = 0 ->
    'c', and engines agree because the guard is explicit, not 0/0).
    Scale: one corpus shuffle to the hourly rollup; everything after
    rides |types x hours| frames; the word assembles from an
    array_sort'ed collect_list (order-proof) per (type, day)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("x").cast(DEC) * F.col("x").cast(DEC)).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )
    seg = hourly.groupBy(
        "event_type",
        F.date_trunc("day", F.col("bucket")).alias("day"),
        F.floor(F.hour("bucket") / SAX_SEG_HOURS).cast("int").alias("seg"),
    ).agg(
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sseg"),
        F.count(F.lit(1)).alias("cnt"),
    )
    j = seg.join(F.broadcast(stats), "event_type")
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    std = F.sqrt(var)
    paa = F.col("sseg") / F.col("cnt").cast("double")
    z = F.when(std > 0, (paa - mean) / std).otherwise(F.lit(0.0))
    sym = (
        F.when(z < SAX_BREAKS[0], F.lit("a"))
        .when(z < SAX_BREAKS[1], F.lit("b"))
        .when(z < SAX_BREAKS[2], F.lit("c"))
        .otherwise(F.lit("d"))
    )
    with_sym = j.select("event_type", "day", "seg", sym.alias("sym"), "cnt")
    return with_sym.groupBy("event_type", "day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seg"), F.col("sym")))
                ),
                lambda s: s.getField("sym"),
            ),
        ).alias("sax_word"),
        F.sum("cnt").alias("n_hours"),
    )


SAX_DAILY_WORDS_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {dec_sum_sql('value')} AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_sum_sql('x')} AS sx,
         CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(28,10)) * CAST(x AS DECIMAL(28,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM hourly GROUP BY 1
),
seg AS (
  SELECT event_type, date_trunc('day', bucket) AS day,
         CAST(floor(EXTRACT(hour FROM bucket) / {SAX_SEG_HOURS}) AS INT) AS seg,
         {dec_sum_sql('x')} AS sseg, COUNT(*) AS cnt
  FROM hourly GROUP BY 1, 2, 3
),
z AS (
  SELECT event_type, day, seg, cnt,
    CASE WHEN sqrt((sxx - sx * sx / n) / n) > 0
         THEN ((sseg / CAST(cnt AS DOUBLE)) - sx / n)
              / sqrt((sxx - sx * sx / n) / n)
         ELSE 0.0 END AS zval
  FROM seg JOIN stats USING (event_type)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       string_agg(CASE WHEN zval < {SAX_BREAKS[0]!r} THEN 'a'
                       WHEN zval < {SAX_BREAKS[1]!r} THEN 'b'
                       WHEN zval < {SAX_BREAKS[2]!r} THEN 'c'
                       ELSE 'd' END, '' ORDER BY seg) AS sax_word,
       CAST(SUM(cnt) AS BIGINT) AS n_hours
FROM z GROUP BY 1, 2
"""


# ----------------------------- seasonal-profile anomaly detection

SEASONAL_Z_FENCE = 3.0


def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly detection: every hourly bucket scored
    against the SAME-HOUR-OF-WEEK profile across all weeks -- the
    operational complement of `events_seasonality` (and the reason it
    exists): 4am traffic compares against other 4am's, so quiet hours
    stop triggering and a quiet TUESDAY LUNCH does.

    Two aggregates, both map-side-combinable and bounded: corpus ->
    hourly buckets, buckets -> (type, dow, hr) profile moments (n, sum,
    sumsq as exact decimals; <= |types| x 168 rows, broadcast back).
    z assembles in fixed-order double arithmetic (sample std, n-1);
    cells with under 2 weeks of history or zero variance yield NULL z
    and never flag -- an explicit guard, not engine 0/0 behavior.
    dow is the integer epoch-day arithmetic (engines disagree on
    dayofweek origin/range; documented on `seasonality_profile`)."""
    keyed = seasonal_keyed_hourly(load_table(spark, sf_dir, "events"))
    return seasonal_score(keyed, seasonal_profile_moments(keyed))


def seasonal_keyed_hourly(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, x, dow, hr): the hourly rollup with its
    profile cell key -- shared by the batch operator and the streaming
    gate's offline profile build, so the two can never drift."""
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    return seasonal_cell_key(hourly)


def seasonal_cell_key(buckets: DataFrame) -> DataFrame:
    """Attach (dow, hr) to any (event_type, bucket, ...) frame -- the
    integer epoch-day dow arithmetic, defined once."""
    dow = (
        F.expr("unix_micros(CAST(bucket AS TIMESTAMP)) div 86400000000")
        + F.lit(3)
    ) % F.lit(7)
    return buckets.select(
        "*", dow.alias("dow"), F.hour("bucket").alias("hr")
    )


def seasonal_profile_moments(keyed: DataFrame) -> DataFrame:
    """(event_type, dow, hr) -> (n_weeks, sx, sxx) decimal moments --
    the profile artifact, defined once for batch and frozen-gate use."""
    return keyed.groupBy("event_type", "dow", "hr").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("x").cast(DEC) * F.col("x").cast(DEC)).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )


def seasonal_score(keyed: DataFrame, prof: DataFrame) -> DataFrame:
    """Score (event_type, bucket, x, dow, hr) rows against profile
    moments -- shared verbatim by the batch operator and the streaming
    gate (`streaming/seasonal_gate.py`), so online and nightly-audit z
    values are definitionally identical."""
    j = keyed.join(F.broadcast(prof), ["event_type", "dow", "hr"])
    n = F.col("n_weeks").cast("double")
    mean = F.col("sx") / n
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    z = F.when(
        (F.col("n_weeks") >= 2) & (var > 0),
        (F.col("x") - mean) / F.sqrt(var),
    )
    return j.select(
        "event_type",
        "bucket",
        F.round(F.col("x"), 6).alias("x"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > SEASONAL_Z_FENCE, F.lit(False)).alias(
            "is_anomaly"
        ),
    )


SEASONAL_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {dec_sum_sql('value')} AS x
  FROM events GROUP BY 1, 2
),
keyed AS (
  SELECT event_type, bucket, x,
         ((epoch_us(bucket) // 86400000000) + 3) % 7 AS dow,
         hour(bucket) AS hr
  FROM hourly
),
prof AS (
  SELECT event_type, dow, hr, COUNT(*) AS n_weeks,
         {dec_sum_sql('x')} AS sx,
         CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(28,10)) * CAST(x AS DECIMAL(28,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM keyed GROUP BY 1, 2, 3
),
z AS (
  SELECT event_type, bucket, x,
    CASE WHEN n_weeks >= 2
          AND (sxx - sx * sx / CAST(n_weeks AS DOUBLE))
              / (CAST(n_weeks AS DOUBLE) - 1) > 0
         THEN (x - sx / CAST(n_weeks AS DOUBLE))
              / sqrt((sxx - sx * sx / CAST(n_weeks AS DOUBLE))
                     / (CAST(n_weeks AS DOUBLE) - 1))
         END AS zval
  FROM keyed JOIN prof USING (event_type, dow, hr)
)
SELECT event_type, bucket, {round_sql('x', 6)} AS x,
       {round_sql('zval', 6)} AS z,
       COALESCE(abs(zval) > {SEASONAL_Z_FENCE!r}, FALSE) AS is_anomaly
FROM z
"""


# ----------------------------- funnel conversion-latency distribution

def funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view -> purchase funnel:
    per user, the gap from FIRST view to the first purchase AFTER it,
    rolled up to conversion rate + exact latency percentiles.  The
    timing companion of `events_funnel` (which counts who converts;
    this measures how long conversion takes -- the metric an SLA or
    campaign review actually asks for).

    One aggregate per user collects both instants as conditional mins
    (no view-to-purchase self-join, the `events_funnel` argument);
    gaps are exact integer microseconds; the corpus-level rollup is a
    second 1-row aggregate with exact percentiles (approx_percentile
    is the 100 TB drop-in, the `agg_ship_latency_monthly` trade)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view")
    )
    with_purchase = (
        ev.select("user_id", "event_type", us.alias("us"))
        .join(per_user, "user_id")
        .groupBy("user_id", "first_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("first_view")),
                    F.col("us"),
                )
            ).alias("first_purchase")
        )
        .filter(F.col("first_view").isNotNull())
    )
    return with_purchase.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("first_purchase").alias("n_converted"),
        # try_divide: zero viewers (empty events slice) must report a
        # NULL rate like the oracle's 0/0, not abort under ANSI
        F.round(
            F.try_divide(
                F.count("first_purchase"), F.count(F.lit(1)).cast("double")
            ),
            6,
        ).alias("conversion_rate"),
        F.round(F.expr(
            "percentile(IF(first_purchase IS NOT NULL,"
            " (first_purchase - first_view) / 1000000.0, NULL), 0.5)"
        ), 6).alias("p50_seconds"),
        F.round(F.expr(
            "percentile(IF(first_purchase IS NOT NULL,"
            " (first_purchase - first_view) / 1000000.0, NULL), 0.95)"
        ), 6).alias("p95_seconds"),
    )


FUNNEL_TIMING_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           AS first_view
  FROM events GROUP BY 1
),
conv AS (
  SELECT e.user_id, p.first_view,
         MIN(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) >= p.first_view
                  THEN epoch_us(e.ts) END) AS first_purchase
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  WHERE p.first_view IS NOT NULL
  GROUP BY 1, 2
)
SELECT COUNT(*) AS n_viewers,
       COUNT(first_purchase) AS n_converted,
       {round_sql('COUNT(first_purchase) / CAST(COUNT(*) AS DOUBLE)', 6)}
         AS conversion_rate,
       {round_sql('quantile_cont((first_purchase - first_view) / 1000000.0, 0.5)', 6)}
         AS p50_seconds,
       {round_sql('quantile_cont((first_purchase - first_view) / 1000000.0, 0.95)', 6)}
         AS p95_seconds
FROM conv
"""


# ------------------------------------ Markov entropy rate (plug-in)

def markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type process under the plug-in
    first-order Markov estimate: H = -sum_ij (c_ij / N) ln(c_ij / c_i.)
    nats per transition, with each state's conditional entropy
    H(next | prev = s) alongside -- `events_markov`'s information-
    theoretic rollup (how PREDICTABLE is the next event? 0 = a
    deterministic funnel, ln(5) = uniform chaos; drift in H is a
    behavior-mix change the transition matrix itself hides in 25
    cells).  Also the conditional entropy's gap to the marginal
    entropy = how much knowing the previous event type buys.

    Same single corpus pass as `events_markov` (one user-sorted lag
    window, 5x5 count aggregate); every ln term quantizes to DECIMAL
    before the bounded sums -- all downstream frames are <= 25 rows.
    Output: one row per prev state (cond_entropy, share) plus the
    corpus row ('__rate__') carrying the entropy rate and the marginal
    type entropy."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    counts = local_checkpoint(  # <= 25 rows; row/marginal branches both consume
        pairs.groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).alias("c"))
    )
    row = counts.groupBy("prev_type").agg(
        F.sum("c").alias("c_row"),
        F.sum(
            (
                F.col("c").cast("double") * F.log(F.col("c").cast("double"))
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("s_clnc"),
    )
    # H(next | prev=s) = ln(c_row) - s_clnc / c_row  (the l-diversity trick)
    cond = row.select(
        "prev_type",
        "c_row",
        (
            F.log(F.col("c_row").cast("double"))
            - F.col("s_clnc") / F.col("c_row").cast("double")
        ).alias("h_cond"),
    )
    tot = cond.agg(
        F.sum("c_row").alias("n"),
        F.sum(
            (F.col("c_row").cast("double") * F.col("h_cond")).cast(
                "decimal(28,10)"
            )
        )
        .cast("double")
        .alias("s_wh"),
    )
    # marginal next-type entropy from the column sums
    marg = (
        counts.groupBy("event_type")
        .agg(F.sum("c").alias("c_col"))
        .agg(
            F.sum("c_col").alias("n2"),
            F.sum(
                (
                    F.col("c_col").cast("double")
                    * F.log(F.col("c_col").cast("double"))
                ).cast("decimal(28,10)")
            )
            .cast("double")
            .alias("s2"),
        )
        .select(
            (F.log(F.col("n2").cast("double")) - F.col("s2") / F.col("n2").cast("double")).alias(
                "h_marginal"
            ),
            "n2",
        )
    )
    per_state = cond.crossJoin(F.broadcast(tot)).select(
        "prev_type",
        F.col("c_row").alias("n_transitions"),
        F.round(F.col("h_cond"), 6).alias("entropy"),
        F.round(
            F.col("c_row").cast("double") / F.col("n").cast("double"), 6
        ).alias("share"),
    )
    rate_row = (
        tot.crossJoin(F.broadcast(marg))
        .select(
            F.lit("__rate__").alias("prev_type"),
            F.col("n").alias("n_transitions"),
            F.round(F.col("s_wh") / F.col("n").cast("double"), 6).alias(
                "entropy"
            ),
            F.round(F.col("h_marginal"), 6).alias("share"),
        )
    )
    return per_state.unionByName(rate_row)


_ME_DEC = "CAST(CAST(SUM(CAST({} AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"

MARKOV_ENTROPY_SQL = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, COUNT(*) AS c
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rowagg AS (
  SELECT prev_type, SUM(c) AS c_row,
         {_ME_DEC.format("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")} AS s_clnc
  FROM counts GROUP BY 1
),
cond AS (
  SELECT prev_type, c_row,
         ln(CAST(c_row AS DOUBLE)) - s_clnc / CAST(c_row AS DOUBLE) AS h_cond
  FROM rowagg
),
tot AS (
  SELECT SUM(c_row) AS n,
         {_ME_DEC.format("CAST(c_row AS DOUBLE) * h_cond")} AS s_wh
  FROM cond
),
marg AS (
  SELECT ln(CAST(SUM(c_col) AS DOUBLE))
         - {_ME_DEC.format("CAST(c_col AS DOUBLE) * ln(CAST(c_col AS DOUBLE))")}
           / CAST(SUM(c_col) AS DOUBLE) AS h_marginal
  FROM (SELECT event_type, SUM(c) AS c_col FROM counts GROUP BY 1)
)
SELECT prev_type, CAST(c_row AS BIGINT) AS n_transitions,
       {round_sql('h_cond', 6)} AS entropy,
       {round_sql('CAST(c_row AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS share
FROM cond, tot
UNION ALL
SELECT '__rate__', CAST(n AS BIGINT),
       {round_sql('s_wh / CAST(n AS DOUBLE)', 6)},
       {round_sql('h_marginal', 6)}
FROM tot, marg
"""


# ---------------------------------------------- maximum drawdown

def hourly_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's hourly value series: the
    deepest peak-to-trough fall (absolute and as a fraction of the
    peak), plus when it bottomed -- the quant-risk stress metric
    applied to operational volume ("how bad did the worst slump get,
    and from what high?").  A mean/variance monitor misses it: the
    drawdown is a PATH property.

    De-recursed like EWMA/CUSUM: running peak = one cumulative-max
    window over the hourly rollup (per-type partitions, bounded by
    hours not corpus), per-row drawdown = peak - x, and the argmax
    resolves deterministically via min(bucket) over rows attaining the
    maximum -- ties to the EARLIEST trough, engine-pinned (max_by tie
    order is not)."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no place on
    # the time axis -- excluded here AND in the oracle CTE AND by the
    # streaming twins' ingest gates, so all three surfaces agree.
    hourly = ev.filter(F.col("ts").isNotNull()).groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    w_run = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    with_dd = hourly.select(
        "event_type",
        "bucket",
        "x",
        F.max("x").over(w_run).alias("peak"),
        (F.max("x").over(w_run) - F.col("x")).alias("dd"),
    )
    per_type = with_dd.groupBy("event_type").agg(
        F.round(F.max("dd"), 6).alias("max_drawdown"),
        F.max("dd").alias("_dd_raw"),
    )
    trough = (
        with_dd.join(per_type, "event_type")
        .filter(F.col("dd") == F.col("_dd_raw"))
        .groupBy("event_type", "max_drawdown")
        .agg(
            F.min("bucket").alias("trough_bucket"),
            F.round(F.min_by("peak", "bucket"), 6).alias("peak_value"),
        )
    )
    return trough.select(
        "event_type",
        "peak_value",
        "max_drawdown",
        F.round(
            F.when(
                F.col("peak_value") > 0,
                F.col("max_drawdown") / F.col("peak_value"),
            ),
            6,
        ).alias("dd_frac"),
        "trough_bucket",
    )


HOURLY_DRAWDOWN_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {dec_sum_sql('value')} AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
with_dd AS (
  SELECT event_type, bucket, x,
         MAX(x) OVER w AS peak,
         MAX(x) OVER w - x AS dd
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS UNBOUNDED PRECEDING)
),
per_type AS (
  SELECT event_type, MAX(dd) AS dd_raw FROM with_dd GROUP BY 1
),
trough AS (
  SELECT w.event_type, MIN(w.bucket) AS trough_bucket, p.dd_raw
  FROM with_dd w JOIN per_type p
    ON w.event_type = p.event_type AND w.dd = p.dd_raw
  GROUP BY 1, 3
)
SELECT t.event_type,
       {round_sql('w.peak', 6)} AS peak_value,
       {round_sql('t.dd_raw', 6)} AS max_drawdown,
       CASE WHEN w.peak > 0
            THEN {round_sql('round(t.dd_raw, 6) / round(w.peak, 6)', 6)} END
         AS dd_frac,
       t.trough_bucket
FROM trough t
JOIN with_dd w ON w.event_type = t.event_type AND w.bucket = t.trough_bucket
"""


# ---------------------------------------------- runs test (randomness)

def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: is the hourly value
    series RANDOM around its median, or does it trend/cluster?  Too
    few runs of above/below-median hours = regimes (the CUSUM/drawdown
    family's precondition); too many = oscillation.  z is closed-form
    from integer counts -- mu = 2 n1 n2 / n + 1, sigma^2 =
    (mu-1)(mu-2)/(n-1) -- so no float accumulation exists anywhere:
    exact integers until the final fixed-order arithmetic.

    Median-valued hours are excluded (the standard convention);
    all-one-sided series have sigma = 0 and yield NULL z explicitly.
    One corpus shuffle to the hourly rollup; the median broadcasts
    back; runs count via one lag over the bounded per-type frame."""
    ev = load_table(spark, sf_dir, "events")
    # event-TIME series contract (r10): a NULL instant has no place on
    # the time axis -- excluded here AND in the oracle CTE AND by the
    # streaming twins' ingest gates, so all three surfaces agree.
    hourly = ev.filter(F.col("ts").isNotNull()).groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("x"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(x, 0.5)").alias("med")
    )
    signed = (
        hourly.join(F.broadcast(med), "event_type")
        .filter(F.col("x") != F.col("med"))
        .select("event_type", "bucket", (F.col("x") > F.col("med")).alias("up"))
    )
    w = W.partitionBy("event_type").orderBy("bucket")
    flips = signed.select(
        "event_type",
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.lag("up").over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.groupBy("event_type").agg(
        F.sum(F.col("up").cast("long")).alias("n1"),
        F.sum((~F.col("up")).cast("long")).alias("n2"),
        F.sum("new_run").alias("runs"),
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    mu = 2.0 * F.col("n1").cast("double") * F.col("n2").cast("double") / n + 1.0
    var = (mu - 1.0) * (mu - 2.0) / (n - 1.0)
    z = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (n > 1) & (var > 0),
        (F.col("runs").cast("double") - mu) / F.sqrt(var),
    )
    return agg.select(
        "event_type",
        "n1",
        "n2",
        "runs",
        F.round(mu, 6).alias("expected_runs"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("nonrandom"),
    )


RUNS_TEST_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {dec_sum_sql('value')} AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(x, 0.5) AS med FROM hourly GROUP BY 1
),
signed AS (
  SELECT h.event_type, bucket, x > med AS up
  FROM hourly h JOIN med ON h.event_type = med.event_type
  WHERE x <> med
),
flips AS (
  SELECT event_type, up,
         CASE WHEN lag(up) OVER w IS NULL OR lag(up) OVER w <> up
              THEN 1 ELSE 0 END AS new_run
  FROM signed
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
agg AS (
  SELECT event_type,
         COUNT(*) FILTER (WHERE up) AS n1,
         COUNT(*) FILTER (WHERE NOT up) AS n2,
         SUM(new_run) AS runs
  FROM flips GROUP BY 1
),
calc AS (
  SELECT event_type, n1, n2, runs,
         2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           / CAST(n1 + n2 AS DOUBLE) + 1.0 AS mu,
         CAST(n1 + n2 AS DOUBLE) AS n
  FROM agg
)
SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(runs AS BIGINT) AS runs,
       {round_sql('mu', 6)} AS expected_runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
                 AND (mu - 1.0) * (mu - 2.0) / (n - 1.0) > 0
            THEN {round_sql(
           "(CAST(runs AS DOUBLE) - mu)"
           " / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0))", 6)} END AS z,
       COALESCE(abs(CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
                 AND (mu - 1.0) * (mu - 2.0) / (n - 1.0) > 0
            THEN {round_sql(
           "(CAST(runs AS DOUBLE) - mu)"
           " / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0))", 6)} END) > 1.96,
            FALSE) AS nonrandom
FROM calc
"""
