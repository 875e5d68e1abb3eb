"""Headline relational analytics: aggregation, joins, windows, rollup, set
ops, top-k. The reference has none of these (SURVEY.md §2.6) -- its only
query is `SELECT * FROM enriched_orders` -- but this engine is the superset
surface a user migrating off it onto Spark gets, and these queries are the
bench workload.

Scale notes (each query's plan audited with .explain):
  - dimension joins (nation, customer, part) are explicit `broadcast()`:
    at 100 TB the fact side streams, no shuffle for the dim side.
  - aggregates use dec_sum (order-independent; still map-side partial agg).
  - top-k = window row_number with a deterministic tie-break, which Spark
    executes as partial top-k per partition before the single shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import (
    DEC,
    dec_avg,
    dec_sum,
    dec_sum_sql,
    round_sql,
)
from streamprocessing_with_kafka_spark.sources.tables import load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            dec_avg("l_quantity", cnt).alias("avg_qty"),
            dec_avg("l_extendedprice", cnt).alias("avg_price"),
            dec_avg("l_discount", cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {dec_sum_sql('l_quantity')} AS sum_qty,
  {dec_sum_sql('l_extendedprice')} AS sum_base_price,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {dec_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {dec_sum_sql('l_quantity')} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
  {dec_sum_sql('l_extendedprice')} / CAST(COUNT(*) AS DOUBLE) AS avg_price,
  {dec_sum_sql('l_discount')} / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders |X| customer |X| nation, revenue per nation; dims broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            dec_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
  {dec_sum_sql('o_totalprice')} AS revenue,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# Oracle-paired knobs: each parameterized operator's default AND its SQL
# oracle interpolate the SAME constant, so a default change cannot
# silently desync the registered pairing (a non-default call site owns
# its own oracle).
TOP_ORDERS_K = 3
TOP_PARTS_K = 10
SHIPPING_PRIORITY_K = 10
RETURNED_ITEM_K = 20
LARGE_VOLUME_THRESHOLD = 300


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = TOP_ORDERS_K) -> DataFrame:
    """Ranking window: top-k orders per customer, deterministic tie-break."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


TOP_ORDERS_PER_CUSTOMER_SQL = f"""
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
  FROM orders
)
WHERE rank_in_cust <= {TOP_ORDERS_K}
"""


def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority): multi-level aggregate in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        dec_sum("o_totalprice").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDER_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
  {dec_sum_sql('o_totalprice')} AS total_revenue,
  COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def urgent_not_fulfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: customers with urgent orders EXCEPT customers with
    fulfilled ('F') orders -- distinct semantics in both engines."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return urgent.subtract(fulfilled)  # EXCEPT DISTINCT semantics


URGENT_NOT_FULFILLED_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def top_parts_by_revenue(spark: SparkSession, sf_dir: str, k: int = TOP_PARTS_K) -> DataFrame:
    """Top-k fact-side aggregate joined to a broadcast dimension.

    rebalance=False: the fact side's only map work is a partial aggregate
    that feeds its own (tiny, per-partkey) exchange -- the round-robin
    fan-out exchange costs more than the single-split partial agg saves
    (r12 A/B: 1.70s -> 1.02s at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem", rebalance=False)
    p = load_table(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return (
        rev.join(F.broadcast(p), rev.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "p_brand", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("p_partkey").asc())
        .limit(k)
    )


TOP_PARTS_BY_REVENUE_SQL = f"""
SELECT p_partkey, p_name, p_brand, revenue
FROM (
  SELECT l_partkey, {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY l_partkey
) r
JOIN part ON l_partkey = p_partkey
ORDER BY revenue DESC, p_partkey ASC
LIMIT {TOP_PARTS_K}
"""


def shipping_priority(spark: SparkSession, sf_dir: str, k: int = SHIPPING_PRIORITY_K) -> DataFrame:
    """TPC-H Q3-style: 3-way fact join with pre-join filters on every
    input, group on the order, top-k by revenue.

    Plan audit: the customer filter prunes BEFORE the join (predicate
    pushdown to the scan), customer broadcasts (post-filter it is a
    fraction of a dimension), orders |X| lineitem shuffles once on the
    order key, and the top-k is a partial-per-partition sort under the
    single result shuffle.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    # rebalance=False: the pushed-down shipdate filter plus the join's own
    # exchange on l_orderkey make the pre-shuffle map work trivial; the
    # rebalance exchange only added a second full-fact shuffle (r12 A/B:
    # 1.45s -> 0.61s at sf0.1).
    li = load_table(spark, sf_dir, "lineitem", rebalance=False).filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


SHIPPING_PRIORITY_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {SHIPPING_PRIORITY_K}
"""


def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast LEFT SEMI join: customers having >= 1 urgent order --
    existence test without materializing the match (no row duplication,
    no distinct needed; the probe side short-circuits on first hit)."""
    c = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(
        F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


CUSTOMERS_WITH_URGENT_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status, priority): all 4 grouping combinations in one pass
    (the Expand operator fans each row into its grouping sets map-side --
    one shuffle total, vs 4 separate aggregations)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dec_sum("o_totalprice").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDER_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
  {dec_sum_sql('o_totalprice')} AS total_revenue,
  COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


SALT_BUCKETS = 8


def salted_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: the skew-proof rewrite of a groupBy
    on a low-cardinality/hot key (o_orderstatus has 3 values, so a plain
    groupBy funnels the whole table through 3 reducers at 100 TB).

    Phase 1 groups on (key, salt) -- SALT_BUCKETS x the reducers, each a
    bounded slice of the hot key; phase 2 combines the per-salt partials.
    The salt is derived from the row's own PK (deterministic, not rand()),
    and the partial sums STAY decimal until the final cast so the result
    is bit-identical to the unsalted single-phase oracle -- salting is a
    pure physical rewrite, invisible in the answer.
    """
    o = load_table(spark, sf_dir, "orders")
    salted = o.withColumn("_salt", F.pmod(F.col("o_orderkey"), F.lit(SALT_BUCKETS)))
    partial = salted.groupBy("o_orderstatus", "_salt").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_part"),
        F.count(F.lit(1)).alias("n_part"),
    )
    return partial.groupBy("o_orderstatus").agg(
        F.sum("rev_part").cast("double").alias("revenue"),
        F.sum("n_part").alias("n_orders"),
    )


SALTED_REVENUE_BY_STATUS_SQL = f"""
SELECT o_orderstatus,
  {dec_sum_sql('o_totalprice')} AS revenue,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER customer->orders so zero-order
    customers survive, per-customer order count, then the distribution of
    those counts.

    The order-side filter lives BEFORE the join (equivalent to the
    spec's ON-clause filter) -- pushing it into the scan shrinks the
    shuffled fact side. First join shuffles on custkey (both sides large
    at scale -> SMJ is correct); the second aggregate is on c_count,
    whose cardinality is tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (per-part average
    quantity) decorrelated into a groupBy + equi-join back to the fact,
    with the brand dim broadcast.

    The avg is dec-safe (exact decimal sum / count) so the threshold
    comparison is bit-identical to the oracle's. At scale: lineitem
    shuffles once on l_partkey, reused by both the aggregate and the
    join back (co-partitioned); the filtered part table broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = li.groupBy("l_partkey").agg(
        dec_avg("l_quantity", F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


SMALL_QUANTITY_REVENUE_SQL = f"""
WITH avg_q AS (
  SELECT l_partkey,
    {dec_sum_sql('l_quantity')} / CAST(COUNT(*) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {dec_sum_sql('l.l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN avg_q a ON l.l_partkey = a.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * a.avg_qty
"""


def large_volume_customers(spark: SparkSession, sf_dir: str, threshold: int = LARGE_VOLUME_THRESHOLD) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact-side aggregate, joined back to
    orders and customer.

    Scale plan: lineitem shuffles ONCE for the per-order quantity sum
    (map-side combinable); the HAVING filter collapses it to a sliver
    (~0.005% of orders at the spec threshold), which then BROADCASTS to
    orders -- the big table never shuffles. The order-level result is
    itself tiny, so it broadcasts again into customer: two broadcast
    joins, one shuffle total, regardless of scale factor. The threshold
    compares dec_sum doubles, bit-identical to the oracle's HAVING."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > threshold)
    )
    hits = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
    return c.join(F.broadcast(hits), hits.o_custkey == c.c_custkey).select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
    )


LARGE_VOLUME_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, {dec_sum_sql('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
) b
JOIN orders ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE sum_qty > {LARGE_VOLUME_THRESHOLD}
"""


def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()): the general form
    behind ROLLUP/CUBE, through the spark.sql text front end (the
    DataFrame API exposes only the rollup/cube shorthands).

    Same physical plan as rollup/cube: one Expand fans each row into its
    3 grouping sets map-side, one shuffle totals them -- vs 3 separate
    aggregations and 3 scans if written naively as a UNION ALL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) AS total_revenue,
          COUNT(*) AS n_orders
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


ORDER_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
  {dec_sum_sql('o_totalprice')} AS total_revenue,
  COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def urgent_and_fulfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: customers with urgent orders INTERSECT customers with
    fulfilled ('F') orders -- completes the set-op family next to
    EXCEPT (urgent_not_fulfilled) and UNION ALL (crud_append).

    Spark plans INTERSECT as a distinct-aggregated left-semi join: one
    shuffle per side on the full row as key. Both inputs here are
    single-column projections of the same scan, pruned before the
    exchange."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return urgent.intersect(fulfilled)  # INTERSECT DISTINCT semantics


URGENT_AND_FULFILLED_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join -- region gates nation, nation
    gates customer AND supplier, revenue counted only when the lineitem's
    supplier sits in the customer's own nation.

    Scale plan: region/nation/customer/supplier are all dimension-sized
    -> every dim hop is a broadcast; the only shuffle is lineitem |X|
    orders on the order key. The local-supplier condition
    (s_nationkey = c_nationkey) rides on the supplier broadcast join as
    an extra predicate instead of a post-join filter, so non-local rows
    die at the probe. Customer at true 100 TB scale outgrows broadcast:
    then c joins orders pre-shuffled on custkey and the plan gains one
    exchange -- the structure is otherwise unchanged."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    # rebalance=False: lineitem's map side is broadcast probes feeding the
    # single join exchange on l_orderkey -- no per-row work worth a
    # fan-out exchange (r12 A/B: 1.21s -> 0.98s at sf0.1).
    li = load_table(spark, sf_dir, "lineitem", rebalance=False)
    cn = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == cn.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n_name,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
"""


def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery (global mean balance)
    feeding a filter, anti-joined against orders, re-aggregated by
    segment.

    The scalar lives in-plan as a 1-row broadcast cross join (never a
    driver-side collect -- that would serialize the DAG). The NOT EXISTS
    is a left-anti join; both sides shuffle on custkey at scale (SMJ),
    with the order side pre-projected to the join key only. The balance
    threshold compares dec_avg doubles, bit-identical to the oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        dec_avg("c_acctbal", F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
    )


INACTIVE_RICH_CUSTOMERS_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS numcust,
  {dec_sum_sql('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT {dec_sum_sql('c_acctbal')} / CAST(COUNT(*) AS DOUBLE)
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def cheapest_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 decorrelation pattern: per-group argmin as a single
    min-over-comparable-struct AGGREGATE instead of a window or a
    correlated subquery.

    The naive shapes are a correlated min subquery (re-scans per group)
    or a row_number window, which must SHUFFLE EVERY ROW to its
    partition before sorting. min(struct(...)) is map-side combinable:
    each map task reduces to one candidate per nation before the
    exchange, so the shuffle moves |nations| rows, not |suppliers|.
    (Physically it compiles to SortAggregate -- struct buffers aren't
    hash-aggregable -- but that sort is per-map-task on the grouping
    key, upstream of the tiny shuffle.) The struct compares
    lexicographically (acctbal, then suppkey), so ties break
    deterministically on the unique key."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    best = (
        s.groupBy("s_nationkey")
        .agg(F.min(F.struct("s_acctbal", "s_suppkey", "s_name")).alias("best"))
        .select(
            "s_nationkey",
            F.col("best.s_suppkey").alias("s_suppkey"),
            F.col("best.s_name").alias("s_name"),
            F.col("best.s_acctbal").alias("s_acctbal"),
        )
    )
    return best.join(F.broadcast(n), best.s_nationkey == n.n_nationkey).select(
        "n_name", "s_suppkey", "s_name", "s_acctbal"
    )


CHEAPEST_SUPPLIER_PER_NATION_SQL = """
SELECT n_name, s_suppkey, s_name, s_acctbal
FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
    ROW_NUMBER() OVER (PARTITION BY s_nationkey
                       ORDER BY s_acctbal ASC, s_suppkey ASC) AS rk
  FROM supplier
)
JOIN nation ON s_nationkey = n_nationkey
WHERE rk = 1
"""


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table scan with three range predicates and
    one aggregate -- the pure filter-pushdown benchmark. All three
    predicates reach the parquet reader (min/max row-group skipping at
    scale); the aggregate is one map-side-combinable decimal sum, so the
    query runs at scan speed with no exchange of row data at all."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


FORECAST_REVENUE_CHANGE_SQL = f"""
SELECT {dec_sum_sql('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def returned_item_topk(spark: SparkSession, sf_dir: str, k: int = RETURNED_ITEM_K) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned
    items. lineitem filters to returnflag='R' at the scan, joins orders
    on the order key (the one big shuffle), re-aggregates per customer
    (second shuffle, co-keyed on custkey), then the customer dim
    broadcasts onto the tiny aggregate and global top-k takes one
    partial-sorted limit."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    lost = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    return (
        lost.join(F.broadcast(c), lost.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


RETURNED_ITEM_TOPK_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment, revenue
FROM (
  SELECT o_custkey, {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY o_custkey
) r
JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT {RETURNED_ITEM_K}
"""


def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share)
    over a broadcast part join. Both sums ride the same aggregate (one
    pass, no second scan); the ratio divides two exact decimal sums in
    double, so it is engine-deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            dec_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)).alias(
                "promo_revenue"
            ),
            dec_sum(rev).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(
                100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6
            ).alias("promo_pct"),
        )
    )


_Q14_REV = "l_extendedprice * (1 - l_discount)"

PROMO_REVENUE_PCT_SQL = f"""
SELECT promo_revenue, total_revenue,
  {round_sql('100.0 * promo_revenue / total_revenue', 6)} AS promo_pct
FROM (
  SELECT
    {dec_sum_sql(f"CASE WHEN p_type = 'PROMO' THEN {_Q14_REV} ELSE 0.0 END")}
      AS promo_revenue,
    {dec_sum_sql(_Q14_REV)} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
)
"""


def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunct groups mixing join-side columns --
    the optimizer stress case. Catalyst extracts the common l_partkey
    equi-condition so the join stays a broadcast HASH join (never a
    nested-loop over the disjunction); the residual OR evaluates on the
    probe side, and the per-branch part predicates are pushed into the
    build side as (brand A OR brand B OR brand C)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = lambda brand, qlo, qhi, smax: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
        & (F.col("p_size") <= smax)
    )
    return j.filter(
        branch("Brand#12", 1, 11, 5)
        | branch("Brand#23", 10, 20, 10)
        | branch("Brand#15", 20, 30, 15)
    ).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


DISJUNCTIVE_PREDICATE_REVENUE_SQL = f"""
SELECT {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#15' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
"""


def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a non-equi conjunct
    (any lineitem shipped > 60 days after the order date), decorrelated
    into a LEFT SEMI join on the order key carrying the date comparison
    as a residual condition, then a tiny priority rollup. The semi join
    probes and short-circuits -- qualifying orders are never duplicated
    by their matching lineitems."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            # interval add, NOT date_add: date_add would truncate the
            # timestamp to a date (midnight) and shift the comparison for
            # any non-midnight order timestamps
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


LATE_SHIPMENT_PRIORITY_COUNTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def customer_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions over per-customer revenue:
    ntile(4) quartile, percent_rank, cume_dist -- the marketing-segment
    cut ("which revenue quartile is this account in?").

    Revenue aggregates once on o_custkey (map-side combinable), then the
    customer dim LEFT-joins so order-less customers rank at 0 revenue
    (the tie block the deterministic (revenue DESC, custkey) total order
    exists for -- ntile on a partial order is nondeterministic). The
    rank window is a single global sort over the |customers| frame --
    fine for a dim; at 100 TB fact granularity use the two-phase
    quantile-sketch cut instead (`sketch_value_quantiles`)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(dec_sum("o_totalprice"), 2).alias("revenue")
    )
    ranked = c.join(rev, c.c_custkey == rev.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )
    w = W.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return ranked.select(
        "c_custkey",
        "c_mktsegment",
        "revenue",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


CUSTOMER_REVENUE_QUARTILES_SQL = f"""
WITH rev AS (
  SELECT o_custkey, {round_sql(dec_sum_sql('o_totalprice'), 2)} AS revenue
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c_custkey, c_mktsegment, COALESCE(rev.revenue, 0.0) AS revenue
  FROM customer LEFT JOIN rev ON c_custkey = o_custkey
)
SELECT c_custkey, c_mktsegment, revenue,
       ntile(4) OVER w AS quartile,
       {round_sql('percent_rank() OVER w', 6)} AS pct_rank,
       {round_sql('cume_dist() OVER w', 6)} AS cume
FROM ranked
WINDOW w AS (ORDER BY revenue DESC, c_custkey ASC)
"""


BASKET_MIN_SUPPORT = 2  # pairs must co-occur in >= this many orders
BASKET_TOP_K = 50


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: which parts are bought TOGETHER --
    pairwise co-occurrence with support, confidence, and lift, top-K by
    lift.  The classic retail frequent-itemset primitive (the 2-itemset
    level of Apriori; deeper levels iterate the same shape).

    NO lineitem self-join: each order's sorted distinct part set emits
    its own C(k,2) ordered pairs in place through a nested-transform
    explode (the `events_type_overlap` marker pattern) -- per-order pair
    count is bounded by basket size (<= C(13,2) here), so the explode is
    a narrow map and the only corpus shuffles are the per-order
    collect_set and the map-side-combinable pair count.  Part counts and
    the 1-row order total broadcast back onto the |frequent pairs|
    frame.  The DuckDB oracle uses the textbook self-join formulation --
    two algorithms, one fixpoint.

    lift = N * c_ab / (c_a * c_b) > 1 means the pair co-occurs more
    than independence predicts; ties in the top-K break on (pa, pb)."""
    # NULL keys are not basket members: a line with no order identity
    # pools into one phantom mega-basket (fabricated pairs) and a NULL
    # part is not an item -- both sides gate them (r10 mixed_keys sweep).
    # rebalance=False: the pre-distinct map work is a filter+project; the
    # distinct's own exchange does the fan-out (r12).
    li = (
        load_table(spark, sf_dir, "lineitem", rebalance=False)
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    # The basket aggregate's exchange is pinned to defaultParallelism
    # (explicit repartition on the group key, reused by the groupBy):
    # the stage reading it explodes C(k,2) pairs per basket and partial-
    # counts them -- fan-out work AQE would otherwise coalesce onto a
    # handful of partitions sized from the few-MB basket frame (r12
    # stage profile: the pair stage ran 6 tasks).
    per_order = (
        li.repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    parts = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + 2, F.size(parts)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pair_counts = (
        per_order.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= BASKET_MIN_SUPPORT)
    )
    # part counts and the order total RE-aggregate from the per-order
    # frame: all three consumers share its orderkey exchange (AQE plans
    # ReusedExchange, pinned in test_plan_shapes.py), so the corpus
    # scan+shuffle runs once
    part_counts = (
        per_order.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_row = per_order.agg(F.count(F.lit(1)).alias("n_orders"))
    scored = (
        pair_counts.join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("pa"), F.col("c").alias("c_a"))),
            "pa",
        )
        .join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("pb"), F.col("c").alias("c_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "pa",
            "pb",
            "c_ab",
            F.round(F.col("c_ab") / F.col("n_orders").cast("double"), 6).alias("support"),
            F.round(F.col("c_ab") / F.col("c_a").cast("double"), 6).alias("confidence_a_to_b"),
            F.round(
                (F.col("c_ab") * F.col("n_orders")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return (
        scored.orderBy(F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(BASKET_TOP_K)
    )


BASKET_PART_PAIRS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
pair_counts AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
),
part_counts AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
n_row AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
SELECT pa, pb, c_ab,
       {round_sql('c_ab / CAST(n_orders AS DOUBLE)', 6)} AS support,
       {round_sql('c_ab / CAST(ca.c AS DOUBLE)', 6)} AS confidence_a_to_b,
       {round_sql('CAST(c_ab * n_orders AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE)', 6)} AS lift
FROM pair_counts
JOIN part_counts ca ON ca.l_partkey = pa
JOIN part_counts cb ON cb.l_partkey = pb
CROSS JOIN n_row
ORDER BY lift DESC, pa ASC, pb ASC
LIMIT {BASKET_TOP_K}
"""


# ------------------------------------------- RFM customer segmentation

RFM_QUARTILES = (0.25, 0.5, 0.75)


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    customers from their order history -- the classic marketing-
    analytics rollup (segment '444' = recent, frequent, big spenders).

    Per-customer stats are ONE map-side-combinable aggregate over
    orders (the only corpus shuffle); recency is exact INTEGER
    epoch-day arithmetic against the corpus max date (1-row broadcast
    -- the dayofweek/div traps documented on events_seasonality apply
    here too); quartile edges come from one exact-percentile aggregate
    over the customer frame (approx_percentile is the 100 TB swap) and
    broadcast back; scores are pure comparisons (recency reversed:
    recent = high).  Output: one row per (r, f, m) segment with
    customer count and exact-decimal average spend -- <= 64 rows."""
    orders = load_table(spark, sf_dir, "orders")
    day = "unix_micros(CAST({} AS TIMESTAMP)) div 86400000000"
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.expr(day.format("o_orderdate"))).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        dec_sum("o_totalprice").alias("monetary"),
    )
    maxd = orders.agg(
        F.max(F.expr(day.format("o_orderdate"))).alias("max_day")
    )
    # checkpoint: cust feeds BOTH the edges aggregate and the scoring
    # pass -- without it each consumer re-derives it from a fresh
    # orders scan
    cust = local_checkpoint(
        cust.crossJoin(F.broadcast(maxd))
        .withColumn("recency", F.col("max_day") - F.col("last_day"))
    )
    edges = cust.agg(
        *[
            F.expr(f"percentile({c}, {q!r})").alias(f"{c}_q{i}")
            for c in ("recency", "frequency", "monetary")
            for i, q in enumerate(RFM_QUARTILES, 1)
        ]
    )
    scored = cust.crossJoin(F.broadcast(edges))

    def up_score(c):  # higher value -> higher score
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c}_q1")).cast("int")
            + (F.col(c) > F.col(f"{c}_q2")).cast("int")
            + (F.col(c) > F.col(f"{c}_q3")).cast("int")
        )

    def down_score(c):  # lower value (recent) -> higher score
        return (
            F.lit(1)
            + (F.col(c) <= F.col(f"{c}_q3")).cast("int")
            + (F.col(c) <= F.col(f"{c}_q2")).cast("int")
            + (F.col(c) <= F.col(f"{c}_q1")).cast("int")
        )

    return (
        scored.select(
            down_score("recency").alias("r_score"),
            up_score("frequency").alias("f_score"),
            up_score("monetary").alias("m_score"),
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                dec_sum("monetary") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_monetary"),
        )
    )


def _rfm_sql() -> str:
    day = "epoch_us(CAST({} AS TIMESTAMP)) // 86400000000"
    edge_cols = ", ".join(
        f"quantile_cont({c}, {q!r}) AS {c}_q{i}"
        for c in ("recency", "frequency", "monetary")
        for i, q in enumerate(RFM_QUARTILES, 1)
    )
    up = (
        "1 + CAST({c} > {c}_q1 AS INT) + CAST({c} > {c}_q2 AS INT)"
        " + CAST({c} > {c}_q3 AS INT)"
    )
    down = (
        "1 + CAST({c} <= {c}_q3 AS INT) + CAST({c} <= {c}_q2 AS INT)"
        " + CAST({c} <= {c}_q1 AS INT)"
    )
    return f"""
WITH cust AS (
  SELECT o_custkey,
         MAX({day.format('o_orderdate')}) AS last_day,
         COUNT(*) AS frequency,
         {dec_sum_sql('o_totalprice')} AS monetary
  FROM orders GROUP BY 1
), maxd AS (
  SELECT MAX({day.format('o_orderdate')}) AS max_day FROM orders
), cust2 AS (
  SELECT c.*, m.max_day - c.last_day AS recency FROM cust c, maxd m
), edges AS (
  SELECT {edge_cols} FROM cust2
), scored AS (
  SELECT {down.format(c='recency')} AS r_score,
         {up.format(c='frequency')} AS f_score,
         {up.format(c='monetary')} AS m_score,
         monetary
  FROM cust2, edges
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       {round_sql("CAST(CAST(SUM(CAST(monetary AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / COUNT(*)::DOUBLE", 6)}
         AS avg_monetary
FROM scored GROUP BY 1, 2, 3
"""


RFM_SEGMENTS_SQL = _rfm_sql()


# ---------------------------------- revenue concentration (Gini/Pareto)

TOP_SHARE_PCT = 0.1  # "do the top 10% of customers carry the revenue?"


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration diagnostics over customer spend: exact
    Gini coefficient (sort-based formula G = (2*SUM(i*x_i))/(n*SUM(x))
    - (n+1)/n over ascending spend) and the revenue share of the top
    TOP_SHARE_PCT customers -- the Pareto dashboard for 'how skewed is
    our demand', feeding the same salting/broadcast decisions as
    profile_key_skew but in value terms.

    One corpus aggregate to per-customer spend; the rank window and
    both decimal sums run on the customer frame.  Rank ties break on
    customer key, but G is tie-permutation invariant (equal x_i swap
    freely in SUM(i*x_i)); i*x_i products quantize to DECIMAL before
    summing so the statistic is partition-order independent.  Output:
    one row (n_customers, total_revenue, gini, top_share)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        dec_sum("o_totalprice").alias("spend")
    )
    # the global rank is the sort-based Gini formula's requirement; at
    # 100 TB replace with two-phase ranking (per-partition ranks +
    # range-partitioned offsets). checkpoint: ranked feeds both sums
    # and the top-slice filter
    w = W.orderBy(F.asc("spend"), F.asc("o_custkey"))
    ranked = local_checkpoint(cust.withColumn("i", F.row_number().over(w)))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("spend").cast(DEC)).alias("total"),
        F.sum(
            (F.col("i").cast("double") * F.col("spend")).cast(DEC)
        ).alias("iw_sum"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("iw_sum").cast("double")
        / (n_d * F.col("total").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    top_k = F.ceil(n_d * F.lit(TOP_SHARE_PCT)).cast("int")
    top = ranked.crossJoin(F.broadcast(agg.select("n"))).filter(
        F.col("i") > F.col("n") - F.ceil(
            F.col("n").cast("double") * F.lit(TOP_SHARE_PCT)
        ).cast("int")
    ).agg(F.sum(F.col("spend").cast(DEC)).alias("top_sum"))
    return (
        agg.crossJoin(F.broadcast(top))
        .select(
            F.col("n").alias("n_customers"),
            F.round(F.col("total").cast("double"), 2).alias("total_revenue"),
            F.round(gini, 6).alias("gini"),
            F.round(
                F.col("top_sum").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("top_share"),
        )
    )


REVENUE_CONCENTRATION_SQL = f"""
WITH cust AS (
  SELECT o_custkey, {dec_sum_sql('o_totalprice')} AS spend
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey, spend,
         ROW_NUMBER() OVER (ORDER BY spend ASC, o_custkey ASC) AS i
  FROM cust
), agg AS (
  SELECT COUNT(*) AS n,
         CAST(CAST(SUM(CAST(spend AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total,
         CAST(CAST(SUM(CAST(i::DOUBLE * spend AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS iw_sum
  FROM ranked
), top AS (
  SELECT CAST(CAST(SUM(CAST(r.spend AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS top_sum
  FROM ranked r, agg a
  WHERE r.i > a.n - CAST(CEIL(a.n::DOUBLE * {TOP_SHARE_PCT!r}) AS INT)
)
SELECT n AS n_customers,
       {round_sql("total", 2)} AS total_revenue,
       {round_sql("2.0 * iw_sum / (n::DOUBLE * total) - (n::DOUBLE + 1.0) / n::DOUBLE", 6)} AS gini,
       {round_sql("top_sum / total", 6)} AS top_share
FROM agg, top
"""


# ------------------------------------------- skyline (Pareto frontier)

def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier operator (Borzsony, Kossmann &
    Stocker, ICDE 2001): the orders not dominated on the
    (more recent o_orderdate, higher o_totalprice) plane -- "the best
    price ever seen as of each date, scanning backward from today".
    A row is dominated if another row is at least as good on both
    dimensions and strictly better on one.  Classic relational
    operator Spark has no primitive for; here it decomposes into
    aggregates + one bounded window.

    Scale shape: the corpus collapses FIRST -- one map-side-combinable
    groupBy onto the (o_orderdate, o_totalprice) grid, then per-date
    max -- so every later step runs on <= |distinct dates| rows
    (TPC-H's date domain is bounded: ~2.4k days regardless of SF; for
    an unbounded dimension the `vocab_growth` bucket decomposition
    slots in).  The frontier test is then one ordered scan: keep a
    date's best price iff it strictly beats the running max over all
    MORE RECENT dates.  The DuckDB oracle runs the quadratic
    NOT-EXISTS domination definition -- two algorithms, one answer.

    Output: the frontier points (date, price) with the number of
    orders sitting exactly on each point.  Points with a NULL
    coordinate are excluded at the scan (pushed-down): they cannot be
    placed on the dominance plane, and under NULLs the quadratic
    NOT-EXISTS definition would put every such point on the frontier
    (no domination is provable through a NULL comparison) while the
    ordered-scan decomposition drops them -- the r9 mixed-nulls sweep's
    4-vs-299-row divergence."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    grid = orders.groupBy("o_orderdate", "o_totalprice").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_date = W.partitionBy("o_orderdate").orderBy(
        F.col("o_totalprice").desc()
    )
    best = (
        grid.withColumn("rn", F.row_number().over(per_date))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # bounded global window: |distinct dates| rows (~2.4k), documented
    # above -- NOT the corpus
    later = W.orderBy(F.col("o_orderdate").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    return (
        best.withColumn("max_later", F.max("o_totalprice").over(later))
        .filter(
            F.col("max_later").isNull()
            | (F.col("o_totalprice") > F.col("max_later"))
        )
        .select("o_orderdate", "o_totalprice", "n_orders")
    )


PARETO_FRONTIER_SQL = """
WITH pts AS (
  SELECT o_orderdate, o_totalprice FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
)
SELECT o_orderdate, o_totalprice, COUNT(*) AS n_orders
FROM pts o
WHERE NOT EXISTS (
  SELECT 1 FROM pts d
  WHERE (d.o_totalprice > o.o_totalprice AND d.o_orderdate >= o.o_orderdate)
     OR (d.o_totalprice >= o.o_totalprice AND d.o_orderdate > o.o_orderdate)
)
GROUP BY 1, 2
"""


# ------------------------------------------ ship-latency SLA percentiles

def ship_latency_monthly(
    spark: SparkSession, sf_dir: str, first_ship: DataFrame | None = None
) -> DataFrame:
    """Fulfilment-SLA dashboard: per order month, exact p50/p95 and
    mean of order-to-FIRST-ship latency in days.  Two map-side-
    combinable shuffles, both bounded: lineitem collapses onto its
    order (first ship date), then orders collapse onto ~84 months.
    Exact percentile() here; `approx_percentile` with the same call
    shape is the 100 TB drop-in (the `window_customer_quartiles`
    trade, documented there).

    `first_ship` lets a composition (pipeline_orders_ops_report) pass a
    pre-materialized (l_orderkey, first_ship) frame so the lineitem
    aggregate runs once per pipeline invocation instead of once per
    consumer; default = computed here, bit-identical."""
    if first_ship is None:
        first_ship = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.min("l_shipdate").alias("first_ship"))
        )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lat = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        F.date_trunc("MONTH", F.col("o_orderdate")).alias("month"),
        F.datediff(
            F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lat_days"),
    )
    return lat.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("percentile(lat_days, 0.5)").alias("p50_days"),
        F.expr("percentile(lat_days, 0.95)").alias("p95_days"),
        F.round(dec_sum(F.col("lat_days").cast("double")) / F.count(F.lit(1)), 6).alias(
            "avg_days"
        ),
    )


SHIP_LATENCY_MONTHLY_SQL = f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(l_shipdate) AS first_ship
  FROM lineitem GROUP BY 1
),
lat AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         datediff('day', CAST(o_orderdate AS DATE), CAST(first_ship AS DATE))
           AS lat_days
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
)
SELECT CAST(month AS TIMESTAMP) AS month, COUNT(*) AS n_orders,
       quantile_cont(lat_days, 0.5) AS p50_days,
       quantile_cont(lat_days, 0.95) AS p95_days,
       {round_sql(dec_sum_sql('CAST(lat_days AS DOUBLE)') + ' / COUNT(*)', 6)} AS avg_days
FROM lat GROUP BY 1
"""


# ----------------------------------------- exact mode w/ deterministic ties

def mode_segment_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a DETERMINISTIC tie-break -- the
    aggregate SQL gives you only via engine-defined mode()/min_by()
    tie order (DuckDB documents "first found", Spark picks
    arbitrarily): per nation, the most common customer market segment,
    ties to the lexicographically smallest segment.  Counts collapse
    the corpus in one map-side-combinable shuffle; the ranking window
    runs on the bounded |nations| x |segments| frame (<= 125 rows at
    every SF)."""
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    # asc_nulls_last is load-bearing: the oracle session default is now
    # Spark-aligned (nulls_first_on_asc, tests/oracle_harness.py), so
    # the oracle's explicit ASC NULLS LAST is an intentional per-query
    # override, matched here. A real segment beats "unknown" on ties
    # (r9 mixed-nulls sweep).
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("n").desc(), F.col("c_mktsegment").asc_nulls_last()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("modal_segment"),
            F.col("n").alias("n_customers"),
        )
    )


MODE_SEGMENT_BY_NATION_SQL = """
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment AS modal_segment, n AS n_customers
FROM counts
QUALIFY ROW_NUMBER() OVER (PARTITION BY c_nationkey
                           ORDER BY n DESC, c_mktsegment ASC NULLS LAST) = 1
"""


# ------------------------------------------------ cohort LTV triangle

def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value triangle: customers cohorted by FIRST-
    order month, then each cohort's cumulative revenue per member at
    0, 1, 2, ... months since acquisition -- the companion of
    `events_cohort_retention` on the money axis (marketing reads the
    diagonal to compare acquisition vintages at equal age).

    Shape: orders collapse per customer (first-order month) in one
    map-side-combinable pass, rejoin on custkey (the corpus' one
    row-level shuffle), aggregate to the bounded (cohort, age) grid,
    then ONE cohort-partitioned cumsum over <= |months| rows per
    cohort.  Ages are exact integer month arithmetic; revenue sums are
    exact decimals; cum_rev_per_member divides in fixed-order double.

    NULL order dates are excluded at the scan (pushed-down predicate):
    an undatable order can be neither cohorted nor aged, and leaving it
    in puts a NULL-age row into the cumsum window where engine NULL
    ordering (Spark NULLS FIRST vs standard NULLS LAST on ASC) silently
    shifts every cumulative figure -- caught by the r9 mixed-nulls
    sweep."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            "o_totalprice",
            F.date_trunc("MONTH", F.col("o_orderdate")).alias("month"),
        )
    )
    firsts = orders.groupBy("o_custkey").agg(F.min("month").alias("cohort"))
    sized = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    aged = orders.join(firsts, "o_custkey").select(
        "cohort",
        "o_totalprice",
        (
            (F.year("month") - F.year("cohort")) * 12
            + (F.month("month") - F.month("cohort"))
        ).alias("age_months"),
    )
    grid = aged.groupBy("cohort", "age_months").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("rev"),
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "age_months",
            "cohort_size",
            "n_orders",
            F.round(F.col("rev"), 2).alias("revenue"),
            F.round(
                F.sum(F.col("rev").cast(DEC)).over(w).cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("cum_rev_per_member"),
        )
    )


COHORT_LTV_SQL = f"""
WITH orders_m AS (
  SELECT o_custkey, o_totalprice, date_trunc('month', o_orderdate) AS month
  FROM orders WHERE o_orderdate IS NOT NULL
),
firsts AS (
  SELECT o_custkey, MIN(month) AS cohort FROM orders_m GROUP BY 1
),
sized AS (
  SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
),
aged AS (
  SELECT f.cohort, o.o_totalprice,
         (EXTRACT(year FROM o.month) - EXTRACT(year FROM f.cohort)) * 12
         + (EXTRACT(month FROM o.month) - EXTRACT(month FROM f.cohort))
           AS age_months
  FROM orders_m o JOIN firsts f ON o.o_custkey = f.o_custkey
),
grid AS (
  SELECT cohort, age_months, COUNT(*) AS n_orders,
         {dec_sum_sql('o_totalprice')} AS rev
  FROM aged GROUP BY 1, 2
)
SELECT CAST(g.cohort AS TIMESTAMP) AS cohort,
       CAST(g.age_months AS BIGINT) AS age_months,
       s.cohort_size, g.n_orders,
       {round_sql('g.rev', 2)} AS revenue,
       {round_sql(
           "CAST(CAST(SUM(CAST(g.rev AS DECIMAL(28,10))) OVER "
           "(PARTITION BY g.cohort ORDER BY g.age_months "
           "ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)"
           " / CAST(s.cohort_size AS DOUBLE)", 6)} AS cum_rev_per_member
FROM grid g JOIN sized s ON g.cohort = s.cohort
"""


# -------------------------------------------- ABC revenue classification

ABC_CUTS = (0.8, 0.95)  # A = first 80% of revenue, B = next 15%, C = tail
ABC_BUCKETS = 32  # revenue-range buckets for the distributed cumsum


def abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of parts by cumulative revenue share (the
    inventory-management classic: A-parts carry the first 80% of
    revenue, B the next 15%, C the tail): per part, its revenue, rank,
    cumulative share, and class.

    The naive plan is a GLOBAL window cumsum over the ranked part
    dimension -- a single-partition scan.  Here the `text_vocab_growth`
    two-phase decomposition is applied to a VALUE ordering: exact
    revenue percentiles pick ABC_BUCKETS-1 deterministic cutpoints,
    each part assigns to its revenue-range bucket by comparison
    (broadcast cutpoints, no shuffle), per-bucket decimal sums take a
    tiny ordered cumsum for offsets, and each bucket's interior cumsum
    runs under partitionBy(bucket) -- every window bounded.  Ranks
    compose the same way (bucket row counts -> rank offsets).  The
    DuckDB oracle runs the single-node global window, so parity proves
    the decomposition on a value-ordered (not id-ordered) domain.
    Ties order by (revenue DESC, partkey ASC) for a total order."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = local_checkpoint(  # cuts/bucketed/total all consume this frame
        li.groupBy("l_partkey").agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )
    cuts = rev.agg(
        F.expr(
            "percentile(revenue, array({}))".format(
                ", ".join(
                    repr((b + 1) / ABC_BUCKETS) for b in range(ABC_BUCKETS - 1)
                )
            )
        ).alias("cuts")
    )
    # bucket 0 = HIGHEST revenue range (descending order of the cumsum)
    bucketed = rev.crossJoin(F.broadcast(cuts)).select(
        "l_partkey",
        "revenue",
        F.size(
            F.filter(F.col("cuts"), lambda c: c >= F.col("revenue"))
        ).alias("bucket"),
    )
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        bucketed.groupBy("bucket")
        .agg(
            F.sum(F.col("revenue").cast(DEC)).alias("brev"),
            F.count(F.lit(1)).alias("bcnt"),
        )
        .select(
            "bucket",
            F.coalesce(F.sum("brev").over(wb), F.lit(0).cast(DEC)).alias("rev_off"),
            F.coalesce(F.sum("bcnt").over(wb), F.lit(0)).alias("rank_off"),
        )
    )
    total = rev.agg(F.sum(F.col("revenue").cast(DEC)).alias("total"))
    wd = (
        W.partitionBy("bucket")
        .orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        bucketed.join(F.broadcast(offs), "bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "revenue",
            (F.col("rank_off") + F.row_number().over(wd)).alias("rank"),
            (
                (F.col("rev_off") + F.sum(F.col("revenue").cast(DEC)).over(wd))
                .cast("double")
                / F.col("total").cast("double")
            ).alias("cum_share"),
        )
    )
    cls = (
        F.when(F.col("cum_share") <= ABC_CUTS[0], F.lit("A"))
        .when(F.col("cum_share") <= ABC_CUTS[1], F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return cum.select(
        "l_partkey",
        F.round(F.col("revenue"), 2).alias("revenue"),
        "rank",
        F.round(F.col("cum_share"), 6).alias("cum_share"),
        cls.alias("abc_class"),
    )


ABC_PARTS_SQL = f"""
WITH rev AS (
  SELECT l_partkey,
         {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY 1
),
total AS (
  SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
    AS t FROM rev
),
cum AS (
  SELECT l_partkey, revenue,
    ROW_NUMBER() OVER w AS rank,
    CAST(CAST(SUM(CAST(revenue AS DECIMAL(28,10))) OVER
         (PARTITION BY 1 ORDER BY revenue DESC, l_partkey ASC
          ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS cum_rev
  FROM rev
  WINDOW w AS (ORDER BY revenue DESC, l_partkey ASC)
)
SELECT l_partkey, {round_sql('revenue', 2)} AS revenue, rank,
       {round_sql('cum_rev / t', 6)} AS cum_share,
       CASE WHEN cum_rev / t <= {ABC_CUTS[0]!r} THEN 'A'
            WHEN cum_rev / t <= {ABC_CUTS[1]!r} THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum, total
"""


# ------------------------------------ Kaplan-Meier fulfillment survival

KM_CENSOR_DAYS = 30  # orders first-shipping within the last window are
#                      right-censored: their full latency is unobserved
LOGRANK_FAST_PRIORITIES = ("1-URGENT", "2-HIGH")


def _fulfillment_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared survival-study frame for `events_survival_km` and
    `events_logrank`: per order in the study, (t, is_event, g1).

    Fulfillment = the first lineitem shipping AT-OR-AFTER the order
    date (the synthetic corpus contains ship dates before their order
    date; those are data noise, not negative latencies, and must not
    produce t < 0).  Orders with NO qualifying ship -- including
    orders with no lineitems at all -- are right-CENSORED at the
    cutoff, not dropped: they are exactly the long-latency tail the
    estimator exists to count.  cutoff = max qualifying first-ship
    minus KM_CENSOR_DAYS; orders placed after it leave the study
    (their window is entirely unobserved).  t >= 0 by construction.
    Checkpointed: the cutoff aggregate, daily rollup, and totals all
    consume this frame."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    first_ship = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.min(
                F.when(
                    F.col("l_shipdate").cast("date")
                    >= F.col("o_orderdate").cast("date"),
                    F.col("l_shipdate").cast("date"),
                )
            ).alias("first_ship")
        )
    )
    joined = local_checkpoint(orders.join(first_ship, "o_orderkey", "left"))
    cutoff = joined.agg(
        F.date_sub(F.max("first_ship"), KM_CENSOR_DAYS).alias("cutoff")
    )
    return local_checkpoint(
        joined.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate").cast("date") <= F.col("cutoff"))
        .select(
            F.when(
                F.col("first_ship") <= F.col("cutoff"),
                F.datediff(
                    F.col("first_ship"), F.col("o_orderdate").cast("date")
                ),
            )
            .otherwise(
                F.datediff(F.col("cutoff"), F.col("o_orderdate").cast("date"))
            )
            .alias("t"),
            (
                F.col("first_ship").isNotNull()
                & (F.col("first_ship") <= F.col("cutoff"))
            ).alias("is_event"),
            # COALESCE to FALSE: group membership must be TOTAL. A NULL
            # priority makes IN(...) NULL, and a day whose group-1 terms
            # are all NULL then sums to NULL -- engine sum() skips it in
            # o_minus_e while the oracle's COUNT FILTER contributes
            # 0 - e1, silently deflating chi2 (r9 mixed-nulls sweep).
            # Unknown priority is not provably fast => group 2.
            F.coalesce(
                F.col("o_orderpriority").isin(*LOGRANK_FAST_PRIORITIES),
                F.lit(False),
            ).alias("g1"),
        )
    )


#: shared oracle CTE prefix -- ONE SQL definition of the study,
#: composed into both the KM and the log-rank oracles
_FULFILLMENT_STUDY_CTES = """first_ship AS (
  SELECT o_orderkey,
         MIN(CASE WHEN CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
                  THEN CAST(l_shipdate AS DATE) END) AS first_ship
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
joined AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority, f.first_ship
  FROM orders o LEFT JOIN first_ship f ON o.o_orderkey = f.o_orderkey
),
cutoff AS (
  SELECT MAX(first_ship) - {KM_CENSOR_DAYS} AS cutoff FROM joined
),
per_order AS (
  SELECT CASE WHEN first_ship <= cutoff
              THEN datediff('day', CAST(o_orderdate AS DATE), first_ship)
              ELSE datediff('day', CAST(o_orderdate AS DATE), cutoff)
         END AS t,
         first_ship IS NOT NULL AND first_ship <= cutoff AS is_event,
         COALESCE(o_orderpriority IN ('1-URGENT', '2-HIGH'), FALSE) AS g1
  FROM joined CROSS JOIN cutoff
  WHERE CAST(o_orderdate AS DATE) <= cutoff
)""".format(KM_CENSOR_DAYS=KM_CENSOR_DAYS)


def fulfillment_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (Kaplan & Meier 1958) for order
    fulfillment: S(t) = P(order still unshipped after t days), with
    RIGHT-CENSORING done properly -- orders with no qualifying ship by
    the cutoff (including orders with no lineitems) contribute risk
    time but no event, exactly as a live operational dataset would.
    Naive latency percentiles (`agg_ship_latency_monthly`) silently
    drop that censored tail and understate slow fulfillment; KM is the
    statistically honest estimator.  Study definition (qualifying
    first ship, cutoff, censoring) is `_fulfillment_study`, shared
    verbatim with `events_logrank`.

    S(t) = prod over event days t_i <= t of (1 - d_i / n_i), n_i = #
    at risk (duration >= t_i).  The study collapses to per-day
    (events, censored) counts first -- the duration domain is BOUNDED
    (order-to-ship spans days, not corpus size), so the ordered
    cumulative product runs on a <= |days| frame (the pareto/mode
    argument); each ln(1 - d/n) term quantizes to DECIMAL before the
    running sum, and S = exp of it, engine-exact at 6dp.  The
    d == n_risk absorbing state is explicit: ln(0) is NULL in Spark
    but -inf in DuckDB."""
    per_order = _fulfillment_study(spark, sf_dir)
    daily = per_order.groupBy("t").agg(
        F.sum(F.col("is_event").cast("long")).alias("d"),
        F.sum((~F.col("is_event")).cast("long")).alias("c"),
    )
    # bounded global windows: the duration domain is <= a few hundred
    # days at any corpus size -- NOT the corpus
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    total = per_order.agg(F.count(F.lit(1)).alias("n_total"))
    risked = daily.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    dead = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(w_run)
    return risked.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.when(dead == 1, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(
                    F.sum(ln_term.cast("decimal(28,10)"))
                    .over(w_run)
                    .cast("double")
                ),
                6,
            )
        )
        .alias("survival"),
    )


FULFILLMENT_SURVIVAL_SQL = f"""
WITH {_FULFILLMENT_STUDY_CTES},
daily AS (
  SELECT t, COUNT(*) FILTER (WHERE is_event) AS d,
         COUNT(*) FILTER (WHERE NOT is_event) AS c
  FROM per_order GROUP BY 1
),
total AS (SELECT COUNT(*) AS n_total FROM per_order),
risked AS (
  SELECT t, d, c,
         n_total - COALESCE(SUM(d + c) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM daily, total
)
SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
       CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER
                 (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
            ELSE {round_sql(
           "exp(CAST(CAST(SUM(CAST(CASE WHEN d > 0 AND d < n_risk THEN"
           " ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
           " ELSE 0.0 END AS DECIMAL(28,10))) OVER"
           " (ORDER BY t ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE))",
           6)} END AS survival
FROM risked
"""


# -------------------------------------------------- log-rank test

def fulfillment_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966): do high-priority orders ship on a
    DIFFERENT survival curve than the rest?  The censoring-correct way
    to compare group latencies (a t-test on observed latencies is
    biased the moment anything is censored) -- `events_survival_km`'s
    inferential companion, over the SAME `_fulfillment_study` frame.

    At each event day: observed high-priority deaths d1, expected
    under H0 E1 = d * n1/n, hypergeometric variance; the statistic
    (sum(d1 - E1))^2 / sum(V) is chi-squared with 1 df under H0 (4+
    signals a real difference at p < .05).  All per-day terms quantize
    to DECIMAL before the sums; the day domain is bounded, so the
    ordered at-risk windows run on <= |days| x 2 rows."""
    per_order = _fulfillment_study(spark, sf_dir)
    daily = per_order.groupBy("t").agg(
        F.sum(F.col("is_event").cast("long")).alias("d"),
        F.sum((F.col("is_event") & F.col("g1")).cast("long")).alias("d1"),
        F.count(F.lit(1)).alias("leave"),
        F.sum(F.col("g1").cast("long")).alias("leave1"),
    )
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    tot = per_order.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("g1").cast("long")).alias("n1_total"),
    )
    risked = daily.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leave").over(w_prev), F.lit(0))
        ).alias("n"),
        (
            F.col("n1_total")
            - F.coalesce(F.sum("leave1").over(w_prev), F.lit(0))
        ).alias("n1"),
        "n_total",
        "n1_total",
    ).filter(F.col("d") > 0)
    p1 = F.col("n1").cast("double") / F.col("n").cast("double")
    e1 = F.col("d").cast("double") * p1
    v = F.when(
        F.col("n") > 1,
        F.col("d").cast("double")
        * p1
        * (1 - p1)
        * (F.col("n") - F.col("d")).cast("double")
        / (F.col("n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    agg = risked.agg(
        F.max("n_total").alias("n_total"),
        F.max("n1_total").alias("n1_total"),
        F.sum("d1").alias("observed_g1"),
        F.sum(e1.cast("decimal(28,10)")).cast("double").alias("expected_g1"),
        F.sum(
            (F.col("d1").cast("double") - e1).cast("decimal(28,10)")
        ).cast("double").alias("o_minus_e"),
        F.sum(v.cast("decimal(28,10)")).cast("double").alias("var_sum"),
    )
    return agg.select(
        "n_total",
        "n1_total",
        "observed_g1",
        F.round(F.col("expected_g1"), 6).alias("expected_g1"),
        F.when(
            F.col("var_sum") > 0,
            F.round(
                F.col("o_minus_e") * F.col("o_minus_e") / F.col("var_sum"), 6
            ),
        ).alias("logrank_chi2"),
    )


_LR_P1 = "CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)"
_LR_E1 = f"CAST(d AS DOUBLE) * ({_LR_P1})"
_LR_V = (
    f"CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * ({_LR_P1}) * (1 - ({_LR_P1}))"
    " * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END"
)

FULFILLMENT_LOGRANK_SQL = f"""
WITH {_FULFILLMENT_STUDY_CTES},
daily AS (
  SELECT t, COUNT(*) FILTER (WHERE is_event) AS d,
         COUNT(*) FILTER (WHERE is_event AND g1) AS d1,
         COUNT(*) AS leave, COUNT(*) FILTER (WHERE g1) AS leave1
  FROM per_order GROUP BY 1
),
tot AS (
  SELECT COUNT(*) AS n_total, COUNT(*) FILTER (WHERE g1) AS n1_total
  FROM per_order
),
risked AS (
  SELECT t, d, d1,
         n_total - COALESCE(SUM(leave) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n,
         n1_total - COALESCE(SUM(leave1) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n1,
         n_total, n1_total
  FROM daily, tot
),
ev AS (SELECT * FROM risked WHERE d > 0),
agg AS (
  SELECT CAST(MAX(n_total) AS BIGINT) AS n_total,
         CAST(MAX(n1_total) AS BIGINT) AS n1_total,
         CAST(SUM(d1) AS BIGINT) AS observed_g1,
         CAST(CAST(SUM(CAST({_LR_E1} AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           AS expected_g1,
         CAST(CAST(SUM(CAST(CAST(d1 AS DOUBLE) - ({_LR_E1}) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           AS o_minus_e,
         CAST(CAST(SUM(CAST({_LR_V} AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           AS var_sum
  FROM ev
)
SELECT n_total, n1_total, observed_g1,
       {round_sql('expected_g1', 6)} AS expected_g1,
       CASE WHEN var_sum > 0
            THEN {round_sql('o_minus_e * o_minus_e / var_sum', 6)} END
         AS logrank_chi2
FROM agg
"""


# ----------------------------------------- grouped OLS (discount lift)

def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS regression of quantity on discount -- GROUPED
    linear regression as a single aggregate: slope ("does discounting
    move volume for this brand?"), intercept, and R^2 per p_brand.
    The regression member of the statistical family: chi2 tests
    association of categoricals, correlations measure pairwise linear
    strength corpus-wide, this fits the actual response per group.

    ONE map-side-combinable aggregate collects all five moments per
    brand (DECIMAL-quantized sums, the `profile_correlations`
    discipline -- no REGR_SLOPE UDAF, whose float merge order is
    partition-dependent); lineitem joins part on partkey (the corpus'
    one row-level shuffle; part broadcasts at test scale and co-
    shuffles at 100 TB).  Slope/intercept/R^2 assemble in fixed-order
    double arithmetic; zero-variance guards are explicit NULLs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(part, li.l_partkey == part.p_partkey)
    x, y = F.col("l_discount"), F.col("l_quantity")
    m = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(x).alias("sx"),
        dec_sum(y).alias("sy"),
        dec_sum(x * y).alias("sxy"),
        dec_sum(x * x).alias("sxx"),
        dec_sum(y * y).alias("syy"),
    )
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / var_x
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.when(var_x > 0, F.round(slope, 6)).alias("slope"),
        F.when(
            var_x > 0,
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6),
        ).alias("intercept"),
        F.when(
            (var_x > 0) & (var_y > 0),
            F.round(cov * cov / (var_x * var_y), 6),
        ).alias("r2"),
    )


DISCOUNT_ELASTICITY_SQL = f"""
WITH m AS (
  SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_sum_sql('l_discount')} AS sx,
         {dec_sum_sql('l_quantity')} AS sy,
         {dec_sum_sql('l_discount * l_quantity')} AS sxy,
         {dec_sum_sql('l_discount * l_discount')} AS sxx,
         {dec_sum_sql('l_quantity * l_quantity')} AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
  CASE WHEN n * sxx - sx * sx > 0
       THEN {round_sql('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)} END
    AS slope,
  CASE WHEN n * sxx - sx * sx > 0
       THEN {round_sql(
           '(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n', 6)}
       END AS intercept,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       THEN {round_sql(
           '(n * sxy - sx * sy) * (n * sxy - sx * sy)'
           ' / ((n * sxx - sx * sx) * (n * syy - sy * sy))', 6)} END AS r2
FROM m
"""
