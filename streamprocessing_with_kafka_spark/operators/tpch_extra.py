"""Remaining TPC-H query shapes: Q7-Q9, Q11-Q12, Q15-Q16, Q20-Q21.

The reference has no joins or aggregations at all (SURVEY.md §2.6 — its one
query is `SELECT * FROM enriched_orders`, README.md:157), so like
`analytics.py` this module is superset surface: the canonical relational
plan patterns a migrating user gains, each with a DuckDB oracle.

The driver's tables lack `partsupp` and lineitem lacks
`l_shipmode/l_commitdate/l_receiptdate`, so Q9/Q11/Q12/Q16/Q20/Q21 are *shape*
adaptations onto the available columns: the plan structure (what joins,
what broadcasts, where the one big shuffle lands, how the subquery
decorrelates) is the point, not the literal spec predicate.

Scale notes (per-query detail in each docstring):
  - every dimension hop (nation, supplier, part, filtered revenue CTEs) is
    an explicit broadcast(): the lineitem |X| orders order-key shuffle is
    the only row-data exchange in Q7/Q8/Q9/Q12/Q21.
  - Q21 reuses the l_orderkey shuffle: the per-order aggregate and the
    join-back of lineitem onto it are co-partitioned, so the second hop
    is exchange-free under AQE.
  - conditional ratios (Q8 market share) divide two exact decimal sums in
    double: deterministic across engines and partition orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import DEC, dec_sum, dec_sum_sql
from streamprocessing_with_kafka_spark.sources.tables import load_table

def _rev() -> "F.Column":
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume. Supplier's nation and
    customer's nation each arrive via their own broadcast of the SAME
    nation table (self-joined dimension under two roles); the pair
    disjunction ((A,B) or (B,A)) filters after both hops.

    Scale plan: nation x2, supplier, customer all broadcast; lineitem |X|
    orders on the order key is the only shuffle of row data, and the
    2-year shipdate range is pushed to the lineitem scan."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dec_sum(_rev()).alias("revenue"))
    )


VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {dec_sum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year, {_REV_SQL} AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's imports of one
    part type, per year. The share is a conditional-aggregate ratio: both
    sums ride the same single aggregate pass, and the division happens in
    double over two exact decimal sums (bit-identical to the oracle).

    Scale plan: part is filtered to one type BEFORE its broadcast (build
    side shrinks ~6x), and orders gates through the broadcast
    customer->nation->region chain BEFORE the big join, so the shuffled
    orders side carries only the target region's ~20% (plus the 2-year
    date filter); supplier's nation broadcasts for the numerator tag.
    The only shuffle is lineitem |X| gated-orders -- and because the
    gated side is declared as a plain equi-join, AQE is free to convert
    it to broadcast whenever the post-filter size allows."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = load_table(spark, sf_dir, "nation")
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key")
    )
    # rebalance=False: lineitem feeds a broadcast probe (part) and then
    # the join exchange on l_orderkey; the round-robin fan-out exchange
    # duplicated that full-fact shuffle (r12 A/B: 1.64s -> 1.28s at sf0.1).
    li = load_table(spark, sf_dir, "lineitem", rebalance=False)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dec_sum(
                F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(0.0)
            ).alias("nation_volume"),
            dec_sum(_rev()).alias("total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        )
    )


MARKET_SHARE_SQL = f"""
SELECT o_year, nation_volume, total_volume,
       nation_volume / total_volume AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
    {dec_sum_sql(f"CASE WHEN n2.n_name = 'NATION_3' THEN {_REV_SQL} ELSE 0.0 END")}
      AS nation_volume,
    {dec_sum_sql(_REV_SQL)} AS total_volume
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY year(o_orderdate)
)
"""


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table, so profit =
    extendedprice net of discount rather than net of supply cost): profit
    on name-matched parts by supplier nation by order year.

    Scale plan: the LIKE predicate filters part before broadcast;
    supplier+nation broadcast; lineitem |X| orders is the one shuffle;
    the (nation, year) aggregate is tiny (25 x ~7 groups)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dec_sum(_rev()).alias("sum_profit"))
    )


PRODUCT_TYPE_PROFIT_SQL = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {dec_sum_sql(_REV_SQL)} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""


def priority_shipment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: lineitem has no l_shipmode/commit/receipt
    dates, so the grouping key is l_linestatus and the date predicate is a
    shipdate year): per line-status counts of critical- vs low-priority
    order lines -- the join + conditional-count pattern.

    Scale plan: the shipdate range is pushed to the lineitem scan; orders
    projects to (key, priority) before the order-key shuffle; both
    conditional counts ride one aggregate pass over 2 groups."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


PRIORITY_SHIPMENT_COUNTS_SQL = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, then the
    supplier(s) achieving the global maximum -- the scalar-subquery-on-a-
    CTE pattern, with ties preserved by the equality (not a LIMIT 1).

    The max is computed in-plan from the same aggregate (1-row broadcast
    cross join, never a driver collect), and revenues are exact decimal
    sums so the double equality is deterministic in both engines.

    Scale plan: one lineitem shuffle on l_suppkey for the revenue CTE;
    the CTE is |suppliers|-sized, its max is 1 row, and the supplier dim
    broadcasts onto the filtered (usually 1-row) result. The CTE feeds
    two consumers (the max and the join) and Spark does not reuse the
    exchange across them -- without materialization lineitem would be
    scanned and aggregated TWICE, so the dim-sized CTE is pinned with an
    eager localCheckpoint (asserted in test_plan_shapes.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = local_checkpoint(
        li.groupBy("l_suppkey").agg(dec_sum(_rev()).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


TOP_SUPPLIER_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey, {dec_sum_sql(_REV_SQL)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: no partsupp, so supply relationships come
    from lineitem): distinct suppliers per (brand, size) for non-excluded
    brands/types, minus blacklisted suppliers via NOT IN -> left-anti.

    Scale plan: the supplier blacklist (negative balance) is dimension-
    sized and broadcasts for the anti join; the part filter prunes before
    its broadcast; COUNT(DISTINCT) expands to a two-phase aggregate --
    Spark first dedups (l_suppkey, p_brand, p_size) with map-side partial
    distinct, then counts, so the shuffle carries deduped triples, not
    raw lineitem rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SUPPLIER_COUNT_BY_PART_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


#: paired with WAITING_SUPPLIER_SQL's LIMIT -- change both via this constant
WAITING_SUPPLIER_K = 10


def waiting_supplier(spark: SparkSession, sf_dir: str, k: int = WAITING_SUPPLIER_K) -> DataFrame:
    """TPC-H Q21 shape (adapted: no l_receiptdate/l_commitdate, so "late"
    means shipping on an order's latest ship date): suppliers who were the
    SOLE latest shipper on multi-supplier fulfilled orders -- the
    EXISTS(another supplier) AND NOT EXISTS(another equally-late supplier)
    pair, decorrelated into per-order window frontiers instead of a
    self-join-back (which would scan lineitem twice: Spark does not reuse
    exchanges across the two consumers).

    Scale plan: everything hashes on l_orderkey ONCE -- the semi join's
    partitioning satisfies the window's and the aggregate's distribution,
    so frontier, filter and per-order rollup all ride the same exchange
    with no further shuffle of row data (asserted in test_plan_shapes.py).
    collect_set (not countDistinct) keeps the aggregate keyed on
    l_orderkey alone: per-order supplier sets are small-bounded, while
    countDistinct would re-exchange on (l_orderkey, l_suppkey). Supplier
    broadcasts at the end; top-k is a partial-sorted limit."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    w = W.partitionBy("l_orderkey")
    last_shippers = (
        li.withColumn("last_ship", F.max("l_shipdate").over(w))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .filter((F.col("l_shipdate") == F.col("last_ship")) & (F.col("n_supp") > 1))
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_last"),
            F.min("l_suppkey").alias("the_suppkey"),
        )
        .filter(F.col("n_last") == 1)
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        last_shippers.join(F.broadcast(s), F.col("the_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(k)
    )


WAITING_SUPPLIER_SQL = f"""
WITH fo AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
),
per_order AS (
  SELECT l_orderkey, MAX(l_shipdate) AS last_ship,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM fo GROUP BY l_orderkey
),
last_shippers AS (
  SELECT fo.l_orderkey,
         COUNT(DISTINCT fo.l_suppkey) AS n_last,
         MIN(fo.l_suppkey) AS the_suppkey
  FROM fo
  JOIN per_order ON fo.l_orderkey = per_order.l_orderkey
               AND fo.l_shipdate = per_order.last_ship
  WHERE per_order.n_supp > 1
  GROUP BY fo.l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM last_shippers
JOIN supplier ON the_suppkey = s_suppkey
WHERE n_last = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp, so 'value' is shipped
    revenue rather than stock value): parts whose revenue exceeds a
    fraction of GLOBAL revenue -- HAVING against a scalar subquery.

    Scale plan: ONE lineitem pass. The global total is the sum of the
    per-part decimal partials (algebraically identical to a second scan,
    but free); the |parts|-sized aggregate is localCheckpoint-pinned
    because it feeds two consumers (the total and the filter) and Spark
    would otherwise recompute it -- and lineitem -- twice. The threshold
    compare is integer-scaled decimal (val * 10000 > total): exact in
    both engines, no double rounding anywhere until the output cast."""
    li = load_table(spark, sf_dir, "lineitem")
    # single-JVM pin so the scalar-total branch and the filter branch
    # share one materialization (Spark does not reuse exchanges across
    # consumers). CLUSTER NOTE: localCheckpoint is NOT fault-tolerant
    # (executor loss = unrecoverable partitions); a production run
    # swaps this for persist() (recomputable lineage) or reliable
    # checkpoint() -- same plan shape either way
    per_part = local_checkpoint(
        li.groupBy("l_partkey").agg(F.sum(_rev().cast(DEC)).alias("val_dec"))
    )
    total = per_part.agg(F.sum("val_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        # keep the product EXACT: the 38,10 sum times an int would
        # overflow precision and Spark silently trims scale to 6 (DuckDB
        # keeps 10) -- downcast the per-part value (bounded far below
        # 28,10) so (28,10)x(5,0) -> (34,10) stays lossless
        .filter(
            F.col("val_dec").cast(DEC) * F.lit(10000).cast("decimal(5,0)")
            > F.col("total_dec")
        )
        .select("l_partkey", F.col("val_dec").cast("double").alias("part_value"))
    )


IMPORTANT_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS val_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS part_value
FROM per_part
WHERE val_dec * 10000 > (SELECT SUM(val_dec) FROM per_part)
"""


def excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp availqty, so 'excess' means
    shipping more than half a part's total shipped quantity in the
    window): suppliers dominating supply of any name-matched part -- the
    nested-IN-with-correlated-aggregate pattern.

    Decorrelation: per-(part, supplier) quantities in ONE lineitem pass;
    the per-part total comes from a window SUM over the same aggregate
    (partition-compatible: the re-exchange to l_partkey is the same one
    a join-back would need, but with no second scan and no self-join).
    The dominance test is integer-scaled decimal (qty * 2 > total):
    exact in both engines. The surviving supplier set is tiny and
    broadcasts into a left-semi probe of the supplier dim."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("qty_dec")
    )
    w = W.partitionBy("l_partkey")
    excess = (
        ps.withColumn("tot_dec", F.sum("qty_dec").over(w))
        # same exactness argument as important_parts: (28,10)x(1,0)
        # stays scale 10; the raw 38,10 x int would trim to scale 8
        .filter(
            F.col("qty_dec").cast(DEC) * F.lit(2).cast("decimal(1,0)")
            > F.col("tot_dec")
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey, "left_semi")
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(excess), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name", "s_nationkey")


EXCESS_SHIPPERS_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(28,10))) AS qty_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
windowed AS (
  SELECT l_partkey, l_suppkey, qty_dec,
         SUM(qty_dec) OVER (PARTITION BY l_partkey) AS tot_dec
  FROM ps
)
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM windowed
  WHERE qty_dec * 2 > tot_dec
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
)
"""
