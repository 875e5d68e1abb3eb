"""Graph analytics over the user co-occurrence graph derived from
`events` -- triangle counting and local clustering coefficients, the
standard "how cliquish is this interaction graph" primitives
(reference has no graph surface at all; SURVEY.md §2.6).

Graph construction: an undirected edge (u, v) exists iff the two users
both produced at least one event of the same type in the same hour.
Triangle enumeration is edge-intersection over the degree-oriented edge
list (compact-forward, Latapy 2008): each undirected edge directed from
its (degree, id)-smaller endpoint, per-vertex out-neighbor arrays built
once, and for every oriented edge (s, t) the closing vertices are
exactly N+(s) & N+(t). No theta joins, no adjacency matrices on the
driver.

Scale: the co-occurrence pair explosion is quadratic in the
per-(type, hour) cell size -- the same hot-block hazard as the shingle
blocks in `dedup.ngram_jaccard_pairs`, controlled the same way (cap or
sub-bucket hot cells; the registered query runs uncapped for oracle
exactness). The orientation bounds every out-degree at O(sqrt m), so
the total intersection work is sum over edges of (out(s)+out(t))
<= O(m^1.5) REGARDLESS of max degree -- a hub's huge IN-degree never
multiplies anything. r12 enumerated the same wedges as JOIN ROWS
(ab x bc on the middle vertex): 277M wedge rows at sf0.1, ~3us/row of
exchange+probe overhead each, 846 CPU-s; moving the wedge work inside
array_intersect's hash set (ns/element) and materializing rows only
for actual triangles cut the query 33.2 -> 9.1 s (r13, min-of-4). The
adjacency join is broadcast-hinted only below GRAPH_SMALL_EVENT_ROWS;
past that the planner is free to SMJ the |V|-row adjacency table
against the edges -- the shuffle then moves each neighbor list once,
still the minimized compact-forward cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import free_local_checkpoint
from streamprocessing_with_kafka_spark.functions.numeric import dec_sum, round_sql
from streamprocessing_with_kafka_spark.sources.tables import load_table, table_row_count


def cooccurrence_edges(ev: DataFrame) -> DataFrame:
    """Distinct ordered edges (u < v): users sharing a (type, hour) cell.

    The distinct on (user, type, hour) BEFORE the self-join keeps the
    pair blowup bounded by cell cardinality in users, not in raw events.
    """
    occ = ev.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("h")
    ).dropDuplicates(["user_id", "event_type", "h"])
    a = occ.select(F.col("user_id").alias("u"), "event_type", "h")
    b = occ.select(F.col("user_id").alias("v"), "event_type", "h")
    return (
        a.join(b, ["event_type", "h"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates(["u", "v"])
    )


def triangle_clustering(
    spark: SparkSession, sf_dir: str, *, checkpoint: bool = True
) -> DataFrame:
    """Per-user triangle count, degree, and local clustering coefficient.

    Triangles enumerate once each by EDGE-INTERSECTION over the DEGREE-
    ORIENTED edge list (each undirected edge directed from its
    (degree, id)-smaller endpoint -- a strict total order, so a triangle
    whose corners sort x<y<z in it carries exactly the directed edges
    x->y, x->z, y->z and is found exactly once at edge (x, y) as
    z in N+(x) & N+(y)); each triangle then credits its three corners
    in the same pass. Degree is a per-endpoint count over the
    undirected edge list, computed FIRST and reused for the orientation.
    The final frame is user-sized -- joins after the corpus scan touch
    only vocabulary-scale data, and the intersection work is bounded by
    sum over edges of (out(s)+out(t)) <= O(|E|^1.5), with out-degrees
    capped at O(sqrt|E|) by the orientation.
    `lcc = 2*tri / (deg*(deg-1))` in fixed-order double, 6dp.
    """
    ev = load_table(spark, sf_dir, "events")
    e = cooccurrence_edges(ev)
    # the edge list feeds FIVE consumers (degree + orientation + three
    # triangle-join roles); without truncation each re-runs the occ
    # self-join and distincts (a 17-shuffle plan). Vocabulary-sized:
    # cheap to materialize. checkpoint=False keeps lineage for plan pins.
    if checkpoint:
        e = e.localCheckpoint()
    degree = (
        e.select(F.explode(F.array("u", "v")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    if checkpoint:
        degree = degree.localCheckpoint()
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    d = (
        e.join(degree.select(F.col("user_id").alias("u"), F.col("degree").alias("du")), "u")
        .join(degree.select(F.col("user_id").alias("v"), F.col("degree").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    if checkpoint:
        d = d.localCheckpoint()
    # Edge-intersection enumeration (compact-forward): build each
    # vertex's out-neighbor array once, then for every oriented edge
    # (s, t) the triangles it CLOSES are exactly N+(s) & N+(t) -- for a
    # triangle with corners x < y < z in the orientation order, edge
    # (x, y) finds z in both out-lists and no other edge of the
    # triangle does, so each triangle is found exactly once and its
    # three corners are credited in one pass (s and t by the
    # intersection size, every z by an explode of the intersection).
    #
    # Why not the r12 wedge JOIN (ab x bc on the middle vertex): that
    # plan materializes every wedge as a ROW through an exchange and a
    # broadcast probe -- 277M wedge rows at sf0.1, ~3us/row, 846 CPU-s
    # (r13 stage profile). Here the same wedge work happens inside
    # array_intersect's hash set, ~ns/element, and only actual
    # triangles become rows. A/B at sf0.1: 35.8 -> 18.1 s min-of-3.
    # Skew note: per-edge cost is out(s)+out(t), bounded by the
    # orientation at O(sqrt|E|) per endpoint -- no giant key exists, and
    # the round-robin repartition spreads the heavy edges uniformly.
    #
    # The adjacency join is broadcast-HINTED only at test scale (the
    # checkpointed frames defeat size estimation, so the planner would
    # SMJ a 6 MB table); at lake scale the hint is withheld -- the
    # adjacency table is |V| rows carrying |E| total longs and must be
    # free to plan as SMJ (size-adaptive, same boundary as pagerank).
    small = table_row_count(sf_dir, "events") < GRAPH_SMALL_EVENT_ROWS
    p = spark.sparkContext.defaultParallelism
    adj = d.groupBy("s").agg(F.collect_list("t").alias("nbr"))
    adj_t = adj.select(F.col("s").alias("t"), F.col("nbr").alias("nbr_t"))
    per_edge = (
        d.repartition(p)
        .join(F.broadcast(adj) if small else adj, "s")
        .join(F.broadcast(adj_t) if small else adj_t, "t", "left")
        .select(
            "s",
            "t",
            F.array_intersect(
                F.col("nbr"), F.coalesce(F.col("nbr_t"), F.array())
            ).alias("zs"),
        )
        .withColumn("cnt", F.size("zs"))
        # NO filter(cnt > 0): the pushed-down filter lands BELOW the
        # projection and re-evaluates array_intersect per edge (the
        # heavy expression, twice -- visible in the final plan); a
        # zero-intersection edge instead emits two c=0 credits that
        # sum away, which is semantics-identical and half the work.
    )
    # All three corner credits in ONE pass over per_edge (a union of
    # three selects would re-run the intersection once per branch --
    # 3x the heavy stage, r13 stage profile): s and t get the
    # intersection size, every closing z gets 1, concatenated into one
    # exploded array.
    contrib = F.concat(
        F.array(
            F.struct(F.col("s").alias("user_id"), F.col("cnt").alias("c")),
            F.struct(F.col("t").alias("user_id"), F.col("cnt").alias("c")),
        ),
        F.transform(
            "zs",
            lambda z: F.struct(z.alias("user_id"), F.lit(1).alias("c")),
        ),
    )
    tri_per_user = (
        per_edge.select(F.explode(contrib).alias("uc"))
        .select(F.col("uc.user_id").alias("user_id"), F.col("uc.c").alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("n_triangles"))
    )
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0
            * F.coalesce("n_triangles", F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        degree.join(tri_per_user, "user_id", "left")
        .select(
            "user_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            lcc.alias("clustering_coeff"),
        )
    )


_LCC_SQL = round_sql(
    "2.0 * COALESCE(t.n_triangles, 0) / CAST(d.degree * (d.degree - 1) AS DOUBLE)", 6
)

TRIANGLE_CLUSTERING_SQL = f"""
WITH occ AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h
  FROM events
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM occ a JOIN occ b
    ON a.event_type = b.event_type AND a.h = b.h
  WHERE a.user_id < b.user_id
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
tpu AS (
  SELECT user_id, COUNT(*) AS n_triangles FROM (
    SELECT a AS user_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY user_id
),
deg AS (
  SELECT user_id, COUNT(*) AS degree FROM (
    SELECT u AS user_id FROM e UNION ALL SELECT v FROM e
  ) GROUP BY user_id
)
SELECT d.user_id, d.degree, COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2 THEN {_LCC_SQL} ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tpu t USING (user_id)
"""


PAGERANK_ITERS = 3  # fixed unrolled rounds (the de-recursion pattern)
PAGERANK_DAMPING = 0.85

# The graph operators' test-scale/lake-scale boundary, measured on the
# events table's parquet footer (cheap driver-side read, no data action;
# a table whose footer cannot be read -- e.g. a directory dataset -- is
# treated as large, the branch that is safe at any scale).
# Below this many event rows the vocabulary-sized graph frames are tiny:
# AQE coalesces every ENSURE_REQUIREMENTS exchange to a handful of
# partitions (pagerank pins width instead of keeping map-side combine)
# and the adjacency table fits a broadcast (triangles hints it).  At or
# above it the scale-correct shapes take over: pagerank's mass aggregate
# owns its exchange (map-side-combined partials, |V|-bounded per map
# task -- the dominant term at volume; AQE keeps width naturally because
# the frames exceed its advisory size) and the triangle adjacency join
# is left to the planner (broadcast if it fits, SMJ otherwise).
GRAPH_SMALL_EVENT_ROWS = 10_000_000


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected co-occurrence graph, PAGERANK_ITERS
    synchronous rounds from the uniform start -- the canonical
    iterative-graph-at-scale operator, de-recursed the `kmeans_train`
    way: fixed unrolled iterations, 6dp-rounded scores per round so
    both engines iterate on bit-identical state, `localCheckpoint` on
    the node-sized rank frame between rounds so round r's plan doesn't
    replay rounds 1..r-1.

    Per round: ranks equi-join the directed edge list on the source
    (ranks are |nodes| rows against |2E| edges -- at 100 TB this is the
    classic Pregel-style shuffle on src, then a map-side-combinable sum
    on dst), add the (1-d)/N teleport with N as an in-plan 1-row
    broadcast, never a driver collect.  Undirected graph = each edge in
    both directions; every node has degree >= 1 here (edges come from
    co-occurrence), so there is no dangling-mass term -- documented
    rather than silently wrong: a directed deployment must redistribute
    sink mass.

    Output: (user_id, pagerank, degree).  Scores sum to ~1 (fuzzed in
    test_graph.py); uniform-degree graphs stay uniform."""
    ev = load_table(spark, sf_dir, "events")
    e = cooccurrence_edges(ev)
    directed = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint()
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    n_row = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.join(F.broadcast(n_row)).select(
        "src", "degree", F.round(1.0 / F.col("n"), 6).alias("pr")
    )
    prev = None
    p = spark.sparkContext.defaultParallelism
    # Scale-adaptive strategy for the per-round mass aggregate: see
    # GRAPH_SMALL_EVENT_ROWS.  Cheap driver-side footer read;
    # no data action; an unreadable footer counts as large.
    combine = table_row_count(sf_dir, "events") >= GRAPH_SMALL_EVENT_ROWS
    for _ in range(PAGERANK_ITERS):
        ranks = _pagerank_round(directed, deg, n_row, ranks, p, combine).localCheckpoint()
        if prev is not None:
            free_local_checkpoint(prev)  # superseded round's blocks
        prev = ranks
    # the final ranks checkpoint is materialized; the edge list's blocks
    # are no longer reachable from the returned plan
    free_local_checkpoint(directed)
    return ranks.select(F.col("src").alias("user_id"), F.col("pr").alias("pagerank"), "degree")


def _pagerank_round(
    directed: DataFrame,
    deg: DataFrame,
    n_row: DataFrame,
    ranks: DataFrame,
    p: int,
    combine: bool,
) -> DataFrame:
    """One synchronous PageRank round (pre-checkpoint), factored out so
    tests and plan dumps can inspect both aggregate strategies.

    combine=True (lake scale): the mass aggregate owns its exchange, so
    the |E|-row contrib shuffle carries map-side-combined partial sums
    (|V|-bounded per map task -- the dominant term at volume); AQE keeps
    the post-shuffle stages wide because the frames exceed its advisory
    size.  combine=False (test scale): pin width on the group key BEFORE
    the aggregate (the groupBy reuses the exchange -- exchange count
    unchanged); forfeits map-side combine, negligible at that volume,
    and keeps every per-round stage wide where AQE would coalesce the
    few-hundred-KB frames to ONE partition (one 3.9 s task in a 10.5 s
    query, r12 stage profile; combine-first A/B'd ~2x slower at sf0.1,
    r13 probes)."""
    d = PAGERANK_DAMPING
    contrib = directed.join(ranks, "src").select(
        "dst", (F.col("pr") / F.col("degree")).alias("w")
    )
    if not combine:
        contrib = contrib.repartition(p, "dst")
    contrib = contrib.groupBy("dst").agg(dec_sum("w").alias("mass"))
    return (
        deg.join(contrib, deg.src == contrib.dst)
        .join(F.broadcast(n_row))
        .select(
            "src",
            "degree",
            F.round((1.0 - d) / F.col("n") + d * F.col("mass"), 6).alias("pr"),
        )
    )


def _pagerank_iter_sql(i: int, prev: str) -> str:
    mass = (
        "CAST(CAST(SUM(CAST(r.pr / r.degree AS DECIMAL(28,10))) AS VARCHAR)"
        " AS DOUBLE)"
    )
    pr = round_sql(
        f"(1.0 - {PAGERANK_DAMPING!r}) / n.n + {PAGERANK_DAMPING!r} * c{i}.mass", 6
    )
    return f"""
c{i} AS (
  SELECT e.dst, {mass} AS mass
  FROM directed e JOIN {prev} r ON e.src = r.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT deg.src, deg.degree, {pr} AS pr
  FROM deg JOIN c{i} ON deg.src = c{i}.dst CROSS JOIN n_row n
)"""


PAGERANK_SQL = (
    f"""
WITH occ AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h
  FROM events
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM occ a JOIN occ b
    ON a.event_type = b.event_type AND a.h = b.h
  WHERE a.user_id < b.user_id
),
directed AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL SELECT v AS src, u AS dst FROM e
),
deg AS (SELECT src, COUNT(*) AS degree FROM directed GROUP BY src),
n_row AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
  SELECT deg.src, deg.degree, {round_sql('1.0 / n.n', 6)} AS pr
  FROM deg CROSS JOIN n_row n
),"""
    + ",".join(_pagerank_iter_sql(i + 1, f"r{i}") for i in range(PAGERANK_ITERS))
    + f"""
SELECT src AS user_id, pr AS pagerank, degree FROM r{PAGERANK_ITERS}
"""
)
