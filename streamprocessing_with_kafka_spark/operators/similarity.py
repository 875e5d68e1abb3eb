"""Similarity search over the `embeddings` table (`embedding:
array<float>`): brute-force cosine top-k as the exact baseline, plus two
sub-linear scale paths -- random-hyperplane LSH bucketing and IVF cells.

Determinism contract (what makes these DuckDB-oracle-checkable):
  - dot products are sequential left folds over the array in BOTH engines
    (Spark `aggregate(zip_with(...))`, DuckDB `list_dot_product` on
    DOUBLE[]), so the float addition order is identical -- verified
    bit-equal in probes.
  - cosines are rounded to 6dp before ranking; rank ties break on vec_id.
  - LSH hyperplanes are md5-derived rationals (k/1000), not RNG draws, so
    both engines build the exact same planes.

Scale notes: brute-force is a broadcast nested-loop -- O(N*Q) dots, fine
when Q (queries) is small and N streams; for N x N near-dup at 100 TB use
the LSH buckets (equi-join on bucket id, candidates only) or IVF (assign
to nearest centroid cell, search only probed cells). Embeddings stay
array-typed end to end -- no explode on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from streamprocessing_with_kafka_spark.functions.hashing import md5_long
from streamprocessing_with_kafka_spark.functions.lineage import (
    free_local_checkpoint,
    local_checkpoint,
)
from streamprocessing_with_kafka_spark.functions.numeric import dec_sum, round_sql
from streamprocessing_with_kafka_spark.sources.tables import load_table

DIM = 64
N_PLANES = 16
TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the demo query vectors


def is_clean_embedding(col: Column) -> Column:
    """TRUE iff the vector is a valid index member: not NULL and
    containing no NULL component.  The single definition of the
    clean-scan predicate -- the batch scan (load_clean_embeddings) and
    the streaming ingest gates (streaming/ivf_ingest, streaming/
    pq_ingest) must agree on membership or stream and batch indexes
    silently diverge on corrupt vectors."""
    return col.isNotNull() & ~F.exists(col, lambda x: x.isNull())


def is_index_member(vec_id: Column, embedding: Column) -> Column:
    """TRUE iff the row can join an ANN index: a clean vector
    (is_clean_embedding) AND an identity -- results are returned,
    deduplicated, and tie-broken BY vec_id, so a NULL id has no
    deterministic place in any index or result set (SQL collapses NULL
    ids into one group where the engine would keep each row -- the r10
    mixed_keys divergence). Shared by the batch scan and both streaming
    ingest gates, same single-definition rule as is_clean_embedding."""
    return vec_id.isNotNull() & is_clean_embedding(embedding)


def load_clean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings scan every ANN index / training / dedup query
    reads: vectors that are NULL or contain a NULL COMPONENT are
    excluded at the scan.  A malformed vector is not an index member --
    it has no well-defined distance to anything (engines even disagree
    on how NULL elements fold: Spark's aggregate NULL-propagates,
    DuckDB's list aggregates null-skip, and DuckDB's list_inner_product
    hard-errors), so the only deterministic contract is a clean study
    population, mirrored by the `WHERE embedding IS NOT NULL AND
    len(list_filter(...)) = 0` scan filter in every oracle (r9
    mixed-nulls sweep).  Since r10 membership also requires a non-NULL
    vec_id (see is_index_member).  Row-preserving audit passes
    (embedding_stats, embedding_quantize) intentionally do NOT use
    this: they keep corrupt rows visible with NULL derived columns.

    rebalance=True (r12): every consumer runs per-vector arithmetic
    (dot-product probes, subvector quantization, PCA folds) whose
    per-row cost dwarfs one sub-MB exchange, and the vector table is
    small enough that the loader's row threshold never fires -- so an
    under-split file would otherwise pin the whole ANN family to one
    core (A/B at sf0.1: ann_topk_bruteforce 0.74 -> 0.54 s). On a lake
    input with ample row groups this stays a no-op."""
    return load_table(spark, sf_dir, "embeddings", rebalance=True).filter(
        is_index_member(F.col("vec_id"), F.col("embedding"))
    )


#: SQL twin of load_clean_embeddings, interpolated into every ANN/
#: dedup/training oracle's scan CTE -- ONE definition of the clean-scan
#: policy per side, so a policy change cannot desynchronize a single
#: oracle (r9 review finding)
EMB_CLEAN_WHERE = (
    """WHERE vec_id IS NOT NULL
             AND embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0"""
)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (order-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))), 6)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata pass over the vector column: dim + L2 norm."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.size(v).alias("dim"),
        F.round(F.sqrt(dot(v, v)), 6).alias("l2_norm"),
    )


#: the CASE guard mirrors the engine's NULL propagation: a vector with a
#: NULL component has an undefined norm (the engine's fold returns NULL);
#: without it DuckDB's list_dot_product hard-errors on NULL elements
EMBEDDING_STATS_SQL = """
SELECT vec_id, label, len(embedding) AS dim,
       CASE WHEN embedding IS NULL
                 OR len(list_filter(embedding, x -> x IS NULL)) > 0
            THEN NULL
            ELSE round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))), 6)
       END AS l2_norm
FROM embeddings
"""


def cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise cosines (a < b): O(N^2) brute force. NOT a scale path --
    kept ONLY as the recall baseline for tests; production near-dup goes
    through `embedding_near_dup_lsh` (banded candidates, equi-join)."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
    )


# ------------------------------- banded LSH near-dup (the scale path)

N_DUP_BANDS = 8  # OR over bands: recall 1-(1-p^BITS)^BANDS
DUP_BAND_BITS = 4  # buckets per band = 2^BITS; raise with corpus size


def _band_key(v: Column, band: int) -> Column:
    """Integer bucket key for one band: DUP_BAND_BITS hyperplane sign bits."""
    key = F.lit(0).cast("long")
    for j in range(DUP_BAND_BITS):
        p = band * DUP_BAND_BITS + j
        key = key + F.when(dot(v, _hyperplane(p)) >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return key


def embedding_near_dup_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup vector pairs (cosine >= threshold) via banded
    random-hyperplane LSH -- the scale path that replaces the all-pairs
    theta join.

    Candidate generation is an EQUI-join on (band, band_key): two vectors
    are candidates iff all DUP_BAND_BITS sign bits agree in at least one
    of N_DUP_BANDS bands (P[candidate] = 1-(1-p^BITS)^BANDS with
    p = 1 - theta/pi). Only candidates pay the exact cosine, and the
    threshold filter runs on that exact value, so precision is 1; recall
    (< 1, banding is probabilistic) is measured against the brute-force
    baseline in tests/test_similarity.py. The md5-derived planes make the
    candidate set deterministic, so the DuckDB oracle reproduces it
    EXACTLY -- the driver hash-checks this operator like any other.

    Scale tuning: buckets per band = 2^DUP_BAND_BITS must grow with the
    corpus (16 buckets suits the demo table; at 10^9 vectors use 16-20
    bits and more bands to hold recall) -- the plan shape is unchanged.
    `max_bucket_size` is the complementary production knob (the
    embedding-space twin of jaccard's `max_shingle_df`): a bucket holding
    s vectors emits O(s^2) candidate pairs, so when bucket granularity
    has not kept up with the corpus, one hot bucket turns the equi-join
    quadratic. Capping drops WHOLE overweight (band, band_key) buckets
    before pairing (one extra map-side-combinable count over the keys
    frame); a qualifying pair is lost only if EVERY band it collides in
    is hot -- for a sized index that means degenerate near-center
    vectors. Precision stays 1 (survivors still pay the exact cosine);
    default off so the registered oracle stays exact."""
    e = load_clean_embeddings(spark, sf_dir)
    v = F.col("embedding")
    keys = e.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), _band_key(v, b).alias("band_key")
                    )
                    for b in range(N_DUP_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "vec_id", "embedding", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    if max_bucket_size is not None:
        light = (
            keys.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_s"))
            .filter(F.col("_s") <= max_bucket_size)
            .select("band", "band_key")
        )
        keys = keys.join(light, ["band", "band_key"])
    a, b = keys.alias("a"), keys.alias("b")
    # the bucket join emits BARE id pairs, deduped before any vector
    # rides a shuffle: the old shape carried BOTH full embeddings on
    # every raw candidate row through the dropDuplicates exchange
    # (measured at sf0.1: 222 MB for a 0.8 MB table -- pair-replicated
    # vectors, the kind of volume that breaks a 100 TB run), where the
    # bare-pair exchange is 16 bytes/row. Vectors re-attach by vec_id
    # AFTER the dedup -- two id-keyed joins bounded by the corpus size
    # (broadcast at this SF; plain equi-joins for AQE to decide at
    # scale) -- so the exact cosine is paid once per UNIQUE pair.
    # The pair-dedup exchange is PINNED to defaultParallelism (explicit
    # repartition on the dedup keys, which the distinct-aggregate then
    # reuses -- exchange count unchanged): the stage reading it runs the
    # exact-cosine verify (a 64-dim fold per unique pair), per-row work
    # AQE cannot see when it coalesces the few-MB bare-pair exchange
    # down to a handful of partitions (r12 stage profile: 16 CPU-s of
    # verify through 5 tasks, 4.1 s wall -> full width).
    p = spark.sparkContext.defaultParallelism
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .repartition(p, "vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _band_key_sql(vexpr: str, band: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_hyperplane_sql(band * DUP_BAND_BITS + j)}) >= 0 "
        f"THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(DUP_BAND_BITS)
    )
    return f"({bits})"


def embedding_near_dup_lsh_sql(
    threshold: float = 0.4, max_bucket_size: int | None = None
) -> str:
    keys_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_key_sql('v', b)} AS band_key FROM e"
        for b in range(N_DUP_BANDS)
    )
    cap_ctes = ""
    keys_src = "keys"
    if max_bucket_size is not None:
        cap_ctes = f"""light AS (
  SELECT band, band_key FROM keys
  GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket_size}
),
keysc AS (SELECT keys.* FROM keys JOIN light USING (band, band_key)),
"""
        keys_src = "keysc"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
keys AS (
{keys_union}
),
{cap_ctes}cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM {keys_src} a JOIN {keys_src} b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine
FROM cand JOIN e ea ON vec_a = ea.vec_id JOIN e eb ON vec_b = eb.vec_id
WHERE round(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= {threshold}
"""


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the query vectors: the correctness
    baseline every ANN variant is judged against."""
    e = load_clean_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    n = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    )
    return _topk_ranked(scored, "cosine")


ANN_TOPK_BRUTEFORCE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
scored AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cosine
  FROM e q JOIN e n ON q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""

# ------------------------------------------------ random-hyperplane LSH


def _hyperplane_values(p: int) -> list[float]:
    """Plane p's components, computed at PLAN-BUILD time with the same
    md5 derivation the SQL twin runs: (md5_60bit('hp|p|c') % 2001 - 1000)
    / 1000. Python's hashlib and the engines' md5 agree by definition, so
    the values are identical -- but folding them here matters for speed:
    as a runtime expression the 64-element transform re-hashed DIM md5s
    PER ROW PER PLANE (Catalyst does not constant-fold through a
    higher-order lambda), which measured ~6 s at sf0.1 on the ANN paths;
    as literals the planes cost nothing."""
    import hashlib

    return [
        (int(hashlib.md5(f"hp|{p}|{c}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for c in range(DIM)
    ]


def _hyperplane(p: int) -> Column:
    """Deterministic pseudo-random hyperplane p as a literal array."""
    return F.array(*[F.lit(v) for v in _hyperplane_values(p)])


def _hyperplane_sql(p: int) -> str:
    return (
        f"list_transform(range(0, {DIM}), c -> "
        f"CAST(CAST(('0x' || substr(md5('hp|{p}|' || CAST(c AS VARCHAR)), 1, 15)) AS BIGINT) "
        f"% 2001 - 1000 AS DOUBLE) / 1000.0)"
    )


N_ANN_BANDS = N_PLANES // DUP_BAND_BITS  # 4 bands x 4 bits over planes 0..15


def ann_bucket_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, band, band_key): one row per band, key =
    DUP_BAND_BITS hyperplane sign bits -- the same banding scheme as the
    near-dup path (candidates collide on ANY band, OR semantics)."""
    e = load_clean_embeddings(spark, sf_dir)
    v = F.col("embedding")
    return e.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_key(v, b).alias("band_key"))
                    for b in range(N_ANN_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "vec_id", "embedding", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def _topk_ranked(scored: DataFrame, score_col: str) -> DataFrame:
    """Shared rerank tail: per-query top-K by score, ties on n_id."""
    w = W.partitionBy("q_id").orderBy(F.col(score_col).desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "n_id", score_col, "rank")
    )


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, qv, n_id, nv): banded-LSH candidate pairs for the demo query
    vectors -- the shared candidate generator under ann_topk_lsh and
    ann_topk_quantized (identical buckets, different rerank arithmetic)."""
    keys = ann_bucket_keys(spark, sf_dir)
    q = keys.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "band", "band_key"
    )
    n = keys.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), "band", "band_key"
    )
    return (
        F.broadcast(q)
        .join(n, ["band", "band_key"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "qv", "n_id", "nv")
        .dropDuplicates(["q_id", "n_id"])
    )


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via banded random-hyperplane LSH: a neighbor is a candidate iff
    it agrees with the query on all DUP_BAND_BITS sign bits in at least
    one of N_ANN_BANDS bands; only candidates pay the exact cosine rerank.

    r2's version put all 16 bits in ONE bucket -- at small corpus sizes no
    two vectors share a 2^16 bucket, so the candidate join was empty and
    the driver row vacuously green. Banding (OR over 4-bit bands, the
    exact scheme `embedding_near_dup_lsh` uses) makes P[candidate] =
    1-(1-p^4)^4 with p = 1 - theta/pi: near neighbors collide with high
    probability at every corpus size, and recall vs the brute-force
    baseline is pinned in tests/test_similarity.py.

    Scale: candidate generation is an equi-join on (band, band_key);
    per-band bucket count 2^DUP_BAND_BITS grows with the corpus (more
    bits/bands at 10^9 vectors), plan shape unchanged. Expected candidates
    per query ~ BANDS * N / 2^BITS -- sub-linear rerank the moment bucket
    granularity outpaces the corpus."""
    cand = _lsh_candidates(spark, sf_dir)
    scored = cand.select("q_id", "n_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    return _topk_ranked(scored, "cosine")


def _ann_topk_lsh_sql() -> str:
    keys_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_key_sql('v', b)} AS band_key FROM e"
        for b in range(N_ANN_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
keys AS (
{keys_union}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
  FROM keys q JOIN keys n
    ON q.band = n.band AND q.band_key = n.band_key
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
scored AS (
  SELECT q_id, n_id,
         round(list_dot_product(eq.v, en.v)
               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))), 6) AS cosine
  FROM cand JOIN e eq ON q_id = eq.vec_id JOIN e en ON n_id = en.vec_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


ANN_TOPK_LSH_SQL = _ann_topk_lsh_sql()

# ----------------------------------------------------------------- IVF

N_PROBE = 2  # cells probed per query


def centroid_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid set as ONE row (cents array<struct<cell, cv>>),
    ascending cell -- the broadcastable frozen-model form shared by the
    batch assignment and the streaming ingest twin. Centroids are the
    vectors with vec_id % 50 == 0 (deterministic seeds; a production IVF
    would k-means these -- the assignment/search plumbing is identical)."""
    e = load_clean_embeddings(spark, sf_dir)
    return (
        e.filter(F.col("vec_id") % 50 == 0)
        .select(
            F.struct(
                F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )


def nearest_cell(vec: Column) -> Column:
    """Per-row argmax over the `cents` column: score every centroid ONCE
    (transform to (cosine, -cell) structs) and take the struct max --
    lexicographic struct ordering picks the highest cosine and, on ties,
    the highest negated cell = the SMALLEST cell, identical tie
    semantics to a (cos DESC, cell ASC) window rank, with no shuffle at
    all. (An earlier fold evaluated the cosine twice per centroid --
    once in the predicate, once in the replacement; the transform halves
    the dominant per-row cost. Assumes non-NaN cosines, i.e. no
    zero-norm vectors -- true of the embedding fixtures and any sane
    embedding store.)"""
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine(vec, c["cv"]).alias("cos"), (-c["cell"]).alias("negcell")
        ),
    )
    return (-F.array_max(scored)["negcell"]).cast("bigint")


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment via the per-row fold
    argmax over the 1-row centroid broadcast -- ZERO shuffles (the
    earlier crossJoin + per-vector window rank paid one; the fold IS the
    argmax). The oracle keeps the rank formulation: two algorithms, one
    fixpoint."""
    e = load_clean_embeddings(spark, sf_dir)
    return e.crossJoin(F.broadcast(centroid_row(spark, sf_dir))).select(
        "vec_id", nearest_cell(F.col("embedding")).alias("cell")
    )


IVF_ASSIGNMENTS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, cent.cell,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_c
  FROM e CROSS JOIN cent
)
SELECT vec_id, cell FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cell ASC) AS rn
  FROM scored
)
WHERE rn = 1
"""


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: each query probes its N_PROBE nearest cells and exact-
    reranks only the vectors assigned there -- the sub-linear path that
    replaces the brute-force broadcast at scale (search cost ~ N_PROBE /
    N_CELLS of the corpus per query; recall < 1 by construction, compare
    against ann_topk_bruteforce).

    Plan shape: centroid scoring is a broadcast (centroids are tiny by
    definition), candidate generation is an equi-join on cell id.
    """
    e = load_clean_embeddings(spark, sf_dir)
    cent = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    # per-vector nearest cell (corpus side) -- same ranking as assignments
    scored_all = e.select("vec_id", "embedding").crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "cell", cosine(F.col("embedding"), F.col("cv")).alias("cos_c")
    )
    w1 = W.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cell").asc())
    ranked = scored_all.withColumn("rn", F.row_number().over(w1))
    assigned = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), F.col("cell")
    )
    # query side probes its N_PROBE nearest cells
    probes = (
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell")
    )
    cand = F.broadcast(probes).join(assigned, "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.select("q_id", "n_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    return _topk_ranked(scored, "cosine")


IVF_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.cell,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_c
  FROM e CROSS JOIN cent
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cell ASC) AS rn
  FROM scored
),
assigned AS (SELECT vec_id AS n_id, v AS nv, cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, v AS qv, cell FROM ranked
           WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
cand AS (
  SELECT p.q_id, a.n_id,
         round(list_dot_product(p.qv, a.nv)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))), 6) AS cosine
  FROM probes p JOIN assigned a USING (cell)
  WHERE p.q_id <> a.n_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM cand
)
WHERE rank <= {TOP_K}
"""

# ------------------------------------------------- multi-probe LSH ANN

#: probe perturbations per band: the exact bucket plus every Hamming-1
#: neighbor (one sign bit flipped). Query-side only -- the corpus is hashed
#: once; recall rises like adding BITS extra bands at zero index cost.
PROBE_FLIPS = [0] + [1 << j for j in range(DUP_BAND_BITS)]


def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB 2007): each query probes its
    exact bucket AND every bucket one flipped sign bit away, in every
    band. A near neighbor that straddles one hyperplane (the common
    near-miss) is still found, so recall approaches brute force without
    growing the corpus-side index -- the standard memory/recall trade
    against `ann_topk_lsh`, whose buckets and rerank this shares.

    Scale: the probe explosion multiplies only the QUERY side (Q tiny by
    assumption) by BANDS*(1+BITS); candidates remain an equi-join on
    (band, band_key), and the corpus index is byte-identical to the
    single-probe path, so one hashed corpus serves both operators."""
    keys = ann_bucket_keys(spark, sf_dir)
    q = (
        keys.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            "band",
            "band_key",
            F.explode(F.array(*[F.lit(f) for f in PROBE_FLIPS])).alias("flip"),
        )
        .select(
            "q_id", "qv", "band",
            F.col("band_key").bitwiseXOR(F.col("flip")).alias("band_key"),
        )
    )
    n = keys.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), "band", "band_key"
    )
    cand = (
        F.broadcast(q)
        .join(n, ["band", "band_key"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "qv", "n_id", "nv")
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = cand.select("q_id", "n_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    return _topk_ranked(scored, "cosine")


def _ann_topk_multiprobe_sql() -> str:
    keys_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_key_sql('v', b)} AS band_key FROM e"
        for b in range(N_ANN_BANDS)
    )
    flips = ", ".join(str(f) for f in PROBE_FLIPS)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
keys AS (
{keys_union}
),
probes AS (
  SELECT vec_id, band, xor(band_key, f.flip) AS band_key
  FROM keys CROSS JOIN (SELECT unnest([{flips}]::BIGINT[]) AS flip) f
  WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT p.vec_id AS q_id, n.vec_id AS n_id
  FROM probes p JOIN keys n
    ON p.band = n.band AND p.band_key = n.band_key
  WHERE p.vec_id <> n.vec_id
),
scored AS (
  SELECT q_id, n_id,
         round(list_dot_product(eq.v, en.v)
               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))), 6) AS cosine
  FROM cand JOIN e eq ON q_id = eq.vec_id JOIN e en ON n_id = en.vec_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


ANN_TOPK_MULTIPROBE_SQL = _ann_topk_multiprobe_sql()

# ---------------------------------------- int8 quantization + quantized ANN

#: symmetric per-vector int8 quantization: q_i = round(127 * x_i / max|x|).
#: 4x memory reduction on the stored corpus -- at 100 TB of embeddings the
#: difference between an index that fits executor memory and one that spills.
QUANT_LEVELS = 127


def _quant_scale(v: Column) -> Column:
    """Per-vector max-abs scale (floored away from zero-vector division)."""
    return F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )


def _quantize(v: Column, scale: Column) -> Column:
    """int8-range codes as bigint. floor(x+0.5) instead of round(): both
    engines define floor identically, so the codes are definitionally
    cross-engine-deterministic (round() half-away vs half-even varies)."""
    return F.transform(
        v,
        lambda x: F.floor(
            x.cast("double") * QUANT_LEVELS / scale + F.lit(0.5)
        ).cast("bigint"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two code arrays -- no float summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized-corpus materialization pass: per-vector scale, the
    int8 code string (codes joined with ',' -- a scalar column the driver
    can canonicalize, unlike a raw array), and the exact integer squared
    norm that the quantized ANN rerank divides by.

    At scale this is the write side of an ANN serving index: one narrow
    map over the embeddings scan (no shuffle, no UDF), emitting 1/4 the
    bytes of the float corpus; ann_topk_quantized is the read side.

    A vector containing a NULL COMPONENT degrades to an all-NULL row
    (scale, codes, norm), same as a NULL vector: serving a silently
    shortened code string is index corruption (concat_ws and the
    oracle's array_to_string both SKIP null elements, so a 64-dim
    vector with one NULL would otherwise emit 63 codes and the two
    engines would then disagree on the norm -- Spark's aggregate
    NULL-propagates, DuckDB's list_sum null-skips; r9 mixed sweep)."""
    e = load_table(spark, sf_dir, "embeddings")
    raw = F.col("embedding")
    clean = raw.isNotNull() & ~F.exists(raw, lambda x: x.isNull())
    v = F.when(clean, raw)
    # explicit gate: greatest() IGNORES nulls in both engines, so
    # _quant_scale(NULL) would come back 1e-30 instead of NULL
    scale = F.when(clean, _quant_scale(v))
    q = _quantize(v, scale)
    return e.select(
        "vec_id",
        "label",
        F.round(scale, 6).alias("scale"),
        # concat_ws treats a NULL array as '' -- guard so a NULL embedding
        # yields a NULL code string (= the oracle's array_to_string(NULL))
        F.when(
            v.isNotNull(),
            F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))),
        ).alias("q_codes"),
        _int_dot(q, q).alias("q_norm2"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH e AS (
  -- a vector with a NULL component degrades whole (see the engine
  -- docstring): normalize it to a NULL vector up front
  SELECT vec_id, label,
         CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
              THEN NULL ELSE CAST(embedding AS DOUBLE[]) END AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, label, v,
         CASE WHEN v IS NULL THEN NULL
              ELSE greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
         END AS scale
  FROM e
),
q AS (
  SELECT vec_id, label, scale,
         list_transform(v, x -> CAST(floor(x * {QUANT_LEVELS} / scale + 0.5) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id, label, round(scale, 6) AS scale,
       array_to_string(qv, ',') AS q_codes,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_norm2
FROM q
"""


def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH ANN reranked on int8-quantized vectors -- the production
    memory shape (bucket on full-precision planes once at write time,
    serve the 4x-smaller quantized corpus at read time).

    The quantized cosine is a ratio of EXACT int64 dot products (codes and
    norms are integers), so the only floating point is one final
    divide+sqrt -- deterministic across engines by construction, no
    summation-order hazard at any partition count. Approximation error vs
    the float cosine is bounded in tests/test_similarity.py."""
    # quantize each vector ONCE (the SQL twin's qz CTE): the earlier
    # version re-quantized qv/nv per CANDIDATE row, paying C redundant
    # 3-pass quantizations of the same query vector and one per
    # (query, neighbor) hit on popular neighbors
    e = load_clean_embeddings(spark, sf_dir)
    qz = e.select(
        "vec_id",
        _quantize(F.col("embedding"), _quant_scale(F.col("embedding"))).alias(
            "codes"
        ),
    )
    cand = _lsh_candidates(spark, sf_dir).select("q_id", "n_id")
    with_codes = (
        F.broadcast(cand)
        .join(qz.select(F.col("vec_id").alias("n_id"), F.col("codes").alias("qb")), "n_id")
        .join(
            F.broadcast(
                qz.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("q_id"), F.col("codes").alias("qa")
                )
            ),
            "q_id",
        )
        .select("q_id", "n_id", "qa", "qb")
    )
    cos_q = F.round(
        _int_dot(F.col("qa"), F.col("qb")).cast("double")
        / (
            F.sqrt(_int_dot(F.col("qa"), F.col("qa")).cast("double"))
            * F.sqrt(_int_dot(F.col("qb"), F.col("qb")).cast("double"))
        ),
        6,
    )
    scored = with_codes.select("q_id", "n_id", cos_q.alias("cosine_q"))
    return _topk_ranked(scored, "cosine_q")


def _ann_topk_quantized_sql() -> str:
    keys_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {_band_key_sql('v', b)} AS band_key FROM e"
        for b in range(N_ANN_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
qz AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x * {QUANT_LEVELS}
           / greatest(list_max(list_transform(v, y -> abs(y))), 1e-30) + 0.5) AS BIGINT)) AS qv
  FROM e
),
keys AS (
{keys_union}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
  FROM keys q JOIN keys n
    ON q.band = n.band AND q.band_key = n.band_key
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
scored AS (
  SELECT q_id, n_id,
         round(CAST(CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS BIGINT) AS DOUBLE))), 6)
           AS cosine_q
  FROM cand JOIN qz a ON q_id = a.vec_id JOIN qz b ON n_id = b.vec_id
)
SELECT q_id, n_id, cosine_q, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine_q DESC, n_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


ANN_TOPK_QUANTIZED_SQL = _ann_topk_quantized_sql()

# ------------------------------- SemDeDup (cluster-scoped semantic dedup)

#: within-cluster cosine at or above this marks the higher-id vector as a
#: semantic duplicate (SemDeDup, Abbas et al. 2023, arXiv:2303.09540: k-means
#: the embedding space, then prune near-identical pairs WITHIN each cluster
#: only -- the quadratic term is bounded by cluster size, never corpus size).
SEM_DUP_THRESHOLD = 0.4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: assign every vector to its nearest centroid cell
    (same deterministic centroid family as `ivf_assignments`; production
    would k-means), then within each cell mark any vector whose cosine to a
    LOWER-id cellmate reaches SEM_DUP_THRESHOLD as `sem_dup`; the rest are
    `kept`. Deterministic keeper = the smallest vec_id of each dup relation.

    Scale shape: centroid scoring is a broadcast (centroids are tiny by
    definition), the pair search is a SELF EQUI-JOIN ON CELL ID -- no
    vector ever compares outside its cell, so with k ~ sqrt(N) clusters the
    per-cell work stays ~N total while a global all-pairs would be N^2.
    Complements `embedding_near_dup_lsh` (recall-tunable bands) with the
    partition-then-prune recipe curation pipelines use for diversity.
    """
    e = load_clean_embeddings(spark, sf_dir)
    # assignment = the shared shuffle-free fold argmax (ivf_assignments'
    # path) -- identical semantics, and one code path to keep tie/centroid
    # changes consistent across the three assignment consumers
    assigned = e.crossJoin(F.broadcast(centroid_row(spark, sf_dir))).select(
        "vec_id", "embedding", nearest_cell(F.col("embedding")).alias("cell")
    )
    a = assigned.select("vec_id", "cell", F.col("embedding").alias("va"))
    b = assigned.select(
        F.col("vec_id").alias("b_id"), "cell", F.col("embedding").alias("vb")
    )
    dup_ids = (
        a.join(b, "cell")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(cosine(F.col("va"), F.col("vb")) >= SEM_DUP_THRESHOLD)
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("is_dup"), F.lit("sem_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


DEDUP_SEMANTIC_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.cell,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_c
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        >= {SEM_DUP_THRESHOLD}
)
SELECT a.vec_id, a.cell,
       CASE WHEN d.vec_id IS NOT NULL THEN 'sem_dup' ELSE 'kept' END AS status
FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""


# --------------------------------------------------------- KMeans (Lloyd)

#: fixed Lloyd iterations for the trained-centroid path. Fixed-count
#: (not convergence-tested) keeps the computation a deterministic DAG:
#: the oracle unrolls the same 3 iterations, and a production run picks
#: iterations by inertia curve offline.
KMEANS_ITERS = 3


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus -- the
    TRAINING step the IVF family's frozen centroids come from
    (`centroid_row` documents that a production IVF k-means its seeds;
    this is that path, kept deterministic end-to-end).

    Per iteration: (1) assignment = the same zero-shuffle broadcast
    fold-argmax as `ivf_assignments` (cosine metric, rounded to 6dp,
    ties to the smallest cell); (2) update = per-(cell, dim) exact
    decimal mean of the members, rounded to 6dp so the next iteration's
    cosines -- and the oracle's -- see bit-identical centroids; empty
    cells keep their previous centroid. `localCheckpoint` cuts the
    lineage between iterations (the connected-components pattern from
    dedup_cluster_keepers): without it each round's broadcast re-derives
    every prior round's plan.

    Scale: assignment is a narrow map over a K-row broadcast; the update
    shuffles (cell, dim) partial sums -- map-side combinable, K*DIM rows
    after combine, independent of corpus size. Output is the
    driver-canonicalizable (cell, n_members, dim, value) long form.

    Returns centroids after KMEANS_ITERS rounds with each cell's member
    count from the LAST update (standard Lloyd reporting)."""
    e = load_clean_embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    n_members = F.lit(None).cast("long")
    prev = None
    for _ in range(KMEANS_ITERS):
        cents1 = cent.select(F.struct("cell", "cv").alias("c")).agg(
            F.sort_array(F.collect_list("c")).alias("cents")
        )
        assigned = e.crossJoin(F.broadcast(cents1)).select(
            "vec_id", "v", nearest_cell(F.col("v")).alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(
                F.round(
                    dec_sum("val") / F.count(F.lit(1)).cast("double"), 6
                ).alias("val_m"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        upd = means.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "val_m"))),
                lambda c: c["val_m"],
            ).alias("cv_new"),
            F.first("n_rows").alias("n_new"),
        )
        cent = local_checkpoint(
            cent.alias("p")
            .join(upd, "cell", "left")
            .select(
                "cell",
                F.coalesce("cv_new", F.col("p.cv")).alias("cv"),
                F.coalesce("n_new", F.lit(0)).alias("n_members"),
            )
        )
        if prev is not None:
            free_local_checkpoint(prev)  # superseded round's blocks
        prev = cent
    return cent.select(
        "cell", "n_members", F.posexplode("cv").alias("dim", "value")
    )


def _kmeans_iter_sql(i: int, prev: str) -> str:
    mean = round_sql(
        "CAST(CAST(SUM(CAST(v[r.range + 1] AS DECIMAL(28,10))) AS VARCHAR)"
        " AS DOUBLE) / COUNT(*)",
        6,
    )
    return f"""
s{i} AS (SELECT e.vec_id, e.v, c.cell,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_c
         FROM e CROSS JOIN {prev} c),
a{i} AS (SELECT vec_id, v, cell FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY cos_c DESC, cell ASC) AS rn
           FROM s{i})
         WHERE rn = 1),
m{i} AS (SELECT cell, r.range AS dim, {mean} AS val_m, COUNT(*) AS n_rows
         FROM a{i} CROSS JOIN range(0, {DIM}) r
         GROUP BY 1, 2),
u{i} AS (SELECT cell, list(val_m ORDER BY dim) AS cv, any_value(n_rows) AS n
         FROM m{i} GROUP BY 1),
c{i} AS (SELECT p.cell, coalesce(u{i}.cv, p.cv) AS cv, coalesce(u{i}.n, 0) AS n
         FROM {prev} p LEFT JOIN u{i} USING (cell))"""


KMEANS_TRAIN_SQL = (
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),"""
    + ",".join(
        _kmeans_iter_sql(i + 1, f"c{i}") for i in range(KMEANS_ITERS)
    )
    + f"""
SELECT c.cell, c.n AS n_members, r.range AS dim, c.cv[r.range + 1] AS value
FROM c{KMEANS_ITERS} c CROSS JOIN range(0, {DIM}) r
"""
)


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained (cell, cv) centroid frame = kmeans_train's long-form
    output re-assembled -- ONE shared code path with the registered query
    so the trained-IVF search below can never drift from the audited
    training loop."""
    t = kmeans_train(spark, sf_dir)
    return t.groupBy("cell").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "value"))),
            lambda c: c["value"],
        ).alias("cv")
    )


def ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED k-means centroids (ann_kmeans_train)
    instead of the deterministic seed cells -- the end-to-end production
    path: train offline, freeze, serve. Same plan shape as `ann_ivf_topk`
    (broadcast centroid scoring, cell-id equi-join candidates); the only
    change is the model frame feeding the broadcast."""
    e = load_clean_embeddings(spark, sf_dir)
    cent = kmeans_centroids(spark, sf_dir)
    scored_all = e.select("vec_id", "embedding").crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "cell", cosine(F.col("embedding"), F.col("cv")).alias("cos_c")
    )
    w1 = W.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cell").asc())
    ranked = scored_all.withColumn("rn", F.row_number().over(w1))
    assigned = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), F.col("cell")
    )
    probes = (
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell")
    )
    cand = F.broadcast(probes).join(assigned, "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.select("q_id", "n_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    return _topk_ranked(scored, "cosine")


#: the kmeans CTE chain (e, c0..c{ITERS}) with the search SQL of
#: IVF_TOPK_SQL pointed at the trained model instead of the seed cells.
IVF_TOPK_TRAINED_SQL = (
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),"""
    + ",".join(_kmeans_iter_sql(i + 1, f"c{i}") for i in range(KMEANS_ITERS))
    + f""",
scored AS (
  SELECT e.vec_id, e.v, cent.cell,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_c
  FROM e CROSS JOIN c{KMEANS_ITERS} cent
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cell ASC) AS rn
  FROM scored
),
assigned AS (SELECT vec_id AS n_id, v AS nv, cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, v AS qv, cell FROM ranked
           WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
cand AS (
  SELECT p.q_id, a.n_id,
         round(list_dot_product(p.qv, a.nv)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.nv, a.nv))), 6) AS cosine
  FROM probes p JOIN assigned a USING (cell)
  WHERE p.q_id <> a.n_id
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM cand
)
WHERE rank <= {TOP_K}
"""
)


# --------------------------------------------------------------------------
# Product quantization (Jegou et al. 2011): per-subspace codebooks, small
# integer codes, asymmetric-distance (ADC) shortlist + exact rerank.  The
# compressed-index scale path: the corpus is represented by PQ_M 4-bit
# codes per vector (16 bytes vs 256 bytes of floats), query-time scan is a
# table lookup + sum per vector, and only the ADC shortlist pays a
# full-dimension distance.
# --------------------------------------------------------------------------

PQ_M = 32  # subspaces (2 dims each)
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # codes per subspace codebook
PQ_SEED_MOD = 33  # vec_id % 33 == 0 -> the 16 deterministic seed vectors
PQ_ITERS = 2  # Lloyd refinement rounds per subspace
PQ_SHORTLIST = 25  # ADC candidates per query that reach the exact rerank


def _pq_sub(v: Column, m: Column) -> Column:
    """1-based PQ_SUBDIM-wide sub-slice of the vector for subspace m."""
    return F.slice(v, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance via three sequential-fold dots in literal
    order (aa - 2*ab + bb): bit-identical to the oracle's
    list_dot_product composition, 6dp-quantized before any compare."""
    return F.round(dot(a, a) - 2.0 * dot(a, b) + dot(b, b), 6)


def _d2_sql(a: str, b: str) -> str:
    return round_sql(
        f"list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b})",
        6,
    )


def _pq_subspaces(e: DataFrame) -> DataFrame:
    """(vec_id, m, sub): each vector split into its PQ_M sub-vectors --
    a narrow explode, no shuffle."""
    return e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        "v",
    ).select("vec_id", "m", _pq_sub(F.col("v"), F.col("m")).alias("sub"))


def _pq_codebook_row(cb: DataFrame) -> DataFrame:
    """The codebook as ONE broadcastable row, INDEXED BY SUBSPACE:
    cbm[m+1] = subspace m's (code, cv) entries sorted by code -- the
    frozen-model form `centroid_row` uses for IVF. The per-row argmin
    fold reads exactly its PQ_K entries by position instead of
    re-filtering all M*K structs on every (vector, subspace) row (a
    32x constant factor at PQ_M=32, paid once per corpus row per
    training round AND per encode)."""
    per_m = cb.groupBy("m").agg(
        F.sort_array(F.collect_list(F.struct("code", "cv"))).alias("entries")
    )
    row = per_m.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("m", "entries"))),
            lambda s: s["entries"],
        ).alias("cbm")
    )
    # the positional element_at(cbm, m+1) lookup in _pq_best_code is only
    # sound if EVERY subspace 0..PQ_M-1 is present (indices shift
    # silently otherwise). The invariant holds by construction -- seeds
    # cover all PQ_M subspaces and empty codes keep their previous entry
    # -- but a violation would mis-assign codes, not fail, so make it
    # loud: assert_true costs one comparison on a one-row model frame.
    # size == 0 is the legitimate no-model degenerate: a corpus with NO
    # seed vectors at all (empty table, or no vec_id divisible by
    # PQ_SEED_MOD) -- downstream try_element_at yields NULL codes and
    # queries return empty, the pre-indexing degradation behavior; any
    # OTHER size means a partially-covering codebook and must never
    # assign codes.
    return row.select(
        F.when(
            F.assert_true(
                F.size("cbm").isin(0, PQ_M),
                F.lit("PQ codebook missing a subspace"),
            ).isNull(),
            F.col("cbm"),
        ).alias("cbm")
    )


def _pq_best_code(sub: Column, m: Column) -> Column:
    """Per-row argmin over the broadcast codebook's subspace-m entries
    (positional lookup into the m-indexed `cbm` row): score every entry
    once into (-d2, -code) structs and take the struct max = smallest
    distance, ties to the smallest code -- the zero-shuffle fold
    `nearest_cell` uses, in L2. try_element_at, not element_at: on the
    legitimate EMPTY codebook (no-seed corpus, see _pq_codebook_row) the
    lookup must degrade to NULL codes -- the pre-r8 filter-based
    lookup's behavior -- not raise INVALID_ARRAY_INDEX under ANSI mode
    while a non-empty corpus is being assigned."""
    scored = F.transform(
        F.try_element_at(F.col("cbm"), m + F.lit(1)),
        lambda c: F.struct(
            (-_d2(sub, c["cv"])).alias("negd"), (-c["code"]).alias("negcode")
        ),
    )
    return (-F.array_max(scored)["negcode"]).cast("int")


def _pq_assign(e_subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, sub, code): nearest-codebook-entry assignment via the
    broadcast fold-argmin -- zero shuffle."""
    return e_subs.crossJoin(F.broadcast(_pq_codebook_row(cb))).select(
        "vec_id", "m", "sub", _pq_best_code(F.col("sub"), F.col("m")).alias("code")
    )


def pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, code, cv, n_members): per-subspace codebooks after PQ_ITERS
    Lloyd rounds from deterministic seeds.

    Seeds are the PQ_K sub-vectors of `vec_id % PQ_SEED_MOD == 0`, coded
    by vec_id rank (a PQ_K-row single-partition window -- model-sized,
    not corpus-sized).  Each round: every (vector, subspace) assigns to
    its nearest entry via the broadcast fold-argmin (zero shuffle), then
    one map-side-combinable (m, code, dim) decimal-mean shuffle rebuilds
    the centroids, 6dp-rounded so the next round's -- and the oracle's --
    distances see bit-identical codebooks.  Empty codes keep their
    previous entry.  `localCheckpoint` between rounds cuts the lineage
    (the `kmeans_train` pattern): without it round r's broadcast replays
    every earlier round's plan.

    Scale: each round touches the corpus once (narrow map against an
    M*K-entry broadcast); the update shuffle carries M*K*SUBDIM combined
    rows, independent of corpus size."""
    e = load_clean_embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = (
        e.filter(F.col("vec_id") % PQ_SEED_MOD == 0)
        .select((F.row_number().over(W.orderBy("vec_id")) - 1).alias("code"), "v")
        # cap at PQ_K: the 4-bit-code contract must hold even if the
        # corpus (and thus the % PQ_SEED_MOD seed yield) grows
        .filter(F.col("code") < PQ_K)
    )
    cb = seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), "code", "v"
    ).select("m", "code", _pq_sub(F.col("v"), F.col("m")).alias("cv"))
    e_subs = _pq_subspaces(e)
    prev = None
    for _ in range(PQ_ITERS):
        assigned = _pq_assign(e_subs, cb)
        means = (
            assigned.select("m", "code", F.posexplode("sub").alias("dim", "val"))
            .groupBy("m", "code", "dim")
            .agg(
                F.round(dec_sum("val") / F.count(F.lit(1)).cast("double"), 6).alias(
                    "val_m"
                ),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        upd = means.groupBy("m", "code").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "val_m"))),
                lambda c: c["val_m"],
            ).alias("cv_new"),
            F.first("n_rows").alias("n_new"),
        )
        cb = local_checkpoint(
            cb.alias("p")
            .join(upd, ["m", "code"], "left")
            .select(
                "m",
                "code",
                F.coalesce("cv_new", F.col("p.cv")).alias("cv"),
                F.coalesce("n_new", F.lit(0)).alias("n_members"),
            )
        )
        if prev is not None:
            free_local_checkpoint(prev)  # superseded round's blocks
        prev = cb
    return cb


def ann_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PQ codebook in driver-canonicalizable long form:
    (m, code, n_members, dim, value)."""
    return pq_trained_codebook(spark, sf_dir).select(
        "m", "code", "n_members", F.posexplode("cv").alias("dim", "value")
    )


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search, the standard two-stage shape (ADC scan -> exact
    rerank): encode the corpus as PQ_M codes against the trained
    codebook, precompute each query's (m, code) -> partial-d2 table,
    shortlist PQ_SHORTLIST candidates per query by summed table lookups,
    and rerank ONLY the shortlist with full-dimension exact distances.

    Corpus-side cost: (1) encoding -- a narrow map against the broadcast
    codebook, zero shuffle, M small ints per vector (the 16x compression
    that keeps a 100 TB index RAM-resident); (2) the ADC scan -- codes
    equi-join the broadcast Q*M*K-row distance table on (m, code) and
    sum exactly M partials per (query, neighbor) in one map-side-
    combinable decimal aggregate.  Queries stay uncompressed (the
    'asymmetric' in ADC: quantization error only on the database side),
    and the rerank joins the Q*PQ_SHORTLIST-row shortlist back to full
    vectors as a broadcast -- the corpus never pays full-dimension
    arithmetic after encoding.  Recall@TOP_K vs the exact L2 baseline is
    pinned in tests/test_similarity.py (1.0 at test scale: every true
    neighbor reaches the shortlist).  6dp partials + decimal sums keep
    both engines bit-equal; ties break on n_id at both stages."""
    cb = pq_trained_codebook(spark, sf_dir)
    cb_row = _pq_codebook_row(cb)
    e = load_clean_embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    codes = _pq_assign(_pq_subspaces(e), cb).select(
        F.col("vec_id").alias("n_id"), "m", "code"
    )
    qtable = (
        _pq_subspaces(e.filter(F.col("vec_id") < N_QUERIES))
        .crossJoin(F.broadcast(cb_row))
        .select(
            F.col("vec_id").alias("q_id"),
            "m",
            "sub",
            F.explode(
                F.element_at(F.col("cbm"), F.col("m") + F.lit(1))
            ).alias("c"),
        )
        .select(
            "q_id",
            "m",
            F.col("c.code").alias("code"),
            _d2(F.col("sub"), F.col("c.cv")).alias("pd2"),
        )
    )
    shortlist = (
        codes.join(F.broadcast(qtable), ["m", "code"])
        .filter(F.col("n_id") != F.col("q_id"))
        .groupBy("q_id", "n_id")
        .agg(F.round(dec_sum("pd2"), 6).alias("approx_d2"))
        .withColumn(
            "adc_rank",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.col("approx_d2").asc(), F.col("n_id").asc()
                )
            ),
        )
        .filter(F.col("adc_rank") <= PQ_SHORTLIST)
    )
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    reranked = (
        e.join(
            F.broadcast(shortlist.select("q_id", "n_id", "approx_d2")),
            e.vec_id == F.col("n_id"),
        )
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id", "n_id", "approx_d2", _d2(F.col("qv"), F.col("v")).alias("d2")
        )
    )
    ranked = reranked.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("n_id").asc())
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "n_id", "approx_d2", "d2", "rank"
    )


_PQ_MEAN_SQL = round_sql(
    "CAST(CAST(SUM(CAST(sub[r.range + 1] AS DECIMAL(28,10))) AS VARCHAR)"
    " AS DOUBLE) / COUNT(*)",
    6,
)

_PQ_DEC_SUM_PD2 = round_sql(
    "CAST(CAST(SUM(CAST(qt.pd2 AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)", 6
)


def _pq_slice_sql(vexpr: str) -> str:
    return (
        f"list_slice({vexpr}, mm.range * {PQ_SUBDIM} + 1,"
        f" mm.range * {PQ_SUBDIM} + {PQ_SUBDIM})"
    )


def _pq_iter_sql(i: int, prev: str) -> str:
    """One Lloyd round as CTEs: score vs cb{i-1}, argmin-assign, decimal
    means, rebuild -- the `_kmeans_iter_sql` pattern per subspace."""
    return f"""
scored{i} AS (
  SELECT s.vec_id, s.m, s.sub, c.code, {_d2_sql('s.sub', 'c.cv')} AS d2
  FROM subs s JOIN {prev} c ON s.m = c.m
),
a{i} AS (
  SELECT m, sub, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, code ASC) AS rn
    FROM scored{i})
  WHERE rn = 1
),
m{i} AS (
  SELECT m, code, r.range AS dim, {_PQ_MEAN_SQL} AS val_m, COUNT(*) AS n_rows
  FROM a{i} CROSS JOIN range(0, {PQ_SUBDIM}) r
  GROUP BY 1, 2, 3
),
u{i} AS (
  SELECT m, code, list(val_m ORDER BY dim) AS cv, any_value(n_rows) AS n
  FROM m{i} GROUP BY 1, 2
),
cb{i} AS (
  SELECT c.m, c.code, coalesce(u{i}.cv, c.cv) AS cv,
         coalesce(u{i}.n, CAST(0 AS BIGINT)) AS n_members
  FROM {prev} c LEFT JOIN u{i} USING (m, code)
)"""


_PQ_COMMON_SQL = (
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
seeds AS (
  SELECT * FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v
    FROM e WHERE vec_id % {PQ_SEED_MOD} = 0)
  WHERE code < {PQ_K}
),
cb0 AS (
  SELECT mm.range AS m, code, {_pq_slice_sql('v')} AS cv
  FROM seeds CROSS JOIN range(0, {PQ_M}) mm
),
subs AS (
  SELECT vec_id, mm.range AS m, {_pq_slice_sql('v')} AS sub
  FROM e CROSS JOIN range(0, {PQ_M}) mm
),"""
    + ",".join(_pq_iter_sql(i + 1, f"cb{i}") for i in range(PQ_ITERS))
)

_PQ_CB_FINAL = f"cb{PQ_ITERS}"

ANN_PQ_TRAIN_SQL = (
    _PQ_COMMON_SQL
    + f"""
SELECT m, code, n_members, r.range AS dim, cv[r.range + 1] AS value
FROM {_PQ_CB_FINAL} CROSS JOIN range(0, {PQ_SUBDIM}) r
"""
)

ANN_TOPK_PQ_SQL = (
    _PQ_COMMON_SQL
    + f""",
enc AS (
  SELECT s.vec_id, s.m, c.code, {_d2_sql('s.sub', 'c.cv')} AS d2
  FROM subs s JOIN {_PQ_CB_FINAL} c ON s.m = c.m
),
codes AS (
  SELECT vec_id AS n_id, m, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, code ASC) AS rn
    FROM enc)
  WHERE rn = 1
),
qtable AS (
  SELECT s.vec_id AS q_id, s.m, c.code, {_d2_sql('s.sub', 'c.cv')} AS pd2
  FROM subs s JOIN {_PQ_CB_FINAL} c ON s.m = c.m
  WHERE s.vec_id < {N_QUERIES}
),
shortlist AS (
  SELECT q_id, n_id, approx_d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY approx_d2 ASC, n_id ASC) AS adc_rank
    FROM (
      SELECT qt.q_id, n.n_id, {_PQ_DEC_SUM_PD2} AS approx_d2
      FROM codes n JOIN qtable qt ON n.m = qt.m AND n.code = qt.code
      WHERE n.n_id <> qt.q_id
      GROUP BY 1, 2))
  WHERE adc_rank <= {PQ_SHORTLIST}
),
reranked AS (
  SELECT sl.q_id, sl.n_id, sl.approx_d2, {_d2_sql('q.v', 'n.v')} AS d2
  FROM shortlist sl
  JOIN e q ON q.vec_id = sl.q_id
  JOIN e n ON n.vec_id = sl.n_id
)
SELECT q_id, n_id, approx_d2, d2, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY d2 ASC, n_id ASC) AS rank
  FROM reranked
)
WHERE rank <= {TOP_K}
"""
)


# --------------------------------------------------------------------------
# PCA top component via power iteration -- the embedding-diagnostics
# operator (dominant direction + how much variance it explains; the
# "is this embedding space collapsing?" monitoring signal).
# --------------------------------------------------------------------------

PCA_ITERS = 3  # fixed unrolled power-iteration rounds


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by PCA_ITERS
    power-iteration rounds, plus the Rayleigh eigenvalue and explained-
    variance fraction.

    The corpus-side work is exactly TWO map-side-combinable aggregates:
    the per-dim decimal mean (64 combined rows) and the centered
    covariance -- each row emits the UPPER TRIANGLE (i <= j) of its
    outer product through one nested-transform explode (no corpus
    self-join on vec_id, which would shuffle the whole table to rebuild
    rows it already had); symmetry supplies the lower half as a
    model-frame mirror union after the aggregate, bit-identical because
    xi*xj == xj*xi exactly in doubles and decimal addition is
    order-free. The shuffle carries only the DIM*(DIM+1)/2-key combined
    partials.  Everything
    after that is model-sized: power iteration is a (DIM^2 x DIM)
    equi-join per round, unrolled PCA_ITERS times with 6dp rounding and
    `localCheckpoint` (the `kmeans_train` de-recursion pattern -- both
    engines iterate on bit-identical vectors).  Start vector is the
    exact-unit uniform 1/8 (64 * 0.125^2 = 1), so no round-0 normalize.

    At 100 TB only the two corpus aggregates scale with data; DIM^2
    stays 4096 rows.  Sign is pinned by the deterministic start; the
    dominant-eigivector convergence rate is (lambda2/lambda1)^k --
    3 rounds suffice for the diagnostics use (Rayleigh quotient is
    quadratically accurate), more rounds are the same unrolled step.

    Output: (dim, loading, eigenvalue, explained_frac).

    The study population is the shared clean scan (load_clean_
    embeddings): engines disagree on per-dimension NULL skipping inside
    the mean/covariance denominators (Spark's posexplode emits NULL
    rows that count() includes but dec_sum skips; DuckDB's element
    indexing differs again), so the only cross-engine-deterministic
    treatment is the index-membership population -- r9 inlined the
    vector half of that predicate here, which silently missed the r10
    vec_id membership extension (caught by the mixed_keys sweep); the
    scan now comes from the ONE shared definition."""
    e = load_clean_embeddings(spark, sf_dir).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    mu = (
        e.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.round(dec_sum("val") / F.count(F.lit(1)).cast("double"), 6).alias("m"))
    )
    mu_row = mu.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "m"))), lambda c: c["m"]
        ).alias("mu")
    )
    n_row = e.agg(F.count(F.lit(1)).alias("n"))
    centered = e.crossJoin(F.broadcast(mu_row)).select(
        F.zip_with("v", "mu", lambda x, m: x - m).alias("c")
    )
    # upper triangle only (i <= j): the covariance matrix is symmetric,
    # so each row emits DIM*(DIM+1)/2 products instead of DIM^2 and the
    # corpus-scale aggregate halves; the mirror is a model-frame union.
    # Mirrored values are BIT-identical to computing both halves: the
    # double product xi*xj == xj*xi exactly, and dec_sum is exact
    # decimal addition (order-free), so cov(j,i) == cov(i,j) digit for
    # digit in both engines.
    outer = centered.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("c"),
                    lambda xi, i: F.transform(
                        F.slice(F.col("c"), i + F.lit(1), F.lit(DIM)),
                        lambda xj, jj: F.struct(
                            i.alias("i"), (i + jj).alias("j"), (xi * xj).alias("p")
                        ),
                    ),
                )
            )
        ).alias("o")
    )
    # checkpoint the TRIANGLE, before the mirror: the union's second
    # branch would otherwise re-run the corpus aggregate
    cov_ut = local_checkpoint(
        outer.select(F.col("o.i").alias("i"), F.col("o.j").alias("j"), F.col("o.p").alias("p"))
        .groupBy("i", "j")
        .agg(dec_sum("p").alias("s"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            # try_divide: a 1-row corpus has n-1 = 0; the oracle's s/0 is
            # NULL, ANSI `/` would abort the whole diagnostic
            F.round(F.try_divide(F.col("s"), (F.col("n") - 1).cast("double")), 6).alias("c"),
        )
    )
    cov = cov_ut.union(
        cov_ut.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )
    vec = spark.range(DIM).select(
        F.col("id").cast("int").alias("j"), F.lit(0.125).alias("x")
    )
    prev = None
    for _ in range(PCA_ITERS):
        w = (
            cov.join(vec, "j")
            .groupBy("i")
            .agg(F.round(dec_sum(F.col("c") * F.col("x")), 6).alias("w"))
        )
        norm = w.agg(F.sqrt(dec_sum(F.col("w") * F.col("w"))).alias("nrm"))
        vec = local_checkpoint(
            w.crossJoin(F.broadcast(norm))
            .select(F.col("i").alias("j"), F.round(F.try_divide(F.col("w"), F.col("nrm")), 6).alias("x"))
        )
        if prev is not None:
            free_local_checkpoint(prev)  # superseded round; cov stays live
        prev = vec
    lam = (
        cov.join(vec.select(F.col("j").alias("i"), F.col("x").alias("xi")), "i")
        .join(vec.select("j", F.col("x").alias("xj")), "j")
        .agg(F.round(dec_sum(F.col("xi") * F.col("c") * F.col("xj")), 6).alias("eigenvalue"))
    )
    trace = cov.filter(F.col("i") == F.col("j")).agg(dec_sum("c").alias("tr"))
    return (
        vec.select(F.col("j").alias("dim"), F.col("x").alias("loading"))
        .crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace))
        .select(
            "dim",
            "loading",
            "eigenvalue",
            F.round(F.try_divide(F.col("eigenvalue"), F.col("tr")), 6).alias("explained_frac"),
        )
    )


def _pca_iter_sql(k: int, prev: str) -> str:
    w = round_sql(
        "CAST(CAST(SUM(CAST(cov.c * v.x AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)", 6
    )
    return f"""
w{k} AS (
  SELECT cov.i, {w} AS w
  FROM cov JOIN {prev} v ON cov.j = v.j
  GROUP BY cov.i
),
n{k} AS (
  SELECT sqrt(CAST(CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)) AS nrm
  FROM w{k}
),
v{k} AS (
  SELECT w{k}.i AS j, {round_sql(f'w{k}.w / n{k}.nrm', 6)} AS x
  FROM w{k} CROSS JOIN n{k}
)"""


_PCA_MEAN_SQL = round_sql(
    "CAST(CAST(SUM(CAST(v[d.range + 1] AS DECIMAL(28,10))) AS VARCHAR)"
    " AS DOUBLE) / COUNT(*)",
    6,
)

_PCA_COV_SQL = round_sql(
    "CAST(CAST(SUM(CAST((e.v[i.range + 1] - mi.m) * (e.v[j.range + 1] - mj.m)"
    " AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
    " / (any_value(n.n) - 1)",
    6,
)

EMBEDDING_PCA_POWER_SQL = (
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           {EMB_CLEAN_WHERE}),
mu AS (
  SELECT d.range AS dim, {_PCA_MEAN_SQL} AS m
  FROM e CROSS JOIN range(0, {DIM}) d
  GROUP BY d.range
),
nn AS (SELECT COUNT(*) AS n FROM e),
cov AS (
  SELECT i.range AS i, j.range AS j, {_PCA_COV_SQL} AS c
  FROM e CROSS JOIN range(0, {DIM}) i CROSS JOIN range(0, {DIM}) j
  JOIN mu mi ON mi.dim = i.range JOIN mu mj ON mj.dim = j.range
  CROSS JOIN nn n
  GROUP BY i.range, j.range
),
v0 AS (SELECT d.range::INTEGER AS j, 0.125 AS x FROM range(0, {DIM}) d),"""
    + ",".join(_pca_iter_sql(k + 1, f"v{k}") for k in range(PCA_ITERS))
    + f""",
lam AS (
  SELECT {round_sql('CAST(CAST(SUM(CAST(vi.x * cov.c * vj.x AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)', 6)} AS eigenvalue
  FROM cov
  JOIN v{PCA_ITERS} vi ON cov.i = vi.j
  JOIN v{PCA_ITERS} vj ON cov.j = vj.j
),
tr AS (
  SELECT CAST(CAST(SUM(CAST(c AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS tr
  FROM cov WHERE i = j
)
SELECT v.j AS dim, v.x AS loading, lam.eigenvalue,
       {round_sql('lam.eigenvalue / tr.tr', 6)} AS explained_frac
FROM v{PCA_ITERS} v CROSS JOIN lam CROSS JOIN tr
"""
)
