"""Crafted-frame regression pins for the r10 mixed_keys sweep fixes.

The generated sf data has NULL-free join/identity keys and event times
(TESTDATA.md), so the partially-NULL KEY regime -- the class the r9
events_dedup bug lived in, deferred by MIXED_KEEP until r10 -- is
exercised end-to-end only by `scratch/empty_sweep.py --variant
mixed_keys` and, per-operator, by the pins here.  Each test freezes the
SEMANTIC decision the fix made, on a frame small enough to verify by
hand.
"""

from __future__ import annotations

from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)


def _events(spark, tmp_path, rows):
    d = str(tmp_path / "t")
    spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(d + "/events.parquet")
    return d


def test_delete_by_keys_keeps_null_key_rows(spark):
    """A delete request names concrete keys; a NULL-key base row is
    untargetable and SURVIVES the anti-join.  The oracle side mirrors
    this with NOT EXISTS -- its former NOT IN returned NULL for such a
    row and dropped it (three-valued-logic veto)."""
    from streamprocessing_with_kafka_spark.operators.crud import delete_by_keys

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "ghost")], "k long, v string"
    )
    doomed = spark.createDataFrame([(1,)], "k long")
    got = sorted((r.v for r in delete_by_keys(base, doomed, "k").collect()))
    assert got == ["b", "ghost"]


def test_asof_never_matches_a_null_instant_view(spark, tmp_path):
    """A view with NULL ts (or NULL user) can never satisfy
    `p.ts >= v.ts` / `p.user_id = v.user_id`, but unfiltered it sorts
    NULLS-FIRST into the window scan and its struct would be carried as
    the 'match' for every purchase before the first real view (the r9
    ADVICE latent bug).  A NULL-ts purchase is retained UNMATCHED
    (LEFT-join semantics)."""
    from streamprocessing_with_kafka_spark.operators.joins import (
        asof_join_events,
    )

    d = _events(
        spark,
        tmp_path,
        [
            (0, None, 1, "view", 10.0, "{}"),  # NULL instant: never a match
            (1, "2024-01-01 02:00:00", 1, "purchase", 5.0, "{}"),
            (2, "2024-01-01 03:00:00", 1, "view", 20.0, "{}"),
            (3, "2024-01-01 04:00:00", 1, "purchase", 6.0, "{}"),
            (4, None, 1, "purchase", 7.0, "{}"),  # retained, unmatched
            (5, "2024-01-01 01:00:00", None, "view", 30.0, "{}"),  # no user
        ],
    )
    got = {r.event_id: r for r in asof_join_events(spark, d).collect()}
    assert len(got) == 3
    assert got[1].view_ts is None  # NOT matched to the NULL-ts view
    assert got[3].view_value == 20.0  # real match unaffected
    assert got[4].view_ts is None and got[4].view_value is None


def test_range_join_keeps_null_ts_signup_as_zero_group(spark, tmp_path):
    """explode_outer, not explode: a NULL-ts signup has an undefined
    interval but is still a group -- the oracle's LEFT JOIN emits it
    with zero matches, so the engine must not erase it."""
    from streamprocessing_with_kafka_spark.operators.joins import (
        range_join_events,
    )

    d = _events(
        spark,
        tmp_path,
        [
            (1, None, 1, "signup", 0.0, "{}"),
            (2, "2024-01-01 00:00:00", 2, "signup", 0.0, "{}"),
            (3, "2024-01-01 00:30:00", 2, "click", 4.0, "{}"),
        ],
    )
    got = {r.signup_id: r for r in range_join_events(spark, d).collect()}
    assert got[1].n_events == 0 and got[1].sum_value is None
    assert got[2].n_events == 1 and got[2].sum_value == 4.0


def test_salted_join_result_equals_unsalted_on_null_salt_source(spark, tmp_path):
    """Salting is a PHYSICAL rewrite: with NULL l_orderkey rows (the
    salt source) the salted plan must still produce the unsalted join's
    exact result -- pre-fix, pmod(NULL) NULLed the salt and the
    (key, salt) equi-join silently dropped those rows.  Exercises the
    PRODUCTION operator on a parquet fixture (r10 ADVICE: the former
    inline re-implementation could not catch an operator regression)."""
    from streamprocessing_with_kafka_spark.operators.joins import (
        salted_skew_join,
    )

    d = str(tmp_path / "t")
    spark.createDataFrame(
        [(None, 1, 100.0, 0.1), (7, 1, 50.0, 0.0), (8, 2, 10.0, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, "Supplier#1"), (2, "Supplier#2")], "s_suppkey long, s_name string"
    ).write.parquet(d + "/supplier.parquet")

    got = {r.s_suppkey: r for r in salted_skew_join(spark, d).collect()}
    # the NULL-orderkey line is NOT dropped: supplier 1 keeps BOTH lines
    assert {k: r.n_lines for k, r in got.items()} == {1: 2, 2: 1}
    assert float(got[1].revenue) == 140.0  # 100*(1-0.1) + 50
    assert float(got[2].revenue) == 10.0
    assert got[1].s_name == "Supplier#1"


def test_index_membership_requires_vec_id(spark, tmp_path):
    """An ANN index row needs an identity: results are returned, deduped
    and tie-broken BY vec_id, and SQL GROUP BY would collapse NULL ids
    into one group where the engine keeps each row.  is_index_member is
    the ONE definition shared by the batch scan and both streaming
    ingest gates."""
    from streamprocessing_with_kafka_spark.operators.similarity import (
        load_clean_embeddings,
    )

    d = str(tmp_path / "t")
    spark.createDataFrame(
        [
            (1, [0.1, 0.2], 0),
            (None, [0.3, 0.4], 0),  # no identity: not a member
            (2, None, 0),  # corrupt vector: not a member
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(d + "/embeddings.parquet")
    got = [r.vec_id for r in load_clean_embeddings(spark, d).collect()]
    assert got == [1]


def test_time_series_family_excludes_null_instants(spark, tmp_path):
    """The event-TIME series ops (autocorr/CUSUM/Holt/drawdown/
    runs-test/streaks/gapfill) exclude NULL instants on BOTH engine and
    oracle sides -- same gate as the streaming twins' ingest, so adding
    NULL-ts rows must not move a single output value."""
    from streamprocessing_with_kafka_spark.operators.timeseries import (
        cusum_changepoints,
    )

    rows = [
        (i, f"2024-01-01 0{i}:00:00", 1, "click", float(10 + i), "{}")
        for i in range(5)
    ]
    clean = _events(spark, tmp_path / "clean", rows)
    noisy = _events(
        spark,
        tmp_path / "noisy",
        rows + [(99, None, 1, "click", 1e6, "{}")],
    )
    a = sorted(map(tuple, cusum_changepoints(spark, clean).collect()))
    b = sorted(map(tuple, cusum_changepoints(spark, noisy).collect()))
    assert a == b


def test_type_overlap_has_no_phantom_user(spark, tmp_path):
    """NULL-user events must not pool into one phantom 'user' whose
    combined type set fabricates co-occurrence pairs."""
    from streamprocessing_with_kafka_spark.operators.timeseries import (
        type_overlap,
    )

    d = _events(
        spark,
        tmp_path,
        [
            # two NULL-user events with different types: NO pair
            (1, "2024-01-01 00:00:00", None, "click", 1.0, "{}"),
            (2, "2024-01-01 00:01:00", None, "view", 1.0, "{}"),
            # one real user doing both: exactly one pair
            (3, "2024-01-01 00:02:00", 5, "click", 1.0, "{}"),
            (4, "2024-01-01 00:03:00", 5, "view", 1.0, "{}"),
        ],
    )
    got = type_overlap(spark, d).collect()
    assert len(got) == 1
    assert (got[0].type_a, got[0].type_b, got[0].users_both) == ("click", "view", 1)
    assert got[0].users_a == 1 and got[0].users_b == 1  # phantom not counted


def test_basket_pairs_have_no_phantom_basket(spark, tmp_path):
    """NULL-orderkey lines must not pool into one phantom mega-basket,
    and a NULL part is not an item."""
    from streamprocessing_with_kafka_spark.operators.analytics import (
        BASKET_MIN_SUPPORT,
        basket_part_pairs,
    )

    d = str(tmp_path / "t")
    rows = []
    # NULL-order lines covering two parts, repeated past min support:
    # would fabricate a (100, 200) pair if pooled
    for i in range(BASKET_MIN_SUPPORT + 1):
        rows += [(None, 100), (None, 200)]
    # real baskets each containing both parts, exactly at min support
    for k in range(BASKET_MIN_SUPPORT):
        rows += [(k, 100), (k, 200), (k, None)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(d + "/lineitem.parquet")
    got = basket_part_pairs(spark, d).collect()
    assert [(r.pa, r.pb, r.c_ab) for r in got] == [(100, 200, BASKET_MIN_SUPPORT)]


def test_doc_pair_searches_follow_the_oracle_pair_order(spark, tmp_path):
    """Document pairs follow the oracle's `a.doc_id < b.doc_id`: a NULL
    doc_id pairs with nothing, and a doc_id that labels several rows
    never pairs with itself. The SimHash group-pair explode emitted the
    NULL pairs and the capped Jaccard pair search a (0, 0) self-pair
    (the mixed_keys and constant sweep reds)."""
    from streamprocessing_with_kafka_spark.operators.dedup import (
        ngram_jaccard_pairs_capped,
        simhash_pairs,
    )

    text = "alpha beta gamma delta epsilon"
    d = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, text), (0, text), (None, text), (1, text)], "doc_id long, text string"
    ).write.parquet(d + "/documents.parquet")
    for fn in (simhash_pairs, ngram_jaccard_pairs_capped):
        got = {(r.doc_a, r.doc_b) for r in fn(spark, d).collect()}
        assert got == {(0, 1)}, (fn.__name__, got)
