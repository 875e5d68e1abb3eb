"""Semantic invariants for the histogram and graph operators that the
oracle hash-match cannot express: histogram completeness/partition of
the corpus, triangle/clustering arithmetic on a planted graph, and the
graph operators' scale gate on both of its sides."""

import math

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from streamprocessing_with_kafka_spark.operators import graph
from streamprocessing_with_kafka_spark.operators.graph import pagerank, triangle_clustering
from streamprocessing_with_kafka_spark.operators.windows import (
    HIST_BINS,
    value_histogram,
)
from streamprocessing_with_kafka_spark.sources.tables import load_table


def test_histogram_partitions_every_event(spark, sf_dir):
    rows = value_histogram(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    true_counts = {r.event_type: r.n for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert set(by_type) == set(true_counts)
    for t, bins in by_type.items():
        bins.sort(key=lambda r: r.bin)
        # complete spine: every bin id present exactly once
        assert [r.bin for r in bins] == list(range(HIST_BINS))
        # bins partition the corpus: counts re-add to the type total
        assert sum(r.n_events for r in bins) == true_counts[t]
        # edges are monotone and adjacent (shared boundary after rounding)
        for a, b in zip(bins, bins[1:]):
            assert a.bin_lo < a.bin_hi
            assert a.bin_hi == b.bin_lo


def _planted_events(spark, cells):
    """cells: list of (event_type, hour, [user_ids]) -> events frame."""
    rows = []
    eid = 0
    for t, h, users in cells:
        for u in users:
            rows.append((eid, f"2024-01-01 {h:02d}:15:00", u, t, 1.0, "{}"))
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_triangles_on_planted_graph(spark, tmp_path):
    # edges: (1,2) (2,3) (1,3) (1,4) -> one triangle {1,2,3}, 4 dangling
    ev = _planted_events(
        spark,
        [
            ("click", 0, [1, 2]),
            ("view", 0, [2, 3]),
            ("click", 1, [1, 3]),
            ("view", 1, [1, 4]),
        ],
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {r.user_id: r for r in triangle_clustering(spark, d).collect()}
    assert {u: r.degree for u, r in got.items()} == {1: 3, 2: 2, 3: 2, 4: 1}
    assert {u: r.n_triangles for u, r in got.items()} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert math.isclose(got[1].clustering_coeff, round(2 * 1 / (3 * 2), 6), abs_tol=1e-9)
    assert got[2].clustering_coeff == 1.0
    assert got[3].clustering_coeff == 1.0
    assert got[4].clustering_coeff == 0.0


def test_triangles_hub_and_tied_clique(spark, tmp_path):
    """Orientation stress (r7, compact-forward edges): a hub whose
    degree dwarfs every neighbor's -- all hub edges must orient
    leaf -> hub -- and a 4-clique whose degrees all TIE, so orientation
    falls back to the id tiebreak. Counts and lcc are hand-computed;
    guards the (degree, id) total order against direction and tie bugs
    the near-uniform planted graph cannot see (a wrong orientation
    double-counts or drops triangles touching the hub or the clique)."""
    cells = [("t0", 0, [100, 1, 2])]  # triangle {100, 1, 2} through the hub
    cells += [(f"t{k}", k, [100, k]) for k in range(3, 13)]  # 10 hub spokes
    cells += [("cl", 20, [20, 21, 22, 23])]  # 4-clique, all degrees tie at 3
    ev = _planted_events(spark, cells)
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {r.user_id: r for r in triangle_clustering(spark, d).collect()}

    exp_degree = {100: 12, 1: 2, 2: 2, **{k: 1 for k in range(3, 13)},
                  **{u: 3 for u in (20, 21, 22, 23)}}
    exp_tri = {100: 1, 1: 1, 2: 1, **{k: 0 for k in range(3, 13)},
               **{u: 3 for u in (20, 21, 22, 23)}}  # C(3,2) per clique corner
    assert {u: r.degree for u, r in got.items()} == exp_degree
    assert {u: r.n_triangles for u, r in got.items()} == exp_tri
    assert math.isclose(
        got[100].clustering_coeff, round(2 * 1 / (12 * 11), 6), abs_tol=1e-9
    )
    for u in (1, 2, 20, 21, 22, 23):
        assert got[u].clustering_coeff == 1.0
    for k in range(3, 13):
        assert got[k].clustering_coeff == 0.0


def test_pagerank_conserves_mass_and_ranks_by_connectivity(spark, sf_dir):
    """Total PageRank mass stays ~1 through the teleport+spread rounds
    (no dangling nodes in a co-occurrence graph), and higher-degree
    nodes never rank below the minimum teleport floor."""
    rows = pagerank(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    floor = (1 - 0.85) / n
    assert all(r.pagerank >= floor - 1e-9 for r in rows)


def test_pagerank_uniform_on_regular_planted_graph(spark, tmp_path):
    # a 4-cycle (every node degree 2) must stay exactly uniform: 0.25 each
    ev = _planted_events(
        spark,
        [
            ("click", 0, [1, 2]),
            ("click", 1, [2, 3]),
            ("click", 2, [3, 4]),
            ("click", 3, [4, 1]),
        ],
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {r.user_id: r.pagerank for r in pagerank(spark, d).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(abs(v - 0.25) < 1e-5 for v in got.values()), got


def test_equidepth_bins_are_balanced(spark, sf_dir):
    """Equi-depth bins must partition each type's rows with near-equal
    counts (within 1 of each other on continuous values) and cover all
    HIST_BINS bin ids."""
    from streamprocessing_with_kafka_spark.operators.windows import (
        value_histogram_equidepth,
    )

    by_type: dict = {}
    for r in value_histogram_equidepth(spark, sf_dir).collect():
        by_type.setdefault(r.event_type, {})[r.bin] = r.n_events
    assert by_type
    for t, bins in by_type.items():
        assert set(bins) == set(range(HIST_BINS)), (t, bins)
        assert max(bins.values()) - min(bins.values()) <= 2, (t, bins)


def test_graph_scale_gate_treats_unknown_row_count_as_large(spark, tmp_path, monkeypatch):
    """Both graph operators pick their branch from the events footer's row
    count. A readable small file takes the test-scale branch (broadcast
    adjacency, pinned-width pagerank); a footer that cannot be read -- a
    directory dataset, or a failing read injected on a regular file --
    must take the lake-scale branch, and both branches compute the same."""
    combines = []
    real_round = graph._pagerank_round
    monkeypatch.setattr(
        graph, "_pagerank_round", lambda *a: combines.append(a[-1]) or real_round(*a)
    )

    def branches(sf):
        """(broadcast hinted in triangles, map-side combine in pagerank,
        triangle rows, pagerank rows) on the events table under `sf`."""
        combines.clear()
        tri = triangle_clustering(spark, sf)
        hinted = "strategy=broadcast" in tri._jdf.queryExecution().optimizedPlan().toString()
        ranks = pagerank(spark, sf)
        assert len(set(combines)) == 1, combines
        return hinted, combines[0], sorted(tri.collect()), sorted(ranks.collect())

    ev = _planted_events(
        spark,
        [("click", 0, [1, 2]), ("view", 0, [2, 3]), ("click", 1, [1, 3]),
         ("view", 1, [1, 4]), ("view", 2, [3, 4])],
    )
    as_dir = str(tmp_path / "dir")
    ev.write.parquet(as_dir + "/events.parquet")

    def as_file(name):
        sf = tmp_path / name
        ev.coalesce(1).write.parquet(str(sf / "parts"))
        next((sf / "parts").glob("part-*.parquet")).rename(sf / "events.parquet")
        return str(sf)

    small = branches(as_file("file"))
    assert small[:2] == (True, False)

    large_dir = branches(as_dir)
    assert large_dir[:2] == (False, True)

    broken = as_file("broken")

    def unreadable(*a, **k):
        raise OSError("injected footer read failure")

    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", unreadable)
        large_file = branches(broken)
    assert large_file[:2] == (False, True)

    assert small[2:] == large_dir[2:] == large_file[2:]
    assert {r.user_id: r.n_triangles for r in small[2]} == {1: 2, 2: 1, 3: 2, 4: 1}
