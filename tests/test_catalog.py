"""The table loader and its text-SQL front end: register_views makes every
table plus the pipeline output views queryable verbatim through
spark.sql, with scan pushdown intact through the view; load_table infers
a file's schema once per file version and pins it on later reads."""

import datetime
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import IntegerType, StringType, TimestampType

from streamprocessing_with_kafka_spark.sources.tables import (
    TABLES,
    UNKNOWN_ROWS,
    load_table,
    register_views,
    table_row_count,
)


def test_all_views_queryable_and_enriched_matches_reference_shape(spark, sf_dir):
    names = register_views(spark, sf_dir)
    assert set(TABLES) < set(names)
    for t in names:
        assert spark.sql(f"SELECT * FROM {t} LIMIT 1").columns
    # the reference's documented end-to-end check, verbatim
    enriched = spark.sql("SELECT * FROM enriched_orders")
    assert enriched.columns == [
        "order_id", "product_name", "quantity", "price", "order_date",
        "total_price",
    ]
    assert enriched.count() > 0
    dead = spark.sql("SELECT count(*) AS n FROM invalid_orders").first().n
    assert dead > 0


def test_view_keeps_scan_pushdown(spark, sf_dir):
    register_views(spark, sf_dir)
    plan = (
        spark.sql("SELECT o_orderkey FROM orders WHERE o_custkey = 42")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]" in plan, plan


# ------------------------------------------------ load_table schema pinning


def _with_job_count(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted per job group by
    the status tracker. A fence job in a second group is awaited first:
    the tracker is fed in order from the listener bus, so once the fence
    is visible every job fn launched is visible too."""
    sc = spark.sparkContext
    group, fence = f"probe-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(fence, fence)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(fence) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(fence), "fence job never reported"
    return out, len(tracker.getJobIdsForGroup(group))


def _nanos_events(n_rows):
    """An events table whose ts is TIMESTAMP(NANOS): Spark reads that
    physical type only as a long, which load_table converts."""
    base = 1_704_067_200_000_000_000  # 2024-01-01 in ns
    return pa.table({
        "event_id": pa.array(range(n_rows), pa.int64()),
        "ts": pa.array([base + i * 1_500_000_123 for i in range(n_rows)], pa.timestamp("ns")),
        "user_id": pa.array([i % 7 for i in range(n_rows)], pa.int64()),
        "event_type": pa.array(["click"] * n_rows),
        "value": pa.array([float(i) for i in range(n_rows)]),
        "props": pa.array(["{}"] * n_rows),
    })


def test_second_load_table_launches_no_job_and_reads_the_same(spark, sf_dir, tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(sf_dir, d)  # fresh paths: no file version seen before
    (d / "events.parquet").unlink()
    pq.write_table(_nanos_events(50), d / "events.parquet")
    for name in TABLES:
        first, jobs_first = _with_job_count(spark, lambda: load_table(spark, str(d), name))
        again, jobs_again = _with_job_count(spark, lambda: load_table(spark, str(d), name))
        assert jobs_first >= 1, name  # inference ran, so the counter counts
        assert jobs_again == 0, name
        assert again.schema == first.schema, name
        assert sorted(again.collect()) == sorted(first.collect()), name
    ev = load_table(spark, str(d), "events")
    assert ev.schema["ts"].dataType == TimestampType()
    assert [r.ts for r in ev.orderBy("event_id").limit(2).collect()] == [
        datetime.datetime(2024, 1, 1, 0, 0, 0),
        datetime.datetime(2024, 1, 1, 0, 0, 1, 500000),  # micros kept, nanos cut
    ]


def test_load_table_sees_a_rewrite_at_the_same_path(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/orders.parquet"
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}), path)
    for _ in range(2):  # the second call reads through the pinned schema
        assert sorted(r.o_orderkey for r in load_table(spark, d, "orders").collect()) == [1, 2]
    assert table_row_count(d, "orders") == 2

    pq.write_table(pa.table({"o_orderkey": pa.array([7, 8, 9], pa.int64())}), path)
    assert sorted(r.o_orderkey for r in load_table(spark, d, "orders").collect()) == [7, 8, 9]
    assert table_row_count(d, "orders") == 3

    pq.write_table(
        pa.table({"o_orderkey": pa.array([5], pa.int32()), "o_comment": ["x" * 40]}), path
    )
    df = load_table(spark, d, "orders")
    assert [(f.name, f.dataType) for f in df.schema] == [
        ("o_orderkey", IntegerType()), ("o_comment", StringType())
    ]
    assert [tuple(r) for r in df.collect()] == [(5, "x" * 40)]
    assert table_row_count(d, "orders") == 1


def test_table_row_count_unknown_means_large(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"x": list(range(5))}), f"{d}/ok.parquet")
    assert table_row_count(d, "ok") == 5
    assert table_row_count(d, "missing") == UNKNOWN_ROWS
    spark.range(3).write.parquet(f"{d}/dataset.parquet")  # directory dataset
    assert table_row_count(d, "dataset") == UNKNOWN_ROWS
    with open(f"{d}/corrupt.parquet", "wb") as f:
        f.write(b"not a parquet footer")
    assert table_row_count(d, "corrupt") == UNKNOWN_ROWS
