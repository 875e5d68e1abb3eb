"""Parquet table loaders for the driver-generated testdata.

At 100 TB these reads hit a partitioned parquet lake; everything here is a
plain `spark.read.parquet` so Catalyst applies predicate pushdown, column
pruning and partition pruning with no engine code. The only special case is
`events`, whose parquet files carry TIMESTAMP(NANOS) -- Spark cannot read
that physical type, so we read nanos as long (legacy conf) and convert with
integer arithmetic (`div 1000`, never float division: 2^63-scale nanos lose
microsecond precision in a double).

Parquet schema inference launches one Spark job per `spark.read.parquet`
call. A single-file table's schema is therefore inferred once per FILE
VERSION and pinned on later reads with `.schema(...)`, which launches no
job. Only metadata is kept: every call still builds a fresh scan that
reads the bytes.
"""

from __future__ import annotations

import os
import stat
import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType

from streamprocessing_with_kafka_spark.session import ensure_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: `table_row_count`'s answer when the footer cannot be read: larger than
#: any scale gate, so an unknown table always takes the lake-scale branch.
UNKNOWN_ROWS = sys.maxsize


@dataclass
class _Layout:
    """What one version of a parquet file says about itself."""

    version: tuple[int, int]  # (st_mtime_ns, st_size)
    rows: int | None  # footer row count; None if the footer is unreadable
    row_groups: int | None
    schema: StructType | None = None  # Spark-inferred, filled by load_table


_LAYOUTS: dict[str, _Layout] = {}


def _layout(path: str) -> _Layout | None:
    """The cached layout of the file at `path` in its current version, or
    None when `path` is not a regular local file. A directory dataset gets
    None because its mtime does not change when a file inside it is
    rewritten, so no version key is trustworthy for it. A rewrite that
    keeps the size and lands within the filesystem's timestamp resolution
    keeps the old version key."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    version = (st.st_mtime_ns, st.st_size)
    lay = _LAYOUTS.get(path)
    if lay is None or lay.version != version:
        try:
            import pyarrow.parquet as pq

            m = pq.ParquetFile(path).metadata
            rows, rgs = m.num_rows, m.num_row_groups
        except Exception:
            rows = rgs = None
        lay = _LAYOUTS[path] = _Layout(version, rows, rgs)
    return lay


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from the table's parquet footer -- a driver-side read, no
    Spark job. Returns UNKNOWN_ROWS when the footer cannot be read (a
    directory dataset, a missing file, a corrupt footer), so a scale gate
    `rows < SMALL` treats the unknown table as large."""
    lay = _layout(f"{sf_dir}/{name}.parquet")
    return UNKNOWN_ROWS if lay is None or lay.rows is None else lay.rows


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool | None = None
) -> DataFrame:
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    lay = _layout(path)
    schema = lay.schema if lay is not None else None
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if schema is None:
        schema = df.schema
        if lay is not None:
            lay.schema = schema
    if name == "events" and "ts" in schema.names and schema["ts"].dataType == LongType():
        # nanos -> microsecond timestamp; integer division keeps precision.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Row groups are parquet's split granularity: a large single-row-group
    # file is unsplittable, so every downstream map-side stage (scan,
    # partial agg, broadcast-join probe) runs on ONE core no matter how
    # many the session has. Rebalance those explicitly (explicit
    # numPartitions, so AQE does not coalesce it back). The threshold is
    # per-row-cost-aware: text/vector tables run regex, n-gram-array and
    # dot-product work where one core on a few thousand rows dominates the
    # query, so the one-time sub-MB shuffle always pays; for narrow
    # numeric rows the exchange overhead exceeds the map gain until a few
    # hundred thousand rows. At lake scale inputs carry thousands of row
    # groups and this branch never fires.
    #
    # `rebalance` overrides the heuristic per call site: queries whose
    # per-row map work is light (a pushed-down filter plus a partial
    # aggregate or a join probe feeding their OWN exchange) pay more for
    # the extra round-robin exchange (plus its retry-determinism local
    # sort, SPARK-23207) than the map-side parallelism returns -- for
    # those, pass rebalance=False and let the downstream shuffle or
    # broadcast do the fan-out. rebalance=True waives only the ROW
    # threshold, for queries whose per-row work is heavy even on small
    # tables (e.g. per-vector dot products); the under-split check stays,
    # so on a lake input with ample row groups it remains a no-op. Pure
    # full-scan aggregates with heavy per-row expression work (decimal
    # sums, regex) keep the default.
    if rebalance is False:
        return df
    if lay is None or lay.rows is None:
        return df  # layout unknown: assume a lake input with ample splits
    cores = spark.sparkContext.defaultParallelism
    threshold = 4096 if name in ("documents", "embeddings") else 200_000
    if (rebalance or lay.rows >= threshold) and lay.row_groups < cores:
        df = df.repartition(cores)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a SQL temp view plus the
    pipeline's `enriched_orders` output view -- the text-SQL front end a
    user of the reference switches to (`SELECT * FROM enriched_orders`
    and any ad-hoc analytics over the lake tables run verbatim through
    `spark.sql`). Views are lazy: registration reads no data, and every
    later query still gets full pushdown/pruning through the same
    `load_table` scan. Returns the registered view names."""
    from streamprocessing_with_kafka_spark.operators.route import route
    from streamprocessing_with_kafka_spark.operators.validate import (
        validate_and_enrich,
    )
    from streamprocessing_with_kafka_spark.sources.raw_orders import raw_orders

    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    routed = route(validate_and_enrich(raw_orders(spark, sf_dir)))
    routed.filter("is_valid").select(
        "order_id", "product_name", "quantity", "price", "order_date", "total_price"
    ).createOrReplaceTempView("enriched_orders")
    routed.filter("NOT is_valid").select(
        "kafka_key", "status_message"
    ).createOrReplaceTempView("invalid_orders")
    return TABLES + ["enriched_orders", "invalid_orders"]
