"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over streamprocessing_with_kafka_spark.plans.registry: every
implemented operator from SURVEY.md §2 is registered there with its Spark
callable and (where SQL-expressible) its DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints
from streamprocessing_with_kafka_spark.plans.registry import registry
from streamprocessing_with_kafka_spark.session import ensure_runtime_confs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's full validate/enrich/route pipeline
    (SURVEY.md §3.2) over the sf0.001 order stream."""
    ensure_runtime_confs(spark)
    q = registry()["flagship_pipeline"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query. The driver runs them one at a time, so
    building a query means the previous query's DataFrame has been
    materialized or discarded: each call first frees the one-shot
    checkpoints the previous query registered, which nothing else frees
    in the driver's session (functions/lineage.py)."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_runtime_confs(spark)
            drain_ephemeral_checkpoints()
            return fn(spark, sf_dir)

        return run

    return {name: wrap(q.fn) for name, q in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in registry().items() if q.sql is not None}
