"""SparkSession construction tuned for this engine.

Scale posture: these configs are the local[N] analog of what we would set
on a 1000-executor cluster -- AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to cores (cluster: 2-3x
total cores), UTC session timezone so timestamp semantics are
deployment-independent, Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point applies defensively, so the
# engine behaves identically under a session it did not build (the driver
# creates its own SparkSession).
_RUNTIME_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long nanos and convert (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp formatting must match the DuckDB oracle (naive == UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Runtime-only broadcast threshold (static planning keeps the 10 MB
    # default): once a join side's TRUE materialized size is known, a
    # 64 MB hash build is cheap on any executor sized for real work, and
    # converting the join erases the other side's exchange+sort -- e.g.
    # the triangle wedge stream (operators/graph.py) rides through
    # broadcast joins instead of shuffling O(wedges) rows whenever the
    # edge list fits. Estimate-based (static) decisions stay
    # conservative; only measured post-shuffle sizes use this bound.
    # Memory headroom assumption: this is SESSION-GLOBAL, so every join
    # may build a hash relation from a 64 MB serialized side -- which can
    # deserialize to several hundred MB in-heap, multiplied by concurrent
    # joins. Sized for executors/drivers with >= 8-16 GB heap (the local
    # 16g default and any cluster sized for real work); on smaller heaps,
    # scope the raise per-query (spark.conf.set around the graph query)
    # or drop back to Spark's 10 MB default.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
    # Spark still defaults parquet timestamps to legacy INT96, which gets
    # NO min/max statistics -- every time-range predicate on a lake we
    # wrote would scan all row groups. Micros timestamps carry stats (and
    # are what modern readers expect).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Name every whole-stage class GeneratedIterator instead of suffixing
    # its codegen stage id. AQE numbers stages in the order they are
    # created, which follows run-time completion order, so the same plan
    # came out as ...Stage4 on one call and ...Stage6 on the next: a
    # different source, hence a fresh Janino compile of identical code.
    # With the id out of the name a warm lap of all registered queries
    # at sf0.001 compiles 11-13 classes instead of 78-81, and one cold
    # lap compiles 2,317 instead of 2,652 (4 cores). The id stays in the
    # plan string (`*(4)`) and in a comment of the generated source.
    "spark.sql.codegen.useIdInClassName": "false",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; safe to call repeatedly."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build -- best effort
            pass
    return spark


def get_spark(app_name: str = "streamprocessing-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        # NOT sized to the machine: an oversized heap (90g tested) gives G1
        # a huge young gen and multi-second stop-the-world pauses that
        # dominate sub-second queries; 16g covers the bench working set
        # with room to spare and keeps pauses in the tens of ms.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Compiled-class cache (Janino output, keyed by the full generated
        # source, so it holds code and never data). Spark's default of 100
        # entries is smaller than the 17 bench queries' ~224 classes, so
        # each query evicted the classes the next one needed and a warm
        # lap recompiled ~214 of them, then ran them cold in the JVM
        # interpreter. Sized to the whole registry: one lap of all 208
        # queries into an empty cache compiles 2,317 distinct classes at
        # sf0.001 and 2,321 at sf0.01 (2,653/2,659 before stage ids left
        # the class names, see _RUNTIME_CONFS); 4096 leaves ~1.75x
        # headroom. Memory after three full laps at sf0.01 (4 cores),
        # against the default: Metaspace +19 MB, code heap +26 MB, JVM
        # VmHWM +4%.
        # Static conf, so it must go on the builder: a session the engine
        # did not build (the external driver's own SparkSession) keeps
        # Spark's default unless its launcher sets this conf.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
