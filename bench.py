"""Benchmark harness: runs the headline queries (registry entries with
bench=True) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized via the noop sink (all partitions
computed, nothing collected to the driver -- the measurement a cluster
run would see)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamprocessing_with_kafka_spark.functions.lineage import (  # noqa: E402
    drain_ephemeral_checkpoints,
)
from streamprocessing_with_kafka_spark.plans.registry import registry  # noqa: E402
from streamprocessing_with_kafka_spark.session import get_spark  # noqa: E402


_LOAD_AT_LAUNCH = [round(x, 2) for x in os.getloadavg()]


def _cache_gb() -> float:
    """buff/cache GiB from /proc/meminfo: a dropped page cache makes
    every parquet scan pay disk and inflates a pass ~25-40% at idle load
    (r8 evidence chain) -- stamp it so passes are comparable."""
    try:
        fields = {}
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                fields[k] = int(v.strip().split()[0])  # kB
        kb = fields.get("Buffers", 0) + fields.get("Cached", 0)
        return round(kb / 1024 / 1024, 1)
    except Exception:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    bench_queries = {n: q for n, q in registry().items() if q.bench}

    # warmup: compile every bench plan's generated classes once at the
    # smallest scale factor (Janino compiles each distinct generated
    # source; a novel plan's first run costs seconds regardless of data
    # volume). The classes stay compiled for the timed runs below only
    # because get_spark sizes the codegen class cache to the registry:
    # at Spark's default of 100 entries the 17 queries' ~224 classes
    # evicted each other, every lap recompiled ~214 of them, and each
    # query's first timed run paid its share (the min of 3 hid it). Then
    # touch every table's footers at the bench SF so timings measure the
    # query.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for q in bench_queries.values():
            q.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            drain_ephemeral_checkpoints()
    from streamprocessing_with_kafka_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    # ... then one full warm lap at the BENCH SF (r12 measurement fix,
    # documented in OPTIMIZATION_r12.md): HotSpot's C2 tier compiles the
    # generated code only after enough invocations AT VOLUME, so a query
    # whose hot loop first runs at sf0.1 pays a 2-3x JIT transient that
    # one sf0.001 lap cannot absorb and min-of-3 sometimes fails to shed
    # (r11/r12 evidence: text_decontaminate printed 4.7 s official vs a
    # 1.4 s settled floor, converging only on its ~4th full-volume run).
    # The timed protocol below is unchanged (min of 3 noop-sink runs);
    # nothing is cached across runs -- every run still computes from the
    # parquet inputs (the engine has no cross-run persists as of r12).
    for q in bench_queries.values():
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        drain_ephemeral_checkpoints()

    # min of 3 runs per query: the machine is shared, and a single run can
    # absorb a multi-second host-scheduling stall; the min is the faithful
    # measure of the plan itself (r2's n=2 left two sub-second deltas
    # ambiguous between noise and regression -- VERDICT r2 item 4).
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    timings: dict[str, float] = {}
    codegen_compiles: dict[str, int] = {}
    for name, q in sorted(bench_queries.items()):
        best = float("inf")
        c0 = compiles().getCount()
        for _ in range(3):
            t0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            # reclaim the run's checkpoint blocks OUTSIDE the
            # timed region (r12 ADVICE item 4) -- every run above still
            # recomputed from parquet; this only frees dead storage.
            drain_ephemeral_checkpoints()
        timings[name] = round(best, 3)
        codegen_compiles[name] = compiles().getCount() - c0

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # classes Janino compiled over each query's 3 timed runs
                # (a cache miss each); nonzero means a plan shape whose
                # generated source differs from run to run.
                "codegen_compiles": codegen_compiles,
                "sf": float(sf),
                # ambient host load (1/5/15-min) at launch and at finish:
                # this machine is shared, and every cross-round comparison
                # so far has had to adjudicate contention from side
                # channels (BENCH_NOTES idle reruns). The bench's own 32
                # threads contribute to the finish figure; a LAUNCH 1-min
                # load well above ~1 means the totals above are inflated
                # by external work, not plan changes.
                "load_at_launch": _LOAD_AT_LAUNCH,
                "load_at_finish": [round(x, 2) for x in os.getloadavg()],
                "cache_gb": _cache_gb(),
                # protocol stamp (r12 ADVICE item 3): r12 added the
                # untimed full-volume warm lap above, so r1-r11 prints
                # paid the C2 JIT transient that later prints do not --
                # stamp the protocol in the artifact so consumers can
                # tell the series apart without reading BENCH_NOTES.
                "warm_lap": True,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
