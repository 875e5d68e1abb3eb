"""Benchmark for the engine's stream and batch paths.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: orders_stream and batch_headline
(see BENCHMARK.json for why each exists). The last stdout line is one
JSON object {correct, attempted, failed, metrics}: end-to-end metrics with
--trace 0, per-layer metrics (the wall-clock figures among them) with
--trace 1. The line before it stamps the run's settings, host state and
wall-clock figures. The traced run also keeps spans, Spark's event log and
its overhead against the last untraced run of the same workload in
.perfbench/trace-<workload>.json.

All inputs are generated from --seed under .perfbench/, which is removed
and rebuilt per workload on every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "streamprocessing_with_kafka_spark"
# Set explicitly: session.get_spark's 16g default exceeds the RAM of
# small hosts. The heap is also fixed at this size from the start (-Xms):
# left to grow, G1 settles on a different heap per run, and that choice
# alone moved drain throughput and peak RSS by 10-40% between runs.
DRIVER_MEM = "2g"

# End-to-end metrics. Time is counted in CPU seconds of the engine's
# processes (the PySpark driver, its JVM and Python workers): on a shared
# 4-core VM, with 2-23% of its time stolen by the host, the wall-clock
# figures of ten runs spread 23-29% (quartile distance over median), the
# CPU figures 1-10%. cpu_ms_per_krow leaves out the JIT compiler threads,
# whose work fades as the JVM warms; setup_s keeps them. The wall-clock
# figures are in WALL: per-layer metrics of the traced run, and stamped on
# every run.
E2E = {
    "setup_s": "s",
    "ok_rate": "ratio",
    "peak_rss_mb": "MB",
    "cpu_ms_per_krow": "ms",
}
WALL = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "drain_rows_per_s": "rows/s",
    "lap_s": "s",
    "query_geomean_s": "s",
}
LAYERS = {
    **{f"wall.{k}": u for k, u in WALL.items()},
    "sources.load_table_ms": "ms",
    "sources.load_table_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "stream.query_planning_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.rows_per_batch": "rows",
    "stream.queue_wait_s": "s",
    "sink.jobs_per_batch": "count",
    "sink.output_mb": "MB",
    "validate.valid_ratio": "ratio",
    "gen.lag_p99_s": "s",
    "gen.files": "count",
    "gen.rows": "rows",
}


class Ctx:
    """One run's settings, timers, Spark session and notes, handed to the
    workload function."""

    def __init__(self, args, work: str, t_launch: float, rss, tracer):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work, self.t_launch, self.rss, self.tracer = work, t_launch, rss, tracer
        self.event_log_dir = os.path.join(work, "eventlog")
        self.run_span = tracer.add("run", t_launch, 0.0)
        self.setup_span = tracer.add("setup", t_launch, 0.0, self.run_span)
        self.timed_span = -1
        self.timed_window = (0.0, 0.0)
        self.setup_cpu_s = 0.0
        self.spark = None
        self.listener = None
        self.notes: dict = {}

    def session(self):
        from perfbench.harness import make_listener
        from streamprocessing_with_kafka_spark.session import get_spark

        with self.tracer.span("session", self.setup_span):
            self.spark = get_spark("perfbench")
            self.listener = make_listener()
            self.spark.streams.addListener(self.listener)
        return self.spark

    def cpu_s(self, jit: bool = True) -> float:
        from perfbench.harness import engine_cpu_s

        return engine_cpu_s(self.rss.exclude, jit)

    def timed_start(self) -> None:
        self.setup_cpu_s = self.cpu_s()
        t = time.time()
        self.timed_window = (t, 0.0)
        self.tracer.end(self.setup_span, t)
        self.timed_span = self.tracer.add("timed", t, 0.0, self.run_span)

    def timed_end(self) -> None:
        t = time.time()
        self.timed_window = (self.timed_window[0], t)
        self.tracer.end(self.timed_span, t)

    def note(self, key: str, value) -> None:
        self.notes[key] = value

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _prepare_env(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers, set before the
    JVM starts. Workers import the package, so the repository root goes on
    PYTHONPATH; every scratch path stays under the work directory."""
    conf_dir, tmp, local = (os.path.join(work, d) for d in ("conf", "tmp", "local"))
    for d in (conf_dir, tmp, local):
        os.makedirs(d)
    lines = [f"spark.driver.extraJavaOptions -Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        lines += ["spark.eventLog.enabled true", "spark.eventLog.rolling.enabled false",
                  "spark.eventLog.compress false",
                  f"spark.eventLog.dir file://{work}/eventlog"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["orders_stream", "batch_headline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def result_line(out: dict, trace: bool) -> dict:
    names = LAYERS if trace else E2E
    values = {**out["layers"], **{f"wall.{k}": v for k, v in out["wall"].items()}} if trace else out["e2e"]
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names.items()},
    }


def main(argv=None) -> int:
    t_launch = time.time()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import batch, stream
    from perfbench.harness import MemorySampler, Tracer, cache_gb, load_avg

    workloads = {
        "orders_stream": stream.orders_stream,
        "batch_headline": batch.batch_headline,
    }
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "load_at_launch": load_avg(), "cache_gb_at_launch": cache_gb()}
    _prepare_env(work, bool(args.trace))
    stamp.update(cores=int(os.environ["SPARK_GRAFT_CPUS"]), driver_mem=DRIVER_MEM)

    tracer = Tracer(bool(args.trace))
    with MemorySampler() as rss:
        ctx = Ctx(args, work, t_launch, rss, tracer)
        try:
            out = workloads[args.workload](ctx)
        finally:
            ctx.stop()
    out["e2e"]["setup_s"] = ctx.setup_cpu_s
    out["e2e"]["peak_rss_mb"] = rss.peak_mb
    out["wall"]["setup_s"] = ctx.timed_window[0] - t_launch
    tracer.end(ctx.run_span, time.time())
    stamp.update(load_at_finish=load_avg(), cache_gb=cache_gb(), notes=ctx.notes)

    untraced = os.path.join(base, f"untraced-{args.workload}.json")
    if args.trace:
        if os.path.exists(untraced):
            with open(untraced) as f:
                ref = json.load(f)
            stamp["trace_overhead"] = {
                f"{kind}.{k}": v / ref[kind][k] - 1
                for kind in ("e2e", "wall") for k, v in out[kind].items() if ref[kind].get(k)
            }
        with open(os.path.join(base, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"stamp": stamp, "e2e": out["e2e"], "wall": out["wall"],
                       "layers": out["layers"], "spans": tracer.spans}, f)
    else:
        with open(untraced, "w") as f:
            json.dump({"e2e": out["e2e"], "wall": out["wall"]}, f)
    stamp["wall"] = out["wall"]
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result_line(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
