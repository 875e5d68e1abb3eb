"""The batch workload: the registry's `bench=True` queries, one at a time
(closed loop, one client), each run as `q.fn` -> `executedPlan()` ->
noop write, in laps over seeded tables written by `gen.batch_tables`.

The untimed first lap doubles as warm-up and as the oracle-parity check:
each query's result is compared with its DuckDB oracle SQL through
`tests/oracle_harness.py`.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import event_log_file, geomean, job_totals, median, parse_event_log, quantile

# The run times max(1, seconds // LAP_PER_S) whole laps, a count fixed by
# --seconds so every run compares like with like. A warm lap takes ~14 s on
# 4 cores, after ~40 s of JVM start and the untimed parity lap; one lap per
# 24 s keeps a run under a minute, so a full round of runs of both
# workloads fits the time it is given.
LAP_PER_S = 24


def _bench_queries() -> dict:
    from streamprocessing_with_kafka_spark.plans.registry import registry

    return {n: q for n, q in sorted(registry().items()) if q.bench}


def _parity_lap(spark, sf_dir: str, queries: dict) -> dict[str, list[str]]:
    from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints
    from tests.oracle_harness import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    errors = {}
    for name, q in queries.items():
        try:
            errors[name] = compare(q.fn(spark, sf_dir), con, q.sql, name)
        except Exception as e:  # a query that raises fails its check
            errors[name] = [f"{name}: {type(e).__name__}: {e}"]
        drain_ephemeral_checkpoints()
    return {n: e for n, e in errors.items() if e}


def _lap(ctx, spark, sf_dir: str, queries: dict, lap: int, parent: int) -> dict[str, dict]:
    """Times every query once; returns name -> {build, plan, exec, total}
    seconds, or {"error": ...} for a query that raised."""
    from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints

    sc, tr = spark.sparkContext, ctx.tracer
    out = {}
    for name, q in queries.items():
        try:
            sc.setJobGroup(f"build:{lap}:{name}", name)
            t0 = time.time()
            df = q.fn(spark, sf_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            sc.setJobGroup(f"exec:{lap}:{name}", name)
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            out[name] = {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, "total": t3 - t0}
            qid = tr.add(f"query.{name}", t0, t3, parent)
            tr.add("plans.build", t0, t1, qid)
            tr.add("catalyst.plan", t1, t2, qid)
            tr.add("exec.noop_write", t2, t3, qid)
        except Exception as e:  # counted as a failed attempt, the lap goes on
            out[name] = {"error": f"{type(e).__name__}: {e}"}
        sc.setJobGroup("bench", "bench")
        drain_ephemeral_checkpoints()
    return out


def _load_table_layer(ctx, spark, sf_dir: str) -> list[float]:
    """Wall time of one direct `load_table` call per table."""
    from streamprocessing_with_kafka_spark.sources.tables import TABLES, load_table

    times = []
    for t in TABLES:
        spark.sparkContext.setJobGroup(f"load_table:{t}", t)
        with ctx.tracer.span(f"sources.load_table.{t}", ctx.timed_span):
            t0 = time.time()
            load_table(spark, sf_dir, t)
            times.append(time.time() - t0)
    return times


def batch_headline(ctx) -> dict:
    sf_dir = os.path.join(ctx.work, "tables")
    with ctx.tracer.span("gen.tables", ctx.setup_span):
        tables = gen.batch_tables(ctx.seed)
        gen.write_tables(tables, sf_dir)
    spark = ctx.session()
    queries = _bench_queries()
    with ctx.tracer.span("batch.parity_lap", ctx.setup_span):
        parity_errors = _parity_lap(spark, sf_dir, queries)
    if parity_errors:
        ctx.note("parity_errors", parity_errors)

    ctx.timed_start()
    cpu0 = ctx.cpu_s(jit=False)
    laps = []
    for _ in range(max(1, ctx.seconds // LAP_PER_S)):
        with ctx.tracer.span(f"batch.lap.{len(laps)}", ctx.timed_span) as lap_span:
            laps.append(_lap(ctx, spark, sf_dir, queries, len(laps), lap_span))
    cpu_s = ctx.cpu_s(jit=False) - cpu0
    ctx.timed_end()
    load_times = _load_table_layer(ctx, spark, sf_dir) if ctx.trace else []
    ctx.stop()

    failed = sum(1 for lap in laps for n, r in lap.items() if "error" in r or n in parity_errors)
    attempted = len(queries) * len(laps)
    ok = [lap for lap in laps if all("error" not in r for r in lap.values())] or [{}]
    lap_s = median([sum(r["total"] for r in lap.values()) for lap in ok])
    runs = [r["total"] for lap in laps for r in lap.values() if "error" not in r]
    per_query = [median([lap[n]["total"] for lap in laps if "error" not in lap[n]])
                 for n in queries if any("error" not in lap[n] for lap in laps)]
    rows = sum(t.num_rows for t in tables.values())
    e2e = {
        "ok_rate": 1 - failed / attempted,
        "cpu_ms_per_krow": cpu_s / len(laps) * 1e6 / rows,
    }
    wall = {
        "latency_p50_s": quantile(runs, 0.5),
        "latency_p90_s": quantile(runs, 0.9),
        "drain_rows_per_s": rows / lap_s if lap_s else 0.0,
        "lap_s": lap_s,
        "query_geomean_s": geomean(per_query),
    }
    layers = {}
    if ctx.trace:
        jobs = parse_event_log(event_log_file(ctx.event_log_dir))
        n = len(laps)
        build = job_totals([j for j in jobs if j["group"].startswith("build:")])
        exe = job_totals([j for j in jobs if j["group"].startswith("exec:")])
        load = job_totals([j for j in jobs if j["group"].startswith("load_table:")])
        layers = {
            "sources.load_table_ms": 1000 * median(load_times),
            "sources.load_table_jobs": load["jobs"] / len(load_times),
            "plans.build_s": median([sum(r["build"] for r in lap.values()) for lap in ok]),
            "plans.build_jobs": build["jobs"] / n,
            "catalyst.plan_s": median([sum(r["plan"] for r in lap.values()) for lap in ok]),
            "exec.s": median([sum(r["exec"] for r in lap.values()) for lap in ok]),
            "exec.jobs": exe["jobs"] / n,
            "exec.stages": exe["stages"] / n,
            "exec.tasks": exe["tasks"] / n,
            "exec.executor_run_s": exe["executor_run_s"] / n,
            "exec.shuffle_read_mb": exe["shuffle_read_mb"] / n,
            "exec.shuffle_write_mb": exe["shuffle_write_mb"] / n,
            "exec.spill_mb": exe["spill_mb"] / n,
            "gen.files": len(tables),
            "gen.rows": rows,
        }
    return {"e2e": e2e, "wall": wall, "layers": layers, "attempted": attempted, "failed": failed}
