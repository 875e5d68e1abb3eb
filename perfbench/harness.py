"""Measurement plumbing shared by the workloads: spans, memory sampling, the
streaming progress listener, and parsers for the checkpoint source log and
the Spark event log. Everything here observes the engine from outside,
through public APIs, `/proc` and files Spark writes."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

# ------------------------------------------------------------------ stats


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    vals = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else 0.0


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent); written out once at the
    end of a traced run. With `on` false nothing is recorded."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.on:
            return -1
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent}
        )
        return len(self.spans) - 1

    def end(self, sid: int, t: float) -> None:
        if sid >= 0:
            self.spans[sid]["end"] = t

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Yields the span id, so children can name their parent; the span's
        end is filled in when the block exits."""
        sid = self.add(name, time.time(), 0.0, parent)
        try:
            yield sid
        finally:
            self.end(sid, time.time())


# ----------------------------------------------------------------- memory


def _proc_kb(pid: str, file: str, field: str) -> int:
    """One `field:` value in kB from /proc/<pid>/<file>; 0 once it exited."""
    try:
        with open(f"/proc/{pid}/{file}") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_kb(pid: str) -> int:
    """The kernel's own high-water mark of a process's resident set."""
    return _proc_kb(pid, "status", "VmHWM")


def pss_kb(pid: str) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes mapping it, so forked Python workers do not
    count their parent's pages again. Reading it walks the process's
    page tables, so it is only read for the small worker processes."""
    return _proc_kb(pid, "smaps_rollup", "Pss")


def children() -> dict[str, list[str]]:
    """Parent pid -> child pids, for every process in /proc."""
    out: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        out.setdefault(ppid, []).append(pid)
    return out


def descendants(roots: set[str], tree: dict[str, list[str]]) -> set[str]:
    out, todo = set(), list(roots)
    while todo:
        for c in tree.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: str) -> float:
    """User plus system CPU seconds of a live process; 0 once it exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) * _TICK_S  # utime, stime


# Thread names (as /proc truncates them) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(pid: str) -> float:
    """CPU seconds of a JVM's live JIT compiler threads."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        total += _cpu_s(f"{pid}/task/{tid}")
    return total


def engine_cpu_s(exclude: set[str], jit: bool = True) -> float:
    """CPU seconds used so far by the engine: this process (the PySpark
    driver, which also runs foreachBatch callbacks), the gateway JVM and
    the JVM's Python workers, minus `exclude`. Time the hypervisor stole
    from this VM is not in it, so it moves far less with a busy host than
    wall time does. With `jit` false the JVM's JIT compiler threads are left
    out: their work falls off as the JVM warms, by a different amount in
    every run, and is no part of what the program itself costs."""
    me = str(os.getpid())
    tree = children()
    jvms = set(tree.get(me, [])) - exclude
    t = os.times()
    total = t.user + t.system + sum(_cpu_s(p) for p in jvms | (descendants(jvms, tree) - exclude))
    return total if jit else total - sum(_jit_cpu_s(p) for p in jvms)


class MemorySampler:
    """Peak memory of the driver JVM and its Python workers: the JVM's
    kernel-kept peak RSS plus the peak summed PSS of the JVM's descendant
    processes, minus `exclude` (the load generator). A worker counts from
    its second sighting on: a child the JVM spawns for a shell command
    shares its parent's memory for a few milliseconds and would otherwise
    be counted twice.

    The JVM's own PSS is never read: walking its 2 GB of page tables ten
    times a second took CPU and page-table locks from the engine and made
    micro-batch times swing."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.exclude: set[str] = set()
        self.jvm_kb = 0
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, seen = str(os.getpid()), set()
        while not self._stop.is_set():
            tree = children()
            jvms = set(tree.get(me, [])) - self.exclude  # the gateway JVM
            self.jvm_kb = max(self.jvm_kb, sum(peak_rss_kb(p) for p in jvms))
            now = descendants(jvms, tree) - self.exclude
            self.workers_kb = max(self.workers_kb, sum(pss_kb(p) for p in now & seen))
            seen = now
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return (self.jvm_kb + self.workers_kb) / 1024


# --------------------------------------------------------------- progress


def batch_window(progress: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of a micro-batch: the trigger's start
    timestamp plus its triggerExecution duration."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + progress["durationMs"].get("triggerExecution", 0) / 1000


def make_listener():
    """A StreamingQueryListener that keeps every progress report, as parsed
    JSON, per run id. Built lazily so importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.by_run: dict[str, list[dict]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            self.by_run.setdefault(p["runId"], []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def batches(self, run_id: str) -> list[dict]:
            """Reports of batches that read data, in batch order."""
            return sorted(
                (p for p in list(self.by_run.get(run_id, [])) if p["numInputRows"] > 0),
                key=lambda p: p["batchId"],
            )

    return ProgressLog()


# ------------------------------------------------------- checkpoint log


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, read from the file source's log
    (`<checkpoint>/sources/0`). Every 10th batch Spark writes a
    `<id>.compact` file that restates all earlier entries and may delete
    the plain files it replaces, so both kinds are read; each entry
    carries its own batchId."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        if name.endswith(".tmp") or name.endswith(".crc"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version, e.g. "v1"
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


# ------------------------------------------------------------ event log


def parse_event_log(path: str) -> list[dict]:
    """One record per Spark job from an event-log file: its job group,
    submit/end time (epoch s), the stages that ran tasks, and task totals
    (count, executor run time, shuffle read/write and spill bytes). A
    stage listed by several jobs is charged to the first."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id") or "",
                    "start": e["Submission Time"] / 1000, "end": None, "stages": set(),
                    "tasks": 0, "executor_run_ms": 0, "shuffle_read": 0,
                    "shuffle_write": 0, "spill": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                j = jobs[stage_job[e["Stage ID"]]]
                j["stages"].add(e["Stage ID"])
                j["tasks"] += 1
                m = e.get("Task Metrics") or {}
                j["executor_run_ms"] += m.get("Executor Run Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def job_totals(jobs: list[dict]) -> dict:
    """Sums over `jobs`, with sizes in MB and times in s."""
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "wall_s": sum((j["end"] or j["start"]) - j["start"] for j in jobs),
        "executor_run_s": sum(j["executor_run_ms"] for j in jobs) / 1000,
        "shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / mb,
        "shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / mb,
        "spill_mb": sum(j["spill"] for j in jobs) / mb,
    }


def event_log_file(log_dir: str) -> str:
    """The single application log Spark wrote into `log_dir`."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# ---------------------------------------------------------------- host


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cache_gb() -> float:
    """Page cache (Buffers + Cached) in GiB: a cold cache makes scans pay
    disk, so it is stamped next to every result."""
    fields = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            fields[k] = int(v.split()[0])
    return round((fields.get("Buffers", 0) + fields.get("Cached", 0)) / 1024 / 1024, 2)
