"""Measurement plumbing: the file -> micro-batch map across a compact
boundary, event-log totals, the feeder's schedule, and the statistics."""

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import harness

FEEDER = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "feeder.py")


def _entry(name, batch):
    return json.dumps({"path": f"file:///data/in/{name}", "timestamp": 1, "batchId": batch})


def test_file_batches_reads_compact_files_and_survivors(tmp_path):
    """Spark writes 9.compact restating batches 0-9 and may delete 0..8;
    batches after the compaction are plain files again."""
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "9.compact").write_text(
        "v1\n" + "\n".join(_entry(f"f{b}.json", b) for b in range(10)) + "\n"
    )
    (log / "8").write_text("v1\n" + _entry("f8.json", 8) + "\n")  # not yet deleted
    (log / "10").write_text("v1\n" + _entry("f10.json", 10) + "\n" + _entry("g10.json", 10))
    (log / "11").write_text("v1\n" + _entry("f11.json", 11))
    (log / ".11.crc").write_text("junk")
    (log / "12.tmp").write_text("partial")
    got = harness.file_batches(str(tmp_path))
    assert got == {**{f"f{b}.json": b for b in range(12)}, "g10.json": 10}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("local")
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.local.dir", str(local))
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_file_batches_on_a_real_checkpoint_past_compaction(spark, tmp_path):
    """12 one-file micro-batches: the log compacts at batch 9, and every
    file must still map to the batch that took it, in mtime order."""
    src = tmp_path / "in"
    src.mkdir()
    base = time.time() - 3600
    for i in range(12):
        p = src / f"f{i:02d}.txt"
        p.write_text(f"line {i}\n")
        os.utime(p, (base + i, base + i))
    q = (spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
         .writeStream.format("noop").option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert os.path.exists(tmp_path / "ckpt" / "sources" / "0" / "9.compact")
    assert harness.file_batches(str(tmp_path / "ckpt")) == {f"f{i:02d}.txt": i for i in range(12)}


def test_listener_keeps_progress_per_run(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_text("a\nb\n")
    listener = harness.make_listener()
    spark.streams.addListener(listener)
    try:
        q = (spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
             .writeStream.format("noop").option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        deadline = time.time() + 30
        while len(listener.batches(str(q.runId))) < 3 and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    batches = listener.batches(str(q.runId))
    assert [p["batchId"] for p in batches] == [0, 1, 2]
    assert [p["numInputRows"] for p in batches] == [2, 2, 2]
    start, end = harness.batch_window(batches[0])
    assert 0 <= end - start < 120


def test_parse_event_log_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "exec:0:q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Memory Bytes Spilled": 1048576, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = harness.parse_event_log(str(path))
    assert [j["group"] for j in jobs] == ["exec:0:q", ""]
    tot = harness.job_totals([j for j in jobs if j["group"].startswith("exec:")])
    assert tot == {"jobs": 1, "stages": 2, "tasks": 2, "wall_s": 2.5, "executor_run_s": 0.5,
                   "shuffle_read_mb": 1.0, "shuffle_write_mb": 1.0, "spill_mb": 1.0}
    assert harness.job_totals(jobs)["stages"] == 2  # stage 1 is charged to job 0 only


def test_feeder_places_each_file_no_earlier_than_due(tmp_path):
    (tmp_path / "stage").mkdir()
    (tmp_path / "in").mkdir()
    moves = []
    for i in range(3):
        (tmp_path / "stage" / f"f{i}").write_text("x")
        moves.append([i * 0.1, str(tmp_path / "stage" / f"f{i}"), str(tmp_path / "in" / f"f{i}")])
    sched = tmp_path / "s.json"
    sched.write_text(json.dumps({"start_at": time.time() + 0.1, "moves": moves}))
    subprocess.run([sys.executable, FEEDER, str(sched), str(tmp_path / "p.json")],
                   check=True, timeout=30)
    placed = json.loads((tmp_path / "p.json").read_text())
    assert [os.path.basename(d) for d, _, _ in placed] == ["f0", "f1", "f2"]
    assert all(at >= due for _, due, at in placed)
    assert sorted(os.listdir(tmp_path / "in")) == ["f0", "f1", "f2"]


def test_statistics():
    assert harness.quantile([], 0.5) == 0.0
    assert harness.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert harness.quantile(list(range(101)), 0.9) == 90
    assert harness.geomean([1, 4]) == pytest.approx(2.0)
    assert harness.median([3, 1, 2]) == 2
