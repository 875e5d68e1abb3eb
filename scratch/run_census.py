"""Full-registry wall-time census at sf0.1: one pass per query in ONE
warm session (the r7 protocol -- single-pass numbers are noisy; treat
isolated probes as the signal for any apparent mover).

Since r12 the PRIMARY mode is WARM_LAP (a full sf0.001 JIT lap before
timing): r11 validated that one warm-lap pass reproduces the 4-pass-min
composite (422.5 vs 421.5) and collapses the sorted-order position
artifacts (agg_abc_parts 2.8 vs 6-11 cold-first). Set COLD=1 for the
legacy un-warmed pass, kept only for the r7-r11 back-comparison series.

Usage: python scratch/run_census.py out.json   [SF_DIR=...] [COLD=1]
"""
import json
import os
import sys
import time

sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
out_path = sys.argv[1] if len(sys.argv) > 1 else "scratch/census.json"

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from streamprocessing_with_kafka_spark.session import get_spark  # noqa: E402
from streamprocessing_with_kafka_spark.plans.registry import registry  # noqa: E402
from streamprocessing_with_kafka_spark.functions.lineage import (  # noqa: E402
    drain_ephemeral_checkpoints,
)

spark = get_spark("census")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()  # warm

# Full JIT warm lap at sf0.001 -- PRIMARY since r12: the r11 mover
# adjudication showed the FIRST queries of a sorted pass pay the fresh
# session's C2/codegen cold-start (agg_abc_parts read ~6-11 s cold vs
# 1.8 s deep-warm), and r11 validated one warm-lap pass == the
# 4-pass-min composite. COLD=1 restores the legacy un-warmed pass for
# the r7-r11 back-comparison series.
if os.environ.get("COLD") != "1":
    for _name, _q in sorted(registry().items()):
        try:
            _q.fn(spark, "/root/testdata/sf0.001").collect()
        except Exception:
            pass
        drain_ephemeral_checkpoints()

times: dict[str, float] = {}
t_all = time.time()
# FIXED sorted order, not registry order: the registry head is the
# driver's correctness window, which is re-pinned every round -- in r9
# the re-pin reordered which heavy queries precede which, and the
# shared-session GC/heap bleed made census totals incomparable to r8's
# (mm_decode census-min 4.2 s vs isolated 0.53 s). Sorted order is
# stable across window re-pins, so cross-round census totals compare.
for name, q in sorted(registry().items()):
    t0 = time.time()
    try:
        q.fn(spark, sf_dir).collect()
        times[name] = round(time.time() - t0, 3)
    except Exception as e:  # record, keep sweeping
        times[name] = -1.0
        print(f"ERROR {name}: {e}", file=sys.stderr)
    drain_ephemeral_checkpoints()  # free the query's checkpoint blocks

with open(out_path, "w") as f:
    json.dump(times, f, indent=1, sort_keys=False)
ok = [v for v in times.values() if v >= 0]
print(
    json.dumps(
        {
            "queries": len(times),
            "errors": len(times) - len(ok),
            "total_sec": round(sum(ok), 1),
            "median_sec": round(sorted(ok)[len(ok) // 2], 3) if ok else None,
            "load_at_finish": list(os.getloadavg()),
        }
    )
)
