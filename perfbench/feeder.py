"""Open-loop load generator, run as its own single-threaded process.

    python3 perfbench/feeder.py SCHEDULE.json PLACED.json

SCHEDULE.json holds {"start_at": <epoch s>, "moves": [[offset_s, src, dst], ...]}.
At start_at + offset_s each pre-written file is atomically renamed into the
watched directory, whether or not the engine has kept up. PLACED.json gets
[[dst, due, placed], ...] so latency can be taken from the due time and the
generator's own lag checked.
"""

from __future__ import annotations

import json
import os
import sys
import time


def feed(schedule: dict) -> list[list]:
    placed = []
    start = schedule["start_at"]
    for offset, src, dst in schedule["moves"]:
        due = start + offset
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(src, dst)
        placed.append([dst, due, time.time()])
    return placed


def main() -> None:
    with open(sys.argv[1]) as f:
        schedule = json.load(f)
    placed = feed(schedule)
    with open(sys.argv[2], "w") as f:
        json.dump(placed, f)


if __name__ == "__main__":
    main()
