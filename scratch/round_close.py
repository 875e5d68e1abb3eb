"""ONE-command round-close ritual (VERDICT r9 item 5: "don't let it
decay").  Runs, in order, every gate the round must be green on at the
final product commit, and prints a PASS/FAIL summary:

  1. all SEVEN degenerate-sweep variants (scratch/empty_sweep.py)
  2. driver-contract simulation (scratch/drive_driver.py, ALL PASS)
  3. full pytest (tests/, -x)

Usage, from the repo root, AFTER the last product commit:

    python scratch/round_close.py [--skip pytest,sweeps,...]

Each step streams to scratch/close_<step>.log; the script is sequential
on purpose (the bench/census protocol needs the box idle, so run those
separately, before or after).  Exit 0 iff every step passed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VARIANTS = ["empty", "single", "nulls", "constant", "mixed", "mixed_keys", "mixed_both"]


def run(name: str, cmd: list[str]) -> bool:
    log = os.path.join(REPO, "scratch", f"close_{name}.log")
    t0 = time.time()
    with open(log, "w") as f:
        rc = subprocess.run(cmd, cwd=REPO, stdout=f, stderr=subprocess.STDOUT).returncode
    tail = ""
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
        tail = lines[-1][:100] if lines else ""
    status = "PASS" if rc == 0 else "FAIL"
    print(f"  {status}  {name}  ({time.time() - t0:.0f}s)  {tail}", flush=True)
    return rc == 0


def main() -> None:
    skip = set()
    if "--skip" in sys.argv:
        skip = set(sys.argv[sys.argv.index("--skip") + 1].split(","))
    py = sys.executable
    ok = True
    print("round-close ritual:", flush=True)
    if "sweeps" not in skip:
        for v in VARIANTS:
            ok &= run(f"sweep_{v}", [py, "scratch/empty_sweep.py", "--variant", v])
    if "driver" not in skip:
        ok &= run("driver", [py, "scratch/drive_driver.py"])
    if "pytest" not in skip:
        ok &= run("pytest", [py, "-m", "pytest", "tests/", "-x", "-q"])
    print("RESULT:", "ALL GREEN" if ok else "RED -- fix before closing the round")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
