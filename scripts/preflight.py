#!/usr/bin/env python
"""Round-end preflight gate: NEVER snapshot on a red suite.

Round 2 shipped with 31 failing tests because nothing enforced a green
suite at snapshot time (VERDICT r2, "What's wrong" #2). This script is
the mechanical gate: it runs, in order,

  1. the per-table schema pins (fixture drift fails here first, with a
     readable message);
  2. the full pytest suite at the default test SF, reporting its 20
     slowest tests (the tier-1 time budget);
  3. the complete oracle-parity + output-contract rehearsal at sf0.01 —
     exactly what the driver's CORRECTNESS pass hashes;
  4. the benchmark's smoke test (perfbench/test_smoke.py): a tiny
     backlog through the real pipeline, published exactly once, and
     the metric list in BENCHMARK.json.

Exit code 0 = safe to snapshot. Any failure prints which gate broke.

Usage: python scripts/preflight.py [--fast]
  --fast skips gate 3 (the sf0.01 rehearsal) for mid-round iteration.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str], env: dict | None = None) -> None:
    print(f"[preflight] {name}: {' '.join(cmd)}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    res = subprocess.run(cmd, cwd=REPO_DIR, env=e)
    if res.returncode != 0:
        print(f"[preflight] FAILED at gate: {name}", file=sys.stderr)
        sys.exit(res.returncode)


def main() -> None:
    fast = "--fast" in sys.argv
    run("schema pins", [sys.executable, "-m", "pytest", "tests/test_tables.py", "-q"])
    run(
        "full suite",
        [sys.executable, "-m", "pytest", "tests/", "-q", "--durations=20"],
    )
    if not fast:
        run(
            "sf0.01 driver rehearsal",
            [
                sys.executable,
                "-m",
                "pytest",
                "tests/test_oracle_parity.py",
                "tests/test_output_contract.py",
                "-q",
            ],
            env={"SPARK_GRAFT_TEST_SF_DIR": "/root/testdata/sf0.01"},
        )
    run("perfbench smoke", [sys.executable, "-m", "pytest", "perfbench/test_smoke.py", "-q"])
    print("[preflight] ALL GREEN")


if __name__ == "__main__":
    main()
