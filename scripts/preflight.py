#!/usr/bin/env python
"""Round-end preflight gate: NEVER snapshot on a red suite.

Round 2 shipped with 31 failing tests because nothing enforced a green
suite at snapshot time (VERDICT r2, "What's wrong" #2). This script is
the mechanical gate: it runs, in order,

  1. the per-table schema pins (fixture drift fails here first, with a
     readable message);
  2. the full pytest suite at the default test SF;
  3. the complete oracle-parity + output-contract rehearsal at sf0.01 —
     exactly what the driver's CORRECTNESS pass hashes;
  4. a bench smoke at sf0.001 (detail line + tail-safe compact final line);
  5. a full sf0.1 bench compared entry-by-entry against the most recent
     BENCH_r*.json: any query slower than 1.5x its prior time (and by
     more than 0.3 s absolute — sub-second entries live in a noise band,
     see BENCH_r03's 1.45x q76 wobble) must be acknowledged in a
     "## Bench delta notes" section of PLANS.md or the gate fails. Same
     rule for the streaming-CDC ops/s. Perf regressions become visible
     at snapshot time the way correctness regressions already are.

Exit code 0 = safe to snapshot. Any failure prints which gate broke.

Usage: python scripts/preflight.py [--fast]
  --fast skips gates 3 and 5 (sf0.01 rehearsal + sf0.1 bench delta) for
  mid-round iteration.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RATIO_GATE = 1.5  # new/old wall-time ratio that needs a PLANS.md note
ABS_FLOOR_SEC = 0.3  # ignore ratio breaches smaller than this absolute delta


def find_prior_bench() -> dict | None:
    """Latest BENCH_r*.json that recorded a usable queries dict.

    The driver wraps bench.py's JSON line in an envelope
    ({"n": ..., "rc": ..., "tail": ..., "parsed": {...}}, pretty-printed
    multi-line) — unwrap "parsed" when present. A raw one-line bench.py
    capture (the historical format this gate was first written against)
    still parses via the whole-file load.
    """
    candidates = [os.path.join(REPO_DIR, "BENCH_PREFLIGHT.json")] + glob.glob(
        os.path.join(REPO_DIR, "BENCH_r*.json")
    )
    # Newest mtime wins among queries-bearing files — a hardcoded
    # BENCH_PREFLIGHT-first preference would let a stale preflight run
    # shadow a newer driver record if the driver format ever carries a
    # queries map again. Mtime TIES (fresh clone: git does not preserve
    # mtimes, everything stamps at checkout) break by the round number
    # parsed from BENCH_r<N>.json, numeric descending — lexicographic
    # order would put r9 after r10 (ADVICE round-11).
    def _round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    def _key(p: str):
        mt = os.path.getmtime(p) if os.path.exists(p) else 0.0
        return (mt, _round_no(p))

    for path in sorted(candidates, key=_key, reverse=True):
        try:
            with open(path) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        if isinstance(d.get("queries"), dict) and d["queries"]:
            d["_file"] = os.path.basename(path)
            return d
    return None


def parse_bench_stdout(stdout: str) -> dict | None:
    """Latest JSON line carrying the per-query map. Since round 9
    bench.py prints the full detail one line BEFORE the compact final
    summary (which deliberately has no "queries" key so it stays under
    the driver's 2,000-byte tail window) — scan from the end."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except (json.JSONDecodeError, ValueError):
            continue
        if isinstance(d, dict) and "queries" in d:
            return d
    return None


def bench_deltas(new: dict, prior: dict) -> list[str]:
    """Entry-by-entry regressions vs the prior recorded bench."""
    flagged = []
    if new.get("sf") != prior.get("sf"):
        return flagged  # different scale: ratios are meaningless
    for name, t_new in new["queries"].items():
        t_old = prior["queries"].get(name)
        if t_old and t_new > RATIO_GATE * t_old and t_new - t_old > ABS_FLOOR_SEC:
            flagged.append(f"{name}: {t_old}s -> {t_new}s ({t_new / t_old:.2f}x)")
    o, n = prior.get("streaming_cdc"), new.get("streaming_cdc")
    if o and n and n["ops_per_sec"] * RATIO_GATE < o["ops_per_sec"]:
        flagged.append(
            f"streaming_cdc: {o['ops_per_sec']} -> {n['ops_per_sec']} ops/s "
            f"({o['ops_per_sec'] / n['ops_per_sec']:.2f}x slower)"
        )
    return flagged


def acknowledged_in_plans(flagged: list[str]) -> list[str]:
    """Flagged entries NOT mentioned in PLANS.md '## Bench delta notes'."""
    try:
        with open(os.path.join(REPO_DIR, "PLANS.md")) as fh:
            text = fh.read()
    except OSError:
        return flagged
    section = ""
    in_section = False
    for line in text.splitlines():
        if line.startswith("## "):
            in_section = line.strip() == "## Bench delta notes"
            continue
        if in_section:
            section += line + "\n"
    return [f for f in flagged if f.split(":", 1)[0] not in section]


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
    run("full suite", [sys.executable, "-m", "pytest", "tests/", "-q"])
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
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO_DIR,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"},
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        print("[preflight] FAILED at gate: bench smoke", file=sys.stderr)
        sys.exit(out.returncode)
    d = parse_bench_stdout(out.stdout)
    if d is None:
        print("[preflight] bench stdout had no detail JSON line", file=sys.stderr)
        sys.exit(1)
    missing = {"metric", "value", "unit", "queries", "sf"} - set(d)
    if missing:
        print(f"[preflight] bench JSON missing keys: {missing}", file=sys.stderr)
        sys.exit(1)
    last = json.loads(out.stdout.strip().splitlines()[-1])
    if len(json.dumps(last)) > 1500 or "n_queries" not in last:
        print("[preflight] FAILED: final bench line not driver-tail-safe", file=sys.stderr)
        sys.exit(1)

    if not fast:
        prior = find_prior_bench()
        if prior is None:
            print("[preflight] bench delta: no prior BENCH_r*.json — skipping")
        else:
            print(f"[preflight] bench delta gate vs {prior['_file']} (sf0.1, ~4 min)")
            full = subprocess.run(
                [sys.executable, "bench.py"],
                cwd=REPO_DIR,
                env={**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"},
                capture_output=True,
                text=True,
            )
            if full.returncode != 0:
                print("[preflight] FAILED at gate: sf0.1 bench run", file=sys.stderr)
                print(full.stderr[-2000:], file=sys.stderr)
                sys.exit(full.returncode)
            new = parse_bench_stdout(full.stdout)
            if new is None:
                print("[preflight] FAILED: sf0.1 bench printed no detail line", file=sys.stderr)
                sys.exit(1)
            flagged = bench_deltas(new, prior)
            unacked = acknowledged_in_plans(flagged)
            for f in flagged:
                tag = "UNACKNOWLEDGED" if f in unacked else "noted in PLANS.md"
                print(f"[preflight] bench delta {tag}: {f}")
            if unacked:
                print(
                    "[preflight] FAILED at gate: bench delta — add the queries above "
                    "to a '## Bench delta notes' section in PLANS.md (with the plan "
                    "diff that explains them) or fix the regression",
                    file=sys.stderr,
                )
                sys.exit(1)
            # persist the GREEN sf0.1 map as the next round's delta
            # prior: driver BENCH_r*.json records are compact (no
            # per-query map) from round 9 on, so this file is the
            # freshest queries-bearing record find_prior_bench can use.
            # Written only after the gate passes — a regressed run must
            # not become the baseline that hides itself next round.
            with open(os.path.join(REPO_DIR, "BENCH_PREFLIGHT.json"), "w") as fh:
                json.dump(new, fh, indent=1, sort_keys=True)
                fh.write("\n")

    print(f"[preflight] ALL GREEN (bench total {d['value']}s at sf{d['sf']})")


if __name__ == "__main__":
    main()
