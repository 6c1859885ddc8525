#!/usr/bin/env python3
"""Run one workload over several seeds and print, per end-to-end metric,
the median and the quartile distance as a share of the median (the
run-to-run spread the bounds in BENCHMARK.json are checked against).

    python3 perfbench/steady.py --workload cdc --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import relative_iqr  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: run_seconds from BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
    seconds = args.seconds or str(decl["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        result = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed} rc {proc.returncode} wall {wall:.1f}s correct {result.get('correct')}",
              flush=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        spread = relative_iqr(vs) if len(vs) > 1 else float("nan")
        print(f"{name:24s} median {statistics.median(vs):12.4f}  spread {spread:6.3f}"
              f"  bound {bounds.get(name)}  values {[round(v, 3) for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
