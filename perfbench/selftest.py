#!/usr/bin/env python3
"""Benchmark self-test: two traced runs with one seed must report exactly
equal load-independent counts (Spark jobs, stages and tasks, bytes and
files written, rows out, sampler branch counters) for every iteration
both runs reached. A claim that rests on one of these counts can then be
checked with a single run.

    python3 perfbench/selftest.py                 # BENCHMARK.json workloads
    python3 perfbench/selftest.py --seed 7 star_snapshot_large_k

Exits 1 on any mismatch or failed run.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _counts(workload: str, seed: int, seconds: float) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload}: run exited {proc.returncode}")
    if not json.loads(lines[-1])["correct"]:
        raise SystemExit(f"{workload}: run reported failed iterations")
    (row,) = [ln for ln in lines if ln.startswith("counts: ")]
    return json.loads(row[len("counts: "):])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("workloads", nargs="*")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    names = args.workloads or [
        w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]
    ]
    ok = True
    for name in names:
        a = _counts(name, args.seed, args.seconds)
        b = _counts(name, args.seed, args.seconds)
        n = min(len(a), len(b))
        diffs = [
            (i, k, a[i][k], b[i][k])
            for i in range(n) for k in a[i] if a[i][k] != b[i].get(k)
        ]
        ok &= n > 0 and not diffs
        print(f"{name}: {n} traced iteration(s) compared, "
              f"{len(diffs)} count mismatch(es)")
        for i, k, x, y in diffs:
            print(f"  iteration {i}: {k} {x} != {y}")
        if n:
            print(f"  counts: {json.dumps(a[0], separators=(',', ':'))}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
