#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
run-to-run spread against its bound.

    python3 perfbench/spread.py --workload corpus --seeds 1-10

The spread is the distance between the first and third quartile of the
per-run values (statistics.quantiles, n=4) as a share of their median.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    lines = []
    for s in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        last = out.stdout.strip().splitlines()[-1]
        print(f"seed {s}: {last}", flush=True)
        lines.append(last)
    runs = [json.loads(l) for l in lines]
    print(f"{len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
    for m in spec["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"  {m['name']:<18} median {med:9.4f} {m['unit']:<3} spread {(q3 - q1) / med:.3f}"
              f" (bound {m['bound']}, target below {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
