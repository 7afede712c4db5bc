"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload dashboard --runs 10 [--first-seed 1]

Runs the benchmark once per seed (seeds ``first-seed`` onwards) and
prints each run's metrics, wall time and the share of CPU time the
hypervisor stole during its window; then, for each end-to-end metric,
its median over the runs and the distance between its first and third
quartile as a share of that median, beside a third of the metric's bound
in BENCHMARK.json: the benchmark is steady when every spread but that of
``setup_s`` stays below it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        out = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=root, capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        host = next((json.loads(x) for x in lines if x.startswith('{"workload"')), {})
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(json.dumps({"seed": seed, "run_s": round(time.perf_counter() - t0, 1),
                          "steal_pct": round(host.get("window_steal_pct", 0.0), 2),
                          **{k: m["value"] for k, m in result["metrics"].items()}}), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        print(f"{args.workload:18s} {m['name']:14s} median {stats.median(xs):12.4f} "
              f"spread {stats.spread(xs):.4f}  bound/3 {m['bound'] / 3:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
