"""A/A check: run the benchmark twice over on the same code and compare.

    python3 perfbench/aa.py --runs 5 [--traced 1] [--workload olap_scan_agg]

Run from the repository root. For every workload it makes two sets of
``--runs`` runs, each run with its own seed, and prints per end-to-end
metric: each set's median and spread (inter-quartile range over the
median), the metric's bound from BENCHMARK.json, and how far the second
median moved against the first in the metric's bad direction. A spread or a
shift beyond the bound is marked with ``!``. With ``--traced N`` it also
makes N traced runs per workload and prints the tracing overhead: traced
against untraced ``ops_per_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import spec as load_spec  # noqa: E402
from perfbench.stats import spread  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    if out.returncode != 0:
        raise SystemExit(f"run failed ({' '.join(cmd)}):\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"  {workload} seed {seed}: {result['failed']} failed ops", file=sys.stderr)
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    spec = load_spec()
    metrics = spec["end_to_end"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seed = args.first_seed
    for wl in workloads:
        sets = []
        for _ in range(2):
            runs = []
            for _ in range(args.runs):
                runs.append(one_run(wl, seed, spec["run_seconds"], 0))
                seed += 1
            sets.append(runs)
        print(f"== {wl}: 2 x {args.runs} runs")
        print(f"{'metric':16s} {'median1':>10s} {'spread1':>8s} {'median2':>10s} {'spread2':>8s} {'bound':>6s} {'shift':>7s}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols = []
            for runs in sets:
                vals = [r[name] for r in runs]
                cols.append((statistics.median(vals), spread(vals)))
            (m1, s1), (m2, s2) = cols
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            flag = "!" if worse > bound or max(s1, s2) > bound else " "
            print(f"{name:16s} {m1:10.4f} {s1:8.3f} {m2:10.4f} {s2:8.3f} {bound:6.2f} {worse:+7.3f}{flag}")
        if args.traced:
            traced = [one_run(wl, seed + i, spec["run_seconds"], 1)["trace.ops_per_s"]
                      for i in range(args.traced)]
            seed += args.traced
            untraced = statistics.median(r["ops_per_s"] for runs in sets for r in runs)
            print(f"tracing overhead: ops_per_s {statistics.median(traced):.4f} traced vs "
                  f"{untraced:.4f} untraced ({statistics.median(traced) / untraced - 1:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
