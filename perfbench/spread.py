"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload serving_queries --seeds 1-10
    python3 perfbench/spread.py --workload all --seeds 1-10 --out spread.json

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between its first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median,
next to the bound declared in ``BENCHMARK.json``. ``--out`` also writes every
run's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    names = ([w["name"] for w in declared["workloads"]] if args.workload == "all"
             else [args.workload])
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    for workload in names:
        runs[workload] = []
        for seed in args.seeds:
            r = one_run(workload, seed, declared["run_seconds"])
            runs[workload].append(r)
            print(f"{workload} seed {seed}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", flush=True)
        print(f"\n{workload}: {len(args.seeds)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in runs[workload]):.1f}s")
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs[workload]]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            print(f"  {name:16s} median {med:12.4f}  iqr/median {(q3 - q1) / med:6.3f}"
                  f"  bound {bound}")
        print(flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
