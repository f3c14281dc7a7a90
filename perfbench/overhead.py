"""Tracing overhead: the end-to-end numbers of a traced run minus those of
an untraced run on the same workload and seed.

    python3 perfbench/overhead.py --workload serving_queries --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def end_to_end(args, trace: int) -> dict:
    out = subprocess.run([sys.executable, RUN, "--workload", args.workload,
                          "--seed", str(args.seed), "--seconds", str(args.seconds),
                          "--trace", str(trace)],
                         check=True, capture_output=True, text=True, timeout=300)
    line = next(x for x in out.stdout.splitlines() if x.startswith("# end_to_end "))
    return json.loads(line.removeprefix("# end_to_end ").rsplit(" error_rate=", 1)[0])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    args = ap.parse_args()
    plain = end_to_end(args, 0)
    traced = end_to_end(args, 1)
    for name, base in plain.items():
        diff = traced[name] - base
        print(f"{name:16s} untraced {base:12.4f}  traced {traced[name]:12.4f}  "
              f"overhead {diff:+.4f} ({diff / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
