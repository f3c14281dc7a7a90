"""Small-input smoke test of the benchmark itself.

    python3 -m pytest perfbench/smoke_test.py -q        # or
    python3 perfbench/smoke_test.py

Runs every declared workload on a tiny generated dataset, with expected
results taken from the DuckDB oracles at that scale, and checks that:
every metric named in ``BENCHMARK.json`` is reported with its unit; a
forced wrong result and a forced exception are both counted as failures;
and the seed changes the request order but not the key set.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import workloads as wl  # noqa: E402

SMOKE_SF = 0.001


def test_seed_changes_order_not_keys():
    a = wl.schedule(wl.SERVING_KEYS, 1)
    b = wl.schedule(wl.SERVING_KEYS, 2)
    assert a != b
    assert sorted(a) == sorted(b) == sorted(wl.SERVING_KEYS)
    assert a == wl.schedule(wl.SERVING_KEYS, 1)


def _small_data(state_dir: str):
    import check
    import datagen
    from lambdatotheslaughter_spark import registry
    from lambdatotheslaughter_spark.tables import TABLE_NAMES

    data_dir = os.path.join(state_dir, "sf0.001")
    datagen.write_dataset(data_dir, sf=SMOKE_SF)
    return data_dir, check.oracle_digests(data_dir, run.checked_oracles(registry),
                                          TABLE_NAMES)


def _run(state_dir, workload, traced, data, resolve=None):
    run_dir = tempfile.mkdtemp(prefix="run-", dir=state_dir)
    try:
        run.configure_env(run_dir)
        out = run.run(workload, seed=3, seconds=0.1, traced=traced, run_dir=run_dir,
                      resolve=resolve, data=data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return run.report(run.load_declared(), *out, traced=traced)


def test_workloads_report_every_metric_and_count_failures():
    os.makedirs(run.STATE_DIR, exist_ok=True)
    state_dir = tempfile.mkdtemp(prefix="smoke-", dir=run.STATE_DIR)
    try:
        run.configure_env(os.path.join(state_dir, "env"))
        data = _small_data(state_dir)
        declared = run.load_declared()
        for w in declared["workloads"]:
            for traced in (False, True):
                out = _run(state_dir, w["name"], traced, data)
                assert out["correct"] and out["failed"] == 0, out
                assert out["attempted"] >= 1
                want = declared["per_layer" if traced else "end_to_end"]
                assert {m["name"]: m["unit"] for m in want} == {
                    k: v["unit"] for k, v in out["metrics"].items()}
                if not traced:
                    assert all(v["value"] > 0 for v in out["metrics"].values()), out

        from lambdatotheslaughter_spark import registry

        def resolve(name):
            fn = registry.get(name).fn
            if name == "topk_global":
                return lambda spark, sf_dir: fn(spark, sf_dir).limit(1)

            if name == "agg_distinct":
                def boom(spark, sf_dir):
                    raise RuntimeError("forced failure")
                return boom
            return fn

        out = _run(state_dir, "serving_queries", False, data, resolve)
        assert not out["correct"]
        # the raising key fails in the unchecked warm-up round and in the one
        # measured round, the wrong result only in the measured round
        assert out["failed"] == 3, out
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


if __name__ == "__main__":
    test_seed_changes_order_not_keys()
    test_workloads_report_every_metric_and_count_failures()
    print("smoke test passed")
