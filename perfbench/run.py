"""Lambda-architecture benchmark: serving queries and speed-layer ingest,
each followed by a batch-view rebuild.

    python3 perfbench/run.py --workload serving_queries --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. The first run builds
the sf0.1 master dataset and its DuckDB oracle digests under
``.perfbench/`` in the checkout, in a directory named after the hash of
what they are built from; later runs reuse them. Each run keeps its
warehouse, checkpoints, serving tables and Spark scratch space in its own
directory under ``.perfbench/`` and removes it at exit.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it, starting with ``# end_to_end``, holds the run's end-to-end
numbers in both modes, so a traced and an untraced run can be compared
(``perfbench/overhead.py``). Spans of a traced run are written to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE_DIR = os.path.join(ROOT, ".perfbench")
ORACLE_FILE = "oracle_digests.json"
WORKLOADS = ("serving_queries", "speed_layer_ingest")


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# interpreter start → now, sampled as early as possible; set-up time is
# measured from the process start on the kernel clock (10 ms ticks) plus a
# fine-grained clock from this point on
_AGE_AT_IMPORT = process_age_s()
_CLOCK_AT_IMPORT = time.perf_counter()


def since_process_start() -> float:
    return _AGE_AT_IMPORT + time.perf_counter() - _CLOCK_AT_IMPORT


def log(msg: str) -> None:
    """Progress line on standard error, stamped with the process age."""
    print(f"[{since_process_start():7.2f}s] {msg}", file=sys.stderr, flush=True)


def configure_env(run_dir: str) -> None:
    """Point every scratch location of the engine and Spark at the run
    directory, and let Spark's Python workers import the engine."""
    paths = {"warehouse": "SPARK_GRAFT_WAREHOUSE", "ckpt": "SPARK_GRAFT_CKPT",
             "local": "SPARK_LOCAL_DIRS", "tmp": "TMPDIR"}
    for sub, var in paths.items():
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ[var] = os.path.join(run_dir, sub)
    tempfile.tempdir = os.environ["TMPDIR"]
    # the scratch files of every JVM that spark-submit starts (native
    # libraries, perf data) stay in the run directory too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # the CPUs this process may run on, as nproc counts them
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TZ"] = "UTC"
    time.tzset()
    old = os.environ.get("PYTHONPATH")
    if not old or old.split(os.pathsep)[0] != ROOT:
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup():
    """Start the session and load the registry. Returns the session and the
    per-layer set-up times."""
    t0 = time.perf_counter()
    from lambdatotheslaughter_spark.session import get_spark
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from lambdatotheslaughter_spark import registry
    registry.all_queries()
    t2 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def checked_oracles(registry) -> dict[str, str]:
    """DuckDB oracle SQL of every key whose result a run checks: the serving
    keys and the views ``rebuild_views`` writes."""
    from lambdatotheslaughter_spark.plans.rebuild import DEFAULT_VIEWS
    from workloads import SERVING_KEYS

    oracles = registry.all_oracles()
    return {k: oracles[k] for k in dict.fromkeys(SERVING_KEYS + DEFAULT_VIEWS)}


def dataset_dir(oracles: dict[str, str]) -> str:
    """Where the dataset and its oracle digests live: a directory named after
    the hash of the generator, the digest code and the oracle SQL, so a
    change to any of them builds afresh. The last path component names the
    bucketed tables the engine derives, so it holds only letters, digits,
    "_" and "."."""
    h = hashlib.sha256()
    for name in ("datagen.py", "check.py"):
        with open(os.path.join(BENCH_DIR, name), "rb") as f:
            h.update(f.read())
    for key, sql in sorted(oracles.items()):
        h.update(f"\0{key}\0{sql}".encode())
    return os.path.join(STATE_DIR, f"data-{h.hexdigest()[:16]}", "sf0.1")


def ensure_dataset(registry) -> str:
    """Build (once per checkout and inputs) the master dataset and the
    digests of the checked keys' DuckDB oracle answers. Returns the data
    directory."""
    import check
    import datagen
    from lambdatotheslaughter_spark.tables import TABLE_NAMES

    oracles = checked_oracles(registry)
    data_dir = dataset_dir(oracles)
    if not os.path.exists(os.path.join(data_dir, ORACLE_FILE)):
        tmp = tempfile.mkdtemp(prefix="build-", dir=STATE_DIR)
        datagen.write_dataset(tmp)
        digests = check.oracle_digests(tmp, oracles, TABLE_NAMES)
        with open(os.path.join(tmp, ORACLE_FILE), "w") as f:
            json.dump(digests, f, indent=1)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(os.path.dirname(data_dir), exist_ok=True)
        os.rename(tmp, data_dir)
    return data_dir


def expected_digests(data_dir: str) -> dict:
    """Expected result digest of every checked key, built with the dataset."""
    with open(os.path.join(data_dir, ORACLE_FILE)) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, traced: bool, run_dir: str,
        resolve=None, data=None) -> tuple[dict, dict, int, int]:
    """One benchmark run in this process. Returns the end-to-end metrics,
    the per-layer metrics, and the operations attempted and failed."""
    spark, setup_layers = setup()
    setup_s = since_process_start()
    from lambdatotheslaughter_spark import registry

    import workloads as wl
    from tracing import Tracer

    log(f"set up in {setup_s:.2f}s")
    if data is None:
        data_dir = ensure_dataset(registry)
        data = data_dir, expected_digests(data_dir)
    data_dir, expected = data
    log("dataset ready")
    tracer = Tracer(traced)
    checker = wl.Checker(expected)
    resolve = resolve or (lambda name: registry.get(name).fn)
    try:
        if workload == "speed_layer_ingest":
            res = wl.speed_layer_workload(spark, data_dir, run_dir, seed, seconds, tracer)
        else:
            res = wl.query_workload(spark, wl.SERVING_KEYS, data_dir, seed, seconds,
                                    tracer, checker, resolve)
        log(f"{workload} done: {res.attempted} attempted, {res.failed} failed")
        wl.rebuild(spark, data_dir, tracer, checker, res)
        log(f"rebuild_views done in {res.rebuild_s:.2f}s")
        rss = jvm_peak_rss_mb() if traced else 0.0
    finally:
        stop_spark(spark)
    log("session stopped")
    e2e = wl.end_to_end(res, setup_s)
    layers = wl.per_layer(tracer, {**setup_layers, "session.jvm_peak_rss_mb": rss})
    if traced:
        tracer.write(os.path.join(STATE_DIR, "traces", f"{workload}-{seed}.json"),
                     {"end_to_end": e2e, "per_layer": layers})
    return e2e, layers, res.attempted, res.failed


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(declared: dict, e2e: dict, layers: dict, attempted: int, failed: int,
           traced: bool) -> dict:
    """The result object: the declared end-to-end metrics, or with tracing
    the declared per-layer metrics, each with its unit."""
    chosen = declared["per_layer" if traced else "end_to_end"]
    values = layers if traced else e2e
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in chosen}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "lambdatotheslaughter_spark")):
        print(f"no engine package lambdatotheslaughter_spark under {ROOT}", file=sys.stderr)
        return 2

    declared = load_declared()
    os.makedirs(STATE_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE_DIR)
    try:
        configure_env(run_dir)
        e2e, layers, attempted, failed = run(args.workload, args.seed, args.seconds,
                                             bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"# end_to_end {json.dumps(e2e)} error_rate={failed / max(attempted, 1)}")
    print(json.dumps(report(declared, e2e, layers, attempted, failed, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
