"""Mimic the driver: import __spark_entry__, smoke entry(), then compare each
queries()[k] with oracle_sql()[k] in DuckDB under the tier-1 parity rule
(`tests.conftest.assert_parity`: row count, column names, exact values).

Usage: python tools/drive_driver.py --sf-dir DIR [name ...] [--skip NAME]...
With names, only keys that equal or contain one are run; no names runs the
full sweep. --skip NAME (repeatable) drops a key after that selection.
Prints one line per key (MATCH, MISMATCH, ERROR or rows-only) and exits
non-zero if any key is not a MATCH or rows-only.
"""
from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as e
from tests.conftest import assert_parity, duckdb_views


def compare(spark, sf_dir: str, keys) -> int:
    """Run each key against its oracle at `sf_dir`, print its verdict, and
    return the number of keys that failed (mismatch or error)."""
    queries, oracles = e.queries(), e.oracle_sql()
    bad = 0
    with duckdb_views(sf_dir) as con:
        for k in keys:
            try:
                df = queries[k](spark, sf_dir)
                if k not in oracles:
                    print(f"{k}: rows-only {len(df.toPandas())}", flush=True)
                    continue
                n = assert_parity(df, con, oracles[k], k)
                print(f"{k}: MATCH {n} rows", flush=True)
            except AssertionError as exc:
                bad += 1
                print(f"{k}: MISMATCH {str(exc)[:300]}", flush=True)
            except Exception as exc:
                bad += 1
                msg = (str(exc).splitlines() or [""])[0][:160]
                print(f"{k}: ERROR {type(exc).__name__}: {msg}", flush=True)
    return bad


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--skip", action="append", default=[])
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()

    # Spark's Python workers import the engine too, from any working directory
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    rows = e.entry(spark).collect()
    print(f"SMOKE entry(): {len(rows)} rows; first: {rows[0]}")

    keys = [k for k in e.queries()
            if (not args.names or any(s in k for s in args.names))
            and k not in args.skip]
    print(f"{len(keys)} queries, sf_dir={args.sf_dir}")
    sys.exit(1 if compare(spark, args.sf_dir, keys) else 0)
