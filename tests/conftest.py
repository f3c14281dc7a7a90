"""Shared fixtures: one SparkSession per test run, a DuckDB connection with
the driver's pre-registered views, and the one comparison rule for oracle
parity (row count + column names + order-insensitive exact values), which
`tools/drive_driver.py` imports too.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambdatotheslaughter_spark.session import get_spark
from lambdatotheslaughter_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.01"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    sess = get_spark("lts-tests")
    yield sess


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of `sf_dir`, as the
    driver registers them before running an oracle."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = duckdb_views(SF_DIR)
    yield con
    con.close()


def _canon_cell(v):
    """Canonical, hashable form of one cell, insensitive to engine dtype."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact repr — the driver hashes values; any FP divergence must fail here
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # datetime / date
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bool,)):
        return f"b:{v}"
    if isinstance(v, int) or type(v).__name__ in ("int8", "int16", "int32", "int64",
                                                  "uint8", "uint16", "uint32", "uint64"):
        return f"i:{int(v)}"
    if type(v).__name__ in ("float32", "float64"):
        return _canon_cell(float(v))
    return f"s:{v}"


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v) for v in row))
    out.sort()
    return out


def assert_parity(spark_df, duck_con, sql: str, query_name: str = "?") -> int:
    """Replicates the driver gate: row count, column-name set, exact values.
    Returns the row count."""
    sp = spark_df.toPandas()
    dk = duck_con.execute(sql).df()
    assert sorted(sp.columns) == sorted(dk.columns), (
        f"{query_name}: column mismatch spark={sorted(sp.columns)} duck={sorted(dk.columns)}")
    assert len(sp) == len(dk), f"{query_name}: row count spark={len(sp)} duck={len(dk)}"
    srows, drows = canonical_rows(sp), canonical_rows(dk)
    if srows != drows:
        diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:5]
        raise AssertionError(f"{query_name}: value mismatch, first diffs: {diffs}")
    return len(sp)
