"""The driver runs queries in ITS OWN SparkSession whose configs we don't
control. Prove the contract survives a hostile-default session: non-UTC
timezone, 200 shuffle partitions, no nanosAsLong — in a fresh subprocess
(getOrCreate() would otherwise reuse the test session)."""

from __future__ import annotations

import os
import subprocess
import sys

# the checkout under test, handed to the subprocess as argv[1]
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
import duckdb
from pyspark.sql import SparkSession
import __spark_entry__ as e

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.shuffle.partitions", "200")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in ["lineitem", "events", "orders", "customer", "nation", "region",
          "supplier", "part", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('/root/testdata/sf0.01/{t}.parquet')")

qs, oracles = e.queries(), e.oracle_sql()
# the timestamp-sensitive + partitioning-sensitive subset
RISKY = ["agg_pricing_summary", "stream_tumbling_agg", "source_kafka_shaped",
         "win_lag_lead", "date_extract_trunc", "agg_conditional"]
import math, pandas as pd

def canon(df):
    rows = []
    for r in df[sorted(df.columns)].itertuples(index=False, name=None):
        out = []
        for v in r:
            if isinstance(v, float):
                out.append("nan" if math.isnan(v) else repr(v))
            elif hasattr(v, "isoformat"):
                out.append(pd.Timestamp(v).isoformat())
            else:
                out.append(repr(v))
        rows.append(tuple(out))
    rows.sort()
    return rows

for name in RISKY:
    sp = qs[name](spark, "/root/testdata/sf0.01").toPandas()
    dk = con.execute(oracles[name]).df()
    assert canon(sp) == canon(dk), f"{name} diverged under hostile session"
    print(f"{name}: OK", flush=True)
print("ALL_OK")
"""


def test_queries_survive_hostile_driver_session():
    res = subprocess.run([sys.executable, "-c", SCRIPT, _REPO_ROOT],
                         capture_output=True, text=True, timeout=600)
    assert "ALL_OK" in res.stdout, f"stdout={res.stdout[-2000:]}\nstderr={res.stderr[-2000:]}"
