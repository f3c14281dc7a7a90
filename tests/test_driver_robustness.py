"""The driver runs queries in ITS OWN SparkSession whose configs we don't
control. Prove the contract survives a hostile-default session: non-UTC
timezone, 200 shuffle partitions, no nanosAsLong — in a fresh subprocess
(getOrCreate() would otherwise reuse the test session). The subprocess
judges its keys with `tools/drive_driver.compare`, so every tier-1 run
exercises the driver mimic too."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

# the checkout under test, handed to the subprocess as argv[1]
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the timestamp-sensitive + partitioning-sensitive subset
RISKY = ["agg_pricing_summary", "stream_tumbling_agg", "source_kafka_shaped",
         "win_lag_lead", "date_extract_trunc", "agg_conditional"]

SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from tools.drive_driver import compare

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.shuffle.partitions", "200")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sys.exit(compare(spark, sys.argv[2], sys.argv[3:]))
"""


def test_queries_survive_hostile_driver_session():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT, _REPO_ROOT, SF_DIR, *RISKY],
        capture_output=True, text=True, timeout=600)
    out = f"stdout={res.stdout[-2000:]}\nstderr={res.stderr[-2000:]}"
    assert res.returncode == 0, out
    assert res.stdout.count(": MATCH ") == len(RISKY), out
