#!/usr/bin/env python
"""Print `.explain("formatted")` for one or more registry keys to stdout.

Each key's plan is followed by the plan of every frame its builder passes
to `localCheckpoint`, labelled `== <key> checkpoint <n> ==` in call order,
since the key's own plan shows such a frame only as `Scan ExistingRDD`.

Usage: python tools/explain_query.py --sf-dir DIR <query> [<query> ...]
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.session import get_spark


def formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


checkpointed = []
_local_checkpoint = DataFrame.localCheckpoint


def _recording_local_checkpoint(self, *args, **kwargs):
    checkpointed.append(formatted(self))
    return _local_checkpoint(self, *args, **kwargs)


DataFrame.localCheckpoint = _recording_local_checkpoint

parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
parser.add_argument("queries", nargs="+", metavar="query")
parser.add_argument("--sf-dir", required=True,
                    help="scale-factor directory of the input parquet")
args = parser.parse_args()

spark = get_spark("lts-explain")
for name in args.queries:
    checkpointed.clear()
    df = registry.get(name).fn(spark, args.sf_dir)
    print(f"== {name} ==")
    print(formatted(df))
    for n, plan in enumerate(checkpointed, 1):
        print(f"== {name} checkpoint {n} ==")
        print(plan)
