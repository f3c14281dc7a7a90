#!/usr/bin/env python
"""Print `.explain("formatted")` for one or more registry keys to stdout.

Usage: python tools/explain_query.py --sf-dir DIR <query> [<query> ...]
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.session import get_spark

parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
parser.add_argument("queries", nargs="+", metavar="query")
parser.add_argument("--sf-dir", required=True,
                    help="scale-factor directory of the input parquet")
args = parser.parse_args()

spark = get_spark("lts-explain")
for name in args.queries:
    df = registry.get(name).fn(spark, args.sf_dir)
    print(f"== {name} ==")
    print(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"))
