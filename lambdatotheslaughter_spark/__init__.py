"""PySpark-native analytics engine with the query surface of the
reference lambda-architecture pipeline (``jasmith-qa251/lambdaToTheSlaughter``).

The reference implements a Spark/Kafka/Kudu-Hive lambda architecture; this
package re-expresses the same capabilities Spark-first:

- batch layer    -> parquet scans + Catalyst-optimized DataFrame queries
- speed layer    -> Structured Streaming with batch "twins" for verification
- serving layer  -> returned DataFrames / managed parquet tables

All public operators are registered in :mod:`.registry` and exposed through
``__spark_entry__.py`` at the repo root, per the driver contract.

NOTE on provenance: the reference checkout at /root/reference is empty in this
environment (SURVEY.md §0), so file:line citations to it are impossible.
Capability citations point at SURVEY.md §2, the normative contract.
"""

from lambdatotheslaughter_spark.session import get_spark
from lambdatotheslaughter_spark.tables import TABLE_NAMES, load_table

__all__ = ["get_spark", "TABLE_NAMES", "load_table"]
