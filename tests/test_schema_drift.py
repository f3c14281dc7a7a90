"""Testdata-drift tripwire. The testdata is regenerated from time to time
and has already changed a physical type once (events.ts shipped as
TIMESTAMP(NANOS) at first, TIMESTAMP(MICROS) since) — which,
silently combined with a hardcoded nanos read, shifted every events
timestamp 1000x while green caches hid it. This test makes the next drift
LOUD: every table's parquet footer must still map onto the explicit read
schema in tables.py."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import types as T

from lambdatotheslaughter_spark.tables import SCHEMAS, events_ts_unit
from tests.conftest import SF_DIR

# arrow type string -> acceptable spark type classes in SCHEMAS
_COMPAT = {
    "int32": (T.IntegerType,),
    "int64": (T.LongType,),
    "double": (T.DoubleType,),
    "string": (T.StringType,),
    "timestamp[us]": (T.TimestampType,),
    "timestamp[ms]": (T.TimestampType,),
}


def test_every_table_footer_matches_read_schema():
    for name, schema in SCHEMAS.items():
        path = os.path.join(SF_DIR, f"{name}.parquet")
        arrow = pq.ParquetFile(path).schema_arrow
        expect = {f.name: f.dataType for f in schema.fields}
        assert set(arrow.names) == set(expect), (
            f"{name}: columns drifted — footer {arrow.names} vs "
            f"schema {sorted(expect)}")
        for field_name in arrow.names:
            a_type = str(arrow.field(field_name).type)
            s_type = expect[field_name]
            if name == "events" and field_name == "ts":
                # ns/us dispatch handled by events_reader via the footer
                unit = events_ts_unit(SF_DIR)
                assert a_type == f"timestamp[{unit}]", (a_type, unit)
                continue
            if a_type.startswith("list"):
                assert isinstance(s_type, T.ArrayType), (name, field_name)
                continue
            ok = _COMPAT.get(a_type)
            assert ok is not None and isinstance(s_type, ok), (
                f"{name}.{field_name}: footer {a_type} no longer maps onto "
                f"read schema {s_type} — testdata regenerated with a new "
                "physical type; update tables.py deliberately")


def test_events_reader_produces_sane_timestamps(spark):
    """End-to-end canary for the 1000x shift failure mode: the loaded
    events table must land in a plausible year range regardless of the
    parquet unit (a unit mismatch lands in 1970 or in the year 55790)."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.tables import load_table

    row = (load_table(spark, "events", SF_DIR)
           .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first())
    assert 2000 <= row["lo"].year <= 2100, row
    assert 2000 <= row["hi"].year <= 2100, row
