"""One owner for session and warehouse state.

Every registry key, streaming drain and batch-view rebuild shares one
long-lived session over one warehouse, so a query must hand the session's
confs back exactly as it found them. ``session.scoped_conf`` is the only
place that sets a conf temporarily, and ``tables`` is the only module that
drops managed tables or knows where the warehouse keeps them.
"""

from __future__ import annotations

import ast
import os
import re
import tempfile

import pytest

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.tables import load_table
from tests.conftest import SMOKE_SF_DIR

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "lambdatotheslaughter_spark")

# the keys that need a session conf for their own plan or write
_SCOPED_CONF_KEYS = (
    "sink_sorted_data_skipping",
    "sink_dynamic_partition_overwrite",
    "scan_aggregate_pushdown",
    "scan_fieldid_rename_evolution",
    "join_runtime_bloom_filter",
    "scan_bucket_pruning",
    "sql_scripting_block",
)


@pytest.mark.parametrize("key", _SCOPED_CONF_KEYS)
def test_key_hands_session_confs_back(spark, monkeypatch, tmp_path, key):
    """The session's confs are identical before and after the key runs,
    and a SQL script still runs afterwards (scripting is on by default).
    A fresh temp dir makes the fixture-caching keys rebuild their data,
    which is where their write-time confs apply."""
    load_table(spark, "events", SMOKE_SF_DIR)  # tables.py's permanent confs
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = spark.conf.getAll
    registry.get(key).fn(spark, SMOKE_SF_DIR).collect()
    assert spark.conf.getAll == before
    assert spark.sql("BEGIN SELECT 1 AS one; END").collect()[0].one == 1


def _package_trees():
    for dirpath, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, _PKG), ast.parse(fh.read())


def _enclosing_functions(tree):
    """Map each node to the name of the innermost function around it."""
    owner = {}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)
            owner[child] = name
            visit(child, name)

    visit(tree, None)
    return owner


def _literal(node):
    return node.value if isinstance(node, ast.Constant) else None


def test_session_and_warehouse_state_have_one_owner():
    """Static guard, no Spark session: environment reads are the four
    session settings; confs are set or unset only by ``scoped_conf`` and
    by the two permanent settings ``tables`` makes on load; only
    ``tables`` and ``session`` name DROP TABLE or the warehouse dir."""
    env_reads, conf_writes, warehouse_refs = set(), set(), set()
    for rel, tree in _package_trees():
        owner = _enclosing_functions(tree)
        keyed_reads = set()
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            if (f.attr == "get" and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "environ"):
                keyed_reads.add(f.value)
                env_reads.add((rel, _literal(node.args[0])))
            recv = f.value
            recv_name = recv.attr if isinstance(recv, ast.Attribute) else \
                getattr(recv, "id", None)
            if f.attr in ("set", "unset") and recv_name == "conf":
                conf_writes.add((rel, owner.get(node), f.attr, _literal(node.args[0])))
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")
                    and node not in keyed_reads):
                env_reads.add((rel, None))
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.search(r"\bSET\s+spark\.", node.value, re.IGNORECASE):
                    conf_writes.add((rel, owner.get(node), "SQL SET", node.value))
                for needle in ("DROP TABLE", "spark.sql.warehouse.dir"):
                    if needle in node.value:
                        warehouse_refs.add((rel, needle))

    assert env_reads == {("session.py", k) for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_WAREHOUSE", "SPARK_GRAFT_CKPT")}
    assert conf_writes == {
        ("session.py", "scoped_conf", "set", None),
        ("session.py", "scoped_conf", "unset", None),
        ("tables.py", "events_reader", "set",
         "spark.sql.legacy.parquet.nanosAsLong"),
        ("tables.py", "load_table", "set", "spark.sql.session.timeZone"),
    }
    assert {rel for rel, _ in warehouse_refs} <= {"tables.py", "session.py"}
