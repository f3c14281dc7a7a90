"""Plan-shape assertions (SURVEY.md §4): the properties that keep a query
fast at 100 TB are visible in the executed plan — these helpers make them
testable so a regression (lost pushdown, broadcast turned into shuffle,
codegen fallback) fails CI instead of shipping a 100× slowdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """The physical plan as ``df.explain("formatted")`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if `fragment` appears inside a PushedFilters: [...] clause."""
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and fragment in line.split("PushedFilters:")[1]:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet reader actually reads (first scan node).
    Parsed from the FileScan projection list — the ReadSchema struct string
    is width-truncated with '…' in plan toString."""
    plan = executed_plan(df)
    for chunk in plan.split("FileScan parquet [")[1:]:
        cols = chunk.split("]")[0]
        return [c.split("#")[0] for c in cols.split(",")]
    return []


def partition_filters(df: DataFrame) -> str:
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters:" in line:
            frag = line.split("PartitionFilters:")[1].split("], ")[0]
            if frag.strip() not in ("[]", "[],"):
                return frag
    return ""


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or \
        "BroadcastNestedLoopJoin" in executed_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


def count_shuffles(df: DataFrame) -> int:
    """All-to-all exchanges only (hash/range/single-partition). A
    BroadcastExchange is deliberately NOT counted: it moves one small side
    once, never repartitions the big side — counting it would penalize
    exactly the broadcast rewrites these tests exist to protect."""
    plan = executed_plan(df)
    return plan.count("Exchange ") - plan.count("BroadcastExchange ")


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Count codegen spans ('*(n)' markers). Under AQE the final plan — and
    its codegen annotation — only exists after execution, so run the query
    first."""
    df.collect()
    return executed_plan(df).count("*(")


def _plan_nodes(df: DataFrame):
    """Nodes of the AQE-final (or, before execution, the current) physical
    plan: QueryStage wrappers unwrapped (their subtree hides behind
    .plan()), reused exchanges followed. SQLMetrics on these nodes are
    populated only once the query has been EXECUTED on this exact DataFrame
    (collect, not a separate write action); before that every metric reads
    zero."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    nodes = []

    def walk(n):
        cls = n.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            walk(n.plan())
            return
        if cls == "ReusedExchangeExec":
            walk(n.child())
            return
        nodes.append(n)
        it = n.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    return nodes


def global_window_count(df: DataFrame) -> int:
    """Number of window-family physical nodes with an EMPTY partition spec
    — each one forces Exchange SinglePartition of its whole input (the
    'WindowExec: No Partition Defined' warning). The bucketed_order swap
    exists to drive this to zero on fact/corpus-grain inputs; windows over
    by-construction-bounded inputs (calendar series, ≤64-row replicate
    tables) are the callers' documented exceptions."""
    return sum(1 for n in _plan_nodes(df)
               if n.getClass().getSimpleName() in (
                   "WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")
               and n.partitionSpec().isEmpty())


def execution_metrics(df: DataFrame) -> dict[str, int]:
    """Measured counters off the executed plan: parquet bytes/rows/files
    actually read, shuffle bytes/records actually written, broadcast bytes
    shipped. The hard numbers behind the benchmark's per-layer
    `tables.*`/`operators.*` counters and the shuffle-volume regression
    tests."""
    agg = {"input_bytes": 0, "input_rows": 0, "files": 0,
           "shuffle_bytes": 0, "shuffle_records": 0, "broadcast_bytes": 0}
    for n in _plan_nodes(df):
        node = n.nodeName()
        mit = n.metrics().iterator()
        while mit.hasNext():
            e = mit.next()
            sm = e._2()
            nm = sm.name()
            nm = nm.get() if hasattr(nm, "get") and not isinstance(nm, str) else nm
            v = sm.value()
            if v <= 0:
                continue
            if node.startswith("Scan"):
                if nm == "size of files read":
                    agg["input_bytes"] += v
                elif nm == "number of output rows":
                    agg["input_rows"] += v
                elif nm == "number of files read":
                    agg["files"] += v
            if nm == "shuffle bytes written":
                agg["shuffle_bytes"] += v
            elif nm == "shuffle records written":
                agg["shuffle_records"] += v
            if node.startswith("BroadcastExchange") and nm == "data size":
                agg["broadcast_bytes"] += v
    return agg
