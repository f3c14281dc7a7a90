"""Two-pass bucketed global order: rank / running-sum / running-max over a
TOTAL order without ever collapsing the table into one window partition.

The problem: ``row_number() OVER (ORDER BY k)``
or ``ntile(n) OVER (ORDER BY k)`` with no PARTITION BY forces Spark to move
EVERY row through a single task (``Exchange SinglePartition`` feeding one
WindowExec) — fine at sf0.1, a scale-killer on a corpus-sized table at
100 TB. The standard distributed swap is the two-pass bucketed rank:

  pass 1  assign each row a bucket that is MONOTONE in the sort order,
          count rows (and partial sums/maxes) per bucket;
  pass 2  turn the ≤``n_buckets`` bucket totals into exclusive prefix
          offsets with a broadcast self-join, then combine
          ``offset + local window within bucket``.

Bucket assignment here is pure arithmetic — ``(key - min) div width`` off a
broadcast one-row min/max aggregate — NOT ``repartitionByRange`` +
``spark_partition_id()``. The range-partitioner variant was prototyped and
REJECTED on measurement: its reservoir sample is seeded by the RDD id, so
the two plan branches (rows vs bucket stats) can disagree about boundary
placement whenever the exchange is not reused, silently corrupting every
offset (observed: two runs of the same query returned different ranks).
Arithmetic buckets are a deterministic function of the DATA, so every
branch, run and engine agrees by construction; determinism is pinned by
``tests/test_bucketed_rank.py``'s two-run hash gate.

Trade-off, documented: linear buckets give uneven fill under heavy key skew
(all offsets stay EXACT — only parallelism degrades, worst case back to one
hot bucket). The upgrade path at fleet scale is quantile boundaries from a
bounded pre-sample feeding the same offset machinery; none of the current
call sites (cents, counts, epoch-micros, token lengths — all bounded,
roughly uniform domains) needs it at 1000×.

Exactness: ranks/sums ride BIGINT end to end; the two integer divisions use
``a - pmod(a, b)`` before the double divide so the quotient is an exactly
representable integer (|a| < 2^53 — 9e15 rows/cents, far past any real
table). NTILE uses the SQL-standard formula (first ``n mod k`` buckets get
one extra row), so results are bit-identical to ``ntile()`` and to DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_B = "__lts_bkt"
_MN, _MX = "__lts_mn", "__lts_mx"


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for |a| < 2^53: subtract the remainder first
    so the double-typed divide is of an exactly-representable multiple."""
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def exact_ntile(rank: Column, n: Column, k: int) -> Column:
    """SQL-standard NTILE(k) from a 1-based global rank and total count —
    first ``n mod k`` buckets take ``floor(n/k) + 1`` rows, the rest
    ``floor(n/k)``. Bit-identical to ``ntile(k) OVER (ORDER BY ...)`` in
    Spark and DuckDB, but computable from a bucketed rank (no global
    window)."""
    q = _idiv(n, F.lit(k))
    r = n - q * k
    thresh = r * (q + 1)
    lead = _idiv(rank + q, q + 1)                       # ceil(rank/(q+1))
    tail = r + _idiv(rank - thresh + q - 1, F.greatest(q, F.lit(1)))
    return F.when(rank <= thresh, lead).otherwise(tail).cast("bigint")


def bucketed_order(df: DataFrame, key: str, tiebreaks: Iterable = (), *,
                   descending: bool = False,
                   partition_by: Iterable[str] = (),
                   rank_col: str | None = None,
                   ntile: Mapping[str, int] | None = None,
                   cumsum: Mapping[str, str] | None = None,
                   prefix_max: Mapping[str, str] | None = None,
                   n_buckets: int = 256) -> DataFrame:
    """Append global-order columns to ``df`` without a single-partition
    window.

    The total order is ``key`` (numeric, ascending unless ``descending``)
    then ``tiebreaks`` (always ascending) — callers must make it a TOTAL
    order (unique tuples) for ranks to be well-defined, exactly as they
    must for a plain global window.

    - ``rank_col``:   1-based ``row_number()`` over the total order.
    - ``ntile``:      {out_name: k} — NTILE(k) buckets of the total order.
    - ``cumsum``:     {out_name: src_col} — INCLUSIVE running BIGINT sum.
    - ``prefix_max``: {out_name: src_col} — EXCLUSIVE running max (NULL for
      the first row, like ``max() OVER (... ROWS BETWEEN UNBOUNDED
      PRECEDING AND 1 PRECEDING)``).
    - ``partition_by``: optional group columns; the "global" order is then
      per group (each group gets its own buckets via a per-group min/max).

    Plan shape: one broadcast min/max, one hash exchange by (groups,
    bucket) feeding bucket-parallel windows, one ≤``n_buckets``-row
    broadcast offset join. No ``Exchange SinglePartition`` anywhere —
    pinned by ``tests/test_plans.py``.
    """
    ntile = dict(ntile or {})
    cumsum = dict(cumsum or {})
    prefix_max = dict(prefix_max or {})
    pcols = list(partition_by)
    kc = F.col(key).cast("bigint")

    mm_aggs = [F.min(kc).alias(_MN), F.max(kc).alias(_MX)]
    mm = df.groupBy(*pcols).agg(*mm_aggs) if pcols else df.agg(*mm_aggs)
    b = df.join(F.broadcast(mm), pcols) if pcols \
        else df.crossJoin(F.broadcast(mm))
    width = _idiv(F.col(_MX) - F.col(_MN), F.lit(n_buckets)) + 1
    raw = _idiv(kc - F.col(_MN), width)
    b = (b.withColumn(_B, (F.lit(n_buckets - 1) - raw) if descending
                      else raw)
         .drop(_MN, _MX))

    okey = F.col(key).desc() if descending else F.col(key)
    ocols = [okey,
             *[F.col(c) if isinstance(c, str) else c for c in tiebreaks]]
    w = Window.partitionBy(_B, *pcols).orderBy(*ocols)

    aggs = [F.count(F.lit(1)).alias("__c")]
    for name, src in cumsum.items():
        aggs.append(F.sum(src).cast("bigint").alias(f"__s_{name}"))
    for name, src in prefix_max.items():
        aggs.append(F.max(src).alias(f"__m_{name}"))
    bstats = b.groupBy(*pcols, _B).agg(*aggs)

    # ≤ n_buckets rows per group: exclusive prefix over buckets as a
    # broadcast self-join (the llm_shuffle_deterministic offset recipe)
    x, y = bstats.alias("x"), bstats.alias("y")
    cond = F.col(f"y.{_B}") < F.col(f"x.{_B}")
    for p in pcols:
        cond = cond & (F.col(f"y.{p}") == F.col(f"x.{p}"))
    offs = [F.coalesce(F.sum("y.__c"), F.lit(0)).alias("__off_c")]
    for name in cumsum:
        offs.append(F.coalesce(F.sum(f"y.__s_{name}"), F.lit(0))
                    .alias(f"__o_s_{name}"))
    for name in prefix_max:
        offs.append(F.max(f"y.__m_{name}").alias(f"__o_m_{name}"))
    off = (x.join(F.broadcast(y), cond, "left")
           .groupBy(*[F.col(f"x.{p}").alias(p) for p in pcols],
                    F.col(f"x.{_B}").alias(_B))
           .agg(*offs))
    out = b.join(F.broadcast(off), [*pcols, _B])

    if ntile:
        tot = bstats.groupBy(*pcols).agg(
            F.sum("__c").cast("bigint").alias("__n"))
        out = out.join(F.broadcast(tot), pcols) if pcols \
            else out.crossJoin(F.broadcast(tot))

    proj: list = list(df.columns)
    grank = (F.col("__off_c") + F.row_number().over(w)).cast("bigint")
    if rank_col:
        proj.append(grank.alias(rank_col))
    for name, k in ntile.items():
        proj.append(exact_ntile(grank, F.col("__n"), k).alias(name))
    for name, src in cumsum.items():
        proj.append((F.col(f"__o_s_{name}")
                     + F.sum(src).over(
                         w.rowsBetween(Window.unboundedPreceding, 0)))
                    .cast("bigint").alias(name))
    for name, src in prefix_max.items():
        local = F.max(src).over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        proj.append(F.greatest(F.col(f"__o_m_{name}"), local).alias(name))
    return out.select(*proj)
