"""Oracle-determinism helpers.

The driver hash-compares Spark output vs DuckDB output value-by-value
(order-insensitive, columns sorted by name). Floating-point SUM/AVG are
order-dependent in the last bits, and Spark/DuckDB aggregate in different
orders — so any plain ``SUM(double)`` is a coin-flip at hash time.

Fix: aggregate in *decimal* space. Casting each double to DECIMAL(38,6) is a
deterministic per-row rounding that both engines perform identically (the
input doubles are bit-identical in both, and .5-ulp ties at the 6th decimal
are measure-zero), and decimal addition is exact and associative — so the
final sum is bit-identical regardless of partial-aggregation order. Cast the
result back to DOUBLE for a plain schema. This is also the right call at
100 TB: it makes results reproducible across cluster sizes and AQE re-plans,
not just across engines.

The moment rule: a statistic over exact sums (BIGINT or decimal power
sums Σ1, Σx, Σx², …, cross sums Σxy) finishes in one fixed double
expression, written the same way in the Spark plan and the DuckDB oracle,
so each step is one correctly-rounded IEEE operation. Where doubles must
be added, :func:`ordered_fold` adds them in key order. The kernels below
spell each finish once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent SUM over a double column (exact decimal space)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum / count, evaluated in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") /
            F.count(c)).cast("double")


def oracle_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def oracle_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return (f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
            f" / COUNT({expr}) AS DOUBLE)")


# --- exact moment kernels --------------------------------------------------


def ordered_fold(keys: list[str], term: Column) -> Column:
    """Σ term over a group, added in ascending ``keys`` order: the twin of
    the oracles' ``list_sum(list(term ORDER BY keys))``, so the double sum
    is associated identically in both engines."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(*keys, term.alias("term")))),
        F.lit(0.0), lambda acc, x: acc + x["term"])


def power_sums(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(keys…, n, s1, s2): count, Σx and Σx² of ``col`` per group, BIGINT."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(col).cast("bigint").alias("s1"),
        F.sum(F.col(col) * F.col(col)).cast("bigint").alias("s2"))


def wide_power_sums(col: str) -> list[Column]:
    """Aggregates (n, s1, s2) of ``col``: count and Σx as BIGINT, Σx² as
    decimal(38,0), which squared cents overflow no sooner than Σx."""
    return [F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(col).cast("bigint").alias("s1"),
            F.sum(F.col(col).cast("decimal(38,0)") * F.col(col))
            .cast("decimal(38,0)").alias("s2")]


def mean_var_pop() -> tuple[Column, Column]:
    """(mean, population variance) over (n, s1, s2): s1/n, s2/n − mean²."""
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    return mu, F.col("s2").cast("double") / nd - mu * mu


def centered_ss() -> Column:
    """Σ(x − x̄)² over (n, s1, s2) as s2 − s1·s1/n."""
    return (F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("n").cast("double"))


def sample_var() -> Column:
    """Sample variance over (n, s1, s2): (s2 − s1·s1/n)/(n − 1)."""
    return centered_ss() / (F.col("n") - 1).cast("double")


def two_group_sums(df: DataFrame, x: Column, in_a: Column,
                   in_b: Column) -> DataFrame:
    """(n1, n2, s1a, s2a, s1b, s2b): count, Σx and Σx² of groups a and b
    in one conditional aggregate, BIGINT."""
    return df.agg(
        F.count(F.when(in_a, 1)).cast("bigint").alias("n1"),
        F.count(F.when(in_b, 1)).cast("bigint").alias("n2"),
        F.sum(F.when(in_a, x)).cast("bigint").alias("s1a"),
        F.sum(F.when(in_a, x * x)).cast("bigint").alias("s2a"),
        F.sum(F.when(in_b, x)).cast("bigint").alias("s1b"),
        F.sum(F.when(in_b, x * x)).cast("bigint").alias("s2b"))


def two_group_moments() -> tuple[Column, ...]:
    """(n1, n2, mean1, mean2, var1, var2) as doubles over
    :func:`two_group_sums`'s row; sample variance as (E[x²] − m²)·n/(n−1)."""
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1a").cast("double") / n1d
    m2 = F.col("s1b").cast("double") / n2d
    v1 = (F.col("s2a").cast("double") / n1d - m1 * m1) \
        * (n1d / (n1d - F.lit(1.0)))
    v2 = (F.col("s2b").cast("double") / n2d - m2 * m2) \
        * (n2d / (n2d - F.lit(1.0)))
    return n1d, n2d, m1, m2, v1, v2


def central_moments() -> tuple[Column, Column, Column, Column]:
    """(mean, m2, skewness, excess kurtosis) over raw power sums (n, s1,
    s2, s3, s4); m2^1.5 is spelled m2·sqrt(m2), since libm pow() is not
    portable across engines."""
    nd = F.col("n").cast("double")
    a1, a2, a3, a4 = (F.col(c).cast("double") / nd
                      for c in ("s1", "s2", "s3", "s4"))
    m2 = a2 - a1 * a1
    m3 = a3 - F.lit(3.0) * a1 * a2 + F.lit(2.0) * a1 * a1 * a1
    m4 = (a4 - F.lit(4.0) * a1 * a3 + F.lit(6.0) * a1 * a1 * a2
          - F.lit(3.0) * a1 * a1 * a1 * a1)
    return (a1, m2, m3 / (m2 * F.sqrt(m2)),
            m4 / (m2 * m2) - F.lit(3.0))


def pearson_finish(ax: Column, ay: Column, axy: Column, axx: Column,
                   ayy: Column) -> Column:
    """Pearson r from the five means E[x], E[y], E[xy], E[x²], E[y²]."""
    return (axy - ax * ay) / F.sqrt((axx - ax * ax) * (ayy - ay * ay))


def pearson_from_sums(n: str, sx: str, sy: str, sxy: str, sxx: str,
                      syy: str) -> Column:
    """Pearson r from the count and the five exact sums, each cast to
    double and divided by the count."""
    nd = F.col(n).cast("double")
    return pearson_finish(*(F.col(c).cast("double") / nd
                            for c in (sx, sy, sxy, sxx, syy)))


def integer_corr() -> Column:
    """Pearson r over exact sums (k, sx, sy, sxy, sxx, syy) in integer
    form, (k·sxy − sx·sy) / (√(k·sxx − sx²)·√(k·syy − sy²)), NULL when
    either spread is zero."""
    k = F.col("k")
    num = (k * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.sqrt((k * F.col("sxx") - F.col("sx") * F.col("sx"))
                  .cast("double"))
           * F.sqrt((k * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")))
    return (num / F.nullif(den, F.lit(0.0))).cast("double")


# --- exact integer-cents fast path -----------------------------------------
# The driver's money/rate columns are 2-decimal by construction (verified
# across lineitem/orders/events at sf0.1). round(x*100) is then an EXACT
# integer recovery, and int64 sums are associative, bit-exact, and stay in
# whole-stage codegen — measured ~2x faster than the decimal path on Q1.
# Overflow bound: |sum| must stay < 2^63. For charge-style triple products
# (~1e11/row) that holds to ~10^7 rows per *total* aggregate (sf10-ish);
# past that, fall back to dsum/davg (decimal space, unbounded).


def iround(v: Column) -> Column:
    """round-half-away-from-zero(v) → long as sign(v)·floor(|v|+0.5).

    Algebraically identical to DuckDB's round() / Spark's F.round for any
    sign (and null-propagating), but stays in pure double/long codegen:
    Spark's Round expression routes every row through BigDecimal.setScale,
    which measured ~1.9× on Q1's hot aggregate — this floor form cut the
    whole determinism tax to ~15% (BASELINE.md). Exact while |v| < 2^53,
    far above the int64 fixed-point overflow bounds that gate the callers."""
    return (F.signum(v) * F.floor(F.abs(v) + F.lit(0.5))).cast("long")


def round_cents(col: str) -> Column:
    """The money rule: a 2-decimal value to whole cents as BIGINT, the
    twin of the oracles' CAST(round(x * 100, 0) AS BIGINT). Unlike
    :func:`_scaled`, it keeps Spark's Round expression (a different plan
    from the floor form, same values)."""
    return F.round(F.col(col) * 100, 0).cast("bigint")


def _scaled(col: Column | str) -> Column:
    """Exact 2-decimal → integer cents recovery (see :func:`iround`)."""
    c = F.col(col) if isinstance(col, str) else col
    return iround(c * 100)


def csum(col: Column | str) -> Column:
    """Exact SUM of a 2-decimal double via integer cents."""
    return F.sum(_scaled(col)).cast("double") / 100.0


def cavg(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(_scaled(c)).cast("double") / 100.0 / F.count(c)


def oracle_csum(expr: str) -> str:
    return (f"(CAST(SUM(CAST(round(({expr}) * 100, 0) AS BIGINT)) AS DOUBLE)"
            f" / 100.0)")


def oracle_cavg(expr: str) -> str:
    return (f"(CAST(SUM(CAST(round(({expr}) * 100, 0) AS BIGINT)) AS DOUBLE)"
            f" / 100.0 / COUNT({expr}))")


def disc_price_csum(price: str, disc: str) -> Column:
    """Exact SUM(price*(1-disc)) for 2-decimal inputs:
    Σ P·(100−D) / 10^4 with P = price·10², D = disc·10²."""
    return (F.sum(_scaled(price) * (100 - _scaled(disc)))
            .cast("double") / 1e4)


def oracle_disc_price_csum(price: str, disc: str) -> str:
    return (f"(CAST(SUM(CAST(round({price} * 100, 0) AS BIGINT) * "
            f"(100 - CAST(round({disc} * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0)")


def charge_csum(price: str, disc: str, tax: str) -> Column:
    """Exact SUM(price*(1-disc)*(1+tax)): Σ P·(100−D)·(100+T) / 10^6."""
    return (F.sum(_scaled(price) * (100 - _scaled(disc))
                  * (100 + _scaled(tax))).cast("double") / 1e6)


# --- scale-adaptive selection ----------------------------------------------
# The int64-cents path wraps silently past ~2^63/|per-row-scaled-value| rows
# per aggregate total. The binding shape is the triple product
# (P·(100−D)·(100+T) ≈ 4e11 for P < 1e7 cents): 2^63/4e11 ≈ 2.3e7 rows.
# CSUM_SAFE_ROWS keeps ~2× headroom under that; past it, aggregate in
# decimal space (unbounded). The two paths are BIT-IDENTICAL for 2-decimal
# money below ~1e12: the double product is within ~2 ulp (≈1e-11 rel) of the
# exact 4/6-decimal rational, so the per-row DECIMAL(38,6) cast recovers it
# exactly — asserted by tests/test_determinism_props.py. The choice is
# therefore pure performance, which is why a static oracle SQL stays valid
# whichever path the Spark side picks.

CSUM_SAFE_ROWS = 10**7


def disc_price_dsum(price: str, disc: str) -> Column:
    """Decimal-space twin of :func:`disc_price_csum` (unbounded rows)."""
    return (F.sum((F.col(price) * (1 - F.col(disc))).cast(DEC))
            .cast("double"))


def charge_dsum(price: str, disc: str, tax: str) -> Column:
    """Decimal-space twin of :func:`charge_csum` (unbounded rows)."""
    return (F.sum((F.col(price) * (1 - F.col(disc)) * (1 + F.col(tax)))
                  .cast(DEC)).cast("double"))


def estimate_rows(sf_dir: str, table: str) -> int:
    """Conservative row-count UPPER bound from parquet file size — no Spark
    job, no footer read. Measured compressed lineitem here is ~17 bytes/row
    (dictionary-heavy), so dividing by 8 overestimates ≥2×; overestimation
    can only flip to the unbounded decimal path early, never lets the int64
    path run past its bound (csum keeps ~2× headroom on top)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        # directory-style dataset (e.g. scale_probe materializations):
        # sum the part files — getsize() on the dir itself would return
        # the dirent size and silently report a tiny table
        size = sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet"))
    else:
        size = os.path.getsize(path)
    return size // 8


# Fallback row gate when executor memory is unreadable (a fixed
# 64M-row gate only guarded the engine's hard 8 GiB / 512M-row
# BroadcastExchange ceiling — a ~1 GiB-on-the-wire broadcast inflates
# several-fold as a deserialized hash relation PER EXECUTOR, so a
# modest-heap executor can OOM well below the hard ceiling). 16M rows of
# (bigint, bigint) ≈ 256 MiB on the wire ≈ ~1.5 GiB deserialized —
# survivable on any executor a 100 TB job would realistically run.
BCAST_V_MAX_ROWS = 16_000_000

# the deserialized LongHashedRelation footprint per wire byte (measured
# ~4-6x for narrow long-keyed rows; take the pessimistic end) and the
# heap share one broadcast relation may claim
_BCAST_INFLATION = 6
_BCAST_HEAP_SHARE = 0.15
_BCAST_WIRE_BYTES_PER_ROW = 16


def _parse_jvm_mem(text: str) -> int:
    """'8g' / '512m' / '4096k' / plain bytes -> bytes (JVM -Xmx syntax)."""
    t = text.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if t and t[-1] in mult:
        return int(float(t[:-1]) * mult[t[-1]])
    return int(t)


def bcast_row_budget(spark) -> int:
    """Derive the broadcast row gate from the CONFIGURED executor heap
    instead of only the engine's hard ceiling: allow at
    most _BCAST_HEAP_SHARE of the heap for one deserialized hash
    relation at _BCAST_INFLATION× wire inflation. In local mode the
    executor lives in the driver JVM, so spark.driver.memory is the
    operative heap. Falls back to the conservative BCAST_V_MAX_ROWS cap
    when neither conf is readable, and never exceeds it (the hard
    8 GiB / 512M-row BroadcastExchange ceiling stays far above both)."""
    try:
        is_local = spark.conf.get("spark.master", "local").startswith("local")
        key = "spark.driver.memory" if is_local else "spark.executor.memory"
        heap = _parse_jvm_mem(spark.conf.get(key, "1g"))
    except Exception:
        return BCAST_V_MAX_ROWS
    rows = int(heap * _BCAST_HEAP_SHARE
               / (_BCAST_WIRE_BYTES_PER_ROW * _BCAST_INFLATION))
    return max(1, min(rows, BCAST_V_MAX_ROWS))


def broadcast_if_bounded(df, sf_dir: str, table: str = "part",
                         max_rows: int | None = None):
    """Broadcast-hint ``df`` only while ``table``'s estimated rows are at
    most ``max_rows``, i.e. while df, which grows with that table, is
    provably broadcastable. An explicit F.broadcast() hint overrides
    autoBroadcastJoinThreshold UNCONDITIONALLY — BroadcastExchangeExec
    hard-fails past 8 GiB / 512M rows rather than falling back — so the
    degrade-to-shuffle-join path the callers promise only exists if
    the hint itself is lifted at scale; estimate_rows overestimates ≥2×,
    so the gate can only lift the hint early, never broadcast too big.
    The default bounds the O(V) graph score/mask vectors of the
    co-purchase kernels (V bounded by the part dimension) with a
    memory-derived per-session gate (bcast_row_budget). Hinting or
    lifting changes only the physical join strategy, never values."""
    if max_rows is None:
        max_rows = bcast_row_budget(df.sparkSession)
    if estimate_rows(sf_dir, table) <= max_rows:
        return F.broadcast(df)
    return df


def money_aggs(n_rows_bound: int) -> dict[str, object]:
    """Pick the money-aggregation family by row-count bound: the exact
    int64-cents fast path (~2× faster, whole-stage codegen) while overflow
    is impossible, the exact decimal path past that. sf0.1 (~750k estimated
    rows) stays on cents; a 100× scale-up (~sf10, ≥2e7 real rows) switches
    automatically."""
    if n_rows_bound <= CSUM_SAFE_ROWS:
        return {"sum": csum, "avg": cavg,
                "disc_price": disc_price_csum, "charge": charge_csum}
    return {"sum": dsum, "avg": davg,
            "disc_price": disc_price_dsum, "charge": charge_dsum}


def oracle_charge_csum(price: str, disc: str, tax: str) -> str:
    return (f"(CAST(SUM(CAST(round({price} * 100, 0) AS BIGINT) * "
            f"(100 - CAST(round({disc} * 100, 0) AS BIGINT)) * "
            f"(100 + CAST(round({tax} * 100, 0) AS BIGINT))) AS DOUBLE) / 1000000.0)")
