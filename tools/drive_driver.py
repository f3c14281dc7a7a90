"""Mimic the driver: import __spark_entry__, smoke entry(), then run each
queries()[k] vs oracle_sql()[k] in DuckDB (count+schema+value hash) at
$SPARK_GRAFT_DRIVE_SF_DIR (default /root/testdata/sf0.01 — the driver's SF).

Usage: python tools/drive_driver.py [name ...] — with args, only queries
whose key equals (or contains) an arg are run; no args = the full sweep.
Flags: --skip NAME (repeatable) drops a key AFTER any positional selection
is applied (so it composes with selectors too) — used by the sf0.1 parity
audit to hold out the oracle-intractable closure oracles.
"""
import os, sys, hashlib, math, threading
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb, pandas as pd
import __spark_entry__ as e
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_DRIVE_SF_DIR", "/root/testdata/sf0.01")
# per-oracle wall-clock cap (seconds); 0 = no cap. The engine side is never
# capped — a TIMEOUT row means the DUCKDB oracle is intractable at this SF
# (quadratic closure/pairwise shapes), not that the engine is slow.
ORACLE_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT_S", "0"))

# SPARK_GRAFT_DRIVE_SHUFFLE lets the partition-invariance audit rerun the
# whole sweep at a hostile width (e.g. 97): every hash must still match.
SHUFFLE = os.environ.get("SPARK_GRAFT_DRIVE_SHUFFLE", "8")

builder = (SparkSession.builder.master("local[8]")
           .config("spark.sql.shuffle.partitions", SHUFFLE)
           .config("spark.sql.session.timeZone", "UTC")
           .config("spark.ui.enabled", "false"))
# SPARK_GRAFT_DRIVE_CONF="k=v;k2=v2" — extra session confs for robustness
# axes (e.g. spark.sql.adaptive.enabled=false for the AQE-off audit).
for kv in filter(None, os.environ.get("SPARK_GRAFT_DRIVE_CONF", "").split(";")):
    ck, _, cv = kv.partition("=")
    builder = builder.config(ck.strip(), cv.strip())
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

rows = e.entry(spark).collect()
print(f"SMOKE entry(): {len(rows)} rows; first: {rows[0]}")

def fresh_con():
    c = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c

con = fresh_con()

def vhash(df):
    cols = sorted(df.columns)
    cells = []
    for r in df[cols].itertuples(index=False, name=None):
        cells.append(tuple(repr(x) if not isinstance(x, float) else repr(round(x,9)) for x in r))
    cells.sort()
    return hashlib.md5(str(cells).encode()).hexdigest()

qs, os_ = e.queries(), e.oracle_sql()
args = sys.argv[1:]
skips, sel = set(), []
i = 0
while i < len(args):
    if args[i] == "--skip":
        if i + 1 >= len(args):
            sys.exit("usage: drive_driver.py [name ...] [--skip NAME]... "
                     "(--skip needs a key; applies to sweeps AND selections)")
        skips.add(args[i + 1]); i += 2
    else:
        sel.append(args[i]); i += 1
if sel:
    qs = {k: v for k, v in qs.items()
          if any(s == k or s in k for s in sel)}
if skips:
    qs = {k: v for k, v in qs.items() if k not in skips}
    print(f"skipping {len(skips)}: {sorted(skips)}")
print(f"{len(qs)} queries, {len(os_)} oracles, sf_dir={SF_DIR}")
bad = 0
for k, fn in qs.items():
    try:
        sp = fn(spark, SF_DIR).toPandas()
    except Exception as exc:
        bad += 1
        print(f"{k}: SPARK ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:160]}")
        continue
    if k in os_:
        # Per-query fired-flag closes the ADVICE r8 race: a Timer that fires
        # AFTER con.execute() returns but BEFORE timer.cancel() would leave a
        # stale interrupt on the connection that aborts the NEXT oracle (and
        # gets misreported as that query's TIMEOUT). Only classify TIMEOUT
        # when THIS query's flag fired; on a late fire, drop the tainted
        # connection; on an interrupt with no flag (stale leak), retry once.
        fired = threading.Event()
        timer = None
        if ORACLE_TIMEOUT_S:
            timer = threading.Timer(ORACLE_TIMEOUT_S,
                                    lambda: (fired.set(), con.interrupt()))
            timer.start()
        try:
            try:
                dk = con.execute(os_[k]).df()
            except duckdb.InterruptException:
                if fired.is_set():
                    print(f"{k}: ORACLE TIMEOUT after {ORACLE_TIMEOUT_S}s "
                          f"(oracle intractable at this SF; engine result not judged)", flush=True)
                    continue  # finally sees fired -> rebuilds the connection
                # stale interrupt leaked from an earlier late timer: this
                # query was never judged — rebuild the connection, run again.
                # The retry can ITSELF hit a genuine timeout (the timer
                # lambda reads the global `con`, so it interrupts the fresh
                # connection too): classify that as TIMEOUT, not ORACLE
                # ERROR (ADVICE r9 — the second InterruptException
                # otherwise fell through to the outer except)
                con = fresh_con()
                try:
                    dk = con.execute(os_[k]).df()
                except duckdb.InterruptException:
                    if fired.is_set():
                        print(f"{k}: ORACLE TIMEOUT after {ORACLE_TIMEOUT_S}s "
                              f"(oracle intractable at this SF; engine result not judged)", flush=True)
                        continue
                    raise
        except Exception as exc:
            bad += 1
            print(f"{k}: ORACLE ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:160]}")
            continue
        finally:
            if timer:
                timer.cancel()
                if fired.is_set():
                    # fired late (query already returned): the interrupt may
                    # still be pending on this connection — don't let it
                    # abort the next query
                    con = fresh_con()
        ok = (len(sp)==len(dk)) and sorted(sp.columns)==sorted(dk.columns) and vhash(sp)==vhash(dk)
        bad += 0 if ok else 1
        print(f"{k}: rows {len(sp)}/{len(dk)} hash_match={vhash(sp)==vhash(dk)} -> {'MATCH' if ok else 'MISMATCH'}", flush=True)
    else:
        print(f"{k}: rows-only {len(sp)}", flush=True)
sys.exit(1 if bad else 0)
