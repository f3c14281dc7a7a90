#!/usr/bin/env python
"""Blocked-oracle sf0.1 value parity for the oracle-intractable closures.

Seven registry keys have DuckDB twins that exceed 180 s at sf0.1 (the
quadratic pairwise/closure shapes), so a full sf0.1 sweep can only
rows-check them. This tool restores a VALUE-exact check at 10x data by
restricting BOTH engines to the same deterministic input slice: it
materializes a copy of sf0.1 where `documents` keeps doc_id % 5 == 0
(1 000 of 5 000 docs — the modulus is odd ON PURPOSE: the
incremental-fuzzy key splits batch-vs-history by doc_id parity, and an
even modulus would leave its incoming side empty, a vacuous 0-row match)
and `lineitem` keeps l_orderkey % 16 == 0 (the
graph_connected_components fact), symlinks every other table unchanged,
then runs tools/drive_driver.py --sf-dir on the sliced directory — the
tier-1 parity rule, just on a corpus DuckDB can close over. The slice is
on the INPUT, so no query or oracle text changes; engine dispatch
fastpaths and distributed paths both remain whatever the sliced size
selects, exactly as the driver would see.

On a 4-vCPU / 15 GiB host a run takes about 10 minutes. Six of the seven
keys MATCH. graph_connected_components does not finish on that host: its
DuckDB oracle raises OutOfMemoryException (it asks for another 4 GiB with
9 GiB of DuckDB's default 12.5 GiB limit in use), also when run alone
with a spill directory set. So the tool exits non-zero there; the engine
side of that key is not judged.

Usage: python tools/blocked_parity.py   (exit 0 iff all 7 MATCH)
"""
from __future__ import annotations

import os
import shutil
import subprocess
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
DST = "/tmp/lts_blocked_sf01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SLICES = {
    "documents": "doc_id % 5 = 0",
    "lineitem": "l_orderkey % 16 = 0",
}
KEYS = [
    "llm_dedup_fuzzy_minhash", "llm_dedup_ngram_jaccard",
    "llm_dedup_cluster", "llm_dedup_incremental_fuzzy",
    "llm_dedup_containment", "llm_dedup_survivorship",
    "graph_connected_components",
]


def build_slice() -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(DST, f"{t}.parquet")
        pred = SLICES.get(t)
        if pred:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') WHERE {pred}) "
                f"TO '{dst}' (FORMAT PARQUET)")
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
            print(f"slice {t}: {pred} -> {n} rows")
        else:
            os.symlink(src, dst)
    con.close()


def main() -> int:
    build_slice()
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "drive_driver.py")
    r = subprocess.run([sys.executable, tool, "--sf-dir", DST, *KEYS])
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
