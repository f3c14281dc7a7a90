"""Seeded input generators for the benchmark.

``write_dataset`` writes the master dataset: the ten star-schema, event and
corpus tables the engine's operators read, at scale factor 0.1 (smaller for
the smoke test), with the
schemas and value domains the engine's table loader expects. The dataset
seed is fixed, so every checkout builds byte-identical parquet files.

``stream_events`` derives the speed-layer backlog from the master ``events``
table. The run seed picks which events are delivered twice and which arrive
late, so each seed gives another stream over the same logical events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET_SEED = 42
SF = 0.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
VOCAB = ("batch sort value hash filter big data dup spark line small fast "
         "group customer query row stream the part column order scan a slow "
         "agg key window table merge vector join").split()

_US_PER_DAY = 86_400 * 1_000_000
# microseconds since the epoch
_D1995_01_01 = 9131 * _US_PER_DAY
_D1995_01_02 = 9132 * _US_PER_DAY
_D2001_08_01 = 11535 * _US_PER_DAY
_D2001_11_04 = 11630 * _US_PER_DAY
_T2024_01_01 = 19723 * _US_PER_DAY
_T2024_01_31 = 19753 * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo_us: int, hi_us: int, n: int) -> np.ndarray:
    return rng.integers(lo_us // _US_PER_DAY, hi_us // _US_PER_DAY + 1, n) * _US_PER_DAY


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 5_000, 2_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, _D1995_01_01, _D2001_08_01, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line).astype("int64")
    # line number = 1-based rank of the line within its order
    order = np.argsort(l_order, kind="stable")
    sorted_keys = l_order[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenumber = np.empty(n_line, dtype="int32")
    linenumber[order] = (np.arange(n_line) - run_start + 1).astype("int32")
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, _D1995_01_02, _D2001_11_04, n_line)),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(rng.integers(_T2024_01_01, _T2024_01_31, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev).astype("int64"),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # one document in twenty is a light edit of an earlier one, so the
        # dedup operators have near-duplicate clusters to find
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    # isotropic unit vectors: near-duplicate pairs are rare, as in real
    # embedding corpora, so similarity joins return few rows
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def write_dataset(out_dir: str, sf: float = SF) -> None:
    """Write the ten master tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(DATASET_SEED), sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# share of events delivered twice, and share delivered late (with an event
# time pushed back by up to LATE_MAX_US, still inside the watermark delay)
DUP_SHARE = 0.05
LATE_SHARE = 0.05
LATE_MAX_US = 3 * 3600 * 1_000_000
WATERMARK_DELAY = "6 hours"


def stream_events(master_dir: str, out_dir: str, seed: int, n_events: int) -> pa.Table:
    """Write ``<out_dir>/events.parquet``: the speed-layer backlog.

    The first ``n_events`` master events (all of them in a smaller
    dataset), of which a seeded share arrive
    late and a seeded share are delivered twice. ``event_id`` is the logical
    event id; rows are written in delivery order. The id is also stamped
    into ``props`` as ``k``, because the Kafka-envelope payload carries no
    key column through ``parse_envelope``. Returns the written table.
    """
    rng = np.random.default_rng(seed)
    ev = pq.read_table(os.path.join(master_dir, "events.parquet")).slice(0, n_events)
    n_events = ev.num_rows
    ts = ev.column("ts").cast(pa.int64()).to_numpy().copy()
    late = rng.random(n_events) < LATE_SHARE
    ts[late] -= rng.integers(1, LATE_MAX_US, int(late.sum()))
    ids = ev.column("event_id").to_numpy()
    table = pa.table({
        "event_id": ids,
        "ts": _ts(ts),
        "user_id": ev.column("user_id"),
        "event_type": ev.column("event_type"),
        "value": ev.column("value"),
        "props": [f'{{"k": {i}}}' for i in ids],
    })
    dups = np.flatnonzero(rng.random(n_events) < DUP_SHARE)
    # a duplicate is redelivered right behind the original
    order = np.sort(np.r_[np.arange(n_events), dups], kind="stable")
    table = table.take(pa.array(order))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table
