"""Result digests: order-insensitive, exact-value fingerprints of a result.

A result is digested from its column names and its rows as plain Python
values, the way ``DataFrame.collect()`` and DuckDB's ``fetchall()`` return
them. Rows are compared as a sorted multiset over columns sorted by name;
floats keep their exact ``repr``; timestamps compare by ISO form.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections.abc import Iterable, Sequence


def _float(v: float) -> str:
    return "nan" if math.isnan(v) else f"f:{v!r}"


def _datetime(v: dt.datetime) -> str:
    return f"t:{v.replace(tzinfo=None).isoformat()}"


def _date(v: dt.date) -> str:
    return f"t:{dt.datetime(v.year, v.month, v.day).isoformat()}"


def _dict(v: dict) -> str:
    return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"


def _seq(v) -> str:
    return "[" + ",".join(_cell(x) for x in v) + "]"


def _cell(v) -> str:
    # bool before int, datetime before date: each is a subclass of the next
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return _float(v)
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, dt.datetime):
        return _datetime(v)
    if isinstance(v, dt.date):
        return _date(v)
    if isinstance(v, dict):
        return _dict(v)
    if isinstance(v, (list, tuple)):
        return _seq(v)
    return f"s:{v}"


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """``{"rows": n, "sha256": hex}`` of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join([_cell(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1d" + line.encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}


def oracle_digests(data_dir: str, oracles: dict[str, str], tables: Iterable[str]) -> dict:
    """Run each DuckDB oracle SQL over the parquet tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()
