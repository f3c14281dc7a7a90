"""Shared text primitives: tokenization, shingling, Jaccard — used by the
dedup/similarity/text-analysis operators (SURVEY.md §2.10) and exposed here
as the engine's text-function library.

Every Spark helper has a DuckDB-SQL twin string so operators can register
value-exact oracles. Shingling contract: whitespace tokens, space-joined
k-grams over 1-based positions, distinct.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens() -> Column:
    """Whitespace tokenization of the ``text`` column (the corpus is
    space-separated by construction — FIXTURES.md)."""
    return F.split("text", " ")


def shingles3(toks: Column | str = "toks") -> Column:
    """Distinct 3-token shingles. Pass a MATERIALIZED token-array column,
    not the split() expression: a lambda referencing split() three times
    per element re-tokenizes the text O(n_tokens) times (measured 3 s of
    the minhash pipeline at sf0.1)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1),
                              F.element_at(toks, i + 2))))


def shingles2(toks: Column | str = "toks") -> Column:
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1))))


SHINGLE3_SQL = ("list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), "
                "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
                "|| ' ' || string_split(text,' ')[i+2]))")
SHINGLE2_SQL = ("list_distinct(list_transform(range(1, len(string_split(text,' '))), "
                "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays; the int/int → double
    division is bit-identical across engines."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast("double")


def jaccard_sql(a: str, b: str) -> str:
    return (f"CAST(len(list_intersect({a}, {b})) AS DOUBLE) / "
            f"CAST(len({a}) + len({b}) - len(list_intersect({a}, {b})) AS DOUBLE)")


def md5_int60(col: Column | str) -> Column:
    """Portable 60-bit integer hash: first 15 md5 hex chars. Equals DuckDB's
    CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_minhashes(items: str, k: int) -> Column:
    """k portable minhashes of a string-array column: for seed i in
    0..k-1, the least :func:`md5_int60` of ``"<i>#<item>"``. Equals
    DuckDB's list_transform(range(0, k), i -> list_aggregate(
    list_transform(items, s -> <md5_int60 of i || '#' || s>), 'min'))."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(F.transform(
            items, lambda s: md5_int60(
                F.concat(i.cast("string"), F.lit("#"), s)))))
