"""The oracle-parity rule itself (`tests.conftest.assert_parity` and
`canonical_rows`), checked on hand-made pandas frames with no Spark or
DuckDB: exact floats, order-insensitive rows and columns, NaN vs None,
and the row-count and column-name gates."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import assert_parity, canonical_rows


class _Frame:
    """Stands in for a Spark DataFrame (toPandas), a DuckDB connection
    (execute) and its result (df)."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf

    df = toPandas

    def execute(self, sql):
        return self


def _parity(engine: pd.DataFrame, oracle: pd.DataFrame) -> int:
    return assert_parity(_Frame(engine), _Frame(oracle), "SELECT 1", "t")


def test_one_ulp_float_difference_fails():
    a, b = 0.1 + 0.2, 0.3
    assert a != b and round(a, 9) == round(b, 9)  # a 9-place rule would pass
    assert canonical_rows(pd.DataFrame({"x": [a]})) != \
        canonical_rows(pd.DataFrame({"x": [b]}))
    with pytest.raises(AssertionError, match="value mismatch"):
        _parity(pd.DataFrame({"x": [a]}), pd.DataFrame({"x": [b]}))


def test_row_and_column_order_are_ignored():
    engine = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    oracle = pd.DataFrame({"b": ["z", "x", "y"], "a": [3, 1, 2]})
    assert _parity(engine, oracle) == 3


def test_integer_width_is_ignored():
    engine = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
    oracle = pd.DataFrame({"n": pd.Series([2, 1], dtype="int64")})
    assert _parity(engine, oracle) == 2


def test_nan_equals_nan_and_none_differs_from_nan():
    nan = pd.DataFrame({"x": [float("nan"), 1.0]})
    assert _parity(nan, nan.copy()) == 2
    none = pd.DataFrame({"x": pd.Series([None, 1.0], dtype=object)})
    assert canonical_rows(none) != canonical_rows(nan)
    with pytest.raises(AssertionError, match="value mismatch"):
        _parity(none, nan)


def test_row_count_mismatch_fails():
    with pytest.raises(AssertionError, match="row count"):
        _parity(pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1]}))


def test_column_name_mismatch_fails():
    with pytest.raises(AssertionError, match="column mismatch"):
        _parity(pd.DataFrame({"a": [1]}), pd.DataFrame({"b": [1]}))
