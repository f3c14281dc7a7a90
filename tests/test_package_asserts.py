"""``python -O`` strips every ``assert``, so a call inside one (a log
commit, a write) silently never runs there. No assert in the package may
call anything in its test expression."""

from __future__ import annotations

import ast
import os

import lambdatotheslaughter_spark

_PKG = os.path.dirname(lambdatotheslaughter_spark.__file__)


def test_no_assert_calls_anything():
    bad = []
    for dirpath, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                bad += [f"{os.path.relpath(path, _PKG)}:{n.lineno}"
                        for n in ast.walk(tree) if isinstance(n, ast.Assert)
                        and any(isinstance(c, ast.Call)
                                for c in ast.walk(n.test))]
    assert not bad, bad
