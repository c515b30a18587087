"""The driver registry: one row per query, each with its oracle SQL or
an oracle-backed companion. Pure Python, no Spark session."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import __spark_entry__ as E


def test_every_query_def_is_registered_exactly_once():
    tree = ast.parse(Path(E.__file__).read_text())
    defs = [
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    ]
    assert Counter(fn.__name__ for fn, _ in E._REGISTRY) == Counter(defs)


def test_rows_only_rows_name_a_registered_oracle_backed_companion():
    oracles, registered = E.oracle_sql(), {fn for fn, _ in E._REGISTRY}
    for fn, oracle in E._REGISTRY:
        if not isinstance(oracle, str):
            assert oracle in registered, fn.__name__
            assert oracle.__name__[2:] in oracles, fn.__name__
