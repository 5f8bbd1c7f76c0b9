"""Shape of the declared query inventory, checked without a SparkSession.

``QUERIES`` iterates in declaration order: the first ``@query("name", ...)``
decorator or ``QUERIES["name"] = ...`` statement in ``asterlake/queries.py``
fixes a query's position, and a later re-assignment (an oracle injected
after the def) keeps it. The memo registry and the driver contract in
``__spark_entry__`` must agree with that inventory.
"""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__
from asterlake import queries
from asterlake.queries import MEMO_BUILDERS, QUERIES


def _declared_names() -> list[str]:
    """Query names in order of first declaration, read from the source."""
    tree = ast.parse(Path(queries.__file__).read_text())
    names: list[str] = []
    for stmt in tree.body:
        if isinstance(stmt, ast.FunctionDef):
            keys = [
                d.args[0]
                for d in stmt.decorator_list
                if isinstance(d, ast.Call)
                and isinstance(d.func, ast.Name)
                and d.func.id == "query"
            ]
        elif isinstance(stmt, ast.Assign):
            keys = [
                t.slice
                for t in stmt.targets
                if isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == "QUERIES"
            ]
        else:
            continue
        for key in keys:
            assert isinstance(key, ast.Constant), ast.dump(key)
            if key.value not in names:
                names.append(key.value)
    return names


def test_queries_iterate_in_declaration_order():
    assert list(QUERIES) == _declared_names()


def test_memo_riders_are_declared_queries():
    for name, (_build, riders) in MEMO_BUILDERS.items():
        assert riders, name
        assert set(riders) <= set(QUERIES), (name, set(riders) - set(QUERIES))


def test_memo_rows_do_not_collide_with_queries():
    assert not set(MEMO_BUILDERS) & set(QUERIES)


def test_driver_contract_matches_inventory():
    assert list(__spark_entry__.queries()) == list(QUERIES)
    assert set(__spark_entry__.oracle_sql()) <= set(QUERIES)
