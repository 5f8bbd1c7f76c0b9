"""Shape of the declared query inventory, checked without a SparkSession.

``QUERIES`` iterates in declaration order: the first ``@query("name", ...)``
decorator or ``QUERIES["name"] = ...`` statement in ``asterlake/queries.py``
fixes a query's position, and a later re-assignment (an oracle injected
after the def) keeps it. The memo registry and the driver contract in
``__spark_entry__`` must agree with that inventory. Runtime conf writes
stay in ``session.py``, the memory-sink drain in one helper, every
streaming run in one runner, and every one-task kernel in one runner.
"""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__
import asterlake
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


def _calls(attr: str):
    """(path, call) for every ``<expr>.<attr>(...)`` call in asterlake/."""
    root = Path(asterlake.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            ):
                yield path.relative_to(root), node


def test_conf_writes_only_in_session_module():
    """Runtime conf pins go through ``session.pinned_conf``, which
    restores (or unsets) what it changed; a bare ``conf.set`` elsewhere
    leaks into the caller's session."""
    writers = {
        str(path)
        for path, call in _calls("set")
        if isinstance(call.func.value, ast.Attribute)
        and call.func.value.attr == "conf"
    }
    assert writers <= {"session.py"}, writers


def test_one_memory_sink_drain():
    sinks = [
        f"{path}:{call.lineno}"
        for path, call in _calls("format")
        if call.args
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == "memory"
    ]
    assert len(sinks) == 1, sinks


def test_one_available_now_runner():
    """Every streaming sink starts through
    ``streaming.pipeline.run_available_now``."""
    runs = [
        f"{path}:{call.lineno}"
        for path, call in _calls("trigger")
        if any(
            kw.arg == "availableNow"
            and isinstance(kw.value, ast.Constant)
            and kw.value.value is True
            for kw in call.keywords
        )
    ]
    assert len(runs) == 1, runs


def test_one_single_task_kernel_runner():
    """Every ``coalesce(1).mapInPandas`` kernel runs through
    ``operators._kernels.one_task``."""
    runs = [
        f"{path}:{call.lineno}"
        for path, call in _calls("mapInPandas")
        if isinstance(call.func.value, ast.Call)
        and isinstance(call.func.value.func, ast.Attribute)
        and call.func.value.func.attr == "coalesce"
        and len(call.func.value.args) == 1
        and isinstance(call.func.value.args[0], ast.Constant)
        and call.func.value.args[0].value == 1
    ]
    assert len(runs) == 1, runs
