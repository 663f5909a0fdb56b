"""Every query-name list outside `_queries_all()` names a live driver
entry: `bench.py:BENCH_QUERIES`, `scripts/dump_explain.py:SHOW` and
`__spark_entry__.py:_SNAPSHOT_FIRST_50`.  Read with `ast`, no Spark
and nothing imported, so a retired entry left in one of them fails
here instead of as a KeyError when that script next runs."""

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _tree(rel: str) -> ast.Module:
    path = REPO / rel
    return ast.parse(path.read_text(), str(path))


def _list(rel: str, name: str) -> list[str]:
    for node in _tree(rel).body:
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == name for t in node.targets)):
            return [ast.literal_eval(e) for e in node.value.elts]
    raise AssertionError(f"{rel} defines no {name}")


def _entry_names() -> set[str]:
    for node in _tree("__spark_entry__.py").body:
        if isinstance(node, ast.FunctionDef) and node.name == "_queries_all":
            ret = next(n for n in node.body if isinstance(n, ast.Return))
            return {ast.literal_eval(k) for k in ret.value.keys}
    raise AssertionError("__spark_entry__.py defines no _queries_all")


@pytest.mark.parametrize("rel, name", [
    ("bench.py", "BENCH_QUERIES"),
    ("scripts/dump_explain.py", "SHOW"),
    ("__spark_entry__.py", "_SNAPSHOT_FIRST_50"),
])
def test_listed_names_are_driver_entries(rel, name):
    names, entries = _list(rel, name), _entry_names()
    assert names
    assert [n for n in names if n not in entries] == []
