"""tests/slow_tests.txt names the heavyweight tier by node id, and
conftest marks a collected test `slow` only on an exact match of its
function's node id. A line naming a test that does not exist (a
rename, a deletion) would silently mark nothing, and the renamed test
would join the default tier unnoticed — so every line must name a
top-level test function of the file it points at."""

from __future__ import annotations

import ast
import functools
import pathlib

_TESTS = pathlib.Path(__file__).resolve().parent


def _listed_ids() -> list[str]:
    lines = (_TESTS / "slow_tests.txt").read_text().splitlines()
    return [ln.strip() for ln in lines if ln.strip() and not ln.startswith("#")]


@functools.cache
def _test_functions(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }


def test_every_slow_listing_names_an_existing_test():
    stale = []
    for node_id in _listed_ids():
        rel, sep, name = node_id.partition("::")
        path = _TESTS.parent / rel
        if not (sep and path.is_file() and name in _test_functions(path)):
            stale.append(node_id)
    assert stale == [], f"slow_tests.txt lines naming no test: {stale}"

