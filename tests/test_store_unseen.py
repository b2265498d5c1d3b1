"""``Store.unseen`` — the one "already stored?" read — and
``Store.append_new`` built on it: an absent table holds nothing (no
job), composite keys drop exactly the stored tuples, the stored side
reads only the key columns, a replayed append adds nothing, and the
``append`` fault seam still fires underneath ``append_new``. The guard
at the end keeps package code from hand-rolling the same anti-join."""

from __future__ import annotations

import ast
import pathlib

import pytest

from efiche_data_pipeline_spark.pipeline.store import Store

from .conftest import crash_once, jobs_launched

_PACKAGE = pathlib.Path(__file__).parent.parent / "efiche_data_pipeline_spark"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "source string, gh long, v string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_unseen_without_table_returns_df_and_runs_no_job(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    df = _pairs(spark, [("a", 1, "x")])
    n, out = jobs_launched(spark, lambda: store.unseen(df, "t", "gh"))
    assert out is df
    assert n == 0


def test_unseen_composite_key_drops_exactly_the_stored_pairs(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    store.append(_pairs(spark, [("a", 1, "old"), ("b", 2, "old")]), "t")
    # ("a", 2) and ("b", 1) share one column with a stored pair each
    df = _pairs(spark, [("a", 1, "n"), ("a", 2, "n"), ("b", 1, "n"), ("b", 2, "n")])
    out = store.unseen(df, "t", ["source", "gh"])
    assert _rows(out) == [("a", 2, "n"), ("b", 1, "n")]


def test_unseen_reads_only_the_key_columns(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    store.append(_pairs(spark, [("a", 1, "payload")]), "t")
    out = store.unseen(_pairs(spark, [("a", 2, "n")]), "t", ["source", "gh"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    schemas = [s.split("\n")[0] for s in plan.split("ReadSchema: ")[1:]]
    assert schemas == ["struct<source:string,gh:bigint>"], plan


def test_replayed_append_new_appends_nothing(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    df = _pairs(spark, [("a", 1, "x"), ("a", 2, "x")])
    store.append_new(df, "t", key=["source", "gh"])
    store.append_new(df, "t", key=["source", "gh"])
    assert _rows(store.read("t")) == _rows(df)


def test_append_fault_fires_through_append_new(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    store.append(_pairs(spark, [("a", 1, "x")]), "t")
    df = _pairs(spark, [("a", 1, "x"), ("a", 2, "x")])
    crash_once(store, "append", "t", "injected")
    with pytest.raises(RuntimeError, match="injected"):
        store.append_new(df, "t", key="gh")
    assert store.read("t").count() == 1
    store.append_new(df, "t", key="gh")
    assert _rows(store.read("t").select(*df.columns)) == _rows(df)


def _reads_store(node: ast.AST) -> bool:
    """Whether ``node`` is a method chain rooted at ``store.read(...)``
    (``store.read(t)``, ``store.read(t).select(k).distinct()``, ...)."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "read"
                and isinstance(f.value, ast.Name)
                and f.value.id == "store"
            ):
                return True
            node = f
        else:
            node = node.value
    return False


def _is_left_anti(call: ast.Call) -> bool:
    how = call.args[2] if len(call.args) > 2 else None
    for kw in call.keywords:
        if kw.arg == "how":
            how = kw.value
    return isinstance(how, ast.Constant) and how.value == "left_anti"


def test_no_hand_rolled_store_anti_join():
    """Package code asks "already stored?" through ``Store.unseen`` /
    ``append_new``: a ``.join(store.read(...)…, key, "left_anti")``
    outside pipeline/store.py re-implements the absent-table policy."""
    offenders = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel == "pipeline/store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and node.args
                and _reads_store(node.args[0])
                and _is_left_anti(node)
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
