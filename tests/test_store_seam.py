"""The Store's one fault-injection seam (``Store._fault``): every public
write and delete method fires it with its own name before any I/O,
``conftest.crash_once`` arms it for one ``(op, table)`` and disarms it
after one fire, and no test injects faults by subclassing Store."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.pipeline.store import Store
from perfbench.tracer import STORE_DELETES, STORE_WRITES

from .conftest import crash_once

_SETUP = {
    "plain": lambda s, df: s.append(df, "t"),
    "partitioned": lambda s, df: s.overwrite(df, "t", partition_by=["g"]),
    "snapshot": lambda s, df: [s.write_version(df, "t") for _ in range(2)],
    "layered": lambda s, df: [s.append_version(df, "t") for _ in range(2)],
}

# op -> (the layout "t" starts in, one call of op on "t")
_OPS = {
    "overwrite": ("plain", lambda s, df: s.overwrite(df, "t")),
    "overwrite_partitions": (
        "partitioned", lambda s, df: s.overwrite_partitions(df, "t", ["g"])
    ),
    "append": ("plain", lambda s, df: s.append(df, "t")),
    "append_new": ("plain", lambda s, df: s.append_new(df, "t", "id")),
    "merge_upsert": ("plain", lambda s, df: s.merge_upsert(df, "t", ["id"])),
    "overwrite_sorted": (
        "plain", lambda s, df: s.overwrite_sorted(df, "t", ["id"], 1)
    ),
    "compact": ("plain", lambda s, df: s.compact("t", 1)),
    "append_evolved": ("plain", lambda s, df: s.append_evolved(df, "t")),
    "delete_keys": ("plain", lambda s, df: s.delete_keys("t", df, "id")),
    "delete_where": ("plain", lambda s, df: s.delete_where("t", F.col("id") == 1)),
    "write_version": ("snapshot", lambda s, df: s.write_version(df, "t")),
    "rollback": ("snapshot", lambda s, df: s.rollback("t", 1)),
    "vacuum_versions": ("snapshot", lambda s, df: s.vacuum_versions("t", 1)),
    "append_version": ("layered", lambda s, df: s.append_version(df, "t")),
    "compact_layers": ("layered", lambda s, df: s.compact_layers("t", 1)),
    "rewrite_layers": ("layered", lambda s, df: s.rewrite_layers(df, "t")),
}


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") % 2).alias("g"))


def _listing(root):
    return sorted(
        (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
        for d, _dirs, files in os.walk(root)
        for p in (os.path.join(d, f) for f in files)
        for st in [os.stat(p)]
    )


def test_seam_ops_are_the_traced_store_writes_and_deletes():
    assert sorted(_OPS) == sorted(STORE_WRITES + STORE_DELETES)


@pytest.mark.parametrize("op", sorted(_OPS))
def test_fault_seam_fires_once_before_any_io(spark, tmp_path, op):
    kind, call = _OPS[op]
    store = Store(spark, str(tmp_path / "s"))
    _SETUP[kind](store, _frame(spark, 0, 4))
    # armed for another table: the op on "t" runs through
    crash_once(store, op, "other", "injected")
    call(store, _frame(spark, 2, 6))
    before = _listing(store.path("t"))
    crash_once(store, op, "t", "injected")
    with pytest.raises(RuntimeError, match="injected"):
        call(store, _frame(spark, 2, 6))
    assert _listing(store.path("t")) == before
    # fired once, then disarmed: the same call now completes
    call(store, _frame(spark, 2, 6))


def test_no_test_subclasses_store():
    """Crash tests arm ``Store._fault`` instead of overriding Store
    methods: an override re-types a method signature, and a signature
    change then breaks the double instead of failing a contract."""
    offenders = []
    for path in sorted(pathlib.Path(__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        aliases = {"Store"} | {
            a.asname
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.name == "Store" and a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef) and any(
                (isinstance(b, ast.Name) and b.id in aliases)
                or (isinstance(b, ast.Attribute) and b.attr == "Store")
                for b in node.bases
            ):
                offenders.append(f"{path.name}:{node.lineno} {node.name}")
    assert not offenders, offenders
