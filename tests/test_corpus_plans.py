"""Physical-plan assertions for the round-4 corpus operators: the
scale posture documented in docs/PLAN_AUDIT.md, pinned as tests so a
regression (an accidental shuffle, a lost broadcast, a lost pushdown)
fails loudly instead of silently degrading at 100×.

Plans are inspected POST-execution (AQE finalizes exchange reuse and
join strategies only at runtime).

The tests at the end cover ``_on_scratch_store``, the one wrapper that
runs an incremental query against a throwaway Store, and guard that no
other code under plans/ makes its own store directory.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from efiche_data_pipeline_spark.plans import corpus
from efiche_data_pipeline_spark.plans.corpus import (
    _on_scratch_store,
    q84_weighted_order_sample,
    q86_zorder_orders,
    q88_char_entropy,
    q92_bloom_semi_join,
    q94_embedding_quantization,
)

from .conftest import SF_DIR


def _executed(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q84_weighted_sample_has_no_exchange(spark):
    """Weighted Bernoulli sampling must stay a pure map-side
    scan→project→filter — the whole point vs ORDER BY random()."""
    plan = _executed(q84_weighted_order_sample(spark, SF_DIR))
    assert "Exchange" not in plan
    # `*(n)` is toString's whole-stage-codegen marker; the filter must
    # also reach the scan as a data filter (row-group stats can't help
    # an md5 predicate, but IsNotNull pushes).
    assert "*(1)" in plan
    assert "PushedFilters: [IsNotNull(o_orderkey)]" in plan


def test_q94_quantization_has_no_exchange(spark):
    plan = _executed(q94_embedding_quantization(spark, SF_DIR))
    assert "Exchange" not in plan


def test_q86_zorder_scan_prunes_columns(spark):
    """The Morton-key aggregate must read only the two key columns."""
    plan = _executed(q86_zorder_orders(spark, SF_DIR))
    assert "o_custkey" in plan and "o_orderdate" in plan
    assert "o_totalprice" not in plan  # pruned
    assert "o_orderpriority" not in plan  # pruned


def test_q92_bloom_probe_is_broadcast_and_semi(spark):
    """The 1-row bitmap must broadcast (never shuffle the probe side
    for it) and the verify join must be a semi join."""
    plan = _executed(q92_bloom_semi_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_q88_entropy_single_stage_after_repartition(spark):
    """Entropy is map-side: the only exchange is the explicit
    small-fixture repartition (a no-op on real multi-split scans)."""
    plan = _executed(q88_char_entropy(spark, SF_DIR))
    assert plan.count("Exchange") <= 2  # repartition (+AQE read)
    assert "Window" not in plan


def _toy_query(fail: bool):
    roots = []

    @_on_scratch_store
    def q_toy(spark, sf_dir, store):
        roots.append(store.root)
        store.overwrite(spark.range(3).withColumnRenamed("id", "k"), "t")
        if fail:
            raise ValueError("boom")
        return store.read("t")

    return q_toy, roots


def test_scratch_store_pins_the_result_before_removing_it(spark):
    """The result collects after the directory is gone: it was pinned
    before the delete, because it reads store parquet lazily."""
    q_toy, roots = _toy_query(fail=False)
    out = q_toy(spark, SF_DIR)
    assert q_toy.__name__ == "q_toy"
    assert os.path.basename(roots[0]).startswith("efiche_q_toy_")
    assert not os.path.exists(roots[0])
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2]


def test_scratch_store_is_removed_when_the_body_raises(spark):
    q_toy, roots = _toy_query(fail=True)
    with pytest.raises(ValueError, match="boom"):
        q_toy(spark, SF_DIR)
    assert roots and not os.path.exists(roots[0])


# (module, top-level function) allowed to make a store directory:
# the per-query wrapper, and the warehouse cache shared by a session
_STORE_DIR_OWNERS = {
    ("corpus.py", "_on_scratch_store"),
    ("pipeline_queries.py", "warehouse_store"),
}


def _makes_store_dir(node: ast.AST) -> bool:
    """A call to ``mkdtemp`` or ``Store(...)``, however it is named."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name in ("mkdtemp", "Store")


def _cleans_up_by_hand(node: ast.AST) -> bool:
    """``shutil`` in any form, or an ``except BaseException`` handler:
    the pieces of a hand-written temp-store skeleton."""
    if isinstance(node, ast.Name):
        return node.id == "shutil"
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return "shutil" in {a.name for a in node.names} or getattr(
            node, "module", None
        ) == "shutil"
    return (
        isinstance(node, ast.ExceptHandler)
        and isinstance(node.type, ast.Name)
        and node.type.id == "BaseException"
    )


def test_only_the_scratch_wrapper_makes_a_store_directory():
    """Queries under plans/ get a throwaway Store from
    ``_on_scratch_store``; a query that calls ``mkdtemp`` or builds a
    ``Store`` itself, or cleans one up by hand in corpus.py, copies
    the skeleton the wrapper replaced."""
    offenders = []
    for path in sorted(pathlib.Path(corpus.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", None)
            if (path.name, owner) in _STORE_DIR_OWNERS:
                continue
            for node in ast.walk(top):
                if _makes_store_dir(node) or (
                    path.name == "corpus.py" and _cleans_up_by_hand(node)
                ):
                    offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders
