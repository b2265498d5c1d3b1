"""Streaming expectations gate (streaming/expectations_stream.py):

- routing correctness: accepted/quarantined sets match the predicate
  classification of the union, independent of batch composition;
  quarantine tags list every broken hard rule in fixed order;
- restart folds only new files; a fresh checkpoint redelivers
  everything and the watermark guard skips it all;
- crash between the quarantine and audit commits: the replay
  converges, the audit reader collapses the multiset;
- out-of-order and straddling batches raise before any commit;
- dataset-level (unique) hard rules and unknown hard ids are refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.expectations import Rule
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.expectations_stream import (
    expectations_gate_fold,
    read_expectations_audit,
    run_expectations_gate_stream,
)

from .conftest import crash_once

_SCHEMA = "id long, price double, status string"


def _rows(lo, hi):
    # deterministic planted defects: price breaks range when id%5==0
    # (negative), status breaks the set when id%7==0
    return [
        (
            i,
            -1.0 if i % 5 == 0 else float(10 + i),
            "X" if i % 7 == 0 else "F",
        )
        for i in range(lo, hi)
    ]


def _write(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)


_RULES = [
    Rule("id_not_null", "not_null", "id"),
    Rule("id_unique", "unique", "id"),  # audit-only
    Rule("price_pos", "range", "price", lo=0.0, hi=1e9),
    Rule("status_ok", "in_set", "status", values=("F", "O")),
]
_HARD = ("price_pos", "status_ok")


def _expected_tags(rows):
    out = {}
    for i, price, status in rows:
        broken = []
        if not (0.0 <= price <= 1e9):
            broken.append("price_pos")
        if status not in ("F", "O"):
            broken.append("status_ok")
        if broken:
            out[i] = ",".join(sorted(broken))
    return out


def test_gate_stream_routes_and_restarts(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(0, 20))
    _write(spark, src, _rows(20, 40))
    rep = run_expectations_gate_stream(
        spark, src, _SCHEMA, store, ckpt, _RULES, _HARD, "id"
    )
    want = _expected_tags(_rows(0, 40))
    assert rep.n_batches >= 1
    assert rep.n_quarantined == len(want)
    assert rep.n_accepted == 40 - len(want)
    got = {
        r["id"]: r["broken_rules"]
        for r in store.read("expectations_quarantine").collect()
    }
    assert got == want
    # id 0: both rules broken -> fixed-order composite tag
    assert got[0] == "price_pos,status_ok"
    # audit: per-batch rows for every rule incl. the audit-only unique
    audit = read_expectations_audit(store).collect()
    per_batch = {}
    for r in audit:
        per_batch.setdefault(r["batch_max_id"], set()).add(r["rule_id"])
    assert all(
        s == {"id_not_null", "id_unique", "price_pos", "status_ok"}
        for s in per_batch.values()
    )
    # restart with one new file: only it folds
    _write(spark, src, _rows(40, 50))
    rep2 = run_expectations_gate_stream(
        spark, src, _SCHEMA, store, ckpt, _RULES, _HARD, "id"
    )
    assert rep2.n_batches == 1
    assert rep2.n_accepted + rep2.n_quarantined == 50
    # fresh checkpoint redelivers everything: watermark guard skips
    rep3 = run_expectations_gate_stream(
        spark, src, _SCHEMA, store, str(tmp_path / "ckpt2"), _RULES, _HARD,
        "id",
    )
    assert rep3.n_batches == 0
    assert rep3.n_accepted + rep3.n_quarantined == 50
    assert {
        r["id"]: r["broken_rules"]
        for r in store.read("expectations_quarantine").collect()
    } == _expected_tags(_rows(0, 50))


def test_gate_fold_crash_converges(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    b1 = spark.createDataFrame(_rows(0, 10), _SCHEMA)
    b2 = spark.createDataFrame(_rows(10, 20), _SCHEMA)
    assert expectations_gate_fold(b1, store, _RULES, _HARD, "id") == 10
    crash_once(
        store, "append", "expectations_audit", "injected crash before audit commit"
    )
    with pytest.raises(RuntimeError, match="injected"):
        expectations_gate_fold(b2, store, _RULES, _HARD, "id")
    # replay: row sinks idempotent, audit multiset collapses, then
    # the watermark commits
    assert expectations_gate_fold(b2, store, _RULES, _HARD, "id") == 10
    assert store.count("expectations_accepted") + store.count(
        "expectations_quarantine"
    ) == 20
    audit = read_expectations_audit(store)
    assert audit.count() == 2 * len(_RULES)
    # committed replay is a no-op
    assert expectations_gate_fold(b2, store, _RULES, _HARD, "id") == 0


def test_gate_fold_order_guards(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    b2 = spark.createDataFrame(_rows(10, 20), _SCHEMA)
    assert expectations_gate_fold(b2, store, _RULES, _HARD, "id") == 10
    older = spark.createDataFrame(_rows(0, 5), _SCHEMA)
    with pytest.raises(ValueError, match="OUT OF ORDER"):
        expectations_gate_fold(older, store, _RULES, _HARD, "id")
    straddle = spark.createDataFrame(_rows(15, 30), _SCHEMA)
    with pytest.raises(ValueError, match="straddles"):
        expectations_gate_fold(straddle, store, _RULES, _HARD, "id")
    # neither guard committed anything
    assert store.count("expectations_accepted") + store.count(
        "expectations_quarantine"
    ) == 10


def test_gate_refuses_bad_hard_rules(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    b = spark.createDataFrame(_rows(0, 5), _SCHEMA)
    with pytest.raises(ValueError, match="not in the sheet"):
        expectations_gate_fold(b, store, _RULES, ("nope",), "id")
    with pytest.raises(ValueError, match="row-decidable"):
        expectations_gate_fold(b, store, _RULES, ("id_unique",), "id")


def test_gate_fold_refuses_null_and_duplicate_ids(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    dup = spark.createDataFrame(
        [(1, 1.0, "F"), (1, 2.0, "F")], _SCHEMA
    )
    with pytest.raises(ValueError, match="duplicate id rows"):
        expectations_gate_fold(dup, store, _RULES, _HARD, "id")
    withnull = spark.createDataFrame(
        [(None, 1.0, "F"), (2, 2.0, "F")], _SCHEMA
    )
    with pytest.raises(ValueError, match="NULL id rows"):
        expectations_gate_fold(withnull, store, _RULES, _HARD, "id")
    # neither guard committed anything
    assert not store.exists("expectations_accepted")
    assert not store.exists("expectations_watermark")


def test_forget_expectation_rows(spark, tmp_path):
    """r11 estate forget: purged ids vanish from BOTH row sinks, the
    survivors' sheets are untouched, the blind retry is a no-op, and
    the audit/watermark deliberately stay (aggregate counts + replay
    spans, no row data)."""
    from efiche_data_pipeline_spark.streaming.expectations_stream import (
        forget_expectation_rows,
    )

    store = Store(spark, str(tmp_path / "store"))
    b = spark.createDataFrame(_rows(0, 20), _SCHEMA)
    expectations_gate_fold(b, store, _RULES, _HARD, "id")
    gone = spark.createDataFrame([(0,), (3,), (5,)], "id long")
    before_audit = read_expectations_audit(store).count()
    forget_expectation_rows(store, gone, "id")
    for t in ("expectations_accepted", "expectations_quarantine"):
        assert store.read(t).filter("id in (0, 3, 5)").count() == 0, t
    # survivors intact: 20 rows minus the 3 purged
    assert store.count("expectations_accepted") + store.count(
        "expectations_quarantine"
    ) == 17
    # audit + watermark untouched (documented scope)
    assert read_expectations_audit(store).count() == before_audit
    assert store.count("expectations_watermark") == 1
    # blind retry: nothing changes
    forget_expectation_rows(store, gone, "id")
    assert store.count("expectations_accepted") + store.count(
        "expectations_quarantine"
    ) == 17
    # a forgotten id cannot re-enter: its span is behind the watermark
    with pytest.raises(ValueError, match="OUT OF ORDER|straddles"):
        expectations_gate_fold(
            spark.createDataFrame(_rows(0, 6), _SCHEMA),
            store, _RULES, _HARD, "id",
        )


def test_gate_fold_refuses_non_integer_id(spark, tmp_path):
    """ADVICE r12: the monotone-id replay contract is integer spans —
    a string id column must be refused up front with the contract
    named, not fail mid-fold with a bare TypeError."""
    store = Store(spark, str(tmp_path / "store"))
    strid = spark.createDataFrame(
        [("a", 1.0, "F")], "id string, price double, status string"
    )
    with pytest.raises(ValueError, match="integer column"):
        expectations_gate_fold(strid, store, _RULES, _HARD, "id")
    assert not store.exists("expectations_watermark")


def test_forget_expectation_rows_reports_per_table(spark, tmp_path):
    """ADVICE r12: the forget records delete_keys' own report per
    table (plain sinks report None → 0) instead of never touching the
    stored value; absent tables stay absent from the dict."""
    from efiche_data_pipeline_spark.streaming.expectations_stream import (
        forget_expectation_rows,
    )

    store = Store(spark, str(tmp_path / "store"))
    b = spark.createDataFrame(_rows(0, 10), _SCHEMA)
    expectations_gate_fold(b, store, _RULES, _HARD, "id")
    out = forget_expectation_rows(
        store, spark.createDataFrame([(5,)], "id long"), "id"
    )
    assert set(out) == {"expectations_accepted", "expectations_quarantine"}
    assert all(isinstance(v, int) for v in out.values())


def test_empty_source_stream_returns_schema_stable_audit(spark, tmp_path):
    """ADVICE r12: a source directory that yields no batches must
    still return a DataFrame-typed (empty, schema-stable) audit."""
    src = str(tmp_path / "src")
    (tmp_path / "src").mkdir()
    store = Store(spark, str(tmp_path / "store"))
    report = run_expectations_gate_stream(
        spark,
        src,
        _SCHEMA,
        store,
        str(tmp_path / "ckpt"),
        _RULES,
        _HARD,
        "id",
    )
    assert report.n_batches == 0
    assert report.audit.count() == 0
    assert "batch_max_id" in report.audit.columns
    assert "rule_id" in report.audit.columns
