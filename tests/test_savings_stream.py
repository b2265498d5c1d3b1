"""Streaming dedup-savings dashboard (streaming/savings_stream.py):

- the derived report equals the one-shot global q165 pass, including
  a cross-FILE duplicate credited to the earlier file's source;
- checkpoint restart consumes only new files but reports globally;
- the crash window between the keeper append and the sums commit
  replays to convergence (injected failure).
"""

from __future__ import annotations

import pytest

from efiche_data_pipeline_spark.operators.sketch import (
    dedup_savings_result,
    incremental_dedup_savings,
)
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.savings_stream import (
    run_savings_stream,
)

from .conftest import crash_once

_SCHEMA = "doc_id long, source string, text string"


def _rows(lo, hi):
    out = []
    for i in range(lo, hi):
        src = "srcA" if i % 2 == 0 else "srcB"
        # every 5th doc duplicates doc (i-5)'s text -> cross-file dups
        base = i - 5 if i % 5 == 4 and i >= 5 else i
        out.append((i, src, f"text body number {base} with words"))
    return out


def _write(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _report(df):
    return sorted(tuple(r) for r in df.collect())


def _global(spark, tmp_path, rows, tag):
    store = Store(spark, str(tmp_path / f"g{tag}"))
    docs = spark.createDataFrame(rows, _SCHEMA)
    incremental_dedup_savings(docs, store)
    return _report(dedup_savings_result(store))


def test_stream_equals_one_shot_with_cross_file_dups(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, _rows(0, 8))
    _write(spark, src, _rows(8, 16))  # doc 9 and 14 duplicate earlier texts
    store = Store(spark, str(tmp_path / "store"))
    rep = run_savings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep.n_batches >= 2 and rep.n_docs_folded == 16
    assert _report(rep.report) == _global(spark, tmp_path, _rows(0, 16), "a")
    # restart with one more file: only it folds, report stays global
    _write(spark, src, _rows(16, 20))
    rep2 = run_savings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep2.n_docs_folded == 4
    assert _report(rep2.report) == _global(spark, tmp_path, _rows(0, 20), "b")


def test_crash_between_keeper_and_sums_converges(spark, tmp_path):
    docs = spark.createDataFrame(_rows(0, 12), _SCHEMA)
    store = Store(spark, str(tmp_path / "store"))
    incremental_dedup_savings(docs.filter("doc_id < 6"), store)

    # inject a crash AFTER the keeper append, BEFORE the sums commit
    crash_once(
        store, "append_version", "savings_sums", "injected crash before the sums commit"
    )
    with pytest.raises(RuntimeError, match="injected"):
        incremental_dedup_savings(docs.filter("doc_id >= 6"), store)

    # replay: keeper re-append no-ops, sums commit — report converges
    n = incremental_dedup_savings(docs.filter("doc_id >= 6"), store)
    assert n == 6
    assert _report(dedup_savings_result(store)) == _global(
        spark, tmp_path, _rows(0, 12), "c"
    )
    # and a full replay after convergence is a no-op
    assert incremental_dedup_savings(docs, store) == 0


def test_out_of_order_files_fail_loudly(spark, tmp_path):
    """A file carrying ids below an earlier file's max violates the
    fold's monotone contract; the stream must raise before either
    commit rather than silently drop the docs from the report."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(8, 16))  # high ids first
    run_savings_stream(spark, src, _SCHEMA, store, ckpt)
    _write(spark, src, _rows(0, 8))  # low ids arrive late
    with pytest.raises(StreamingQueryException, match="monotone"):
        run_savings_stream(spark, src, _SCHEMA, store, ckpt)
    # nothing from the violating batch committed
    assert store.read("savings_ids").count() == 8
