"""The one stream driver (streaming/driver.py): one file per
micro-batch, every row folded exactly once, reruns fold only new
files, a failing fold surfaces as ``StreamingQueryException`` and is
redelivered with the same ``batch_id``. Every ``run_*`` fold driver
drains an empty source without raising, and no module but the driver
reads or drives a file stream itself."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.expectations import Rule
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming import (
    chunk_stream,
    dedup_stream,
    drift,
    embedding_stream,
    expectations_stream,
    forget_stream,
    gate_stream,
    incremental,
    intake,
    late,
    leakage_stream,
    lm_stream,
    mixture_stream,
    ngram_stream,
    postings_stream,
    quantile_stream,
    savings_stream,
    vocab_stream,
)
from efiche_data_pipeline_spark.streaming.driver import (
    file_stream,
    run_fold_stream,
)

_IDS = "id long"
_PKG = pathlib.Path(__file__).resolve().parents[1] / "efiche_data_pipeline_spark"
_DRIVER = _PKG / "streaming" / "driver.py"


def _write(spark, src, ids):
    spark.createDataFrame([(i,) for i in ids], _IDS).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def test_one_batch_per_file_and_each_row_folded_once(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for lo in (0, 10, 20):
        _write(spark, src, range(lo, lo + 10))
    folded = []

    def fold(batch, batch_id):
        folded.append((batch_id, [r["id"] for r in batch.collect()]))

    n, q = run_fold_stream(file_stream(spark, src, _IDS), ckpt, fold)
    assert n == len(folded) == 3
    assert [len(ids) for _, ids in folded] == [10, 10, 10]
    assert sorted(i for _, ids in folded for i in ids) == list(range(30))
    assert not q.isActive

    # same checkpoint, no new files: no batch, the fold is never called
    calls = []
    n2, _ = run_fold_stream(
        file_stream(spark, src, _IDS), ckpt, lambda b, i: calls.append(i)
    )
    assert n2 == 0 and calls == []

    # a new file is the only thing the next run folds
    _write(spark, src, [30, 31])
    more = []
    n3, _ = run_fold_stream(
        file_stream(spark, src, _IDS),
        ckpt,
        lambda b, i: more.extend(r["id"] for r in b.collect()),
    )
    assert n3 == 1 and sorted(more) == [30, 31]


def test_fold_error_surfaces_and_the_batch_is_redelivered(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, range(5))
    failed = []

    def boom(batch, batch_id):
        failed.append(batch_id)
        raise ValueError("fold exploded on purpose")

    with pytest.raises(StreamingQueryException, match="fold exploded on purpose"):
        run_fold_stream(file_stream(spark, src, _IDS), ckpt, boom)
    assert spark.streams.active == []

    replayed = []
    n, _ = run_fold_stream(
        file_stream(spark, src, _IDS),
        ckpt,
        lambda b, i: replayed.append((i, b.count())),
    )
    assert n == 1
    assert replayed == [(failed[0], 5)]


def test_update_mode_over_an_aggregate(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, range(6))  # k=0: 0,2,4  k=1: 1,3,5
    _write(spark, src, [6, 8])  # only k=0 changes
    agg = (
        file_stream(spark, src, _IDS)
        .groupBy((F.col("id") % 2).alias("k"))
        .count()
    )
    emitted = []
    n, _ = run_fold_stream(
        agg,
        ckpt,
        lambda b, i: emitted.append(sorted(tuple(r) for r in b.collect())),
        output_mode="update",
    )
    assert n == 2
    assert emitted == [[(0, 3), (1, 3)], [(0, 5)]]


# ---------------------------------------------------------------------------
# Every run_* fold driver on an empty source directory.
# ---------------------------------------------------------------------------
_DOCS = "doc_id long, text string, lang string, source string, n_chars long"
_VECS = embedding_stream.VECS_STREAM_SCHEMA


def _ref_docs(spark):
    return spark.createDataFrame([(0, "one two three", "en", "web", 13)], _DOCS)


def _centroids(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "cell_id int, embedding array<double>"
    )


_EMPTY_SOURCE_RUNS = {
    "run_chunk_stream": lambda sp, src, st, ck: chunk_stream.run_chunk_stream(
        sp, src, _DOCS, st, ck
    ),
    "run_incremental_dedup_stream": lambda sp, src, st, ck: (
        dedup_stream.run_incremental_dedup_stream(sp, src, st, ck)
    ),
    "run_drift_monitor": lambda sp, src, st, ck: drift.run_drift_monitor(
        sp, src, _ref_docs(sp), st, ck
    ),
    "run_embedding_drift_monitor": lambda sp, src, st, ck: (
        drift.run_embedding_drift_monitor(
            sp, src, _centroids(sp),
            sp.createDataFrame([(0, [1.0, 0.0])], _VECS), st, ck,
        )
    ),
    "run_incremental_embedding_stream": lambda sp, src, st, ck: (
        embedding_stream.run_incremental_embedding_stream(sp, src, st, ck)
    ),
    "run_expectations_gate_stream": lambda sp, src, st, ck: (
        expectations_stream.run_expectations_gate_stream(
            sp, src, _IDS, st, ck, [Rule("id_not_null", "not_null", "id")],
            ("id_not_null",), "id",
        )
    ),
    "run_forget_stream": lambda sp, src, st, ck: forget_stream.run_forget_stream(
        sp, src, st, ck
    ),
    "run_gate_stream": lambda sp, src, st, ck: gate_stream.run_gate_stream(
        sp, src, _DOCS, st, ck
    ),
    "run_incremental_stream": lambda sp, src, st, ck: (
        incremental.run_incremental_stream(sp, src, st, ck)
    ),
    "run_intake_stream": lambda sp, src, st, ck: intake.run_intake_stream(
        sp, src, st, ck
    ),
    "run_with_late_accounting": lambda sp, src, st, ck: (
        late.run_with_late_accounting(sp, src, st, ck)
    ),
    "run_leakage_stream": lambda sp, src, st, ck: (
        leakage_stream.run_leakage_stream(sp, src, _DOCS, st, ck)
    ),
    "run_lm_stream": lambda sp, src, st, ck: lm_stream.run_lm_stream(
        sp, src, _DOCS, st, ck
    ),
    "run_mixture_stream": lambda sp, src, st, ck: (
        mixture_stream.run_mixture_stream(sp, src, _DOCS, st, ck, 100)
    ),
    "run_ngram_stream": lambda sp, src, st, ck: ngram_stream.run_ngram_stream(
        sp, src, _DOCS, st, ck
    ),
    "run_postings_stream": lambda sp, src, st, ck: (
        postings_stream.run_postings_stream(sp, src, _DOCS, st, ck)
    ),
    "run_positional_postings_stream": lambda sp, src, st, ck: (
        postings_stream.run_positional_postings_stream(sp, src, _DOCS, st, ck)
    ),
    "run_quantile_stream": lambda sp, src, st, ck: (
        quantile_stream.run_quantile_stream(
            sp, src, "event_id long, event_type string, value double", st, ck,
            ["event_type"], "event_id", "value",
        )
    ),
    "run_savings_stream": lambda sp, src, st, ck: (
        savings_stream.run_savings_stream(sp, src, _DOCS, st, ck)
    ),
    "run_vocab_stream": lambda sp, src, st, ck: vocab_stream.run_vocab_stream(
        sp, src, _DOCS, st, ck
    ),
}


# report fields that read state only a fold creates
_NONE_BEFORE_FIRST_FOLD = {"run_intake_stream": "card", "run_quantile_stream": "estimates"}


def _fold_drivers() -> set[str]:
    """Every top-level ``run_*`` function in streaming/, except the
    driver itself and the session stream (a parquet file sink, not a
    fold: it reports nothing)."""
    names = set()
    for path in (_PKG / "streaming").glob("*.py"):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("run_"):
                names.add(node.name)
    return names - {"run_fold_stream", "run_session_stream"}


def test_every_fold_driver_has_an_empty_source_case():
    assert set(_EMPTY_SOURCE_RUNS) == _fold_drivers()


@pytest.mark.parametrize("name", sorted(_EMPTY_SOURCE_RUNS))
def test_empty_source_runs_no_batch(spark, tmp_path, name):
    src = tmp_path / "src"
    src.mkdir()
    report = _EMPTY_SOURCE_RUNS[name](
        spark, str(src), Store(spark, str(tmp_path / "store")),
        str(tmp_path / "ckpt"),
    )
    n_batches = report if isinstance(report, int) else report.n_batches
    assert n_batches == 0
    if name in _NONE_BEFORE_FIRST_FOLD:
        assert getattr(report, _NONE_BEFORE_FIRST_FOLD[name]) is None


# ---------------------------------------------------------------------------
# Guard: the driver is the only place that reads or drives a file stream.
# ---------------------------------------------------------------------------
def test_only_the_driver_reads_and_drives_file_streams():
    """``.foreachBatch(`` and ``maxFilesPerTrigger`` live in
    streaming/driver.py alone, and no signature takes a trigger size:
    the batch size is fixed at one file, in one place."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG.parent)
        text = path.read_text()
        if path != _DRIVER:
            for lineno, line in enumerate(text.splitlines(), 1):
                for needle in (".foreachBatch(", "maxFilesPerTrigger"):
                    if needle in line:
                        offenders.append(f"{rel}:{lineno} {needle}")
        for node in ast.walk(ast.parse(text, str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg == "max_files_per_trigger":
                        offenders.append(f"{rel}:{node.lineno} max_files_per_trigger")
    assert not offenders, offenders
