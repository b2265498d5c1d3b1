"""Streaming right-to-be-forgotten (streaming/forget_stream.py):

- two request files streamed ≡ the same ids forgotten directly via
  the composed family forgets (span reports, vocab, gate calibration,
  kept sink all converge to the survivor state);
- a restart with no new files is a pure no-op;
- a request batch that would empty the gate's reference slice raises
  with ZERO estate mutated (the family zero-commit discipline);
- a crash between the family forgets and the ledger commit replays
  to convergence (every family forget is blind-retry safe).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.bpe import (
    forget_vocab_documents,
    incremental_vocab,
    vocab_from_store,
)
from efiche_data_pipeline_spark.operators.dedup import (
    forget_documents,
    forget_span_documents,
    incremental_duplicated_spans,
)
from efiche_data_pipeline_spark.operators.lm import (
    calibrate_quality_gate,
    forget_gate_documents,
    gate_pool_batch,
)
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.forget_stream import (
    run_forget_stream,
)

from .conftest import crash_once

# ids ending in 0 are the gate's trusted reference slice; pool ids
# 1 and 21 copy reference texts so the gate KEEPS them (the
# test_quality_gate _POOL trick — a tiny reference leaves no room for
# similar-but-distinct passers) and the span family sees duplicates
_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "five red green blue six seven eight"),
    (10, "the lazy dog sleeps while the quick fox runs"),
    (11, "zxqv wvut plomb krzn zxqv fnord wvut plomb"),
    (20, "a brown dog and a quick fox play in the sun"),
    (21, "a brown dog and a quick fox play in the sun"),
    (30, "the quick dog runs in the sun while the fox sleeps"),
]
_SCHEMA = "doc_id long, text string"


def _docs(spark, rows=_DOCS):
    return spark.createDataFrame(rows, _SCHEMA)


def _seed_estates(spark, root):
    """One store carrying all four estates over _DOCS."""
    store = Store(spark, root)
    docs = _docs(spark)
    # span estate (k=3 so the tiny texts produce grams)
    incremental_duplicated_spans(docs, store, k=3, min_docs=2)
    # dedup estate: the kept sink is enough for forget_documents
    store.append_new(docs.select("doc_id"), "dedup_kept_docs", "doc_id")
    # tokenizer estate
    store.append_new(docs, "bpe_docs", "doc_id")
    incremental_vocab(docs, store)
    # gate estate (refs = ids % 10 == 0)
    calibrate_quality_gate(store, docs.filter("doc_id % 10 = 0"))
    gate_pool_batch(docs.filter("doc_id % 10 != 0"), store)
    return store


def _state(store):
    spans = sorted(
        tuple(r)
        for r in store.read("span_reports").collect()
    )
    vocab = sorted(
        tuple(r) for r in vocab_from_store(store).collect()
    )
    kept = sorted(
        r["doc_id"] for r in store.read("dedup_kept_docs").collect()
    )
    scores = sorted(
        r["doc_id"] for r in store.read("gate_scores").collect()
    )
    calib = store.read_version("gate_calibration").first()
    return spans, vocab, kept, scores, (calib["n_ref"], calib["threshold"])


def _write_requests(spark, src, ids):
    spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(src)


def test_forget_stream_equals_direct_composition(spark, tmp_path):
    streamed = _seed_estates(spark, str(tmp_path / "streamed"))
    direct = _seed_estates(spark, str(tmp_path / "direct"))

    src, ckpt = str(tmp_path / "req"), str(tmp_path / "ckpt")
    _write_requests(spark, src, [1])
    _write_requests(spark, src, [10, 21])
    rep = run_forget_stream(spark, src, streamed, ckpt, span_k=3)
    assert rep.n_requests == 3
    assert set(rep.families) == {"dedup", "span", "gate", "vocab"}

    for ids in ([1], [10, 21]):
        frame = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        forget_documents(direct, frame)
        forget_span_documents(direct, frame, k=3, min_docs=2)
        forget_gate_documents(direct, ids)
        forget_vocab_documents(direct, ids)
    assert _state(streamed) == _state(direct)
    # purged everywhere
    for t, col in (
        ("span_positions", "_id"),
        ("dedup_kept_docs", "doc_id"),
        ("bpe_docs", "doc_id"),
        ("gate_scores", "doc_id"),
    ):
        assert (
            streamed.read(t).filter(F.col(col).isin([1, 10, 21])).count()
            == 0
        )

    # restart with no new files: pure no-op
    before = _state(streamed)
    rep2 = run_forget_stream(spark, src, streamed, ckpt, span_k=3)
    assert rep2.n_batches == 0 and rep2.n_requests == 3
    assert _state(streamed) == before


def test_forget_stream_refuses_emptying_gate_slice(spark, tmp_path):
    store = _seed_estates(spark, str(tmp_path / "poison"))
    src, ckpt = str(tmp_path / "req"), str(tmp_path / "ckpt")
    # all four reference ids in one request file: must raise with
    # ZERO estate mutated (not even the dedup/span deletes)
    _write_requests(spark, src, [0, 10, 20, 30])
    from pyspark.errors.exceptions.captured import StreamingQueryException

    before = _state(store)
    with pytest.raises(StreamingQueryException, match="reference slice"):
        run_forget_stream(spark, src, store, ckpt, span_k=3)
    assert _state(store) == before
    assert not store.exists("forget_requests")


def test_forget_stream_crash_before_ledger_converges(spark, tmp_path):
    """All family forgets applied, ledger not committed → the restart
    replays the batch against already-forgotten ids (each family
    re-runs to deletes-only/no-op) and completes the ledger."""
    import shutil

    root = str(tmp_path / "crash")
    _seed_estates(spark, root)
    store = Store(spark, root)
    src, ckpt = str(tmp_path / "req"), str(tmp_path / "ckpt")
    _write_requests(spark, src, [1, 10])
    crash_once(
        store, "append_new", "forget_requests", "injected crash before ledger commit"
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_forget_stream(spark, src, store, ckpt, span_k=3)
    # estates forgotten, ledger missing → replay converges
    assert not store.exists("forget_requests")
    rep = run_forget_stream(spark, src, store, ckpt, span_k=3)
    assert rep.n_requests == 2
    twin = _seed_estates(spark, str(tmp_path / "twin"))
    frame = spark.createDataFrame([(1,), (10,)], "doc_id long")
    forget_documents(twin, frame)
    forget_span_documents(twin, frame, k=3, min_docs=2)
    forget_gate_documents(twin, [1, 10])
    forget_vocab_documents(twin, [1, 10])
    assert _state(store) == _state(twin)


def test_audit_forgotten_proves_the_purge(spark, tmp_path):
    """The compliance sweep: before the forget, id-bearing columns
    across the estates name the ids; after the streamed forget, every
    live count is zero EXCEPT the count-table marker ledgers
    (batch_max_id rows — the documented retry-ledger exception, cnt/
    freq=0 rows with no document content)."""
    from efiche_data_pipeline_spark.pipeline.compliance import (
        audit_forgotten,
    )

    store = _seed_estates(spark, str(tmp_path / "audit"))
    ids = [1, 10]
    before = {
        (r["table"], r["column"]): r["n_live_rows"]
        for r in audit_forgotten(store, ids).collect()
    }
    assert sum(before.values()) > 0  # positive control
    assert before[("span_positions", "_id")] > 0
    assert before[("dedup_kept_docs", "doc_id")] == 2

    src, ckpt = str(tmp_path / "req"), str(tmp_path / "ckpt")
    _write_requests(spark, src, ids)
    run_forget_stream(spark, src, store, ckpt, span_k=3)

    after = audit_forgotten(store, ids).collect()
    leaks = {
        (r["table"], r["column"]): r["n_live_rows"]
        for r in after
        if r["n_live_rows"] > 0
    }
    # the only live matches are the retry-ledger marker rows (the
    # forget ledger itself names the ids by design, as do the cnt=0
    # marker rows inside the count tables)
    allowed = {
        ("forget_requests", "doc_id"),
        ("bpe_vocab", "batch_max_id"),
        ("gate_lm", "batch_max_id"),
    }
    assert set(leaks) <= allowed, leaks
    # and the versioned estates report their retained-version counts,
    # so a pending physical purge is visible on the sheet
    assert all(r["n_versions"] >= 1 for r in after)


@pytest.mark.parametrize("doc", [1, 3], ids=["first_layer", "last_layer"])
def test_audit_counts_readable_versions_after_vacuum(spark, tmp_path, doc):
    """``n_versions`` counts the versions a reader can still open. A
    vacuumed three-layer table keeps the layers its current manifest
    unions over, but their own older manifests go, so it reports 1
    and its current view is unchanged; before the vacuum it reports
    every version."""
    from efiche_data_pipeline_spark.pipeline.compliance import (
        audit_forgotten,
    )

    store = Store(spark, str(tmp_path / "s"))
    for i in (1, 2, 3):
        store.append_version(
            spark.createDataFrame([(i, f"t{i}")], "doc_id long, text string"), "t"
        )
    store.delete_keys(
        "t", spark.createDataFrame([(doc,)], "doc_id long"), "doc_id"
    )

    def n_versions():
        (row,) = audit_forgotten(store, [doc]).collect()
        assert row["n_live_rows"] == 0
        return row["n_versions"]

    assert n_versions() > 1
    live = sorted(map(tuple, store.read_union("t").collect()))
    store.vacuum_versions("t", keep_last=1)
    assert n_versions() == 1
    assert store.readable_versions("t") == [store.current_version("t")]
    assert sorted(map(tuple, store.read_union("t").collect())) == live
