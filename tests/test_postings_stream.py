"""Streaming inverted-index intake (streaming/postings_stream.py):

- BM25 reads after the stream equal the one-shot over everything the
  stream consumed;
- a checkpoint restart folds only new files; re-running with no new
  files is a pure no-op (the fold's own seen watermark — no stream
  commit exists to drift);
- a crash inside a batch (the fold's postings-committed/doclens-not
  window) fails the stream with the estate refusing reads, and the
  re-run converges to the one-shot;
- the takedown stream purges the retrieval estate too (r10: the
  composed forget covers all five families).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.retrieval import (
    bm25_index_query,
    bm25_topk,
    incremental_term_postings,
)
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.postings_stream import (
    run_postings_stream,
)

from .conftest import crash_once

_SCHEMA = "doc_id long, text string"
_WORDS = ("vector", "join", "stream", "hash", "table", "scan", "merge")


def _rows(lo, hi):
    return [
        (i, " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(6)))
        for i in range(lo, hi)
    ]


def _write(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _qf(spark):
    return spark.createDataFrame(
        [(0, "vector join"), (1, "hash scan")],
        "query_id long, query string",
    )


def _res(df):
    return sorted(tuple(r) for r in df.collect())


def test_postings_stream_equals_one_shot_and_restarts(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(0, 6))
    _write(spark, src, _rows(6, 12))
    rep = run_postings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep.n_batches >= 2 and rep.n_docs_folded == 12
    assert rep.n_docs_indexed == 12
    docs = spark.createDataFrame(_rows(0, 12), _SCHEMA)
    want = _res(bm25_topk(docs, _qf(spark), k=5))
    assert _res(bm25_index_query(store, _qf(spark), k=5)) == want and want
    # restart with one new file: only it folds
    _write(spark, src, _rows(12, 15))
    rep2 = run_postings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep2.n_docs_folded == 3 and rep2.n_docs_indexed == 15
    all_docs = spark.createDataFrame(_rows(0, 15), _SCHEMA)
    assert _res(bm25_index_query(store, _qf(spark), k=5)) == _res(
        bm25_topk(all_docs, _qf(spark), k=5)
    )
    # no new files: pure no-op
    rep3 = run_postings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep3.n_docs_folded == 0 and rep3.n_docs_indexed == 15
    # fresh checkpoint redelivers everything: the fold's own seen
    # watermark absorbs it all (no stream-side ledger needed)
    rep4 = run_postings_stream(
        spark, src, _SCHEMA, store, str(tmp_path / "ckpt2")
    )
    assert rep4.n_docs_folded == 0 and rep4.n_docs_indexed == 15


def test_postings_stream_crash_converges(spark, tmp_path):
    src = str(tmp_path / "src")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(0, 6))
    run_postings_stream(spark, src, _SCHEMA, store, str(tmp_path / "c1"))
    _write(spark, src, _rows(6, 12))
    crash_once(store, "append", "doc_lengths", "injected crash before doclen commit")
    with pytest.raises(Exception, match="injected crash"):
        run_postings_stream(spark, src, _SCHEMA, store, str(tmp_path / "c2"))
    # the estate is in its refusing window (orphan postings) ...
    with pytest.raises(RuntimeError, match="no committed doc_lengths"):
        bm25_index_query(store, _qf(spark), k=5).collect()
    # ... until the batch replays (fresh checkpoint redelivers all;
    # batch 1 anti-joins to nothing, batch 2 folds fully)
    rep = run_postings_stream(
        spark, src, _SCHEMA, store, str(tmp_path / "c3")
    )
    assert rep.n_docs_folded == 6 and rep.n_docs_indexed == 12
    docs = spark.createDataFrame(_rows(0, 12), _SCHEMA)
    assert _res(bm25_index_query(store, _qf(spark), k=5)) == _res(
        bm25_topk(docs, _qf(spark), k=5)
    )


def test_takedown_stream_purges_retrieval_estate(spark, tmp_path):
    """r10: the composed takedown stream covers the retrieval estate —
    a request purges the doc from postings/doclens/seen, reads equal
    the survivor one-shot, and the ledger makes the replay a no-op."""
    from efiche_data_pipeline_spark.streaming.forget_stream import (
        run_forget_stream,
    )

    store = Store(spark, str(tmp_path / "store"))
    docs = spark.createDataFrame(_rows(0, 8), _SCHEMA)
    incremental_term_postings(docs, store)
    req = str(tmp_path / "req")
    spark.createDataFrame([(3,), (5,)], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(req)
    rep = run_forget_stream(
        spark, req, store, str(tmp_path / "fckpt"), span_k=3
    )
    assert "retrieval" in rep.families
    for t in ("term_postings", "doc_lengths", "postings_seen_docs"):
        assert store.read(t).filter("_id in (3, 5)").count() == 0, t
    survivors = docs.filter(~F.col("doc_id").isin(3, 5))
    assert _res(bm25_index_query(store, _qf(spark), k=5)) == _res(
        bm25_topk(survivors, _qf(spark), k=5)
    )
    # replay of the same requests (fresh checkpoint): ledger no-op
    rep2 = run_forget_stream(
        spark, req, store, str(tmp_path / "fckpt2"), span_k=3
    )
    assert rep2.n_requests == 2
    assert _res(bm25_index_query(store, _qf(spark), k=5)) == _res(
        bm25_topk(survivors, _qf(spark), k=5)
    )


# ---------------------------------------------------------------------------
# Positional-index intake stream (run_positional_postings_stream) and
# its takedown coverage — the r11 positional estate.
# ---------------------------------------------------------------------------
from efiche_data_pipeline_spark.operators.retrieval import (  # noqa: E402
    proximity_index_query,
    proximity_topk,
)
from efiche_data_pipeline_spark.streaming.postings_stream import (  # noqa: E402
    run_positional_postings_stream,
)


def _pqf(spark):
    return spark.createDataFrame(
        [(0, "vector join stream"), (1, "hash table")],
        "query_id long, query string",
    )


def test_positional_stream_equals_one_shot_and_restarts(spark, tmp_path):
    src, ckpt = str(tmp_path / "psrc"), str(tmp_path / "pckpt")
    store = Store(spark, str(tmp_path / "pstore"))
    _write(spark, src, _rows(0, 6))
    _write(spark, src, _rows(6, 12))
    rep = run_positional_postings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep.n_batches >= 2 and rep.n_docs_folded == 12
    assert rep.n_docs_indexed == 12
    docs = spark.createDataFrame(_rows(0, 12), _SCHEMA)
    want = _res(proximity_topk(docs, _pqf(spark), k=5))
    assert _res(proximity_index_query(store, _pqf(spark), k=5)) == want
    assert want
    # restart with one new file: only it folds; no new files: no-op;
    # fresh checkpoint: the fold's seen watermark absorbs redelivery
    _write(spark, src, _rows(12, 15))
    rep2 = run_positional_postings_stream(spark, src, _SCHEMA, store, ckpt)
    assert rep2.n_docs_folded == 3 and rep2.n_docs_indexed == 15
    rep3 = run_positional_postings_stream(
        spark, src, _SCHEMA, store, str(tmp_path / "pckpt2")
    )
    assert rep3.n_docs_folded == 0 and rep3.n_docs_indexed == 15
    all_docs = spark.createDataFrame(_rows(0, 15), _SCHEMA)
    assert _res(proximity_index_query(store, _pqf(spark), k=5)) == _res(
        proximity_topk(all_docs, _pqf(spark), k=5)
    )


def test_takedown_stream_purges_positional_estate(spark, tmp_path):
    """r11: the composed takedown stream covers the positional estate."""
    from efiche_data_pipeline_spark.operators.retrieval import (
        incremental_positional_postings,
    )
    from efiche_data_pipeline_spark.streaming.forget_stream import (
        run_forget_stream,
    )

    store = Store(spark, str(tmp_path / "store"))
    docs = spark.createDataFrame(_rows(0, 8), _SCHEMA)
    incremental_positional_postings(docs, store)
    req = str(tmp_path / "req")
    spark.createDataFrame([(2,), (6,)], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(req)
    rep = run_forget_stream(
        spark, req, store, str(tmp_path / "fckpt"), span_k=3
    )
    assert "positional" in rep.families
    for t in ("positional_postings", "positional_seen_docs"):
        assert store.read(t).filter("_id in (2, 6)").count() == 0, t
    survivors = docs.filter(~F.col("doc_id").isin(2, 6))
    assert _res(proximity_index_query(store, _pqf(spark), k=5)) == _res(
        proximity_topk(survivors, _pqf(spark), k=5)
    )
    # replay (fresh checkpoint): ledger no-op, reads unchanged
    rep2 = run_forget_stream(
        spark, req, store, str(tmp_path / "fckpt2"), span_k=3
    )
    assert rep2.n_requests == 2
    assert _res(proximity_index_query(store, _pqf(spark), k=5)) == _res(
        proximity_topk(survivors, _pqf(spark), k=5)
    )
