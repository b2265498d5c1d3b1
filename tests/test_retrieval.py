"""BM25 retrieval estate (operators/retrieval.py) — the properties
beyond the q194-q196 oracle differentials:

- index two folds ≡ one-shot over the union (exact rows, fixed-point
  law shared);
- replaying a committed batch folds nothing and changes no read;
- the crash windows converge: a crash between the postings and
  doc-length commits makes queries REFUSE (orphan postings are
  corruption, not a scorable state) until the batch replays; a crash
  before the seen commit leaves tolerated multisets that every read
  collapses exactly;
- the postings point-read prunes to the query terms' tp directory
  prefixes (plan-pinned PartitionFilters — the 100 TB contract);
- forget purges the estate and every later read equals the one-shot
  over the survivors; the blind retry is a no-op.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.retrieval import (
    bm25_index_query,
    bm25_topk,
    forget_term_documents,
    incremental_term_postings,
)
from efiche_data_pipeline_spark.pipeline.store import Store

from .conftest import crash_once

_DOCS = [
    (0, "vector join stream vector vector"),
    (1, "hash table scan hash"),
    (2, "slow window merge window"),
    (3, "vector stream"),
    (4, "join join join table"),
    (5, "unrelated words entirely"),
]
_QUERIES = [(0, "vector join"), (1, "hash scan")]


def _docs(spark, rows=_DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _qf(spark):
    return spark.createDataFrame(_QUERIES, "query_id long, query string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_two_folds_equals_one_shot(spark, tmp_path):
    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bm"))
    assert (
        incremental_term_postings(docs.filter(F.col("doc_id") <= 2), store)
        == 3
    )
    assert (
        incremental_term_postings(docs.filter(F.col("doc_id") > 2), store) == 3
    )
    got = _rows(bm25_index_query(store, _qf(spark), k=4))
    want = _rows(bm25_topk(docs, _qf(spark), k=4))
    assert got == want and want
    # replay: folds nothing, read unchanged
    assert incremental_term_postings(docs, store) == 0
    assert _rows(bm25_index_query(store, _qf(spark), k=4)) == want


def test_index_read_prunes_to_term_prefixes(spark, tmp_path):
    import re

    from efiche_data_pipeline_spark.operators.retrieval import (
        _pruned_postings,
        _query_terms,
    )

    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bmplan"))
    incremental_term_postings(docs, store)
    assert store.partitioning("term_postings") == ["tp"]
    # the operator's actual read path (the helper bm25_index_query
    # checkpoints): the term prefixes reach the FileScan as a
    # PARTITION filter, and the term cut broadcasts
    terms = _query_terms(_qf(spark), "query_id", "query").select("term").distinct()
    tf = _pruned_postings(store, "term_postings", terms)
    tf.collect()
    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*tp#\d+", plan), plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # and the full query result is unchanged by the prune
    got = _rows(bm25_index_query(store, _qf(spark), k=4))
    assert got == _rows(bm25_topk(docs, _qf(spark), k=4))


def test_crash_before_doclen_refuses_then_converges(spark, tmp_path):
    """Crash between the postings and doc-length commits — the window
    where queries must REFUSE rather than silently drop the orphaned
    postings docs from scoring."""
    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bmc1"))
    incremental_term_postings(docs.filter(F.col("doc_id") <= 2), store)
    crash_once(store, "append", "doc_lengths", "injected crash before doclen commit")
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_term_postings(docs.filter(F.col("doc_id") > 2), store)
    # postings landed without lengths: scoring must refuse loudly
    with pytest.raises(RuntimeError, match="no committed doc_lengths"):
        bm25_index_query(store, _qf(spark), k=4).collect()
    assert (
        incremental_term_postings(docs.filter(F.col("doc_id") > 2), store)
        == 3
    )
    got = _rows(bm25_index_query(store, _qf(spark), k=4))
    assert got == _rows(bm25_topk(docs, _qf(spark), k=4))


def test_crash_before_seen_multiset_converges(spark, tmp_path):
    """Crash between the doc-length and seen-watermark commits — the
    replay re-appends the batch into both tables (tolerated
    multisets; reads collapse by max-per-key)."""
    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bmc2"))
    incremental_term_postings(docs.filter(F.col("doc_id") <= 2), store)
    crash_once(
        store, "append_new", "postings_seen_docs", "injected crash before seen commit"
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_term_postings(docs.filter(F.col("doc_id") > 2), store)
    assert (
        incremental_term_postings(docs.filter(F.col("doc_id") > 2), store)
        == 3
    )
    # the crash window left the batch twice in postings + doclens
    dup = store.read("doc_lengths").filter("_id = 4").count()
    assert dup == 2  # duplicated, not lost
    got = _rows(bm25_index_query(store, _qf(spark), k=4))
    assert got == _rows(bm25_topk(docs, _qf(spark), k=4))
    assert incremental_term_postings(docs, store) == 0


def test_forget_equals_survivor_one_shot(spark, tmp_path):
    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bmf"))
    incremental_term_postings(docs, store)
    gone = spark.createDataFrame([(0,), (4,)], "doc_id long")
    forget_term_documents(store, gone)
    for t in ("term_postings", "doc_lengths", "postings_seen_docs"):
        assert store.read(t).filter("_id in (0, 4)").count() == 0, t
    survivors = docs.filter(~F.col("doc_id").isin(0, 4))
    got = _rows(bm25_index_query(store, _qf(spark), k=4))
    assert got == _rows(bm25_topk(survivors, _qf(spark), k=4)) and got
    # blind retry: pure deletes, nothing changes
    forget_term_documents(store, gone)
    assert _rows(bm25_index_query(store, _qf(spark), k=4)) == got
    # forgotten docs may RE-ENTER later (seen purged too)
    assert incremental_term_postings(docs, store) == 2
    assert _rows(bm25_index_query(store, _qf(spark), k=4)) == _rows(
        bm25_topk(docs, _qf(spark), k=4)
    )


def test_rrf_fuse_semantics(spark):
    """RRF: items in both lists outrank single-list items at equal
    ranks, single-list items still score, exact fixed-point ties
    break by item id, and c shifts weights without reordering
    equal-structure lists."""
    from efiche_data_pipeline_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, item_id long, rank long",
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id long, item_id long, rank long",
    )
    got = {
        r["item_id"]: (r["rank"], r["rrf_score"])
        for r in rrf_fuse([a, b], k=10).collect()
    }
    # 11 appears rank2+rank1 -> top; 10 (1 list, rank 1) next;
    # 13 (rank 2) beats 12 (rank 3)
    assert [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][0])] == [
        11, 10, 13, 12,
    ]
    fp = lambda r: round(1e9 / (60.0 + r))
    assert got[11][1] == round((fp(2) + fp(1)) / 1e9, 6)
    assert got[10][1] == round(fp(1) / 1e9, 6)
    # exact tie (same rank, single list each) -> item id order
    c = spark.createDataFrame(
        [(1, 21, 1)], "query_id long, item_id long, rank long"
    )
    d = spark.createDataFrame(
        [(1, 20, 1)], "query_id long, item_id long, rank long"
    )
    tied = rrf_fuse([c, d], k=2).collect()
    assert [(r["item_id"], r["rank"]) for r in sorted(tied, key=lambda r: r["rank"])] == [
        (20, 1), (21, 2),
    ]


def test_postings_compaction_preserves_reads(spark, tmp_path):
    """Store.compact on the tp-bucketed postings table preserves the
    layout, the sidecar, and every estate read (BM25 result and the
    replay watermark: a re-fold is still a no-op)."""
    docs = _docs(spark)
    store = Store(spark, str(tmp_path / "bmcmp"))
    incremental_term_postings(docs.filter(F.col("doc_id") <= 2), store)
    incremental_term_postings(docs.filter(F.col("doc_id") > 2), store)
    want = _rows(bm25_index_query(store, _qf(spark), k=4))
    store.compact("term_postings", 4)
    assert store.partitioning("term_postings") == ["tp"]
    assert store.read_layout_meta("term_postings") is not None
    assert _rows(bm25_index_query(store, _qf(spark), k=4)) == want
    assert incremental_term_postings(docs, store) == 0


def test_empty_corpus_returns_empty_not_crash(spark, tmp_path):
    """ADVICE r10: an empty corpus (or a fully-forgotten index) is a
    scorable state whose exact answer is zero rows — not a
    TypeError/ZeroDivisionError on NULL stats."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty, _qf(spark))
    assert out.columns == ["query_id", "doc_id", "rank", "score"]
    assert out.count() == 0
    store = Store(spark, str(tmp_path / "bmempty"))
    incremental_term_postings(_docs(spark), store)
    forget_term_documents(
        store, spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    )
    out2 = bm25_index_query(store, _qf(spark))
    assert out2.columns == ["query_id", "doc_id", "rank", "score"]
    assert out2.count() == 0


def test_duplicate_batch_ids_fail_fast(spark, tmp_path):
    """ADVICE r10: two rows for one id in a fold batch would sum tf
    across the duplicates while the doc-length reader collapses to one
    row — refuse the ambiguous batch instead of silently breaking the
    index-query ≡ one-shot invariant."""
    dup = spark.createDataFrame(
        [(1, "a b"), (1, "a c"), (2, "ok")], "doc_id long, text string"
    )
    store = Store(spark, str(tmp_path / "bmdup"))
    with pytest.raises(ValueError, match="duplicate"):
        incremental_term_postings(dup, store)
    # nothing half-committed: a clean batch folds from scratch
    clean = spark.createDataFrame([(1, "a b"), (2, "ok")], "doc_id long, text string")
    assert incremental_term_postings(clean, store) == 2


def test_oracle_quotes_and_whitespace_queries(spark):
    """ADVICE r10 pair: a query text containing a single quote must
    not break the rendered oracle, and leading/trailing whitespace in
    query or document text (which makes both tokenizers emit '')
    must score identically on both sides."""
    import duckdb
    import pandas as pd

    from efiche_data_pipeline_spark.operators.retrieval import oracle_bm25_sql

    from .conftest import assert_frames_match

    doc_rows = [
        (0, "it's a vector join"),
        (1, "vector join stream join"),
        (2, " padded vector text "),
    ]
    q_rows = [(0, "it's vector"), (1, " join ")]
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    qf = spark.createDataFrame(q_rows, "query_id long, query string")
    spark_pdf = bm25_topk(docs, qf).toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(doc_rows, columns=["doc_id", "text"]))
    oracle_pdf = con.execute(oracle_bm25_sql(q_rows)).fetchdf()
    con.close()
    assert len(spark_pdf) > 0
    assert_frames_match(spark_pdf, oracle_pdf, "bm25_quote_ws")


# ---------------------------------------------------------------------------
# Proximity (sloppy-phrase) retrieval estate — operators/retrieval.py:
# proximity_topk / incremental_positional_postings /
# proximity_index_query / forget_positional_documents.
# ---------------------------------------------------------------------------
from efiche_data_pipeline_spark.operators.retrieval import (  # noqa: E402
    forget_positional_documents,
    incremental_positional_postings,
    proximity_index_query,
    proximity_topk,
)

_PDOCS = [(0, "a b c a b"), (1, "b a"), (2, "a x x b")]
_PQUERIES = [(0, "a b"), (1, "a b c"), (2, "lone")]


def _pdocs(spark):
    return spark.createDataFrame(_PDOCS, "doc_id long, text string")


def _pqf(spark):
    return spark.createDataFrame(_PQUERIES, "query_id long, query string")


def test_proximity_semantics_hand_checked(spark):
    """slop=3, ordered pairs: doc0 'a b c a b' scores (a,b) twice and
    (b,c) once; doc1 'b a' has no ordered (a,b); doc2 'a x x b' has
    one (a,b) at exactly the slop bound; a single-term query has no
    pairs and returns nothing."""
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["pair_hits"])
        for r in proximity_topk(_pdocs(spark), _pqf(spark), slop=3).collect()
    }
    assert got == {
        (0, 0): (1, 2),
        (0, 2): (2, 1),
        (1, 0): (1, 3),
        (1, 2): (2, 1),
    }
    # slop=1: strict adjacency only — doc2's gap-3 pair disappears
    strict = {
        (r["query_id"], r["doc_id"]): r["pair_hits"]
        for r in proximity_topk(_pdocs(spark), _pqf(spark), slop=1).collect()
    }
    assert strict == {(0, 0): 2, (1, 0): 3}


def test_positional_index_equals_one_shot(spark, tmp_path):
    docs = _pdocs(spark)
    store = Store(spark, str(tmp_path / "pos"))
    assert (
        incremental_positional_postings(
            docs.filter(F.col("doc_id") <= 0), store
        )
        == 1
    )
    assert (
        incremental_positional_postings(
            docs.filter(F.col("doc_id") > 0), store
        )
        == 2
    )
    want = _rows(proximity_topk(docs, _pqf(spark), k=4))
    assert _rows(proximity_index_query(store, _pqf(spark), k=4)) == want
    assert want
    # replay: folds nothing, read unchanged
    assert incremental_positional_postings(docs, store) == 0
    assert _rows(proximity_index_query(store, _pqf(spark), k=4)) == want


def test_positional_read_prunes_to_term_prefixes(spark, tmp_path):
    import re

    from efiche_data_pipeline_spark.operators.retrieval import (
        _pruned_positions,
    )

    docs = _pdocs(spark)
    store = Store(spark, str(tmp_path / "posplan"))
    incremental_positional_postings(docs, store)
    assert store.partitioning("positional_postings") == ["tp"]
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    hits = _pruned_positions(store, "positional_postings", vocab)
    hits.collect()
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*tp#\d+", plan), plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_positional_crash_before_seen_converges(spark, tmp_path):
    """Crash between the positional-postings and seen commits — the
    replay re-appends the batch (tolerated multiset; reads collapse
    by DISTINCT)."""
    docs = _pdocs(spark)
    store = Store(spark, str(tmp_path / "poscrash"))
    incremental_positional_postings(docs.filter(F.col("doc_id") <= 0), store)
    crash_once(
        store,
        "append_new",
        "positional_seen_docs",
        "injected crash before positional seen commit",
    )
    with pytest.raises(RuntimeError, match="injected"):
        incremental_positional_postings(
            docs.filter(F.col("doc_id") > 0), store
        )
    # replay converges; the crash-window duplicates never mis-score
    assert (
        incremental_positional_postings(docs.filter(F.col("doc_id") > 0), store)
        == 2
    )
    dup = (
        store.read("positional_postings")
        .groupBy("term", "_id", "pos")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup > 0  # duplicated, not lost
    assert _rows(proximity_index_query(store, _pqf(spark), k=4)) == _rows(
        proximity_topk(docs, _pqf(spark), k=4)
    )
    assert incremental_positional_postings(docs, store) == 0


def test_positional_forget_equals_survivor_one_shot(spark, tmp_path):
    docs = _pdocs(spark)
    store = Store(spark, str(tmp_path / "posforget"))
    incremental_positional_postings(docs, store)
    gone = spark.createDataFrame([(0,)], "doc_id long")
    forget_positional_documents(store, gone)
    for t in ("positional_postings", "positional_seen_docs"):
        assert store.read(t).filter("_id = 0").count() == 0, t
    survivors = docs.filter(F.col("doc_id") != 0)
    got = _rows(proximity_index_query(store, _pqf(spark), k=4))
    assert got == _rows(proximity_topk(survivors, _pqf(spark), k=4)) and got
    # blind retry: nothing changes
    forget_positional_documents(store, gone)
    assert _rows(proximity_index_query(store, _pqf(spark), k=4)) == got
    # forgotten docs may re-enter (seen purged too)
    assert incremental_positional_postings(docs, store) == 1
    assert _rows(proximity_index_query(store, _pqf(spark), k=4)) == _rows(
        proximity_topk(docs, _pqf(spark), k=4)
    )


def test_positional_duplicate_batch_ids_fail_fast(spark, tmp_path):
    dup = spark.createDataFrame(
        [(1, "a b"), (1, "a c")], "doc_id long, text string"
    )
    store = Store(spark, str(tmp_path / "posdup"))
    with pytest.raises(ValueError, match="duplicate"):
        incremental_positional_postings(dup, store)


def test_proximity_oracle_differential(spark):
    """In-test DuckDB replay of oracle_proximity_sql on a corpus with
    repeated terms, slop-bound gaps, and whitespace padding."""
    import duckdb
    import pandas as pd

    from efiche_data_pipeline_spark.operators.retrieval import (
        oracle_proximity_sql,
    )

    from .conftest import assert_frames_match

    doc_rows = [(i, t) for i, t in _PDOCS] + [(3, " a b  padded ")]
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    spark_pdf = proximity_topk(docs, _pqf(spark), slop=2, k=10).toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(doc_rows, columns=["doc_id", "text"]))
    qvals = ", ".join(f"({i}, '{q}')" for i, q in _PQUERIES)
    oracle_pdf = con.execute(
        oracle_proximity_sql(
            f"SELECT query_id, query FROM (VALUES {qvals}) AS t(query_id, query)",
            slop=2,
            k=10,
        )
    ).fetchdf()
    con.close()
    assert len(spark_pdf) > 0
    assert_frames_match(spark_pdf, oracle_pdf, "proximity_differential")


def test_proximity_rejects_nonpositive_slop(spark, tmp_path):
    """ADVICE r12: slop=0 would NULL-poison the block key (floor(x/0))
    and silently return empty; both entry points fail fast instead."""
    import pytest as _pytest

    from efiche_data_pipeline_spark.operators.retrieval import (
        proximity_index_query,
        proximity_topk,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    for bad in (0, -2):
        with _pytest.raises(ValueError, match="slop must be >= 1"):
            proximity_topk(_pdocs(spark), _pqf(spark), slop=bad)
        with _pytest.raises(ValueError, match="slop must be >= 1"):
            proximity_index_query(
                Store(spark, str(tmp_path / "s")), _pqf(spark), slop=bad
            )
