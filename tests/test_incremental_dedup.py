"""Incremental MinHash dedup against a persisted signature index
(operators/dedup.py:incremental_minhash_dedup) — the properties the
operator advertises, beyond the q103 oracle differential:

- two-batch incremental ≡ one global LSH dedup of the union (the
  dominated rule is order-free under monotone ids);
- a new doc near-duplicating a HISTORICAL doc is dropped without the
  historical corpus text ever being rescanned (only its index);
- replaying a committed batch keeps nothing, writes nothing, and
  leaves the index version unchanged;
- the index version grows monotonically and indexes every id seen,
  including documents too short to shingle (which must be remembered
  or a replay would re-emit them).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_lsh_pairs,
)
from efiche_data_pipeline_spark.pipeline.store import Store

from .conftest import crash_once

_TAU = 0.5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the late afternoon sun"
)
_OTHER = (
    "completely unrelated content about distributed query engines "
    "shuffling partitioned columnar data across many executor nodes"
)
_THIRD = (
    "yet another entirely different document discussing gardening "
    "tips for tomatoes basil peppers and other summer vegetables"
)


def _corpus(spark):
    """ids 0..5: 0≈1 (within batch 1), 2 unique, 3≈0 (cross-batch),
    4 unique, 5≈4 (within batch 2). Split at id <= 2."""
    return _docs(
        spark,
        [
            (0, _BASE),
            (1, _BASE + " extra"),
            (2, _OTHER),
            (3, _BASE + " tail"),
            (4, _THIRD),
            (5, _THIRD + " appended"),
        ],
    )


def _global_kept_ids(docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4, min_est_sim=_TAU
    )
    dropped = {r["doc_b"] for r in pairs.collect()}
    return {r["doc_id"] for r in docs.collect()} - dropped


def test_two_batch_equals_global_dedup(spark, tmp_path):
    docs = _corpus(spark)
    store = Store(spark, str(tmp_path / "idx"))
    r1 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") <= 2), store, threshold=_TAU
    )
    r2 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") > 2), store, threshold=_TAU
    )
    kept = {r["doc_id"] for r in r1.kept.collect()} | {
        r["doc_id"] for r in r2.kept.collect()
    }
    assert kept == _global_kept_ids(docs)
    # sanity on the planted shape: 1 within-batch dup in each batch,
    # one cross-history dup in batch 2
    assert r1.n_dup_within == 1 and r1.n_dup_vs_history == 0
    assert r2.n_dup_vs_history == 1  # doc 3 vs indexed doc 0
    assert r2.n_dup_within == 1  # doc 5 vs doc 4


def test_two_batch_equals_global_on_fixture(spark, tmp_path):
    from .conftest import SMOKE_SF_DIR
    from efiche_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    split = (int(lo) + int(hi)) // 2
    store = Store(spark, str(tmp_path / "idx"))
    r1 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") <= split), store, threshold=_TAU
    )
    r2 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") > split), store, threshold=_TAU
    )
    kept = {r["doc_id"] for r in r1.kept.collect()} | {
        r["doc_id"] for r in r2.kept.collect()
    }
    assert kept == _global_kept_ids(docs)


def test_replay_is_noop(spark, tmp_path):
    docs = _corpus(spark)
    store = Store(spark, str(tmp_path / "idx"))
    b2 = docs.filter(F.col("doc_id") > 2)
    incremental_minhash_dedup(docs.filter(F.col("doc_id") <= 2), store)
    r2 = incremental_minhash_dedup(b2, store)
    v_before = store.current_version("minhash_sig_index")
    replay = incremental_minhash_dedup(b2, store)
    assert replay.n_new == 0
    assert replay.kept.count() == 0
    assert replay.index_version == v_before == r2.index_version
    assert store.current_version("minhash_sig_index") == v_before


def test_version_monotone_and_index_complete(spark, tmp_path):
    docs = _corpus(spark)
    store = Store(spark, str(tmp_path / "idx"))
    r1 = incremental_minhash_dedup(docs.filter(F.col("doc_id") <= 2), store)
    r2 = incremental_minhash_dedup(docs.filter(F.col("doc_id") > 2), store)
    assert r2.index_version > r1.index_version
    idx = store.read_union("minhash_sig_index")
    # every id ever seen is indexed — kept AND dropped (domination is
    # by any smaller doc, not only surviving ones)
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == set(range(6))


def test_shingleless_doc_kept_once_and_remembered(spark, tmp_path):
    store = Store(spark, str(tmp_path / "idx"))
    b1 = _docs(spark, [(0, _BASE), (1, "too short")])
    r1 = incremental_minhash_dedup(b1, store)
    assert {r["doc_id"] for r in r1.kept.collect()} == {0, 1}
    replay = incremental_minhash_dedup(b1, store)
    assert replay.n_new == 0 and replay.kept.count() == 0
    # and the NULL-signature row can never pollute candidate pairs
    b2 = _docs(spark, [(2, "also short")])
    r2 = incremental_minhash_dedup(b2, store)
    assert {r["doc_id"] for r in r2.kept.collect()} == {2}
    assert r2.n_dup_vs_history == 0


def test_dropped_doc_still_dominates_future_batches(spark, tmp_path):
    """Doc 1 is dropped as a dup of doc 0; doc 10 (batch 2) is similar
    to BOTH. The dominated rule drops 10 regardless of 1's fate —
    which requires the index to retain DROPPED docs' signatures."""
    store = Store(spark, str(tmp_path / "idx"))
    incremental_minhash_dedup(_docs(spark, [(0, _BASE), (1, _BASE + " x")]), store)
    r2 = incremental_minhash_dedup(_docs(spark, [(10, _BASE + " y")]), store)
    assert r2.kept.count() == 0
    assert r2.n_dup_vs_history == 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa",
]


@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=25).map(
            " ".join
        ),
        min_size=2,
        max_size=8,
    ),
    split_frac=st.integers(min_value=1, max_value=9),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_batch_equals_global_any_corpus(spark, tmp_path_factory, texts, split_frac):
    """Hypothesis differential for the dominated-rule equivalence: for
    ANY small corpus (including heavy duplicate collisions from the
    10-word vocabulary) and ANY id split point, incremental two-batch
    dedup must keep exactly the global LSH dedup's survivors."""
    docs = _docs(spark, list(enumerate(texts)))
    split = (len(texts) - 1) * split_frac // 10
    store = Store(
        spark, str(tmp_path_factory.mktemp("hyp_idx"))
    )
    r1 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") <= split), store, threshold=_TAU
    )
    r2 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") > split), store, threshold=_TAU
    )
    kept = {r["doc_id"] for r in r1.kept.collect()} | {
        r["doc_id"] for r in r2.kept.collect()
    }
    assert kept == _global_kept_ids(docs)


def test_empty_batch_is_clean_noop(spark, tmp_path):
    store = Store(spark, str(tmp_path / "idx"))
    empty = spark.createDataFrame([], "doc_id long, text string")
    r = incremental_minhash_dedup(empty, store)
    assert r.n_new == 0 and r.index_version == 0 and r.kept.count() == 0
    # and an empty batch AFTER real history leaves the version alone
    incremental_minhash_dedup(_docs(spark, [(0, _BASE)]), store)
    v = store.current_version("minhash_sig_index")
    r2 = incremental_minhash_dedup(empty, store)
    assert r2.n_new == 0 and r2.index_version == v


def test_incremental_dedup_partition_independent(spark, tmp_path):
    """The kept set must not depend on physical layout of the batch
    (collect_list buckets are array_sorted; joins are equi-joins) —
    run the same two-batch sequence with the batches re-partitioned
    1 / 7 / 32 ways and compare kept sets."""
    docs = _corpus(spark)

    def run(nparts):
        store = Store(spark, str(tmp_path / f"idx{nparts}"))
        b1 = docs.filter(F.col("doc_id") <= 2).repartition(nparts)
        b2 = docs.filter(F.col("doc_id") > 2).repartition(nparts)
        r1 = incremental_minhash_dedup(b1, store, threshold=_TAU)
        r2 = incremental_minhash_dedup(b2, store, threshold=_TAU)
        return {r["doc_id"] for r in r1.kept.collect()} | {
            r["doc_id"] for r in r2.kept.collect()
        }

    base = run(1)
    assert run(7) == base
    assert run(32) == base


def _py_components(pairs):
    """Reference closure: min-reachable label per node."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {}
    for start in adj:
        if start in labels:
            continue
        seen, stack = {start}, [start]
        while stack:
            n = stack.pop()
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        root = min(seen)
        for n in seen:
            labels[n] = root
    return labels


def test_incremental_components_equal_global_and_merge(spark, tmp_path):
    """Chained near-dups split across batches: the maintained labels
    must equal the global closure over ALL LSH pairs, including a
    cross-batch MERGE (two batch-1 components united by a batch-2
    bridge doc)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_neardup_components,
    )

    texts = {i: _BASE + " " + " ".join(f"pad{j}" for j in range(i)) for i in range(7)}
    docs = _docs(spark, sorted(texts.items()))
    global_pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=16, bands=4, min_est_sim=_TAU
        ).collect()
    ]
    expected = _py_components(global_pairs)
    assert expected, "fixture must produce pairs"

    store = Store(spark, str(tmp_path / "idx"))
    b1 = docs.filter(F.col("doc_id") % 2 == 0)  # note: ids NOT monotone
    # monotone split instead: low half then high half
    b1 = docs.filter(F.col("doc_id") <= 3)
    b2 = docs.filter(F.col("doc_id") > 3)
    r1 = incremental_neardup_components(b1, store, threshold=_TAU)
    r2 = incremental_neardup_components(b2, store, threshold=_TAU)
    got = {
        r["doc_id"]: r["component_id"] for r in r2.labels.collect()
    }
    assert got == expected
    assert r2.labels_version > r1.labels_version

    # replay: labels version and content unchanged
    r3 = incremental_neardup_components(b2, store, threshold=_TAU)
    assert r3.labels_version == r2.labels_version
    assert {
        r["doc_id"]: r["component_id"] for r in r3.labels.collect()
    } == expected


def test_components_crash_before_index_commit_converges(spark, tmp_path):
    """Crash between the label fold and the index commit (append_version
    on the signature index) — the window where labels are already
    folded and the index is not yet committed — then replay: because
    the index commit is LAST (the replay trigger), the retried batch
    re-derives the same pairs, re-folds them (idempotent), and
    commits — final labels equal the global closure, same as a crash-
    free run. Under the old index-first order this crash permanently
    lost the batch's edges from the label table."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_neardup_components,
    )

    texts = {i: _BASE + " " + " ".join(f"pad{j}" for j in range(i)) for i in range(7)}
    docs = _docs(spark, sorted(texts.items()))
    expected = _py_components(
        [
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", n_hashes=16, bands=4, min_est_sim=_TAU
            ).collect()
        ]
    )
    store = Store(spark, str(tmp_path / "crash"))
    b1 = docs.filter(F.col("doc_id") <= 3)
    b2 = docs.filter(F.col("doc_id") > 3)
    incremental_neardup_components(b1, store, threshold=_TAU)
    crash_once(
        store,
        "append_version",
        "minhash_sig_index",
        "injected crash before index commit",
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_neardup_components(b2, store, threshold=_TAU)
    # batch-2 ids are NOT indexed (commit never happened) → the replay
    # is a full re-run, not a no-op
    idx_ids = {
        r["doc_id"]
        for r in store.read_union("minhash_sig_index").select("doc_id").collect()
    }
    assert idx_ids == {0, 1, 2, 3}
    r = incremental_neardup_components(b2, store, threshold=_TAU)
    assert {
        row["doc_id"]: row["component_id"] for row in r.labels.collect()
    } == expected
    # and a further replay is now a clean no-op
    r2 = incremental_neardup_components(b2, store, threshold=_TAU)
    assert r2.labels_version == r.labels_version
    assert r2.dedup.n_new == 0


def test_fold_component_labels_merges_existing_components(spark, tmp_path):
    """The deterministic MERGE case at the label level: two separate
    components from batch 1 are united by one batch-2 edge, and every
    member — including ones the new edge never touched — relabels to
    the common minimum."""
    from efiche_data_pipeline_spark.operators.dedup import fold_component_labels

    store = Store(spark, str(tmp_path / "lbl"))
    pairs = lambda *ps: spark.createDataFrame(
        list(ps), "doc_a long, doc_b long"
    )
    fold_component_labels(store, pairs((0, 1), (4, 5), (8, 9)))
    l1 = {
        r["doc_id"]: r["component_id"]
        for r in store.read_version("neardup_labels").collect()
    }
    assert l1 == {0: 0, 1: 0, 4: 4, 5: 4, 8: 8, 9: 8}
    # batch 2: one edge bridging components {0,1} and {4,5}
    fold_component_labels(store, pairs((1, 4)))
    l2 = {
        r["doc_id"]: r["component_id"]
        for r in store.read_version("neardup_labels").collect()
    }
    assert l2 == {0: 0, 1: 0, 4: 0, 5: 0, 8: 8, 9: 8}


# ---------------------------------------------------------------------------
# Incremental first-introducer novelty (q119).
# ---------------------------------------------------------------------------
def _py_first_introducer(rows, n=3):
    """Reference: per-doc (n_shingles, n_introduced) under the global
    min-doc-id-per-shingle rule."""
    first = {}
    doc_sh = {}
    for doc_id, text in sorted(rows):
        t = text.split()
        sh = {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
        doc_sh[doc_id] = sh
        for g in sh:
            first.setdefault(g, doc_id)
    return {
        d: (len(sh), sum(1 for g in sh if first[g] == d))
        for d, sh in doc_sh.items()
    }


def test_incremental_novelty_equals_global_and_replays(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.dedup import incremental_novelty

    rows = [
        (0, _BASE),
        (1, _BASE + " brand new ending material here"),  # mostly re-tread
        (2, _OTHER),
        (3, _BASE),  # pure copy: introduces nothing
        (4, _THIRD),
        (5, _OTHER + " with a novel twist at the end"),
    ]
    docs = _docs(spark, rows)
    expected = _py_first_introducer(rows)
    store = Store(spark, str(tmp_path / "nov"))
    got = {}
    for lo, hi in ((0, 1), (2, 3), (4, 5)):
        r = incremental_novelty(docs.filter(F.col("doc_id").between(lo, hi)), store)
        got.update(
            {
                row["doc_id"]: (row["n_shingles"], row["n_introduced"])
                for row in r.scores.collect()
            }
        )
    assert got == expected
    # planted semantics: first doc fully novel, pure copy fully stale
    assert got[0][0] == got[0][1] > 0
    assert got[3][1] == 0
    # replay: no new docs scored, index version unchanged
    v = store.current_version("shingle_introducer")
    replay = incremental_novelty(
        docs.filter(F.col("doc_id").between(4, 5)), store
    )
    assert replay.n_new == 0 and replay.scores.count() == 0
    assert store.current_version("shingle_introducer") == v
    # the persisted score sink holds exactly one row per doc
    assert store.read("novelty_scores").count() == 6


def test_incremental_novelty_batching_and_partition_invariant(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.dedup import incremental_novelty

    rows = [(i, f"{_BASE} pad{i % 4} tail{i % 3}") for i in range(12)]
    docs = _docs(spark, rows)
    expected = _py_first_introducer(rows)

    def run(splits, nparts):
        store = Store(spark, str(tmp_path / f"n{len(splits)}x{nparts}"))
        got = {}
        for lo, hi in splits:
            r = incremental_novelty(
                docs.filter(F.col("doc_id").between(lo, hi)).repartition(nparts),
                store,
            )
            got.update(
                {
                    row["doc_id"]: (row["n_shingles"], row["n_introduced"])
                    for row in r.scores.collect()
                }
            )
        return got

    assert run([(0, 11)], 1) == expected
    assert run([(0, 3), (4, 7), (8, 11)], 8) == expected
    assert run([(0, 5), (6, 11)], 32) == expected


def test_novelty_crash_between_index_and_sink_converges(spark, tmp_path):
    """Crash AFTER the introducer-index delta commit but BEFORE the
    scores sink, then replay: the sink is the replay watermark, so the
    retried batch re-derives everything (the index re-fold is an empty
    delta — nothing strictly improves a committed min) and commits the
    scores; final state equals a crash-free run, and later docs
    re-using the crashed batch's shingles are NOT falsely credited.
    With the OLD sink-first order, a crash between the two q119
    appends lost the batch's index delta forever (replay saw the docs
    already scored and returned with n_new==0 before the index commit
    ever ran)."""
    import pytest

    from efiche_data_pipeline_spark.operators.dedup import incremental_novelty

    rows = [
        (0, _BASE),
        (1, _OTHER),
        (2, _BASE + " tail only this doc has"),  # mostly re-treads doc 0
        (3, _OTHER),  # pure copy of doc 1: introduces nothing
    ]
    docs = _docs(spark, rows)
    expected = _py_first_introducer(rows)
    store = Store(spark, str(tmp_path / "novcrash"))
    incremental_novelty(docs.filter(F.col("doc_id") <= 1), store)
    crash_once(
        store, "append_new", "novelty_scores", "injected crash before scores sink"
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_novelty(docs.filter(F.col("doc_id") >= 2), store)
    # the index delta IS committed (index-first order) but the scores
    # sink is not — so the batch replays rather than being skipped
    assert store.read("novelty_scores").count() == 2
    r = incremental_novelty(docs.filter(F.col("doc_id") >= 2), store)
    assert r.n_new == 2
    got = {
        row["doc_id"]: (row["n_shingles"], row["n_introduced"])
        for row in store.read("novelty_scores").collect()
    }
    assert got == expected
    # doc 3 (copy of committed doc 1) credited with nothing: the
    # crashed-then-replayed index never lost doc 1's minima
    assert got[3][1] == 0
    # further replay is a clean no-op
    r2 = incremental_novelty(docs.filter(F.col("doc_id") >= 2), store)
    assert r2.n_new == 0


def test_novelty_shingleless_first_batch_commits_no_index(spark, tmp_path):
    """A first fold whose docs are all shorter than ``shingle_n`` has no
    index delta. It must commit no index layer — an empty one holds no
    parquet file, so every later fold's index read failed to infer a
    schema — while the scores sink still watermarks the batch."""
    from efiche_data_pipeline_spark.operators.dedup import incremental_novelty

    short = [(0, "too short"), (1, "also short")]
    text = " ".join(f"w{t:02d}" for t in range(20))
    rows = short + [(2, text), (3, text)]
    store = Store(spark, str(tmp_path / "novshort"))
    assert incremental_novelty(_docs(spark, short), store).n_new == 2
    assert store.current_version("shingle_introducer") is None
    assert incremental_novelty(_docs(spark, short), store).n_new == 0
    # the next folds start the index, then read it back
    assert incremental_novelty(_docs(spark, rows[2:3]), store).n_new == 1
    assert incremental_novelty(_docs(spark, rows[3:]), store).n_new == 1
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_introduced"])
        for r in store.read("novelty_scores").collect()
    }
    assert got == _py_first_introducer(rows)
    assert got[3] == (18, 0)  # the copy introduces nothing


def test_novelty_history_exchange_is_o_batch_measured(spark, tmp_path, monkeypatch):
    """The min-merge groupBy over HISTORY must shuffle O(batch), not
    O(index): the operator semi-joins the index down to the batch's own
    hashes before grouping. Measured, not argued — spy every
    groupBy("gh") call, pick the frames that read the persisted index,
    and count the rows they actually feed the exchange: across folds
    with identical batch shapes the fed rows stay flat (bounded by the
    batch's distinct-shingle count) while the index itself grows ~4x.
    Also pins the plan shape: the history fold contains a LeftSemi
    join below the aggregate."""
    import pyspark.sql.classic.dataframe as _dfmod

    from efiche_data_pipeline_spark.operators.dedup import incremental_novelty

    store = Store(spark, str(tmp_path / "novflat"))
    orig = _dfmod.DataFrame.groupBy
    captured: list = []

    def spy(self, *cols, **kw):
        if list(cols) == ["gh"]:
            captured.append(self)
        return orig(self, *cols, **kw)

    hist_fed_rows: list[int] = []
    index_rows: list[int] = []
    batch_sh: list[int] = []
    plans: list[str] = []
    for fold in range(4):
        # every doc is wholly distinct -> the index grows by a full
        # batch of shingles per fold, identical batch shapes
        docs = _docs(
            spark,
            [
                (fold * 6 + j,
                 " ".join(f"w{fold:02d}{j:02d}{t:02d}" for t in range(30)))
                for j in range(6)
            ],
        )
        captured.clear()
        monkeypatch.setattr(_dfmod.DataFrame, "groupBy", spy)
        incremental_novelty(docs, store)
        monkeypatch.undo()
        # the history fold is the one grouped frame that is the
        # semi-joined index read: its plan ROOT is the LeftSemi join
        # itself — the batch aggregate's root is the LogicalRDD
        # projection and the introducer frame's root is the Union
        # OVER the fold (the per-layer union inside the bucketed
        # read_union sits BELOW the join, so root-matching still
        # isolates the fold frame)
        _plan = lambda df: df._jdf.queryExecution().analyzed().toString()
        hist = [
            df
            for df in captured
            if "Join LeftSemi" in _plan(df)
            and not _plan(df).lstrip().startswith("Union")
        ]
        if fold == 0:
            assert not hist  # no history yet
        else:
            assert len(hist) == 1, len(hist)
            hist_fed_rows.append(hist[0].count())
            plans.append(
                hist[0]._jdf.queryExecution().optimizedPlan().toString()
            )
        index_rows.append(store.read_union("shingle_introducer").count())
        batch_sh.append(28 * 6)  # 30 tokens -> 28 tri-shingles per doc
    # the index grew ~4x ...
    assert index_rows[-1] >= 3 * index_rows[0], index_rows
    # ... while the history rows fed to the min-merge exchange stayed
    # bounded by the batch's own distinct shingles, every fold (here:
    # zero overlap, so the semi-join admits nothing; <= batch bound is
    # the structural guarantee)
    assert all(n <= batch_sh[0] for n in hist_fed_rows), hist_fed_rows
    assert max(hist_fed_rows) <= min(batch_sh), (hist_fed_rows, batch_sh)
    # plan shape: the history fold is scan -> LeftSemi -> aggregate
    assert all("LeftSemi" in p for p in plans), plans


def test_forget_documents_purges_whole_family(spark, tmp_path):
    """One forget_documents call removes the ids from the kept sink,
    the signature index, the novelty scores, the component labels AND
    the introducer credits — and after its built-in vacuum the ids
    appear in NO surviving parquet file anywhere under the store (the
    physical-purge walk, across plain, layered, and snapshot
    tables)."""
    import os

    import duckdb

    from efiche_data_pipeline_spark.operators.dedup import (
        fold_component_labels,
        forget_documents,
        incremental_chunk_index,
        incremental_novelty,
        incremental_simhash_dedup,
    )
    from efiche_data_pipeline_spark.operators.quality import (
        incremental_pii_flags,
    )

    rows = [
        (0, _BASE),
        (1, _BASE + " small tail difference here"),
        (2, _OTHER),
        (3, _THIRD),
        (4, _OTHER + " and one extra closing clause"),
    ]
    docs = _docs(spark, rows)
    store = Store(spark, str(tmp_path / "family"))
    r = incremental_minhash_dedup(docs, store, threshold=_TAU)
    store.append_new(r.kept.select("doc_id"), "dedup_kept_docs", key="doc_id")
    incremental_novelty(docs, store)
    incremental_chunk_index(docs, store)
    fold_component_labels(
        store,
        spark.createDataFrame([(0, 1), (2, 4)], "doc_a long, doc_b long"),
    )
    incremental_simhash_dedup(docs, store)
    incremental_pii_flags(docs, store)
    # doc 1 and doc 4 must be forgotten — both appear as kept docs,
    # signature rows, novelty scores, label rows, and (doc 4 at least
    # plausibly) introducer credits
    gone = {1, 4}
    touched = forget_documents(
        store, spark.createDataFrame([(i,) for i in gone], "doc_id long")
    )
    assert set(touched) >= {
        "dedup_kept_docs", "minhash_sig_index", "novelty_scores",
        "neardup_labels", "chunk_index", "shingle_introducer",
        "simhash_fp_index", "pii_flags",
    }
    con = duckdb.connect()
    hits = []
    for root, _, names in os.walk(store.path("")):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            f = os.path.join(root, n)
            cols = {
                r_[0]
                for r_ in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{f}')"
                ).fetchall()
            }
            for col in (c for c in ("doc_id", "first_doc") if c in cols):
                found = {
                    r_[0]
                    for r_ in con.execute(
                        f"SELECT DISTINCT {col} FROM read_parquet('{f}')"
                    ).fetchall()
                }
                if found & gone:
                    hits.append((f, col, sorted(found & gone)))
    assert not hits, hits
    # the surviving tables still read and still hold the other docs
    assert {r_["doc_id"] for r_ in store.read("novelty_scores").collect()} == {
        0, 2, 3,
    }
    assert {
        r_["doc_id"] for r_ in store.read_version("neardup_labels").collect()
    } == {0, 2}


def test_incremental_decontamination_equals_global_and_replays(spark, tmp_path):
    """Per-batch intake decontamination against the persisted benchmark
    index equals the one-shot global check (each verdict is a pure
    function of (doc, fixed index)); replaying a committed batch
    appends nothing (the flags sink is the keyed watermark)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_decontamination,
        seed_benchmark_index,
    )

    bench = _docs(spark, [(100, _BASE), (101, _OTHER)])
    intake = _docs(
        spark,
        [
            (0, _BASE),                      # fully contaminated
            (1, _BASE + " with a new tail after the benchmark text"),
            (2, _THIRD),                     # clean
            (3, "too short"),                # shingle-less: clean
        ],
    )
    store = Store(spark, str(tmp_path / "dc"))
    seed_benchmark_index(store, bench, shingle_n=5)
    r1 = incremental_decontamination(
        intake.filter(F.col("doc_id") <= 1), store
    )
    r2 = incremental_decontamination(
        intake.filter(F.col("doc_id") > 1), store
    )
    got = {
        r["doc_id"]: (r["n_overlap_ngrams"], r["contaminated"])
        for r in store.read("decontam_flags").collect()
    }
    assert set(got) == {0, 1, 2, 3}
    assert got[0][1] is True and got[0][0] > 0
    assert got[1][1] is True  # shares the benchmark prefix
    assert got[2] == (0, False) and got[3] == (0, False)
    # batch split is invisible: one-shot run over the union matches
    store2 = Store(spark, str(tmp_path / "dc2"))
    seed_benchmark_index(store2, bench, shingle_n=5)
    incremental_decontamination(intake, store2)
    assert {
        r["doc_id"]: (r["n_overlap_ngrams"], r["contaminated"])
        for r in store2.read("decontam_flags").collect()
    } == got
    # replay: nothing appended
    n = store.read("decontam_flags").count()
    r3 = incremental_decontamination(intake, store)
    assert r3.count() == 0 and store.read("decontam_flags").count() == n


# ---------------------------------------------------------------------------
# incremental_duplicated_spans — the maintained q144: retroactive span
# credit, replay idempotency, crash-window convergence.
# ---------------------------------------------------------------------------
_SPAN_DOCS = [
    # batch 1 (ids <= 3): 1 and 2 share the 3-gram "red green blue"
    (0, "alpha beta gamma delta epsilon zeta eta"),
    (1, "one two red green blue three four"),
    (2, "five red green blue six seven eight"),
    (3, "hi there"),  # shorter than k=3: sentinel-watermarked only
    # batch 2 (ids > 3): 5 re-uses doc 0's "gamma delta epsilon" —
    # doc 0's report must be REOPENED retroactively.
    (4, "nine ten eleven twelve thirteen fourteen"),
    (5, "left right gamma delta epsilon up down"),
]


def _span_reports(store):
    return {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["dup_frac"],
        )
        for r in store.read("span_reports").collect()
    }


def test_incremental_spans_maintained_equals_global(spark, tmp_path):
    """Two folds ≡ one-shot duplicated_span_report over the union, and
    the retroactive case is exercised: doc 0 has NO report after fold
    1 (its span partner arrives later) and the correct one after fold
    2, even though fold 2 never re-reads doc 0's text."""
    from efiche_data_pipeline_spark.operators.dedup import (
        duplicated_span_report,
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "spans"))
    n1 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    assert n1 == 4
    after1 = _span_reports(store)
    assert set(after1) == {1, 2}  # within-batch pair only; doc 0 not yet
    n2 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    assert n2 == 2
    got = _span_reports(store)
    expected = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["dup_frac"],
        )
        for r in duplicated_span_report(docs, k=3, min_docs=2).collect()
    }
    assert got == expected
    assert 0 in got and 5 in got  # the retroactive reopen happened
    # replay of a committed batch: no-op (short doc 3 is watermarked
    # by its sentinel row, so it cannot re-enter either)
    assert incremental_duplicated_spans(docs, store, k=3, min_docs=2) == 0
    assert _span_reports(store) == expected


def _expected_span_reports(docs, k=3, min_docs=2):
    from efiche_data_pipeline_spark.operators.dedup import (
        duplicated_span_report,
    )

    return {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["dup_frac"],
        )
        for r in duplicated_span_report(docs, k=k, min_docs=min_docs).collect()
    }


def test_incremental_spans_crash_before_positions_converges(spark, tmp_path):
    """Crash between the report upsert and the positions append — the
    window where the batch's reports are committed but neither the
    positions nor the seen-docs watermark are, so the batch MUST fully
    replay."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "crash"))
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    crash_once(
        store, "append", "span_positions", "injected crash before positions commit"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_duplicated_spans(
            docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
        )
    # reports landed, watermark + positions did not → full batch replay
    assert {4, 5} & set(
        r["_id"]
        for r in store.read("span_positions").select("_id").distinct().collect()
    ) == set()
    n = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    assert n == 2
    assert _span_reports(store) == _expected_span_reports(docs)
    # and a further replay is a clean no-op
    assert incremental_duplicated_spans(docs, store, k=3, min_docs=2) == 0


@pytest.mark.parametrize("crash_fold", [1, 2])
def test_incremental_spans_crash_before_seen_converges(
    spark, tmp_path, crash_fold
):
    """Positions committed, seen watermark not: the replay folds the
    batch again with its grams already in the history scan, re-appends
    its position rows (multiset index), and the final reports must
    STILL equal the global one-shot — every index reader (crossed/dup
    counts, _span_report) absorbs the duplicated rows. On fold 1 the
    seen table does not exist yet, so nothing is watermarked: the
    replay re-folds the whole batch, and the point query verifies
    every doc in full until the seen table lands."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "seencrash"))
    fold = lambda b: incremental_duplicated_spans(b, store, k=3, min_docs=2)
    needle = spark.createDataFrame([("gamma delta epsilon",)], "passage string")
    hits = lambda: {
        r["doc_id"]
        for r in passage_search(
            docs, needle, "doc_id", "text", k=3, store=store
        ).collect()
    }
    batches = {
        1: docs.filter(F.col("doc_id") <= 3),
        2: docs.filter(F.col("doc_id") > 3),
    }
    probe = {1: 1, 2: 5}[crash_fold]  # a doc of the crashing batch with grams
    for f, batch in batches.items():
        if f != crash_fold:
            fold(batch)
            continue
        crash_once(
            store, "append_new", "span_seen_docs", "injected crash before seen commit"
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            fold(batch)
        # positions landed, watermark did not → the batch replays
        batch_ids = {r["doc_id"] for r in batch.collect()}
        assert batch_ids <= {
            r["_id"]
            for r in store.read("span_positions").select("_id").distinct().collect()
        }
        assert store.exists("span_seen_docs") == (crash_fold == 2)
        # the crash window never costs the point query recall
        assert hits() == {0, 5}
        assert fold(batch) == len(batch_ids)
        dup_rows = (
            store.read("span_positions")
            .filter(f"_id = {probe} and pos >= 0")
            .count()
        )
        assert dup_rows > 0 and dup_rows % 2 == 0  # duplicated, not lost
    assert _span_reports(store) == _expected_span_reports(docs)
    # duplicated index rows must not distort the point query either
    assert hits() == {0, 5}
    # and a further replay is a clean no-op
    assert fold(docs) == 0


def test_incremental_spans_new_index_is_hp_bucketed(spark, tmp_path):
    """A NEW positional index commits hive-partitioned by
    hp = h mod buckets with the modulus stamped in the layout sidecar,
    and the fold's Cut 1 (batch-present gram counts) prunes its
    history scan to the batch's prefixes at the directory level."""
    import os

    from efiche_data_pipeline_spark.operators.dedup import (
        GH_BUCKETS,
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "hpbkt"))
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    assert Store._dir_partition_columns(store.path("span_positions")) == ["hp"]
    assert any(
        d.startswith("hp=")
        for d in os.listdir(store.path("span_positions"))
    )
    meta = store.read_layout_meta("span_positions")
    assert meta == {"bucket_col": "hp", "hash_col": "h", "buckets": GH_BUCKETS}
    # the fold's Cut-1 read shape: an hp prefix filter reaches the
    # FileScan as a PARTITION filter (directory pruning)
    pruned = store.read("span_positions").filter(F.col("hp").isin([0, 1, 2]))
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "hp" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan
    # retroactive fold over the bucketed layout stays oracle-exact
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    assert _span_reports(store) == _expected_span_reports(docs)


def test_passage_search_covers_unindexed_docs(spark, tmp_path):
    """ADVICE r08 (medium): the index prune must not silently drop
    docs that were never folded into the positional index — a
    takedown query's recall cannot depend on index completeness.
    Unindexed docs route through the full-scan verify."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "coverage"))
    # index ONLY batch 1 (ids <= 3); doc 5 (a hit) stays unindexed
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    hits = passage_search(
        docs,
        spark.createDataFrame([("gamma delta epsilon",)], "passage string"),
        "doc_id",
        "text",
        k=3,
        store=store,
    ).collect()
    assert {r["doc_id"] for r in hits} == {0, 5}  # 5 found WITHOUT index


def test_span_index_respects_persisted_modulus(spark, tmp_path):
    """The bucket modulus is resolved from the table's layout sidecar,
    never the GH_BUCKETS constant: an index committed at a different
    modulus keeps pruning correctly (ADVICE r08: a changed constant
    must not silently prune the wrong directories)."""
    import os

    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "mod8"))
    # pre-stamp a non-default modulus, as if GH_BUCKETS were 8 when
    # this index was first committed
    store.write_layout_meta(
        "span_positions", {"bucket_col": "hp", "hash_col": "h", "buckets": 8}
    )
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    buckets_on_disk = {
        int(d.split("=", 1)[1])
        for d in os.listdir(store.path("span_positions"))
        if d.startswith("hp=")
    }
    assert buckets_on_disk and all(0 <= b < 8 for b in buckets_on_disk)
    assert _span_reports(store) == _expected_span_reports(docs)
    hits = passage_search(
        docs,
        spark.createDataFrame([("gamma delta epsilon",)], "passage string"),
        "doc_id",
        "text",
        k=3,
        store=store,
    ).collect()
    assert {r["doc_id"] for r in hits} == {0, 5}


# ---------------------------------------------------------------------------
# Hash-prefix-bucketed introducer index (VERDICT r07 Next #3): the
# per-fold SCAN prunes to the batch's prefixes, not just the exchange.
# ---------------------------------------------------------------------------
def test_novelty_index_bucketed_layout_and_pruned_scan(spark, tmp_path):
    """The introducer index commits hive-partitioned by ghp; the
    fold's history read prunes the parquet SCAN to the batch's own
    prefixes (plan-pinned PartitionFilters), and both compact_layers
    and the GDPR delete rewrite preserve the layout."""
    import os

    from efiche_data_pipeline_spark.operators.dedup import (
        GH_BUCKETS,
        incremental_novelty,
    )

    store = Store(spark, str(tmp_path / "novbkt"))
    mk = lambda i: (i, " ".join(f"tok{i:02d}{t:02d}" for t in range(20)))
    meta = {"bucket_col": "ghp", "hash_col": "gh", "buckets": GH_BUCKETS}
    incremental_novelty(_docs(spark, [mk(i) for i in range(4)]), store)
    # the first fold stamps the modulus; nothing would stamp it later
    assert store.read_layout_meta("shingle_introducer") == meta
    incremental_novelty(_docs(spark, [mk(i) for i in range(4, 8)]), store)

    # layout on disk: every contentful layer carries ghp= directories
    assert store._layout("shingle_introducer") == ["ghp"]
    v1_dir = os.path.join(store.path("shingle_introducer"), "v1")
    assert any(d.startswith("ghp=") for d in os.listdir(v1_dir))

    # the fold's read shape: a prefix filter over the layered union
    # reaches the FileScan as a PARTITION filter (directory pruning)
    pruned = store.read_union("shingle_introducer").filter(
        F.col("ghp").isin([0, 1, 2])
    )
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [ghp" in plan, plan

    # single-doc re-fold (the small-batch case the bucketing exists
    # for): correctness unchanged — a pure copy introduces nothing
    r = incremental_novelty(_docs(spark, [(100, mk(3)[1])]), store)
    s = r.scores.collect()[0]
    assert r.n_new == 1 and s["n_introduced"] == 0 and s["n_shingles"] > 0

    # compaction preserves the layout (and the data)
    before = sorted(
        tuple(x)
        for x in store.read_union("shingle_introducer")
        .select("gh", "first_doc")
        .collect()
    )
    store.compact_layers("shingle_introducer")
    assert store._layout("shingle_introducer") == ["ghp"]
    assert store.read_layout_meta("shingle_introducer") == meta
    after = sorted(
        tuple(x)
        for x in store.read_union("shingle_introducer")
        .select("gh", "first_doc")
        .collect()
    )
    assert after == before

    # the GDPR delete's affected-layer rewrite preserves the layout
    keys = spark.createDataFrame([(0,)], "first_doc long")
    store.delete_keys("shingle_introducer", keys, "first_doc")
    assert store._layout("shingle_introducer") == ["ghp"]
    assert store.read_layout_meta("shingle_introducer") == meta
    assert (
        store.read_union("shingle_introducer")
        .filter(F.col("first_doc") == 0)
        .count()
        == 0
    )
    # pruning still works over the rewritten layers
    pruned2 = store.read_union("shingle_introducer").filter(F.col("ghp") == 1)
    pruned2.collect()
    plan2 = pruned2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan2 and "ghp" in plan2.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan2


# ---------------------------------------------------------------------------
# Token-aligned passage search over the q145 positional index
# ---------------------------------------------------------------------------
def test_passage_search_pruned_equals_full_scan(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )

    needle_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, "prefix words then " + needle_text + " and a tail here"),
        (1, "totally unrelated content about rivers and stones flowing"),
        (2, needle_text + " right at the start of this document"),
        # word-aligned ONLY matches: 'zalpha beta...' must NOT hit
        (3, "z" + needle_text + " glued to a prefix breaks alignment"),
        (4, "ends with the passage " + needle_text),
        (5, "alpha beta gamma but then it diverges before completing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    needle = spark.createDataFrame([(needle_text,)], "passage string")

    # expected: naive full verify (no index)
    want = sorted(
        (r["doc_id"], r["pos"])
        for r in passage_search(docs, needle, k=6).collect()
    )
    assert [d for d, _ in want] == [0, 2, 4]
    # pos is 1-based in the padded normalized text: doc 2 starts at 1
    assert dict(want)[2] == 1

    # indexed path: same answer, and the verify ran on candidates only
    store = Store(spark, str(tmp_path / "ps"))
    incremental_duplicated_spans(docs.filter("doc_id <= 2"), store, k=6)
    incremental_duplicated_spans(docs.filter("doc_id > 2"), store, k=6)
    got = sorted(
        (r["doc_id"], r["pos"])
        for r in passage_search(docs, needle, k=6, store=store).collect()
    )
    assert got == want

    # the prune is real: only docs sharing a passage k-gram survive the
    # candidate semi-join (docs 1 and 3 never reach the verify)
    from efiche_data_pipeline_spark.operators.dedup import _gram_positions

    nh = (
        _gram_positions(
            needle.select(F.lit(0).alias("doc_id"), F.col("passage").alias("text")),
            "doc_id",
            "text",
            6,
        )
        .filter("pos >= 0")
        .select("h")
        .distinct()
    )
    cand = (
        store.read("span_positions")
        .filter("pos >= 0")
        .join(nh, "h", "left_semi")
        .select("_id")
        .distinct()
    )
    cand_ids = sorted(r["_id"] for r in cand.collect())
    assert 1 not in cand_ids and 3 not in cand_ids
    assert set(d for d, _ in want) <= set(cand_ids)

    # a passage shorter than k tokens falls back to the full verify
    short = spark.createDataFrame([("rivers and stones",)], "passage string")
    got_short = sorted(
        r["doc_id"]
        for r in passage_search(docs, short, k=6, store=store).collect()
    )
    assert got_short == [1]


@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=30).map(
            " ".join
        ),
        min_size=2,
        max_size=6,
    ),
    pick=st.integers(min_value=0, max_value=10**6),
    start=st.integers(min_value=0, max_value=10**6),
    length=st.integers(min_value=1, max_value=10),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_passage_search_finds_any_token_window(
    spark, tmp_path_factory, texts, pick, start, length
):
    """Property: ANY token window sliced from ANY document is found in
    that document at the position python computes on the normalized
    text — through the indexed path (window >= k exercises the prune,
    shorter windows the fallback)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )

    docs = _docs(spark, list(enumerate(texts)))
    d = pick % len(texts)
    toks = texts[d].split()
    s = start % len(toks)
    window = toks[s : s + length]
    needle_text = " ".join(window)
    store = Store(spark, str(tmp_path_factory.mktemp("ps_hyp")))
    incremental_duplicated_spans(docs, store, k=3)
    needle = spark.createDataFrame([(needle_text,)], "passage string")
    got = {
        r["doc_id"]: r["pos"]
        for r in passage_search(docs, needle, k=3, store=store).collect()
    }
    # python reference on the padded normalized text
    want = {}
    for i, t in enumerate(texts):
        padded = " " + " ".join(t.split()) + " "
        p = padded.find(" " + needle_text + " ")
        if p >= 0:
            want[i] = p + 1  # locate is 1-based
    assert d in got and got == want


def test_passage_watchlist_folds_equal_global_and_replay_noop(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_passage_flags,
        passage_search,
        seed_passage_watchlist,
    )

    n0 = "alpha beta gamma delta epsilon zeta"
    n1 = "one two three four five six"
    rows = [
        (0, "lead in " + n0 + " and onward"),
        (1, "nothing to see in this one at all here"),
        (2, n1 + " opens this document"),
        (3, "both live here " + n0 + " then " + n1 + " as well"),
        (4, "z" + n0 + " misaligned so it must not flag"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = Store(spark, str(tmp_path / "watch"))
    passages = spark.createDataFrame(
        [(0, n0), (1, n1)], "needle_id long, passage string"
    )
    seed_passage_watchlist(store, passages)
    assert incremental_passage_flags(docs.filter("doc_id <= 2"), store) == 3
    assert incremental_passage_flags(docs.filter("doc_id > 2"), store) == 2
    got = sorted(
        (r["doc_id"], r["needle_id"], r["pos"])
        for r in store.read("passage_flags").collect()
    )
    # global reference: one passage_search per needle
    want = []
    for nid, p in ((0, n0), (1, n1)):
        nd = spark.createDataFrame([(p,)], "passage string")
        want += [
            (r["doc_id"], nid, r["pos"])
            for r in passage_search(docs, nd, k=6).collect()
        ]
    assert got == sorted(want)
    assert {d for d, _, _ in got} == {0, 2, 3}  # doc 4 misaligned, 1 clean
    assert len([x for x in got if x[0] == 3]) == 2  # both needles hit doc 3
    # replay: pure no-op
    assert incremental_passage_flags(docs, store) == 0
    assert store.read("passage_flags").count() == len(got)
    # re-seeding is an idempotent overwrite
    seed_passage_watchlist(store, passages)
    assert incremental_passage_flags(docs, store) == 0


def test_forget_span_documents_equals_survivor_one_shot(spark, tmp_path):
    """GDPR for the span family: after forgetting ids, the maintained
    reports equal the one-shot duplicated_span_report over the
    SURVIVORS — including the retroactive SHRINK (a surviving doc
    whose only span partner is forgotten loses its report), the exact
    mirror of the fold's retroactive growth. Positions/seen/flags no
    longer name the ids, the hp layout survives the rewrite, and a
    blind retry is a no-op."""
    from efiche_data_pipeline_spark.operators.dedup import (
        forget_span_documents,
        incremental_duplicated_spans,
        incremental_passage_flags,
        seed_passage_watchlist,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "spanforget"))
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    seed_passage_watchlist(
        store,
        spark.createDataFrame(
            [(1, "red green blue")], "needle_id long, passage string"
        ),
        k=3,
    )
    incremental_passage_flags(docs, store, k=3)
    assert {
        r["doc_id"] for r in store.read("passage_flags").collect()
    } == {1, 2}
    # forget doc 1: doc 2 loses its only span partner (retroactive
    # shrink to ZERO spans -> its report row must disappear), doc 0/5
    # keep theirs
    gone = spark.createDataFrame([(1,)], "doc_id long")
    forget_span_documents(store, gone, k=3, min_docs=2)
    survivors = docs.filter("doc_id != 1")
    assert _span_reports(store) == _expected_span_reports(survivors)
    assert 2 not in _span_reports(store)  # the shrink, explicitly
    assert (
        store.read("span_positions").filter("_id = 1").count() == 0
        and store.read("span_seen_docs").filter("_id = 1").count() == 0
        and store.read("passage_flags").filter("doc_id = 1").count() == 0
    )
    # layout preserved through the delete rewrite
    assert Store._dir_partition_columns(store.path("span_positions")) == ["hp"]
    # blind retry converges to the same state
    forget_span_documents(store, gone, k=3, min_docs=2)
    assert _span_reports(store) == _expected_span_reports(survivors)
    # a later fold keeps working (and may re-introduce the id afresh)
    assert incremental_duplicated_spans(
        docs.filter("doc_id = 1"), store, k=3, min_docs=2
    ) == 1
    assert _span_reports(store) == _expected_span_reports(docs)


def test_forget_span_documents_crash_retry_converges(spark, tmp_path):
    """Crash between forget_span_documents' holder-report upsert
    (step 2) and the report delete (step 3)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        forget_span_documents,
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "sfcrash"))
    incremental_duplicated_spans(docs, store, k=3, min_docs=2)
    gone = spark.createDataFrame([(1,)], "doc_id long")
    crash_once(
        store, "delete_keys", "span_reports", "injected crash before report delete"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        forget_span_documents(store, gone, k=3, min_docs=2)
    # positions intact (step 4 never ran) -> the blind retry
    # recomputes identical pinned state and completes every step
    assert store.read("span_positions").filter("_id = 1").count() > 0
    forget_span_documents(store, gone, k=3, min_docs=2)
    assert _span_reports(store) == _expected_span_reports(
        docs.filter("doc_id != 1")
    )
    assert store.read("span_positions").filter("_id = 1").count() == 0


def test_passage_search_many_matches_per_needle_and_covers(spark, tmp_path):
    """passage_search_many ≡ the union of per-needle passage_search
    over the same index; the coverage guard routes unindexed docs to
    the full verify, and a sub-k needle takes the full path (no gram
    can prune for it) while the long needles still use the index."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
        passage_search_many,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "psmany"))
    # index ONLY ids <= 3: doc 5 (a 'gamma delta epsilon' hit) is
    # unindexed and must still be found via the coverage guard
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    passages = spark.createDataFrame(
        [
            (0, "gamma delta epsilon"),  # hits docs 0 and 5
            (1, "red green blue"),  # hits docs 1 and 2
            (2, "hi there"),  # 2 tokens < k: full-path needle; hits 3
            (3, "no such passage here"),  # no hits
        ],
        "needle_id long, passage string",
    )
    got = {
        (r["doc_id"], r["needle_id"], r["pos"])
        for r in passage_search_many(
            docs, passages, "doc_id", "text", k=3, store=store
        ).collect()
    }
    # per-needle twin over the same store (single-needle operator has
    # no sub-k index path either — it full-scans those)
    want = set()
    for nid, p in [(0, "gamma delta epsilon"), (1, "red green blue"),
                   (2, "hi there"), (3, "no such passage here")]:
        for r in passage_search(
            docs,
            spark.createDataFrame([(p,)], "passage string"),
            "doc_id",
            "text",
            k=3,
            store=store,
        ).collect():
            want.add((r["doc_id"], nid, r["pos"]))
    assert got == want
    assert (5, 0) in {(d, n) for d, n, _ in got}  # unindexed doc found
    assert (3, 2) in {(d, n) for d, n, _ in got}  # sub-k needle found
    assert not [t for t in got if t[1] == 3]  # no false positives
    # storeless fallback ≡ the same result (pure full scan)
    flat = {
        (r["doc_id"], r["needle_id"], r["pos"])
        for r in passage_search_many(
            docs, passages, "doc_id", "text", k=3
        ).collect()
    }
    assert flat == want


def test_extend_passage_watchlist_lifecycle(spark, tmp_path):
    """Growing a live watchlist: already-ingested docs are
    retro-flagged against the NEW needles (the q179 batch point query
    over the maintained index), intake then covers old + new needles,
    a blind retry is a no-op, and a needle_id collision raises before
    any commit."""
    from efiche_data_pipeline_spark.operators.dedup import (
        extend_passage_watchlist,
        incremental_duplicated_spans,
        incremental_passage_flags,
        seed_passage_watchlist,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "extend"))
    batch1 = docs.filter("doc_id <= 3")
    incremental_duplicated_spans(batch1, store, k=3, min_docs=2)
    seed_passage_watchlist(
        store,
        spark.createDataFrame(
            [(0, "red green blue")], "needle_id long, passage string"
        ),
        k=3,
    )
    incremental_passage_flags(batch1, store, k=3)
    assert {
        (r["doc_id"], r["needle_id"])
        for r in store.read("passage_flags").collect()
    } == {(1, 0), (2, 0)}

    # extend with a needle that matches ALREADY-SEEN doc 0 — the old
    # intake can never flag it; the retro half must
    n = extend_passage_watchlist(
        store,
        spark.createDataFrame(
            [(1, "alpha beta gamma")], "needle_id long, passage string"
        ),
        batch1,
        k=3,
    )
    assert n == 1
    flags = {
        (r["doc_id"], r["needle_id"])
        for r in store.read("passage_flags").collect()
    }
    assert flags == {(1, 0), (2, 0), (0, 1)}
    # intake after the extension judges NEW docs under BOTH needles
    incremental_passage_flags(
        docs.filter("doc_id > 3").unionByName(
            spark.createDataFrame(
                [(6, "more alpha beta gamma text")], "doc_id long, text string"
            )
        ),
        store,
        k=3,
    )
    flags = {
        (r["doc_id"], r["needle_id"])
        for r in store.read("passage_flags").collect()
    }
    assert (6, 1) in flags
    # blind retry of the COMPLETED extension (verbatim re-submission):
    # a pure no-op, returns 0, state unchanged
    import pytest

    assert (
        extend_passage_watchlist(
            store,
            spark.createDataFrame(
                [(1, "alpha beta gamma")], "needle_id long, passage string"
            ),
            batch1,
            k=3,
        )
        == 0
    )
    assert {
        (r["doc_id"], r["needle_id"])
        for r in store.read("passage_flags").collect()
    } == flags
    assert store.read_version("watch_needles").count() == 2
    # re-using a LIVE id with a DIFFERENT passage is a genuine
    # conflict: raises before any commit
    with pytest.raises(ValueError, match="different passage"):
        extend_passage_watchlist(
            store,
            spark.createDataFrame(
                [(1, "some other passage")], "needle_id long, passage string"
            ),
            batch1,
            k=3,
        )
    assert store.read_version("watch_needles").count() == 2


def test_extend_passage_watchlist_crash_converges(spark, tmp_path):
    """Crash between the retro-flag append and the watchlist re-seed
    (the write_version of watch_needles)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        extend_passage_watchlist,
        incremental_duplicated_spans,
        incremental_passage_flags,
        seed_passage_watchlist,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "extcrash"))
    batch1 = docs.filter("doc_id <= 3")
    incremental_duplicated_spans(batch1, store, k=3, min_docs=2)
    seed_passage_watchlist(
        store,
        spark.createDataFrame(
            [(0, "red green blue")], "needle_id long, passage string"
        ),
        k=3,
    )
    incremental_passage_flags(batch1, store, k=3)
    new_needle = spark.createDataFrame(
        [(1, "alpha beta gamma")], "needle_id long, passage string"
    )
    crash_once(
        store, "write_version", "watch_needles", "injected crash before watchlist seed"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        extend_passage_watchlist(store, new_needle, batch1, k=3)
    # retro flags landed, snapshot did not — intake still judges under
    # the OLD watchlist (the version boundary), and the retry completes
    assert store.read_version("watch_needles").count() == 1
    assert (0, 1) in {
        (r["doc_id"], r["needle_id"])
        for r in store.read("passage_flags").collect()
    }
    assert extend_passage_watchlist(store, new_needle, batch1, k=3) == 1
    assert store.read_version("watch_needles").count() == 2
    assert store.read_version("watch_grams").select("needle_id").distinct().count() == 2


# ---------------------------------------------------------------------------
# Incremental SimHash dedup (incremental_simhash_dedup): the Hamming
# dominated rule maintained against a 1-int64-per-doc fingerprint
# index — two-batch ≡ global, replay no-op, token-less docs
# remembered, and the fingerprint-class min-id collapse is exact.
# ---------------------------------------------------------------------------
def _simhash_global_kept(spark, docs, bits=48, maxh=3):
    """First-principles global dominated rule: dropped iff ANY
    smaller-id doc is within maxh bit flips — computed via an explicit
    all-pairs crossJoin over the fingerprints (fixture scale only)."""
    from efiche_data_pipeline_spark.operators.dedup import simhash

    fps = simhash(docs, "doc_id", "text", bits=bits)
    a = fps.select(F.col("doc_id").alias("ia"), F.col("simhash").alias("fa"))
    b = fps.select(F.col("doc_id").alias("ib"), F.col("simhash").alias("fb"))
    dropped = (
        a.crossJoin(b)
        .filter(
            (F.col("ia") < F.col("ib"))
            & (F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= maxh)
        )
        .select(F.col("ib").alias("doc_id"))
        .distinct()
    )
    return sorted(
        r["doc_id"]
        for r in docs.select("doc_id").join(dropped, "doc_id", "left_anti").collect()
    )


def test_incremental_simhash_two_batches_equal_global(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    rows = [
        (0, _BASE),
        (1, _BASE + " extra"),          # near-dup of 0, within batch 1
        (2, _OTHER),
        (3, _BASE),                      # exact dup of 0, cross-batch
        (4, _THIRD),
        (5, _THIRD + " trailing bit"),   # near-dup of 4, within batch 2
        (6, None),                       # token-less: NULL fp, always kept
    ]
    docs = _docs(spark, rows)
    store = Store(spark, str(tmp_path / "ish"))
    r1 = incremental_simhash_dedup(docs.filter(F.col("doc_id") <= 2), store)
    r2 = incremental_simhash_dedup(docs.filter(F.col("doc_id") > 2), store)
    got = sorted(
        r["doc_id"] for r in r1.kept.unionByName(r2.kept).select("doc_id").collect()
    )
    assert got == _simhash_global_kept(spark, docs)
    # the exact cross-batch copy was dropped AGAINST HISTORY
    assert 3 not in got and r2.n_dup_vs_history >= 1
    # token-less doc is kept and indexed (NULL fp row)
    assert 6 in got
    idx = {
        r["doc_id"]: r["simhash"]
        for r in store.read_union("simhash_fp_index").collect()
    }
    assert set(idx) == {0, 1, 2, 3, 4, 5, 6} and idx[6] is None
    # replay: keeps nothing, writes nothing, version unchanged
    r3 = incremental_simhash_dedup(docs, store)
    assert r3.n_new == 0 and r3.kept.count() == 0
    assert r3.index_version == r2.index_version


def test_incremental_simhash_flood_collapses_to_one_survivor(
    spark, tmp_path
):
    """A flood of identical docs — the case the fingerprint-class
    min-id collapse exists for — keeps exactly the smallest id, in
    whichever batch it arrived."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    rows = [(i, _BASE) for i in range(30)] + [(30, _OTHER)]
    docs = _docs(spark, rows)
    store = Store(spark, str(tmp_path / "ishflood"))
    r1 = incremental_simhash_dedup(docs.filter(F.col("doc_id") < 10), store)
    r2 = incremental_simhash_dedup(docs.filter(F.col("doc_id") >= 10), store)
    kept = sorted(
        r["doc_id"] for r in r1.kept.unionByName(r2.kept).select("doc_id").collect()
    )
    assert kept == [0, 30]
    assert r1.n_dup_within == 9
    assert r2.n_dup_vs_history == 20


def test_incremental_simhash_guards(spark, tmp_path):
    import pytest

    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    docs = _docs(spark, [(0, _BASE)])
    store = Store(spark, str(tmp_path / "ishg"))
    with pytest.raises(ValueError, match="not divisible"):
        incremental_simhash_dedup(docs, store, bits=48, bands=7)
    with pytest.raises(ValueError, match="pigeonhole"):
        incremental_simhash_dedup(docs, store, max_hamming=8, bands=8)


def test_containment_search_planted(spark, tmp_path):
    """Planted containment on the maintained span index: a probe that
    lifts half of doc 1's text verbatim scores containment vs doc 1
    only; a gram shared by MORE than max_freq docs contributes
    nothing (the boilerplate cap); probe self-matches are excluded."""
    from efiche_data_pipeline_spark.operators.dedup import (
        containment_search,
        incremental_duplicated_spans,
    )

    plate = "one two three four five six"  # a 6-gram everybody shares
    body1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, f"{body1} {plate}")]
    rows += [(10 + i, f"noise{i}a noise{i}b {plate}") for i in range(4)]
    docs = _docs(spark, rows)
    store = Store(spark, str(tmp_path / "cs"))
    assert incremental_duplicated_spans(docs, store, k=6) == 5
    # probe = first 8 words of doc 1 (3 distinct 6-grams, all rare)
    # plus the boilerplate plate (1 ubiquitous 6-gram, capped out)
    probe = _docs(
        spark, [(99, "alpha beta gamma delta epsilon zeta eta theta " + plate)]
    )
    got = containment_search(
        store, probe, k=6, max_freq=3, min_shared=2
    ).collect()
    assert len(got) == 1
    r = got[0]
    # probe has 9 distinct 6-grams; 3 rare ones shared with doc 1;
    # the plate gram is in 5 docs > max_freq=3 so it never pairs
    assert (r["probe_id"], r["doc_id"], r["n_shared"]) == (99, 1, 3)
    assert r["containment"] == round(3 / 9, 4)
    # self-exclusion: probing an INDEXED doc never reports itself
    self_probe = containment_search(
        store, docs.filter(F.col("doc_id") == 1), k=6, max_freq=10
    ).collect()
    assert all(row["doc_id"] != 1 for row in self_probe)


# ---- r10: the byid secondary projection (VERDICT r09 Next #2) ------


def test_incremental_spans_byid_projection_and_prune(spark, tmp_path):
    """Every fold dual-writes the _id-bucketed byid SECONDARY
    projection (sidecar-stamped), the projection always holds the
    same rows as the primary, and the fold's Cut-2 affected-doc
    fetch (_affected_positions — the exact helper the fold calls)
    PRUNES its scan to the affected ids' prefixes at the directory
    level: the plan pin for the one per-fold O(index) scan VERDICT
    r09 named."""
    import os
    import re

    from efiche_data_pipeline_spark.operators.dedup import (
        GH_BUCKETS,
        _affected_positions,
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "byid"))
    metas = {
        "span_positions": {"bucket_col": "hp", "hash_col": "h", "buckets": GH_BUCKETS},
        "span_positions_byid": {
            "bucket_col": "ip",
            "hash_col": "_id",
            "buckets": GH_BUCKETS,
        },
    }
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    # the first fold stamps both sidecars; nothing would stamp them later
    for t, meta in metas.items():
        assert store.read_layout_meta(t) == meta, t
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    for t, meta in metas.items():
        assert store.read_layout_meta(t) == meta, t
    assert any(
        d.startswith("ip=")
        for d in os.listdir(store.path("span_positions_byid"))
    )
    # projection ≡ primary: the same multiset of position rows
    cols = ["_id", "pos", "n_toks", "h"]
    prim = sorted(map(tuple, store.read("span_positions").select(*cols).collect()))
    proj = sorted(
        map(tuple, store.read("span_positions_byid").select(*cols).collect())
    )
    assert prim == proj
    # Cut-2 read shape: a 1-doc affected set reaches the FileScan as
    # a PARTITION filter (directory pruning), and returns exactly the
    # doc's committed grams
    affected = spark.createDataFrame([(0,)], "_id long")
    apos = _affected_positions(
        store, "span_positions_byid", GH_BUCKETS, affected, 1, cols
    )
    rows = apos.collect()
    assert {r["_id"] for r in rows} == {0}
    assert len(rows) == 5  # 7 tokens -> 5 tri-gram positions
    plan = apos._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*ip#\d+", plan), plan


def test_incremental_spans_crash_before_byid_converges(spark, tmp_path):
    """Crash between the report upsert and the byid projection append —
    the first mutation window of the r10 four-commit protocol: reports
    durable, neither projection nor the watermark."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "byidcrash"))
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    crash_once(
        store, "append", "span_positions_byid", "injected crash before byid commit"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_duplicated_spans(
            docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
        )
    # reports landed; neither projection nor the watermark did
    for t in ("span_positions", "span_positions_byid"):
        assert {4, 5} & {
            r["_id"] for r in store.read(t).select("_id").distinct().collect()
        } == set()
    n = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
    )
    assert n == 2
    assert _span_reports(store) == _expected_span_reports(docs)
    assert incremental_duplicated_spans(docs, store, k=3, min_docs=2) == 0


def test_incremental_spans_crash_between_byid_and_primary(spark, tmp_path):
    """The NEW r10 crash window: byid committed, primary not. The
    orphaned byid rows must stay UNREACHABLE — a fold of a different
    batch cannot reopen the crashed batch's docs (reopened derives
    from the primary), so its reports never under-count — and the
    crashed batch's replay converges with byid a tolerated
    multiset. This is the window that makes the commit ORDER
    (byid before primary) load-bearing."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    # crash on the PRIMARY append -> byid is already durable
    store = Store(spark, str(tmp_path / "midcrash"))
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 3), store, k=3, min_docs=2
    )
    crash_once(
        store, "append", "span_positions", "injected crash before positions commit"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_duplicated_spans(
            docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
        )
    byid_ids = {
        r["_id"]
        for r in store.read("span_positions_byid")
        .select("_id")
        .distinct()
        .collect()
    }
    prim_ids = {
        r["_id"]
        for r in store.read("span_positions").select("_id").distinct().collect()
    }
    assert {4, 5} <= byid_ids and {4, 5} & prim_ids == set()
    # a DIFFERENT batch folds before the replay: doc 6 re-uses doc
    # 0's 'gamma delta epsilon' (so doc 0 reopens off the PRIMARY),
    # while crashed docs 4/5 must not surface
    doc6 = _docs(spark, [(6, "zz yy gamma delta epsilon xx ww")])
    assert incremental_duplicated_spans(doc6, store, k=3, min_docs=2) == 1
    got = _span_reports(store)
    # docs 0 and 6 both report the shared span; doc 5's row (upserted
    # by the crashed batch BEFORE its crash) carries the same global
    # values, so the table equals the global one-shot over all docs
    all_docs = docs.unionByName(doc6)
    assert got == _expected_span_reports(all_docs)
    # the crashed batch replays to convergence (byid -> multiset)
    assert (
        incremental_duplicated_spans(
            docs.filter(F.col("doc_id") > 3), store, k=3, min_docs=2
        )
        == 2
    )
    dup_rows = (
        store.read("span_positions_byid").filter("_id = 5 and pos >= 0").count()
    )
    assert dup_rows > 0 and dup_rows % 2 == 0  # duplicated, not lost
    assert _span_reports(store) == _expected_span_reports(all_docs)
    assert (
        incremental_duplicated_spans(all_docs, store, k=3, min_docs=2) == 0
    )


def test_forget_span_documents_purges_byid(spark, tmp_path):
    """GDPR: forgetting a doc purges its rows from BOTH projections
    of the positional index, and a blind retry that crashed between
    the two deletes still completes the byid purge."""
    from efiche_data_pipeline_spark.operators.dedup import (
        forget_span_documents,
        incremental_duplicated_spans,
    )

    docs = _docs(spark, _SPAN_DOCS)
    store = Store(spark, str(tmp_path / "byidforget"))
    incremental_duplicated_spans(docs, store, k=3, min_docs=2)
    gone = spark.createDataFrame([(1,)], "doc_id long")
    forget_span_documents(store, gone, k=3, min_docs=2)
    for t in ("span_positions", "span_positions_byid"):
        assert store.read(t).filter("_id = 1").count() == 0
    assert _span_reports(store) == _expected_span_reports(
        docs.filter("doc_id != 1")
    )
    # retry-after-primary-delete shape: primary already clean, byid
    # still dirty -> the blind retry's pure-delete path must cover it
    store.append(
        store.read("span_positions_byid").filter("_id = 2").limit(0),
        "span_positions_byid",
        partition_by=["ip"],
    )  # no-op append keeps layout; now delete doc 2 normally
    gone2 = spark.createDataFrame([(2,)], "doc_id long")
    forget_span_documents(store, gone2, k=3, min_docs=2)
    assert store.read("span_positions_byid").filter("_id = 2").count() == 0


def test_span_fold_dual_write_stays_o_batch_measured(
    spark, tmp_path, monkeypatch
):
    """The r10 dual write appends the SAME checkpointed batch rows to
    both projections: measured across folds of identical batch shape,
    the rows fed to EACH append stay flat while the index grows ~4x —
    the measured-cost pin that the secondary projection keeps the
    fold O(batch)."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
    )
    from efiche_data_pipeline_spark.pipeline import store as _store_mod

    store = Store(spark, str(tmp_path / "byidcost"))
    appended: dict[str, list[int]] = {}
    orig = _store_mod.Store.append

    def spy(self, df, table, partition_by=None):
        if table.startswith("span_positions"):
            appended.setdefault(table, []).append(df.count())
        return orig(self, df, table, partition_by=partition_by)

    monkeypatch.setattr(_store_mod.Store, "append", spy)
    for fold in range(4):
        docs = _docs(
            spark,
            [
                (
                    fold * 6 + j,
                    " ".join(f"w{fold:02d}{j:02d}{t:02d}" for t in range(30)),
                )
                for j in range(6)
            ],
        )
        incremental_duplicated_spans(docs, store, k=3, min_docs=2)
    monkeypatch.undo()
    prim, proj = appended["span_positions"], appended["span_positions_byid"]
    assert len(prim) == len(proj) == 4
    # identical batch shapes -> identical appended row counts, flat
    # across folds for BOTH projections (30 tokens -> 28 tri-gram
    # positions x 6 docs = 168 rows per fold)
    assert prim == proj == [168] * 4
    assert store.read("span_positions").count() == 4 * 168


def test_containment_coverage_reports_blind_spot(spark, tmp_path):
    """The q188 companion (VERDICT r09 Next #6): with a planted
    unindexed doc, the coverage report counts it — globally and per
    group — including short sentinel-only docs as indexed, and an
    empty store reports everything unindexed."""
    from efiche_data_pipeline_spark.operators.dedup import (
        containment_coverage,
        incremental_duplicated_spans,
    )

    rows = [
        (0, "a", "alpha beta gamma delta epsilon zeta"),
        (1, "a", "one two red green blue three"),
        (2, "b", "hi"),  # short: sentinel-watermarked, still SEEN
        (3, "b", "left right up down over under"),  # planted: unindexed
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    store = Store(spark, str(tmp_path / "ccov"))
    # empty store: everything is a blind spot
    pre = containment_coverage(store, docs).first()
    assert (pre["n_corpus"], pre["n_indexed"], pre["n_unindexed"]) == (4, 0, 4)
    incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= 2), store, k=3, min_docs=2
    )
    got = containment_coverage(store, docs).first()
    assert (got["n_corpus"], got["n_indexed"], got["n_unindexed"]) == (4, 3, 1)
    by = {
        r["source"]: (r["n_corpus"], r["n_indexed"], r["n_unindexed"])
        for r in containment_coverage(store, docs, by="source").collect()
    }
    assert by == {"a": (2, 2, 0), "b": (2, 1, 1)}
