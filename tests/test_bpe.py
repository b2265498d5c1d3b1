"""Distributed BPE induction (operators/bpe.py) — hand-checkable
semantics on the classic Sennrich et al. (2016) fixture, beyond the
q148/q149 oracle differential:

- the learned merge sequence equals the hand-derived one, including
  the (count DESC, lhs ASC, rhs ASC) tie-breaks;
- exact per-doc token counts under the learned vocab;
- the wrapped-string encoding survives overlapping repeats ("a a a");
- incremental_vocab: two folds ≡ one-shot word_vocab, replay no-ops,
  and merges retrained from the maintained table match global ones.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.bpe import (
    bpe_learn,
    bpe_token_counts,
    incremental_vocab,
    vocab_from_store,
    word_vocab,
)
from efiche_data_pipeline_spark.pipeline.store import Store

# The classic fixture: low×5, lower×2, newest×6, widest×3.
# Hand-derived first merges (with </w>, ties by lex order):
#   it1: (e,s) c=9   (ties (e,s)/(s,t)/(t,</w>) at 9 → 'e' smallest)
#   it2: (es,t) c=9  (tie with (t,</w>) → 'es' < 't')
#   it3: (est,</w>) c=9
#   it4: (l,o) c=7   (tie with (o,w) → 'l' < 'o')
_WORDS = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_bpe_learn_matches_hand_derivation(spark):
    docs = _docs(spark, [" ".join(_WORDS)])
    res = bpe_learn(word_vocab(docs), 4)
    got = [
        (r["it"], r["lhs"], r["rhs"], r["pair_count"], r["new_symbol"])
        for r in res.merges.orderBy("it").collect()
    ]
    assert got == [
        (1, "e", "s", 9, "es"),
        (2, "es", "t", 9, "est"),
        (3, "est", "</w>", 9, "est</w>"),
        (4, "l", "o", 7, "lo"),
    ]
    seqs = {r["word"]: (r["seq"], r["n_symbols"]) for r in res.vocab.collect()}
    assert seqs["newest"] == ("(n)(e)(w)(est</w>)", 4)
    assert seqs["low"] == ("(lo)(w)(</w>)", 3)
    assert seqs["lower"] == ("(lo)(w)(e)(r)(</w>)", 5)
    assert seqs["widest"] == ("(w)(i)(d)(est</w>)", 4)


def test_bpe_token_counts_exact(spark):
    corpus = _docs(spark, [" ".join(_WORDS)])
    res = bpe_learn(word_vocab(corpus), 4)
    score = _docs(spark, ["low lower newest", "widest widest"])
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["tokens_per_word"])
        for r in bpe_token_counts(score, res.vocab).collect()
    }
    # low=3, lower=5, newest=4 → 12 over 3 words; widest=4 ×2 → 8.
    assert got == {0: (3, 12, 4.0), 1: (2, 8, 4.0)}


def test_bpe_overlapping_merge_is_left_to_right(spark):
    """'aaaa' with merge (a,a): greedy left-to-right gives (aa)(aa),
    not (a)(aa)(a) — the literal-replace semantics both engines share."""
    docs = _docs(spark, ["aaaa aaaa aaaa"])
    res = bpe_learn(word_vocab(docs), 1)
    m = res.merges.collect()[0]
    assert (m["lhs"], m["rhs"]) == ("a", "a")
    seq = res.vocab.filter(F.col("word") == "aaaa").collect()[0]
    assert seq["seq"] == "(aa)(aa)(</w>)"


def test_word_vocab_contract(spark):
    docs = _docs(spark, ["foo (bar) baz)qux foo"])
    got = {r["word"]: r["freq"] for r in word_vocab(docs).collect()}
    assert got == {"foo": 2}  # paren-carrying words are excluded


def test_bpe_learn_exhaustion_raises(spark):
    docs = _docs(spark, ["ab"])  # (a)(b)(</w>): only 2 pairs mergeable
    with pytest.raises(RuntimeError, match="exhausted"):
        bpe_learn(word_vocab(docs), 10)


def test_incremental_vocab_maintained_equals_global(spark, tmp_path):
    docs = _docs(spark, ["low lower", "newest widest low", "newest newest"])
    store = Store(spark, str(tmp_path / "vocab"))
    r1 = incremental_vocab(docs.filter(F.col("doc_id") <= 0), store)
    r2 = incremental_vocab(docs.filter(F.col("doc_id") > 0), store)
    assert r1.n_new == 1 and r2.n_new == 2
    got = {r["word"]: r["freq"] for r in vocab_from_store(store).collect()}
    expected = {
        r["word"]: r["freq"] for r in word_vocab(docs).collect()
    }
    assert got == expected
    # replay: no-op, version unchanged
    r3 = incremental_vocab(docs, store)
    assert r3.n_new == 0 and r3.version == r2.version
    # merges retrained from the maintained vocab ≡ trained one-shot
    inc = [
        (r["it"], r["lhs"], r["rhs"])
        for r in bpe_learn(vocab_from_store(store), 3).merges.collect()
    ]
    one = [
        (r["it"], r["lhs"], r["rhs"])
        for r in bpe_learn(word_vocab(docs), 3).merges.collect()
    ]
    assert inc == one


def test_bpe_encode_unseen_words(spark):
    """Deployment property: the merge table applies to words the
    trainer never saw. With merges (e,s),(es,t),(est,</w>),(l,o),
    unseen 'lowest' -> (lo)(w)(est</w>) = 3 symbols; unseen 'zq'
    decomposes to characters = 3 symbols; in-vocab words reproduce
    their training segmentation."""
    from efiche_data_pipeline_spark.operators.bpe import bpe_encode_counts

    corpus = _docs(spark, [" ".join(_WORDS)])
    vocab = word_vocab(corpus)
    res = bpe_learn(vocab, 4)
    score = _docs(spark, ["lowest zq", "low newest"])
    got = {
        r["doc_id"]: (
            r["n_words"],
            r["n_bpe_tokens"],
            r["n_oov_words"],
            r["tokens_per_word"],
        )
        for r in bpe_encode_counts(score, res.merges, vocab).collect()
    }
    # lowest=3 + zq=3 -> 6 tokens, both OOV; low=3 + newest=4 -> 7, 0 OOV
    assert got == {0: (2, 6, 2, 3.0), 1: (2, 7, 0, 3.5)}


def test_bpe_iterations_never_rescan_the_corpus(spark):
    """Scale pin: training touches the corpus ONCE (the vocabulary
    aggregate). The per-iteration state is localCheckpoint-pinned, so
    the final vocab's plan — the accumulated 4 iterations of
    replaces — must contain no parquet scan and no re-aggregation of
    the corpus (no Generate from explode, no HashAggregate over
    words): everything derives from the checkpointed RDD."""
    from efiche_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    res = bpe_learn(word_vocab(docs), 4)
    plan = res.vocab._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert "Generate" not in plan  # the explode ran once, pre-checkpoint


def test_batch_safe_merges_stops_at_aliased_symbol():
    """t+he and th+e both make 'the': after the second, every (the, y)
    pair holds the created sites of BOTH merges, so their sum may
    outrank (a,b) although neither parent does. The batch must end at
    the aliasing merge; likewise at a merge whose symbol a collected
    row already holds."""
    from efiche_data_pipeline_spark.operators.bpe import _batch_safe_merges

    def rows(*triples):
        return [{"l": l, "r": r, "c": c} for l, r, c in triples]

    alias = rows(("t", "he", 9), ("th", "e", 8), ("a", "b", 7), ("he", "x", 2))
    assert _batch_safe_merges(alias, complete=True, budget=10) == [
        ("t", "he", 9),
        ("th", "e", 8),
    ]
    held = rows(("a", "bc", 9), ("x", "y", 8), ("abc", "z", 2))
    assert _batch_safe_merges(held, complete=True, budget=10) == [("a", "bc", 9)]
    plain = rows(("a", "bc", 9), ("x", "y", 8), ("q", "z", 2))
    assert _batch_safe_merges(plain, complete=True, budget=10) == [
        ("a", "bc", 9),
        ("x", "y", 8),
        ("q", "z", 2),
    ]


def test_batched_argmax_equals_sequential(spark):
    """The top-M batched merge extraction (bpe_learn's one-job-many-
    merges round) must be BIT-IDENTICAL to the one-merge-per-job
    sequential loop (batch_top=1 degenerates to it). Planted shapes
    cover the hazards: chained merges (each depends on the previous —
    never batchable), self-merges ((a,a) — created-pair bound must
    stop the batch), count ties broken by lex order, a realistic
    mixed corpus, and a merge whose new symbol already exists."""
    corpora = [
        ([" ".join(_WORDS)], 8),  # chained est-merges + ties
        (["a a a a a b a b b c c d"], 4),  # self-merge + tiny tail
        (
            [
                "the cat sat on the mat",
                "the dog sat on the log",
                "a cat and a dog sat",
                "mat log cat dog the the",
            ],
            10,
        ),
        (["xy xy xy zw zw zw xz wy"], 6),  # disjoint equal-count pairs
        # aliasing: the literal text "</w>" rebuilds END_OF_WORD via
        # <+/w>, so (e,</w>) gains the created sites on top of its own
        # and overtakes (h,e) — the t+he / th+e hazard plain words can
        # reach
        (
            [
                "he</w> he</w> hhe</w> hhe</w> hhe</w> hhe</w> </w>he",
                "tt tt tt tt th th th th",
            ],
            6,
        ),
    ]
    for texts, n in corpora:
        vocab = word_vocab(_docs(spark, texts)).localCheckpoint(eager=True)
        seq = bpe_learn(vocab, n, batch_top=1).merges.orderBy("it").collect()
        bat = bpe_learn(vocab, n, batch_top=64).merges.orderBy("it").collect()
        assert [tuple(r) for r in seq] == [tuple(r) for r in bat], texts
