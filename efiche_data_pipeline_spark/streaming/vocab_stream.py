"""Streaming BPE-vocabulary intake: the live q150 — the tokenizer's
(word, freq) training input folds file-by-file as the corpus arrives,
so a retrain is always a vocab-bounded merge loop away and the corpus
is never re-tokenized for it.

Per micro-batch: ONE pre-commit validation, then two commits in
pinned order (the savings_stream protocol):

0. **Guard BEFORE any commit**: ids at-or-below the vocab watermark
   that are absent from the docs sink mean an earlier file carried
   higher ids — raise with ZERO state committed, so retries never
   see a partial layer.
1. **Docs sink FIRST** (``append_new`` keyed on the id): idempotent,
   so a crash after it replays to a no-op — and because crash-replay
   ids are then PRESENT in the sink, the guard never false-alarms on
   restart.
2. **Vocab fold LAST** (`incremental_vocab`): the batch's word counts
   appended as ONE atomic +delta layer whose rows carry the replay
   watermark — the q140 single-commit protocol, NO crash window.

The merge loop itself runs ON DEMAND, not per batch: training is a
pure function of the maintained count table (associative sums ⇒
maintained ≡ one-shot over everything seen — the q150 argument), so
the report retrains once at the end and charges every document seen
its exact token count under that vocabulary. A production deployment
would trigger the retrain on a schedule or a drift gate (the q120
lifecycle shape), not per micro-batch — 12 merge iterations per file
would be pure waste.

Scale: per batch, one token pass over the batch only (history text is
never re-read); the vocab state is aggregate-bounded (true vocabulary
size, not corpus size).

Reference analogue: none — beyond-reference production tier, same
family as streaming/lm_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import (
    BpeResult,
    bpe_learn,
    bpe_token_counts,
    incremental_vocab,
    vocab_from_store,
)
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream


@dataclass(frozen=True)
class VocabStreamReport:
    n_batches: int
    n_docs_folded: int
    n_docs_seen: int
    # retrained on the maintained vocab (None before any document)
    bpe: BpeResult | None
    # exact per-doc counts for everything seen, under that vocab
    token_counts: DataFrame | None


def run_vocab_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    vocab_table: str = "bpe_vocab",
    docs_table: str = "bpe_docs",
) -> VocabStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned report reflects every file seen
    across all runs of this checkpoint."""
    totals = {"folded": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select(id_col, text_col).localCheckpoint(eager=True)
        # Enforce incremental_vocab's monotone-id contract BEFORE any
        # commit, where violations actually enter (file discovery
        # order is not id order): an id at-or-below the vocab
        # watermark that is NOT in the docs sink means an earlier file
        # carried higher ids — its words would never enter the vocab.
        # Raising here commits NOTHING, so a genuine violation leaves
        # zero partial state; a crash-replay (ids present in the sink,
        # committed below before the vocab) never false-alarms.
        if store.current_version(vocab_table) is not None and store.exists(
            docs_table
        ):
            wm = (
                store.read_union(vocab_table)
                .agg(F.max("batch_max_id"))
                .first()[0]
            )
            n_unseen = store.unseen(
                docs.filter(F.col(id_col) <= wm), docs_table, id_col
            ).count()
            if n_unseen > 0:
                raise ValueError(
                    f"monotone-{id_col} contract violated: batch "
                    f"{batch_id} carries never-seen ids at or below "
                    f"the vocab watermark {wm} — an earlier file "
                    "carried higher ids. Feed files in id order."
                )
        # Docs sink FIRST (idempotent), vocab delta LAST: the only
        # crash window (between the two) replays with the ids present
        # in the sink and still above the vocab watermark, so the
        # retry folds them exactly once and the guard stays quiet.
        store.append_new(docs, docs_table, id_col)
        r = incremental_vocab(
            docs, store, id_col=id_col, text_col=text_col, vocab_table=vocab_table
        )
        totals["folded"] += r.n_new

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    if not store.exists(docs_table):
        return VocabStreamReport(n_batches, totals["folded"], 0, None, None)
    seen = store.read(docs_table)
    res = bpe_learn(vocab_from_store(store, vocab_table), n_merges)
    return VocabStreamReport(
        n_batches=n_batches,
        n_docs_folded=totals["folded"],
        n_docs_seen=seen.count(),
        bpe=res,
        token_counts=bpe_token_counts(seen, res.vocab, id_col, text_col),
    )
