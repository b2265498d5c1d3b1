"""Streaming dedup-savings dashboard: the live q166 — the per-source
exact-dedup cost-benefit sheet stays current file-by-file as the
corpus arrives, without ever rescanning history text.

Per micro-batch, two commits via operators/sketch.py:
incremental_dedup_savings — the append-only fp-keyed keeper index
FIRST (idempotent under replay), the per-source before-sums delta
carrying the replay watermark LAST — so every crash window between
them replays to convergence. The derived report equals the one-shot
global q165 over everything seen (first-arrival ≡ global-min keeper
under monotone ids + sum associativity).

Reference analogue: none — beyond-reference production tier, same
family as streaming/vocab_stream.py / mixture_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import dedup_savings_result, incremental_dedup_savings
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream


@dataclass(frozen=True)
class SavingsStreamReport:
    n_batches: int
    n_docs_folded: int
    # q165-shaped per-source report over everything seen (None pre-data)
    report: DataFrame | None


def run_savings_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> SavingsStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned report reflects every file seen
    across all runs of this checkpoint."""
    totals = {"folded": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        ids = batch.select(id_col).distinct().localCheckpoint(eager=True)
        # Enforce the fold's monotone-id contract HERE, where
        # violations enter (file discovery order is mtime order, not
        # id order): an id at-or-below the sums watermark that is NOT
        # in the ids sink means an earlier file carried higher ids —
        # its docs would be silently dropped from the report. The ids
        # sink commits BEFORE the operator, so a crash-replay (ids
        # present) never false-alarms.
        if store.current_version("savings_sums") is not None and store.exists(
            "savings_ids"
        ):
            wm = (
                store.read_union("savings_sums")
                .agg(F.max("batch_max_id"))
                .first()[0]
            )
            unseen_low = store.unseen(
                ids.filter(F.col(id_col) <= wm), "savings_ids", id_col
            )
            if unseen_low.count() > 0:
                raise ValueError(
                    f"monotone-{id_col} contract violated: batch "
                    f"{batch_id} carries never-seen ids at or below the "
                    f"sums watermark {wm} — an earlier file carried "
                    "higher ids. Feed files in id order."
                )
        store.append_new(ids, "savings_ids", id_col)
        # no outer checkpoint: the operator pins its own watermark-
        # filtered batch, and this frame has exactly one consumer
        totals["folded"] += incremental_dedup_savings(
            batch,
            store,
            id_col=id_col,
            source_col=source_col,
            text_col=text_col,
        )

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    # the sums table is LAYERED (append_version), so presence is a
    # committed version, not a plain _SUCCESS marker
    if store.current_version("savings_sums") is None:
        return SavingsStreamReport(n_batches, totals["folded"], None)
    return SavingsStreamReport(
        n_batches=n_batches,
        n_docs_folded=totals["folded"],
        report=dedup_savings_result(store),
    )
