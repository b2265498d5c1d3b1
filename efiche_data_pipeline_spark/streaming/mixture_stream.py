"""Streaming temperature-mixture intake: the live q156 — the
α-sampling bookkeeping (the 32-byte per-doc (id, source, n_tokens,
order-hash) projection) folds file-by-file as the corpus arrives, so
the CURRENT mixture selection is always one derive-at-read away and
the corpus is never re-tokenized for it.

Per micro-batch, ONE commit: the fresh docs' stats rows, id-keyed
idempotent append (the table is its own watermark — no crash window).
The selection itself is NOT maintained, deliberately: every fold moves
the global source masses, so the kept set is non-monotone (the q156
argument) — it derives from the state on demand, and equals the
one-shot q154 selection over everything seen.

Reference analogue: none — beyond-reference production tier, same
family as streaming/vocab_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import (
    incremental_temperature_mixture,
    temperature_mixture_result,
)
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream


@dataclass(frozen=True)
class MixtureStreamReport:
    n_batches: int
    n_docs_seen: int
    # the q154-shaped selection over everything seen (None pre-data)
    selection: DataFrame | None


def run_mixture_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    total_budget: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    stats_table: str = "mixture_doc_stats",
) -> MixtureStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned selection reflects every file seen
    across all runs of this checkpoint."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        incremental_temperature_mixture(
            batch.localCheckpoint(eager=True),
            store,
            total_budget,
            id_col=id_col,
            source_col=source_col,
            text_col=text_col,
            stats_table=stats_table,
        )

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    if not store.exists(stats_table):
        return MixtureStreamReport(n_batches, 0, None)
    return MixtureStreamReport(
        n_batches=n_batches,
        n_docs_seen=store.read(stats_table).count(),
        selection=temperature_mixture_result(store, total_budget, stats_table=stats_table),
    )
