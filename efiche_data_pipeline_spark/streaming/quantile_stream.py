"""Streaming quantile dashboard: fold every micro-batch of rows into
the persisted per-group hash-sample (operators/sketch.py:
incremental_quantiles) — the live form of the q118 dashboard, for a
metrics intake whose percentiles must stay current file-by-file.

Replay safety comes free from the fold itself: the merge is
set-union + bottom-k (idempotent — re-folding a replayed batch
changes nothing) and each fold is ONE atomic ``write_version`` commit,
so there is no multi-commit crash window at all. The stream ≡ one
global fold by the same bottom-k closure q118's oracle replays.

Reference analogue: none — beyond-reference production tier, same
family as streaming/drift.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import incremental_quantiles, sample_quantiles
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream


@dataclass(frozen=True)
class QuantileStreamReport:
    n_batches: int
    # per-group quantiles after the run; None when the stream has
    # never consumed a row (fresh store, empty source)
    estimates: DataFrame | None


def run_quantile_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 256,
    table: str = "quantile_sample",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> QuantileStreamReport:
    """availableNow consumption of parquet files under ``source_dir``
    (``schema`` describes them): each micro-batch folds into the
    persisted sample; the returned estimates reflect every file seen
    across all runs of this checkpoint."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        incremental_quantiles(
            batch, store, group_cols, key_col, value_col,
            k=k, table=table, quantiles=quantiles,
        )

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    if store.current_version(table) is None:
        return QuantileStreamReport(n_batches, None)
    return QuantileStreamReport(
        n_batches=n_batches,
        estimates=sample_quantiles(
            store.read_version(table), group_cols, quantiles
        ),
    )
