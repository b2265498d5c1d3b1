"""Streaming twin of the incremental embedding dedup
(operators/similarity.py:incremental_embedding_dedup): embedding
batches arrive as a parquet file stream and every micro-batch is
near-dup-deduped against the ever-growing cell-partitioned vector
index under frozen centroids — the continuously-fed SemDeDup intake
(new embedding drops land hourly; each is deduped against ALL history
without rescanning history vectors outside the probed cells).

Exactly-once across failures by WRITE ORDER, exactly the
dedup_stream.py discipline:

1. compute the batch's kept set and prospective index delta
   (``commit=False`` — nothing persisted yet),
2. append kept ids into the sink via the keyed ``append_new``,
3. append the home-cell index delta LAST (id-keyed, so a replay after
   any crash converges: retry before (3) recomputes the SAME
   deterministic kept set — frozen centroids, id-pure rules — finds
   the sink rows already present (no-op) and commits the index; retry
   after (3) is the operator's own replay path, keeping nothing).

The stream≡batch invariant — union of per-batch kept sets ≡ one
global dominated-rule pass over all files — holds under monotone
vec_ids (the operator's docstring argument) and is pinned by
tests/test_embedding_stream.py, including across a checkpoint restart.

Reference analogue: the dormant pgvector VECTOR(768) column
(reference: sql/01_schema.sql:95) under the incremental consumption
contract (reference: etl_pipeline.py:125-132), as a Structured
Streaming foreachBatch over the cell store.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import incremental_embedding_dedup
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream

VECS_STREAM_SCHEMA = "vec_id long, embedding array<double>"


@dataclass(frozen=True)
class StreamEmbeddingDedupReport:
    """Per-PROCESS batch tallies plus store-derived cumulative truth
    (``n_kept_total``, ``n_indexed_total``) — same honesty contract as
    streaming/dedup_stream.py:StreamDedupReport."""

    n_batches: int
    n_new: int
    n_dropped: int
    n_kept_total: int
    n_indexed_total: int


def run_incremental_embedding_stream(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    centroids: DataFrame | None = None,
    kept_table: str = "embdedup_kept_vecs",
    index_table: str = "semdedup_cells",
    centroid_table: str = "ivf_centroids",
    tau: float = 0.9,
    nprobe: int = 4,
) -> StreamEmbeddingDedupReport:
    """availableNow consumption of parquet vector files under
    ``source_dir``: each micro-batch is deduped against the persisted
    cell index and within itself; survivors land in ``kept_table``
    (id-keyed, replay-safe) and the home-cell delta is appended LAST.
    Pass ``centroids`` to pin the frozen centroids on the very first
    productive batch (later batches reuse the committed version).

    No auto-compaction knob here: the cell index is a PLAIN
    cell-partitioned table maintained by keyed appends (per-batch file
    counts grow within partition directories; run
    ``store.compact``/``overwrite_sorted`` as out-of-band maintenance
    when file counts warrant — the q104/q110 read path prunes to
    probed cell DIRECTORIES either way)."""
    totals = {"new": 0, "dropped": 0}

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        res = incremental_embedding_dedup(
            batch.select("vec_id", "embedding"),
            store,
            centroids=centroids,
            index_table=index_table,
            centroid_table=centroid_table,
            tau=tau,
            nprobe=nprobe,
            commit=False,
        )
        if res.n_new == 0:
            return  # replayed batch: sink and index already converged
        store.append_new(res.kept.select("vec_id"), kept_table, key="vec_id")
        store.append_new(
            res.index_delta, index_table, key="vec_id", partition_by=["cell_id"]
        )
        totals["new"] += res.n_new
        totals["dropped"] += res.n_dup_vs_history + res.n_dup_within

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, VECS_STREAM_SCHEMA),
        checkpoint_dir,
        dedup_batch,
    )
    return StreamEmbeddingDedupReport(
        n_batches=n_batches,
        n_new=totals["new"],
        n_dropped=totals["dropped"],
        n_kept_total=store.count(kept_table),
        n_indexed_total=store.count(index_table),
    )
