"""Late-data accounting for watermarked streaming aggregates.

A watermark is a CONTRACT: rows with event time older than
``max(event time seen) - delay`` MAY be dropped from stateful
operators. Production pipelines must surface that drop count — it is
the difference between "the stream converged" and "the stream
converged because it threw the stragglers away".

Mode matters, and this module is deliberately APPEND-mode:

- In **update** mode Spark's late handling is best-effort by spec
  ("data delayed beyond the watermark may or may not be aggregated").
  Verified empirically on this engine (Spark 4.1.2): a row arriving
  hours behind the watermark was happily merged into its old window
  and ``numRowsDroppedByWatermark`` stayed 0 — update mode CANNOT
  account for late data.
- In **append** mode a window is emitted exactly once, when the
  *eviction* watermark passes its end, and late rows aimed behind the
  watermark are dropped AND counted in
  ``StateOperatorProgress.numRowsDroppedByWatermark``.

Two measured fine points of the drop counter (pinned by
tests/test_late_accounting.py so a Spark upgrade that shifts them
fails loudly):

- **One-batch lag.** The late-row filter compares against the
  PREVIOUS batch's eviction watermark (Spark's
  ``watermarkForLateEvents``), so a straggler arriving in the very
  batch that finalizes its window is still absorbed; only rows
  arriving a batch later are dropped. Guarantee direction is
  conservative — Spark never drops on-time data, it may only under-
  drop (and under-count) stragglers by one batch.
- **Operator-level counting.** The counter increments per
  (window × key) PARTIAL row reaching the state operator, not per raw
  event — two late events in the same window count once. It is an
  alerting signal ("late data exists on this stream"), not an exact
  event tally; pair it with the on-time row counts for rates.

The trade is append's finalization lag: windows still open when the
source drains are NOT emitted this run — they finalize on the next
incremental run once later events advance the watermark (the sink
merge is keyed, so re-runs converge). That is the correct semantics
for an accounting pipeline: emitted rows are immutable and the report
is exact.

Scale note: the accounting is pure metadata (one progress event per
micro-batch, accumulated by a StreamingQueryListener as it is posted
— NOT read post-hoc from ``recentProgress``, whose ring buffer caps
at ``spark.sql.streaming.numRecentProgressUpdates`` and would
silently undercount any backlog longer than the cap) — zero cost on
the data path.

Reference analogue: none (the reference's batch ETL re-reads anything
late on the next run — etl_pipeline.py:125-132's processed flag; in a
streaming engine the watermark replaces the flag and this report
replaces the silent re-read).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..pipeline.store import Store
from .driver import run_fold_stream
from .incremental import hourly_event_counts, stream_events


class _DropCountListener(StreamingQueryListener):
    """Accumulates ``numRowsDroppedByWatermark`` per (query, batch) AS
    progress events are posted.

    Why a listener and not ``q.recentProgress`` after termination:
    recentProgress is a ring buffer capped at
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100).
    With one file per micro-batch a backlog of more files than the cap
    silently evicts the earliest batches' progress — and their drop
    counts — which would make the "exact accounting" promise of this
    module quietly false on exactly the runs (big backlogs) where late
    data is most likely. The listener sees every progress event
    regardless of buffer size; keyed by (query id, batch id) so
    redeliveries and foreign queries can't double-count.
    """

    def __init__(self) -> None:
        self.drops: dict[tuple[str, int], int] = {}

    def onQueryStarted(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        total = 0
        for sop in p.stateOperators or []:
            total += int(sop.numRowsDroppedByWatermark or 0)
        self.drops[(str(p.id), int(p.batchId))] = total

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - no-op
        pass


@dataclass(frozen=True)
class LateReport:
    n_batches: int
    n_dropped_late: int
    watermark: str


def run_with_late_accounting(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    table: str = "hourly_event_counts_final",
    watermark: str = "30 minutes",
) -> LateReport:
    """availableNow consumption of ``source_dir``: FINALIZED windows
    are appended into the keyed merge sink, and every too-late row the
    watermark rejected is counted in the returned report."""
    agg = hourly_event_counts(stream_events(spark, source_dir), watermark)

    def merge(batch: DataFrame, batch_id: int) -> None:
        # The keyed merge runs >1 action over `batch`; without a
        # persist each action RE-EXECUTES the stateful micro-batch
        # plan, double-counting numRowsDroppedByWatermark (observed:
        # 2 late rows reported as 4). Pin the batch for the sink's
        # lifetime so the state operator runs exactly once.
        batch.persist()
        try:
            store.merge_upsert(batch, table, keys=["hour_start", "event_type"])
        finally:
            batch.unpersist()

    listener = _DropCountListener()
    spark.streams.addListener(listener)
    try:
        n_batches, q = run_fold_stream(agg, checkpoint_dir, merge)
        # Per-batch drop counts, from TWO sources united by batch id:
        # recentProgress is updated synchronously per trigger but is a
        # ring buffer (may have evicted early batches of a long
        # backlog); the listener sees every batch but is delivered
        # asynchronously (the very last event can still be in flight
        # right after awaitTermination). recentProgress wins where
        # both have a batch; the listener fills the evicted prefix.
        per_batch: dict[int, int] = {}
        qid = str(q.id)
        for (lid, bid), d in listener.drops.items():
            if lid == qid:
                per_batch[bid] = d
        for progress in q.recentProgress:
            total = 0
            for sop in progress.get("stateOperators") or []:
                total += int(sop.get("numRowsDroppedByWatermark") or 0)
            per_batch[int(progress.get("batchId"))] = total
    finally:
        spark.streams.removeListener(listener)
    return LateReport(
        n_batches=n_batches,
        n_dropped_late=sum(per_batch.values()),
        watermark=watermark,
    )
