"""Structured Streaming / incremental processing.

Every ``run_*`` fold driver reads its source through
:func:`.driver.file_stream` (one parquet file per micro-batch) and is
driven to completion by :func:`.driver.run_fold_stream`
(``availableNow`` + ``foreachBatch``)."""

from .curation import curated_stream, stream_documents
from .dedup_stream import run_incremental_dedup_stream
from .drift import run_drift_monitor
from .funnel import funnel_stream
from .incremental import (
    batch_consume_increment,
    deduped_event_stream,
    hourly_event_counts,
    run_incremental_stream,
    stream_events,
)
from .joins import (
    purchase_click_attribution,
    stream_interval_join,
)
from .late import run_with_late_accounting
from .sessions import (
    run_session_stream,
    sessionize_batch,
    sessionize_stream,
)

__all__ = [
    "batch_consume_increment",
    "curated_stream",
    "deduped_event_stream",
    "funnel_stream",
    "hourly_event_counts",
    "purchase_click_attribution",
    "run_drift_monitor",
    "run_incremental_dedup_stream",
    "run_incremental_stream",
    "run_session_stream",
    "run_with_late_accounting",
    "sessionize_batch",
    "sessionize_stream",
    "stream_documents",
    "stream_events",
    "stream_interval_join",
]
