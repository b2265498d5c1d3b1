"""Structured Streaming twin of the incremental batch pipeline
(SURVEY §2.11) — what the reference's ``processed``-flag micro-batch
loop (reference: etl_pipeline.py:125-132,184-188) becomes when the
staging table is treated as what it actually is: a bounded stream.

Three pieces:

- :func:`stream_events` / :func:`hourly_event_counts` — file-source
  ``readStream`` + ``withWatermark`` + tumbling ``F.window`` aggregate,
  the streaming twin of the batch q34 (plans/extensions.py). The
  watermark bounds aggregation state (late rows beyond it are dropped
  and their windows finalized) — the scale lever that keeps state
  finite on an unbounded stream.
- :func:`run_incremental_stream` — drives the aggregate through
  ``foreachBatch`` into an idempotent keyed parquet sink under
  ``availableNow``, one file per micro-batch: each micro-batch merges
  (delete-by-key + insert) into the target, so replaying a batch after
  a failure converges to the same table — the exactly-once-ish story
  the reference approximates with ON CONFLICT + processed flags
  (K4's streaming form).
- :func:`batch_consume_increment` — the batch high-watermark mode
  (S5/P8): consume only rows newer than the stored watermark, then
  advance it; the checkpoint-free fallback when a scheduler (not a
  streaming runtime) drives the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import money_sum
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream

EVENTS_STREAM_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp_ntz,"
    " value double, props string"
)


def ensure_event_time(df: DataFrame, col: str) -> DataFrame:
    """Make ``col`` usable as a Spark event-time column.

    The fixture/catalog surface keeps timestamps as TIMESTAMP_NTZ
    (timezone-naive, matching the DuckDB oracle — sources/catalog.py),
    but ``withWatermark`` requires TIMESTAMP (LTZ):
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on Spark 4.1. Interpret the
    naive value as UTC — an exact micros-preserving relabel, not a
    clock shift — and leave LTZ/other types untouched.

    The relabel is ``timestamp_micros(timestampdiff(MICROSECOND,
    ntz_epoch, col))``: timestampdiff between two NTZ values is pure
    calendar arithmetic and timestamp_micros builds the LTZ instant
    directly, so the result is identical under ANY session timezone.
    (``to_utc_timestamp(ntz, 'UTC')`` is NOT that: it first implicitly
    casts NTZ→LTZ through spark.sql.session.timeZone, shifting event
    times by the session offset on non-UTC sessions — e.g. +4 h under
    America/New_York — which moves windows and watermark cutoffs.)"""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        df = df.withColumn(
            col,
            F.expr(
                "timestamp_micros(timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`))"
            ),
        )
    return df


def stream_events(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over event parquet files, one file per
    micro-batch (:func:`~.driver.file_stream`). ``ts`` arrives as
    TIMESTAMP_NTZ (parquet TIMESTAMP with or without UTC adjustment)
    and is relabelled to event-time LTZ via :func:`ensure_event_time`."""
    return ensure_event_time(
        file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA), "ts"
    )


def hourly_event_counts(
    events: DataFrame, watermark: str = "2 hours", slide: str | None = None
) -> DataFrame:
    """Tumbling (default) or sliding (``slide`` < window) 1-hour window
    per event_type — identical result columns to the batch twins q34 /
    q82 (plans/extensions.py), so the batch≡stream equivalences are
    frame comparisons. Sliding windows multiply state by
    window/slide overlapping entries per key; the watermark bounds it
    identically either way."""
    events = ensure_event_time(events, "ts")
    win = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_incremental_stream(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    table: str = "hourly_event_counts",
    watermark: str = "2 hours",
) -> int:
    """Consume all currently-available files as a sequence of
    micro-batches (``availableNow``) and merge each windowed-aggregate
    update into ``table``. Returns the number of micro-batches run.

    The sink is idempotent per key (hour_start, event_type): updated
    windows replace their previous rows (delete+insert keyed merge), so
    batch replays converge instead of double-counting — this plus the
    checkpoint is the exactly-once-ish contract."""
    agg = hourly_event_counts(stream_events(spark, source_dir), watermark)

    def merge(batch: DataFrame, batch_id: int) -> None:
        # merge_upsert runs >1 action over `batch`; persist so the
        # stateful micro-batch plan executes once per batch instead of
        # once per action (same lever as streaming/late.py).
        batch.persist()
        try:
            store.merge_upsert(batch, table, keys=["hour_start", "event_type"])
        finally:
            batch.unpersist()

    n_batches, _ = run_fold_stream(
        agg, checkpoint_dir, merge, output_mode="update"
    )
    return n_batches


def deduped_event_stream(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once-ish dedup: drop rows whose ``key_cols``
    were already seen within the watermark —
    ``dropDuplicatesWithinWatermark`` keys the state store and expires
    it as event time advances, so dedup state stays bounded on an
    unbounded stream. The streaming twin of the reference's
    ``ON CONFLICT (image_id) DO NOTHING`` (etl_pipeline.py:97)."""
    events = ensure_event_time(events, "ts")
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


def batch_consume_increment(
    store: Store,
    source_table: str,
    ts_col: str,
    process,
    watermark_table: str | None = None,
) -> int:
    """Batch high-watermark incremental consumption (S5/P8): rows with
    ``ts_col`` strictly above the stored watermark are handed to
    ``process(batch)``; the watermark advances only AFTER ``process``
    returns — at-least-once, so a failed run is simply re-run (the
    reference's per-row ``processed`` UPDATE, etl_pipeline.py:184-188,
    collapses to one tiny watermark-table overwrite instead of
    rewriting a 100 TB source). Returns the number of rows consumed."""
    wt = watermark_table or f"{source_table}_watermark"
    src = store.read(source_table)
    had_wt = store.exists(wt)
    if had_wt:
        hi = store.read(wt)
        batch = src.join(
            F.broadcast(hi), src[ts_col] > hi["hi_" + ts_col], "left_semi"
        )
    else:
        batch = src
    n = batch.count()
    if n == 0:
        return 0
    process(batch)
    new_hi = batch.agg(F.max(ts_col).alias("hi_" + ts_col))
    if had_wt:
        new_hi = new_hi.unionByName(store.read(wt)).agg(
            F.max("hi_" + ts_col).alias("hi_" + ts_col)
        )
    # Decouple from the watermark files being overwritten mid-plan.
    new_hi = new_hi.localCheckpoint(eager=True)
    store.overwrite(new_hi, wt)
    return n


def ohlc_bars_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of plans/corpus.py:q98_ohlc_bars — 15-minute
    open/high/low/close bars per event type. min_by/max_by with the
    (ts, event_id) struct key are ordinary aggregate functions, so the
    same total-order pick runs incrementally under watermark-bounded
    state; the batch≡stream test proves the bar values are
    arrival-order independent."""
    events = ensure_event_time(events, "ts")
    key = F.struct("ts", "event_id")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("volume"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_start"
            ),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )
