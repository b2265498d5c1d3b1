"""Streaming/incremental tests (SURVEY §5.3): N micro-batches ≡ one
batch for the windowed aggregate, foreachBatch sink idempotency across
checkpointed restarts, and the batch high-watermark mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.plans.extensions import q34_events_hourly_window
from efiche_data_pipeline_spark.sources.catalog import load_table
from efiche_data_pipeline_spark.streaming.incremental import (
    batch_consume_increment,
    run_incremental_stream,
)

from .conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """The events fixture split into several parquet files so the file
    stream sees N distinct micro-batches (maxFilesPerTrigger=1)."""
    src = str(tmp_path_factory.mktemp("events_src"))
    events = load_table(spark, SMOKE_SF_DIR, "events")
    # ts is TIMESTAMP_NTZ (sources/catalog.py) and is written back as
    # such — EVENTS_STREAM_SCHEMA reads it NTZ and stream_events
    # relabels to event-time LTZ.
    events.repartition(4).write.mode("overwrite").parquet(src)
    return src


def _batch_expected(spark):
    return q34_events_hourly_window(spark, SMOKE_SF_DIR)


def test_stream_equals_batch(spark, tmp_path, event_files):
    """The full streamed result (4 micro-batches) must equal the batch
    q34 aggregate over the same events — the incremental-completeness
    property, with a watermark wide enough that nothing is late."""
    store = Store(spark, str(tmp_path / "sink"))
    n = run_incremental_stream(
        spark,
        event_files,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="3650 days",
    )
    assert n >= 4  # one per file (+ possible empty finalization batch)
    got = store.read("hourly_event_counts")
    want = _batch_expected(spark)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_restart_is_idempotent(spark, tmp_path, event_files):
    """Running the stream again over the same checkpoint consumes
    nothing new and leaves the sink unchanged (exactly-once-ish)."""
    store = Store(spark, str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")
    run_incremental_stream(
        spark, event_files, store, ckpt, watermark="3650 days"
    )
    before = sorted(map(tuple, store.read("hourly_event_counts").collect()))
    run_incremental_stream(
        spark, event_files, store, ckpt, watermark="3650 days"
    )
    after = sorted(map(tuple, store.read("hourly_event_counts").collect()))
    assert after == before


def test_sliding_stream_equals_batch(spark, tmp_path, event_files):
    """Sliding-window streamed aggregate ≡ the batch q82 sliding
    aggregate over the same events (every event in exactly 2 windows)."""
    from efiche_data_pipeline_spark.plans.extensions import (
        q82_events_sliding_window,
    )
    from efiche_data_pipeline_spark.streaming.incremental import (
        hourly_event_counts,
        stream_events,
    )

    rows: list = []
    agg = hourly_event_counts(
        stream_events(spark, event_files), watermark="3650 days", slide="30 minutes"
    )

    def sink(batch, batch_id):
        rows.extend(map(tuple, batch.collect()))

    q = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    # complete mode: the LAST batch carries the full result
    want = sorted(
        map(
            tuple,
            q82_events_sliding_window(spark, SMOKE_SF_DIR)
            .withColumnRenamed("win_start", "hour_start")
            .collect(),
        )
    )
    # keep only the final emission per (hour_start, event_type)
    final: dict = {}
    for r in rows:
        final[(r[0], r[1])] = r
    assert sorted(final.values()) == want


def test_batch_high_watermark_mode(spark, tmp_path):
    store = Store(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.overwrite(df1, "events_src")

    seen: list[list[int]] = []

    def process(batch):
        seen.append(sorted(r.id for r in batch.collect()))

    assert batch_consume_increment(store, "events_src", "ts", process) == 2
    # nothing new -> no consumption, process not called
    assert batch_consume_increment(store, "events_src", "ts", process) == 0
    assert seen == [[1, 2]]

    # append newer + older-than-watermark rows: only the newer one flows
    df2 = spark.createDataFrame(
        [(3, "2024-01-01 12:00:00"), (4, "2024-01-01 09:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.append(df2, "events_src")
    assert batch_consume_increment(store, "events_src", "ts", process) == 1
    assert seen == [[1, 2], [3]]


def test_ohlc_stream_equals_batch(spark, tmp_path, event_files):
    """OHLC bars streamed over 4 micro-batches ≡ the batch q98 bars —
    min_by/max_by picks must be arrival-order independent."""
    from efiche_data_pipeline_spark.plans.corpus import q98_ohlc_bars
    from efiche_data_pipeline_spark.streaming.incremental import (
        ohlc_bars_stream,
        stream_events,
    )

    rows = {}

    def sink(batch, bid):
        for r in batch.collect():
            rows[(r["bar_start"], r["event_type"])] = (
                r["open"], r["high"], r["low"], r["close"],
                r["n_events"], r["volume"],
            )

    agg = ohlc_bars_stream(
        stream_events(spark, event_files), watermark="3650 days"
    )
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    want = {
        (r["bar_start"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_events"], r["volume"],
        )
        for r in q98_ohlc_bars(spark, SMOKE_SF_DIR).collect()
    }
    assert rows == want
