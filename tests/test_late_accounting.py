"""Late-data accounting (streaming/late.py): planted late rows must be
(a) excluded from the finalized aggregate per the append-mode
watermark contract and (b) COUNTED — the report's n_dropped_late is
the alerting signal. The batch layout pins Spark 4.1.2's measured
fine points (one-batch filter lag; operator-level counting — see the
module docstring): if a Spark upgrade shifts either, these asserts
fail loudly.

Files (maxFilesPerTrigger=1, created in order → one micro-batch each):
  f1: 4 events at 10:00-10:30    -> on time
  f2: 3 events at 20:00          -> eviction watermark 19:30 after
                                    this batch commits
  f3: 1 spacer event at 20:30    -> its batch runs with eviction
                                    watermark 19:30: finalizes the
                                    10:00 window (n=4)
  f4: 2 late events, one in the 09:00 window and one in the 10:00
      window                     -> filter watermark is now 19:30
                                    (one-batch lag satisfied): both
                                    partial rows dropped and counted
"""

from __future__ import annotations

import datetime as dt

from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.late import run_with_late_accounting

_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def _rows(start_id, times, etype="view"):
    return [(start_id + i, t, 1, etype, 1.0, "{}") for i, t in enumerate(times)]


def _write(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(
        src
    )


def test_late_rows_dropped_counted_and_window_finalized(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "src")
    _write(
        spark, src, _rows(0, [t0 + dt.timedelta(minutes=m) for m in (0, 10, 20, 30)])
    )
    _write(spark, src, _rows(10, [dt.datetime(2024, 1, 1, 20, 0, 0)] * 3))
    _write(spark, src, _rows(20, [dt.datetime(2024, 1, 1, 20, 30, 0)]))
    _write(
        spark,
        src,
        _rows(
            30,
            [dt.datetime(2024, 1, 1, 9, 5, 0), dt.datetime(2024, 1, 1, 10, 5, 0)],
        ),
    )
    store = Store(spark, str(tmp_path / "sink"))
    report = run_with_late_accounting(
        spark,
        src,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="30 minutes",
    )
    assert report.n_batches >= 4
    # two late events in two distinct windows -> two dropped state rows
    assert report.n_dropped_late == 2
    got = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in store.read("hourly_event_counts_final").collect()
    }
    # Exactly the finalized 10:00 window with ONLY the on-time rows;
    # the 20:00 window is still open (append lag) and absent.
    assert got == {("2024-01-01 10:00:00", "view"): 4}


def test_open_window_finalizes_on_next_run_with_zero_drops(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "src")
    _write(spark, src, _rows(0, [t0 + dt.timedelta(minutes=m) for m in (0, 5, 10)]))
    store = Store(spark, str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")
    r1 = run_with_late_accounting(
        spark, src, store, checkpoint_dir=ckpt, watermark="30 minutes"
    )
    assert r1.n_dropped_late == 0
    # a later file advances the watermark past 11:00 on the SECOND run,
    # finalizing the 10:00 window exactly once
    _write(spark, src, _rows(10, [dt.datetime(2024, 1, 1, 12, 0, 0)] * 2))
    r2 = run_with_late_accounting(
        spark, src, store, checkpoint_dir=ckpt, watermark="30 minutes"
    )
    assert r2.n_dropped_late == 0
    got = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in store.read("hourly_event_counts_final").collect()
    }
    assert got == {("2024-01-01 10:00:00", "view"): 3}


def test_drop_count_survives_recent_progress_ring_buffer(spark, tmp_path):
    """recentProgress is a ring buffer capped at
    spark.sql.streaming.numRecentProgressUpdates (default 100): a
    backlog of more files than the cap evicts the earliest batches'
    numRowsDroppedByWatermark. The listener-based accounting must
    still count drops that happen in those evicted batches — pinned
    here by shrinking the cap to 2 and planting the late rows in the
    FIRST post-watermark batch of a 6-batch backlog."""
    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    _write(spark, src, _rows(0, [t0 + dt.timedelta(minutes=m) for m in (0, 10)]))
    _write(spark, src, _rows(10, [dt.datetime(2024, 1, 1, 20, 0, 0)] * 2))
    _write(spark, src, _rows(20, [dt.datetime(2024, 1, 1, 20, 30, 0)]))
    # batch 4: two late rows in two windows -> dropped AND counted here
    _write(
        spark,
        src,
        _rows(
            30,
            [dt.datetime(2024, 1, 1, 9, 5, 0), dt.datetime(2024, 1, 1, 10, 5, 0)],
        ),
    )
    # two more on-time batches push the drop batch out of a cap-2 buffer
    _write(spark, src, _rows(40, [dt.datetime(2024, 1, 1, 21, 0, 0)]))
    _write(spark, src, _rows(50, [dt.datetime(2024, 1, 1, 21, 30, 0)]))
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        report = run_with_late_accounting(
            spark,
            src,
            Store(spark, str(tmp_path / "sink")),
            checkpoint_dir=str(tmp_path / "ckpt"),
            watermark="30 minutes",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert report.n_batches >= 6
    assert report.n_dropped_late == 2
