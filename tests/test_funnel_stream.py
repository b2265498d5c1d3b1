"""Stateful streaming funnel (streaming/funnel.py): the advancement
log streamed over time-sliced micro-batches must equal the batch q74
semantics — earliest view, earliest click ≥ view, earliest purchase ≥
click — including cross-batch advancements (a click whose qualifying
view arrived two batches earlier) and the negative paths (click before
any view does not count; purchase without a prior click does not
count)."""

from __future__ import annotations

import datetime as dt

from efiche_data_pipeline_spark.streaming.funnel import funnel_stream
from efiche_data_pipeline_spark.streaming.incremental import (
    EVENTS_STREAM_SCHEMA,
    stream_events,
)

_T0 = dt.datetime(2024, 1, 1, 9, 0, 0)


def _ev(eid, user, etype, minutes):
    return (eid, user, etype, _T0 + dt.timedelta(minutes=minutes), 1.0, "{}")


def test_funnel_stream_matches_batch_semantics(spark, tmp_path):
    # user 1: full funnel across three batches (view b0, click b1,
    #         purchase b2)
    # user 2: click (b0) BEFORE its view (b1) -> click never counts;
    #         a later click (b2) after the view DOES count
    # user 3: purchase (b1) with no prior click -> never counts
    # user 4: everything in one batch, out of order within the batch
    #         (purchase row listed before click/view; in-batch sort
    #         must fix it)
    batches = [
        [_ev(1, 1, "view", 0), _ev(2, 2, "click", 1), _ev(3, 3, "view", 2)],
        [_ev(4, 1, "click", 10), _ev(5, 2, "view", 11), _ev(6, 3, "purchase", 12)],
        [
            _ev(7, 1, "purchase", 20),
            _ev(8, 2, "click", 21),
            _ev(9, 4, "purchase", 32),
            _ev(10, 4, "click", 31),
            _ev(11, 4, "view", 30),
        ],
    ]
    src = str(tmp_path / "src")
    # EVENTS_STREAM_SCHEMA column order: event_id, user_id, event_type,
    # ts, value, props — matches _ev.
    for b in batches:
        spark.createDataFrame(b, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    rows = []

    def sink(batch, bid):
        rows.extend(
            (r["user_id"], r["stage"], r["stage_ts"]) for r in batch.collect()
        )

    q = (
        funnel_stream(stream_events(spark, src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    got = sorted(rows)
    want = sorted(
        [
            (1, "view", _T0 + dt.timedelta(minutes=0)),
            (1, "click", _T0 + dt.timedelta(minutes=10)),
            (1, "purchase", _T0 + dt.timedelta(minutes=20)),
            (2, "view", _T0 + dt.timedelta(minutes=11)),
            (2, "click", _T0 + dt.timedelta(minutes=21)),
            (3, "view", _T0 + dt.timedelta(minutes=2)),
            (4, "view", _T0 + dt.timedelta(minutes=30)),
            (4, "click", _T0 + dt.timedelta(minutes=31)),
            (4, "purchase", _T0 + dt.timedelta(minutes=32)),
        ]
    )
    assert got == want
    # stage counts are exactly q74's n_view/n_click/n_purchase shape
    from collections import Counter

    counts = Counter(stage for _, stage, _ in got)
    assert counts == {"view": 4, "click": 3, "purchase": 2}


def test_funnel_stream_each_stage_emitted_once(spark, tmp_path):
    # repeated views/clicks/purchases never re-emit a stage
    batches = [
        [_ev(1, 7, "view", 0), _ev(2, 7, "view", 1), _ev(3, 7, "click", 2)],
        [_ev(4, 7, "click", 3), _ev(5, 7, "purchase", 4), _ev(6, 7, "purchase", 5)],
    ]
    src = str(tmp_path / "src")
    for b in batches:
        spark.createDataFrame(b, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    rows = []

    def sink(batch, bid):
        rows.extend((r["user_id"], r["stage"]) for r in batch.collect())

    q = (
        funnel_stream(stream_events(spark, src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == [(7, "click"), (7, "purchase"), (7, "view")]


def test_funnel_stream_restart_emits_nothing_new(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [_ev(1, 9, "view", 0), _ev(2, 9, "click", 1)], EVENTS_STREAM_SCHEMA
    ).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def run():
        rows = []

        def sink(batch, bid):
            rows.extend((r["user_id"], r["stage"]) for r in batch.collect())

        q = (
            funnel_stream(stream_events(spark, src))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        q.awaitTermination()
        return rows

    first = run()
    assert sorted(first) == [(9, "click"), (9, "view")]
    assert run() == []  # checkpoint replay: nothing re-emitted
