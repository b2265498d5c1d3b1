"""Stream-stream interval join (streaming/joins.py): the streamed
self-join over N micro-batches must equal the identical batch join —
including pairs whose two sides arrive in DIFFERENT micro-batches,
which is what the cross-batch state buffering exists for."""

from __future__ import annotations

import pytest

from efiche_data_pipeline_spark.sources.catalog import load_table
from efiche_data_pipeline_spark.streaming.incremental import stream_events
from efiche_data_pipeline_spark.streaming.joins import purchase_click_attribution

from .conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("events_join_src"))
    events = load_table(spark, SMOKE_SF_DIR, "events")
    # TIMESTAMP_NTZ parquet, 4 files -> 4 micro-batches; repartition
    # by round-robin so purchase/click pairs split across batches.
    events.repartition(4).write.mode("overwrite").parquet(src)
    return src


def _collect_stream(spark, source, tmp_path):
    rows: list[tuple] = []
    stream = purchase_click_attribution(
        stream_events(spark, source),
        max_gap="30 minutes",
        watermark="3650 days",
    )

    def sink(batch, batch_id):
        rows.extend(map(tuple, batch.collect()))

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    return sorted(rows)


def test_stream_join_equals_batch_join(spark, tmp_path, event_files):
    got = _collect_stream(spark, event_files, tmp_path)

    batch_events = load_table(spark, SMOKE_SF_DIR, "events")
    want = sorted(
        map(
            tuple,
            purchase_click_attribution(
                batch_events, max_gap="30 minutes", watermark="3650 days"
            ).collect(),
        )
    )
    assert len(want) > 0  # fixture must actually exercise the join
    assert got == want

    # every pair respects the interval bound
    for _, _, ts, _, click_ts, gap in want:
        assert 0 <= gap <= 30 * 60
        assert click_ts <= ts
