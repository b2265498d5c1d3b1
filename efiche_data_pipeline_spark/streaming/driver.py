"""The one stream driver: how a file stream is read and driven to
completion.

Every fold driver in this package consumes parquet files as a bounded
stream. ``availableNow`` drains the files that exist when the query
starts, ONE FILE PER MICRO-BATCH — the streaming analogue of the
reference's ``LIMIT 5000`` staging batch (reference:
etl_pipeline.py:125-173) — and ``foreachBatch`` hands each micro-batch
to the driver's fold (Structured Streaming's own contract, Armbrust et
al., SIGMOD 2018).

The checkpoint records which files were consumed, so a rerun folds
only new files. A fold that raises leaves its batch uncommitted in the
checkpoint: the error surfaces from ``awaitTermination`` as
``StreamingQueryException`` and the next run on the same checkpoint
redelivers the batch with the same ``batch_id`` — the replay contract
every crash-retry fold relies on.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def file_stream(spark: SparkSession, source_dir: str, schema: str) -> DataFrame:
    """Parquet files under ``source_dir`` (``schema`` describes them) as
    a stream of one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def run_fold_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    fold: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> tuple[int, StreamingQuery]:
    """Drive ``stream`` to completion under ``availableNow``, calling
    ``fold(batch, batch_id)`` once per micro-batch. Returns the number
    of micro-batches the fold ran in this run and the terminated query
    (its ``id`` and ``recentProgress`` stay readable)."""
    n_batches = 0

    def counted(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        fold(batch, batch_id)

    q = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(counted)
        .start()
    )
    q.awaitTermination()
    return n_batches, q
