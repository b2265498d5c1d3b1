"""Streaming drift monitor: score every incoming micro-batch of
documents against a pinned REFERENCE distribution and append a
per-(batch, column) PSI report — the live form of the q107 accept
gate, for a continuously-fed training-data intake ("yesterday's crawl
looked like the corpus; does today's?").

Profile columns (all deterministic, reference-free bucketing so a
batch can be scored without global statistics):

- ``lang``          — categorical, the raw value;
- ``token_bucket``  — token count in fixed 50-token-wide buckets,
  capped at bucket 9 (absolute buckets, not min/max-relative: a
  streaming batch must be scorable in isolation);
- ``source``        — categorical, the raw value.

Replay safety: reports are keyed MERGE-upserted on (batch_id,
column_name), so a retried micro-batch overwrites its own rows
instead of double-appending. The reference profile is a bounded
bucket-count frame, localCheckpointed once and reused across batches.

Reference analogue: none — beyond-reference production tier, same
family as streaming/dedup_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..operators.drift import psi_from_bucket_counts
from ..pipeline.store import Store
from .curation import stream_documents
from .driver import file_stream, run_fold_stream

_TOKEN_BUCKET_WIDTH = 50
_TOKEN_BUCKET_MAX = 9


def doc_bucket_counts(docs: DataFrame) -> DataFrame:
    """(column_name, bucket, cnt) profile of a document frame — one
    union of map-side projections + one aggregate."""
    token_bucket = F.least(
        F.floor(token_count("text") / _TOKEN_BUCKET_WIDTH),
        F.lit(_TOKEN_BUCKET_MAX),
    ).cast("string")
    rows = (
        docs.select(
            F.lit("lang").alias("column_name"), F.col("lang").alias("bucket")
        )
        .unionByName(
            docs.select(
                F.lit("token_bucket").alias("column_name"),
                token_bucket.alias("bucket"),
            )
        )
        .unionByName(
            docs.select(
                F.lit("source").alias("column_name"),
                F.col("source").alias("bucket"),
            )
        )
    )
    return rows.groupBy("column_name", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@dataclass(frozen=True)
class DriftMonitorReport:
    n_batches: int
    n_alarms: int  # (batch, column) pairs over threshold


def run_drift_monitor(
    spark: SparkSession,
    source_dir: str,
    reference_docs: DataFrame,
    store: Store,
    checkpoint_dir: str,
    table: str = "drift_reports",
    threshold: float = 0.25,
) -> DriftMonitorReport:
    """availableNow consumption of parquet document files: each
    micro-batch is PSI-scored per profile column against
    ``reference_docs`` and one report row per (batch, column) is
    merge-upserted into ``table`` with an ``alarm`` flag."""
    ref = (
        doc_bucket_counts(reference_docs)
        .withColumnRenamed("cnt", "c_ref")
        .localCheckpoint(eager=True)
    )
    totals = {"alarms": 0}

    def score(batch: DataFrame, batch_id: int) -> None:
        cur = doc_bucket_counts(batch).withColumnRenamed("cnt", "c_cur")
        per_bucket = (
            ref.join(cur, ["column_name", "bucket"], "full_outer")
            .fillna(0, subset=["c_ref", "c_cur"])
        )
        rep = (
            psi_from_bucket_counts(per_bucket)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("alarm", F.col("psi") > threshold)
            .select(
                "batch_id", "column_name", "psi", "n_cur", "alarm"
            )
            .localCheckpoint(eager=True)  # consumed twice (merge + count)
        )
        store.merge_upsert(rep, table, keys=["batch_id", "column_name"])
        totals["alarms"] += rep.filter("alarm").count()

    n_batches, _ = run_fold_stream(
        stream_documents(spark, source_dir), checkpoint_dir, score
    )
    return DriftMonitorReport(n_batches=n_batches, n_alarms=totals["alarms"])


def run_embedding_drift_monitor(
    spark: SparkSession,
    source_dir: str,
    centroids: DataFrame,
    reference_vectors: DataFrame,
    store: Store,
    checkpoint_dir: str,
    table: str = "embedding_drift_reports",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DriftMonitorReport:
    """Streaming twin of the q113 embedding drift gate: every incoming
    micro-batch of vectors is assigned to the FROZEN ``centroids``
    (broadcast — no vector ever shuffles) and its ≤K-row cell
    histogram is PSI-scored against ``reference_vectors``'s histogram,
    one merge-upserted report row per batch with an ``alarm`` flag —
    the live signal that schedules ``ivf_index_retrain`` /
    ``ivf_index_maintain``'s one deliberate O(index) migration, now
    visible per intake file instead of per batch job.

    Replay safety: reports are keyed on (batch_id, column_name), so a
    retried micro-batch overwrites its own row instead of
    double-appending — identical discipline to :func:`run_drift_monitor`.
    The reference profile is a bounded ≤K-row frame, localCheckpointed
    once and reused across batches."""
    from ..operators.similarity import assign_cells
    from .embedding_stream import VECS_STREAM_SCHEMA

    ref = (
        assign_cells(reference_vectors, centroids, id_col, vec_col)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("c_ref"))
        .localCheckpoint(eager=True)
    )
    totals = {"alarms": 0}

    def score(batch: DataFrame, batch_id: int) -> None:
        cur = (
            assign_cells(batch, centroids, id_col, vec_col)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("c_cur"))
        )
        per_bucket = (
            ref.join(cur, "cell_id", "full_outer")
            .select(
                F.lit("embedding_cell").alias("column_name"),
                F.col("cell_id").cast("string").alias("bucket"),
                F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
                F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
            )
        )
        rep = (
            psi_from_bucket_counts(per_bucket)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("alarm", F.col("psi") > threshold)
            .select("batch_id", "column_name", "psi", "n_cur", "alarm")
            .localCheckpoint(eager=True)  # consumed twice (merge + count)
        )
        store.merge_upsert(rep, table, keys=["batch_id", "column_name"])
        totals["alarms"] += rep.filter("alarm").count()

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, VECS_STREAM_SCHEMA), checkpoint_dir, score
    )
    return DriftMonitorReport(n_batches=n_batches, n_alarms=totals["alarms"])
