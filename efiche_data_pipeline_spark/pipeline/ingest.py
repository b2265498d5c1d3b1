"""Staging → production ingest — the Spark re-design of the reference's
primary entry point (reference: src/etl_pipeline.py:65-203).

Reference shape vs this one:

- per-row ``INSERT … ON CONFLICT (image_id) DO NOTHING``
  (etl_pipeline.py:93-98) → ``dropDuplicates`` + ``Store.append_new``
  left-anti append (K1), one set-oriented job;
- per-row try/except date parse (etl_pipeline.py:81-85) →
  ``F.try_to_date(col, 'yyyyMMdd')``, errors→null (P2), ANSI-safe;
- ``WHERE processed = FALSE … LIMIT 5000`` + per-row
  ``UPDATE … SET processed = TRUE`` (etl_pipeline.py:125-132,184-188)
  → an append-only ``staging_markers`` key table: the incremental scan
  is ``Store.unseen`` against it and marking is one append (S5/P8).
  Rewriting a 100 TB staging table to flip a boolean would be O(table);
  the marker anti-join is O(batch) writes and the keys join is
  broadcast-able until markers outgrow the batch table many times over;
- per-row ``INSERT encounter RETURNING id`` then child inserts
  (etl_pipeline.py:163-188) → generate the encounter key once, WRITE
  the parent, then derive children from the *persisted* parent (K5).
  Children must never be derived from the unpersisted frame: ``uuid()``
  is non-deterministic, so a task retry between the parent and child
  writes would silently break the foreign keys;
- ``ORDER BY RANDOM() LIMIT 1000`` patient/facility pools
  (etl_pipeline.py:142-146) → :func:`sample_exact` (S6) with a seeded
  rand, and the per-record ``random.choice`` match becomes a
  deterministic hash-pick broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .store import Store

BATCH_LIMIT = 5000  # reference: etl_pipeline.py:131


def sample_exact(
    df: DataFrame, n: int, seed: int = 42, key_col: str | None = None
) -> DataFrame:
    """Exact-N random sample: ``ORDER BY RANDOM() LIMIT n`` (reference:
    etl_pipeline.py:142,146) with a seeded, reproducible order keyed on
    ``key_col`` (default: the first column — callers with multi-column
    frames should name their unique key explicitly so the sample does
    not depend on column position). TakeOrdered keeps this a top-K,
    not a full sort."""
    key = key_col or df.columns[0]
    return df.orderBy(F.xxhash64(F.lit(seed), F.col(key))).limit(n)


def clean_staging(raw: DataFrame) -> DataFrame:
    """Typed staging frame with defaults and null coercion (P1) and the
    yyyyMMdd→date errors→null parse (P2; reference:
    etl_pipeline.py:75-90)."""
    return raw.select(
        F.coalesce(F.col("image_id").cast("string"), F.lit("IMG_UNKNOWN")).alias("image_id"),
        F.col("patient_age").cast("int").alias("patient_age"),
        F.coalesce(F.col("patient_sex").cast("string"), F.lit("Unknown")).alias("patient_sex"),
        F.try_to_date(F.col("study_date").cast("string"), "yyyyMMdd").alias("study_date"),
        F.coalesce(F.col("projection"), F.lit("PA")).alias("projection"),
        F.coalesce(F.col("modality"), F.lit("DX")).alias("modality"),
        F.coalesce(F.col("labels"), F.lit("")).alias("labels"),
        F.coalesce(F.col("report_text"), F.lit("")).alias("report_text"),
        F.current_timestamp().alias("loaded_at"),
    )


def load_to_staging(store: Store, raw: DataFrame) -> dict[str, int]:
    """K1: clean → in-batch dedup → anti-join existing → append.
    Returns {loaded, duplicates} like the reference's counters
    (etl_pipeline.py:100-103)."""
    cleaned = clean_staging(raw)
    incoming = cleaned.count()
    batch = cleaned.dropDuplicates(["image_id"])
    before = store.count("staging")
    store.append_new(batch, "staging", key="image_id")
    loaded = store.count("staging") - before
    return {"loaded": loaded, "duplicates": incoming - loaded}


def _hash_pick_join(
    df: DataFrame, pool: DataFrame, key_col: Column, out_col: str, seed: int
) -> DataFrame:
    """Assign each row one pool member, uniformly by seeded hash of
    ``key_col`` — deterministic, set-oriented ``random.choice``
    (reference: etl_pipeline.py:156-157). The pool gets a dense index
    via row_number (driver never sees it) and broadcasts."""
    pool_col = pool.columns[0]
    idx = pool.select(
        F.col(pool_col).alias(out_col),
        (F.row_number().over(Window.orderBy(pool_col)) - 1).alias("_i"),
    )
    n = idx.count()
    return df.withColumn("_i", F.pmod(F.xxhash64(F.lit(seed), key_col), F.lit(n))).join(
        F.broadcast(idx), "_i"
    ).drop("_i")


def process_staging_to_production(
    store: Store, batch_limit: int = BATCH_LIMIT, seed: int = 42
) -> int:
    """One incremental micro-batch: consume up to ``batch_limit``
    unprocessed staging rows into encounters + procedures + reports,
    then mark them processed (reference: etl_pipeline.py:119-203).

    Returns the number of staging rows consumed."""
    if not store.exists("staging"):
        return 0
    staging = store.unseen(store.read("staging"), "staging_markers", "image_id")
    batch = (
        staging.orderBy(F.col("study_date").desc_nulls_last(), F.col("image_id"))
        .limit(batch_limit)
    )

    patient_pool = sample_exact(
        store.read("patients").select("patient_id"), 1000, seed, key_col="patient_id"
    )
    facility_pool = sample_exact(
        store.read("facilities").select("facility_id"), 5, seed, key_col="facility_id"
    )

    # Crash convergence: every write below is individually idempotent,
    # so a run that died between steps simply re-runs. Parents are
    # created only for batch rows with no parent yet (anti-join on the
    # lineage key), children only for parents with no children yet —
    # the marker append comes last, so an unmarked-but-written batch
    # converges instead of duplicating (the reference gets the same
    # property from per-record transactions, etl_pipeline.py:197-200).
    to_create = batch
    if store.exists("encounters_raw"):
        existing_parents = store.read("encounters_raw").select(
            F.col("source_image_id").alias("image_id")
        )
        to_create = batch.join(existing_parents, "image_id", "left_anti")

    enc = _hash_pick_join(to_create, patient_pool, F.col("image_id"), "patient_id", seed + 1)
    enc = _hash_pick_join(enc, facility_pool, F.col("image_id"), "facility_id", seed + 2)
    enc = enc.select(
        F.expr("uuid()").alias("encounter_id"),
        "patient_id",
        "facility_id",
        # reference: etl_pipeline.py:160 — null study_date falls back to
        # a fixed current date (we pin the anchor for determinism).
        F.coalesce(F.col("study_date"), F.lit("2024-06-01").cast("date")).alias(
            "encounter_date"
        ),
        F.lit("Outpatient").alias("encounter_type"),
        F.lit("completed").alias("status"),
        F.col("image_id").alias("source_image_id"),
        "modality",
        "projection",
        "report_text",
    )

    # K5: persist the parent FIRST; children derive from the persisted
    # frame so the non-deterministic uuid() is evaluated exactly once.
    store.append(enc, "encounters_raw")
    written = store.read("encounters_raw").join(
        batch.select("image_id"), F.col("source_image_id") == F.col("image_id")
    )

    proc = written.select(
        F.expr("uuid()").alias("procedure_id"),
        "encounter_id",
        F.format_string("%s Chest Imaging", F.col("modality")).alias("procedure_name"),
        "modality",
        "projection",
        F.col("encounter_date").alias("procedure_date"),
    )
    store.append_new(proc, "procedures_raw", key="encounter_id")

    rep = written.select(
        F.expr("uuid()").alias("report_id"),
        "encounter_id",
        F.lit("radiology").alias("report_type"),
        "report_text",
        F.lit("en").alias("language"),
    )
    store.append_new(rep, "reports_raw", key="encounter_id")

    consumed = batch.select("image_id").withColumn("processed_at", F.current_timestamp())
    store.append(consumed, "staging_markers")
    return batch.count()


def pipeline_stats(store: Store) -> dict[str, int]:
    """Record counts per table (reference: etl_pipeline.py:205-234)."""
    total = store.count("staging")
    processed = store.count("staging_markers")
    return {
        "total_staging": total,
        "processed_staging": processed,
        "unprocessed_staging": total - processed,
        "total_patients": store.count("patients"),
        "total_encounters": store.count("encounters_raw"),
        "total_procedures": store.count("procedures_raw"),
        "total_reports": store.count("reports_raw"),
    }


def run_ingest(
    store: Store, raw: DataFrame, batch_limit: int = BATCH_LIMIT, seed: int = 42
) -> dict[str, int]:
    """Full ingest pass: staging load then one production micro-batch
    (reference: run_etl_pipeline, etl_pipeline.py:236-273).

    The production step runs even when the staging load added nothing:
    a crash after a previous run's staging append but before its
    production batch leaves staged-but-unconsumed rows, and a replay
    of the same input loads 0 — skipping the batch then would strand
    those rows until the next non-empty load."""
    load_stats = load_to_staging(store, raw)
    consumed = process_staging_to_production(store, batch_limit, seed)
    return {**load_stats, "consumed": consumed, **pipeline_stats(store)}
