"""Streaming calibrated-gate intake: the live q170 — CCNet's quality
gate run where production runs it, on the stream. Arriving
reference-slice documents (``id % ref_mod == 0``) keep re-calibrating
the percentile threshold; every other arriving document is judged
ONCE, at intake, under the calibration then in force, each verdict
tagged with the model version that made it.

Per micro-batch, three commits, each independently replay-safe, in
this order:

1. **Calibration fold** (`calibrate_quality_gate`): the batch's
   reference docs run the pinned protocol — pre-commit monotone
   guard, ref sink FIRST (idempotent), atomic model delta, 1-row
   calibration snapshot LAST (a pure function of (model, ref sink),
   so replays recompute it bit-identically). Skipped when the batch
   carries no reference docs.
2. **Docs sink** (``append_new`` keyed): the intake record of
   everything seen — idempotent.
3. **Online gate** (`gate_pool_batch`): the batch's pool docs scored
   under the CURRENT calibration (model read at its pinned version)
   and the keepers appended id-keyed — idempotent, and because the
   calibration fold no-ops on replay, a crashed batch re-judges under
   the SAME version and writes the SAME rows: exact convergence.

Contract: the first file(s) must carry reference documents — a pool
batch arriving before any calibration raises (a gate cannot judge
without a threshold), exactly like the family's monotone-id guards:
loud, with zero state committed.

The DERIVED report re-judges every pool document seen under the
FINAL calibration — equal to the one-shot q159 over everything seen
REGARDLESS of arrival order (the final calibration is a pure function
of the complete reference set; gating is a pure per-doc function),
which is what the tests pin. The online sink is the production
record: version-tagged verdicts made with what was known at arrival.

Reference analogue: none — beyond-reference production tier, same
family as streaming/lm_stream.py / vocab_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import (
    GateCalibration,
    calibrate_quality_gate,
    gate_pool_batch,
    read_calibration,
)
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream


@dataclass(frozen=True)
class GateStreamReport:
    # Field scope (ADVICE r08): every count below is ALL-TIME — derived
    # from the store sinks, not from this run's fold accumulators — so
    # a restart run with no new files reports the same numbers as the
    # run that did the work, matching the "reflects every file seen
    # across all runs" contract. The ONE exception is n_batches, which
    # is explicitly THIS RUN's micro-batch count (0 on a no-new-files
    # restart) — the per-run progress signal.
    n_batches: int  # this run only
    n_ref_folded: int  # all-time: reference-slice rows in the ref sink
    n_docs_seen: int  # all-time: rows in the docs sink
    n_kept_online: int  # all-time: kept rows in the online scores sink
    calibration: GateCalibration | None
    # version-tagged verdicts made at intake (None before any pool doc)
    online_kept: DataFrame | None
    # q159-shaped re-judgment of every pool doc under the FINAL
    # calibration — equals the one-shot gate over everything seen
    report: DataFrame | None


def run_gate_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_mod: int = 3,
    model_table: str = "gate_lm",
    ref_table: str = "gate_ref_docs",
    calib_table: str = "gate_calibration",
    scores_table: str = "gate_scores",
    docs_table: str = "gate_docs",
    max_ref_sample: int | None = None,
) -> GateStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned report reflects every file seen
    across all runs of this checkpoint (except ``n_batches`` — see
    :class:`GateStreamReport`). ``max_ref_sample`` caps what each
    re-calibration re-scores (the maintained bottom-k hash sample of
    the reference slice — see :func:`calibrate_quality_gate`); leave
    None for the exact full-slice re-score while the trusted slice
    stays small."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select(id_col, text_col).localCheckpoint(eager=True)
        ref = docs.filter(F.col(id_col) % ref_mod == 0)
        pool = docs.filter(F.col(id_col) % ref_mod != 0)
        has_ref = ref.limit(1).count() > 0
        # contract check BEFORE any commit: a pool doc cannot be
        # judged with no calibration in force and none arriving in
        # this batch — raise with zero state committed
        if (
            not has_ref
            and store.current_version(calib_table) is None
            and pool.limit(1).count() > 0
        ):
            raise ValueError(
                f"batch {batch_id}: no calibration committed and the "
                "batch carries no reference documents — feed a "
                "reference-bearing file first"
            )
        if has_ref:
            calibrate_quality_gate(
                store,
                ref,
                id_col=id_col,
                text_col=text_col,
                model_table=model_table,
                ref_table=ref_table,
                calib_table=calib_table,
                max_ref_sample=max_ref_sample,
            )
        store.append_new(docs, docs_table, id_col)
        if pool.limit(1).count() > 0:
            gate_pool_batch(
                pool,
                store,
                id_col=id_col,
                text_col=text_col,
                model_table=model_table,
                calib_table=calib_table,
                scores_table=scores_table,
            )

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    if not store.exists(docs_table):
        return GateStreamReport(n_batches, 0, 0, 0, None, None, None)
    # report path is READ-ONLY (ADVICE r08): every ref-bearing fold
    # already committed its calibration snapshot, so the stored row IS
    # the calibration in force — reading it derives nothing, bumps no
    # version, mutates no state on a pure report/restart run
    calib = read_calibration(store, calib_table)
    seen = store.read(docs_table)
    pool_seen = seen.filter(F.col(id_col) % ref_mod != 0)
    # re-judge everything under the FINAL calibration: a fresh sink
    # table keyed like the online one, derived via the same operator
    # (pure function of (docs, calibration)), no state mutated
    from ..operators.lm import lm_model_from_store, ngram_lm_score

    model = lm_model_from_store(store, model_table).localCheckpoint(eager=True)
    report = (
        ngram_lm_score(pool_seen, model, id_col, text_col)
        .filter(F.col("xent") <= F.lit(calib.threshold))
        .withColumn("threshold", F.lit(calib.threshold))
    )
    online = (
        store.read(scores_table) if store.exists(scores_table) else None
    )
    # all-time counts come from the sinks, not this run's accumulators
    # (ADVICE r08: a restart run with no new refs used to report
    # n_ref_folded=0 while n_docs_seen stayed all-time)
    return GateStreamReport(
        n_batches=n_batches,
        n_ref_folded=store.count(ref_table),
        n_docs_seen=seen.count(),
        n_kept_online=online.count() if online is not None else 0,
        calibration=calib,
        online_kept=online,
        report=report,
    )
