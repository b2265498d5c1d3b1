"""Streaming LM-scored intake: the live q139/q140 — every arriving
document file is scored against the reference bigram LM AT INTAKE
(the CCNet quality gate run where production runs it: on the stream),
while the model itself keeps folding in the arriving reference-slice
documents.

Per micro-batch, three commits, each independently replay-safe, in
this order:

1. **Model fold** (`incremental_lm`): the batch's reference-slice
   docs (``id % train_mod == 0``) appended as ONE atomic +delta
   layer whose rows carry the replay watermark — no crash window.
2. **Docs sink** (``append_new`` keyed on the id): the intake record
   of everything seen — idempotent.
3. **Online scores sink** (``append_new`` keyed): the batch scored
   with the model AS OF AFTER ITS OWN FOLD, each row tagged with the
   ``model_version`` that scored it. Idempotent; and because the
   model fold no-ops on replay, a crashed batch re-scores with the
   SAME version and writes the SAME rows — the windows converge
   exactly, not just eventually.

Online scores are honest production semantics: a document is judged
with everything known when it arrived, so early documents see a
smaller model (the tagged version makes every score reproducible).
The DERIVED report re-scores everything seen with the CURRENT model
— equal to the one-shot q139 over the same corpus by the q140
maintained ≡ global argument, which is what the tests pin.

Scale: per batch, one token pass over the batch (model fold + its
scoring share the batch's text read), broadcast model joins, and
keyed anti-join appends against id-pruned sinks — history text is
never re-read.

Reference analogue: none — beyond-reference production tier, same
family as streaming/chunk_stream.py / embedding_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import incremental_lm, lm_model_from_store, ngram_lm_score
from ..pipeline.store import Store
from .driver import file_stream, run_fold_stream

_EMPTY_MODEL_SCHEMA = "kind string, w1 string, w2 string, cnt long"


def current_lm_model(spark: SparkSession, store: Store, model_table: str) -> DataFrame:
    """The maintained model, or an empty frame before the first fold
    (cold-start scoring degrades to the pure OOV-bucket probability)."""
    if store.current_version(model_table) is None:
        return spark.createDataFrame([], _EMPTY_MODEL_SCHEMA)
    return lm_model_from_store(store, model_table)


@dataclass(frozen=True)
class LmStreamReport:
    n_batches: int
    n_docs_folded: int  # reference-slice docs folded into the model
    n_docs_seen: int
    # q139-shaped re-score of everything seen with the CURRENT model;
    # None when the stream has never consumed a document
    report: DataFrame | None
    # online (scored-at-intake) rows: q139 shape + model_version
    online_scores: DataFrame | None


def run_lm_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_mod: int = 3,
    model_table: str = "lm_model",
    docs_table: str = "lm_docs",
    scores_table: str = "lm_scores",
) -> LmStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned report reflects every file seen
    across all runs of this checkpoint."""
    totals = {"folded": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select(id_col, text_col).localCheckpoint(eager=True)
        # 1. model fold (atomic, self-watermarked)
        r = incremental_lm(
            docs.filter(F.col(id_col) % train_mod == 0),
            store,
            id_col=id_col,
            text_col=text_col,
            model_table=model_table,
        )
        totals["folded"] += r.n_new
        # 2. intake record (idempotent keyed append)
        store.append_new(docs, docs_table, id_col)
        # 3. online scores, tagged with the scoring model version
        model = current_lm_model(spark, store, model_table).localCheckpoint(
            eager=True
        )
        version = store.current_version(model_table)
        scored = ngram_lm_score(docs, model, id_col, text_col).withColumn(
            "model_version",
            F.lit(-1 if version is None else int(version)).cast("long"),
        )
        store.append_new(scored, scores_table, id_col)

    n_batches, _ = run_fold_stream(
        file_stream(spark, source_dir, schema), checkpoint_dir, fold
    )
    if not store.exists(docs_table):
        return LmStreamReport(n_batches, totals["folded"], 0, None, None)
    seen = store.read(docs_table)
    model = current_lm_model(spark, store, model_table).localCheckpoint(eager=True)
    return LmStreamReport(
        n_batches=n_batches,
        n_docs_folded=totals["folded"],
        n_docs_seen=seen.count(),
        report=ngram_lm_score(seen, model, id_col, text_col),
        online_scores=store.read(scores_table),
    )
