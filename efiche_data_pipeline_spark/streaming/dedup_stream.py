"""Streaming twin of the incremental index dedup
(operators/dedup.py:incremental_minhash_dedup): document batches
arrive as a file stream and each micro-batch is near-dup-deduped
against the ever-growing MinHash signature index — the continuously-
fed intake shape of a production training-data pipeline (new crawl
drops land hourly; each is deduped against ALL history without
rescanning history text).

Exactly-once across failures, by WRITE ORDER not by luck:

1. compute the batch's kept set and prospective index
   (``commit=False`` — nothing persisted yet),
2. append kept docs into the sink via the keyed ``append_new``
   (id-absent rows only — a retried batch can't double-insert),
3. commit the index version LAST.

A crash before (3) means the retry sees history unchanged, recomputes
the SAME deterministic kept set, finds those ids already in the sink
(no-op append), and commits the index. A retry after (3) is the
operator's own replay path: every id is already indexed, so nothing
is kept and nothing is written. Either way sink and index converge to
the single-run state. The stream≡batch invariant — union of per-batch
kept sets ≡ one global LSH dedup of all files — holds under monotone
doc ids (see the operator's dominated-rule docstring) and is pinned by
tests/test_dedup_stream.py, including across a checkpoint restart.

Scale note: per micro-batch, history contributes only an index scan
cut down by a semi-join on the batch's band buckets; the raw-text
pass, signature shuffle, and banded join are all O(batch), not
O(corpus).

Reference analogue: etl_pipeline.py:125-132 (incremental consumption
of unprocessed rows) composed with its ON CONFLICT DO NOTHING insert
(etl_pipeline.py:93-98) — re-expressed as a Structured Streaming
foreachBatch over the versioned store.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import incremental_minhash_dedup
from ..pipeline.store import Store
from .curation import stream_documents
from .driver import run_fold_stream


@dataclass(frozen=True)
class StreamDedupReport:
    """``n_batches``/``n_new``/``n_dropped`` tally the batches THIS
    PROCESS ran — a run resumed from a checkpoint after a crash counts
    only its own batches, not the pre-crash ones (the stream's durable
    truth lives in the store, not in driver memory). ``n_kept_total``
    and ``index_version`` are therefore derived FROM the store after
    the stream drains: they are cumulative across every run and crash,
    and are what a monitoring caller should alert on."""

    n_batches: int
    n_new: int
    n_dropped: int
    index_version: int
    n_kept_total: int = 0  # store-derived: rows in the kept sink


def run_incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    kept_table: str = "dedup_kept_docs",
    index_table: str = "minhash_sig_index",
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    compact_every: int | None = None,
    canonicalize: bool = False,
    method: str = "minhash",
    simhash_bits: int = 48,
    simhash_bands: int = 8,
    max_hamming: int = 3,
) -> StreamDedupReport:
    """availableNow consumption of parquet document files under
    ``source_dir``: each micro-batch is deduped against the index and
    within itself; survivors land in ``kept_table`` (id-keyed,
    replay-safe), and the enlarged index is committed as the next
    version. Returns the batch/drop tallies and the final version.

    ``compact_every=N`` folds the index's delta layers back into one
    directory whenever the layer count reaches N (store.compact_layers
    — itself an atomic commit, so a crash mid-compaction just leaves
    the uncompacted layers current). Without it a long-running intake
    accumulates one layer per productive batch and every dedup pays a
    growing file-listing cost.

    ``canonicalize=True`` runs the q111/q115 front-end (NFC +
    lower/strip/collapse) on each micro-batch before signing, so
    case/punct/spacing/accent variants dedup across the stream — the
    production-crawl configuration. Canonicalization is per-doc pure,
    so every crash/replay property above is unchanged.

    ``method="simhash"`` swaps the per-batch operator for
    :func:`~..operators.dedup.incremental_simhash_dedup` (q184 — the
    Hamming-distance rule on one int64 fingerprint per doc, batch ≡
    global with NO cap caveat) under the IDENTICAL two-commit
    protocol: both operators expose the same ``commit=False`` result
    shape (kept + index_delta + replay-absorbing freshness), so the
    sink-first/index-last crash reasoning above applies verbatim.
    Pass ``index_table="simhash_fp_index"`` (or keep separate sinks)
    when running both methods against one store."""
    if method not in ("minhash", "simhash"):
        raise ValueError(f"unknown dedup method {method!r}")
    totals = {"new": 0, "dropped": 0}

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select("doc_id", "text")
        if canonicalize:
            from pyspark.sql import functions as F

            from ..functions.text import canonical_text
            from ..operators.dedup import nfc_normalize_docs

            docs = (
                nfc_normalize_docs(docs)
                .withColumn("text", canonical_text(F.col("text")))
                # pin: the operator consumes the batch several times
                # (id scan, signature pass, kept join) — one Arrow NFC
                # pass instead of one per consumer
                .localCheckpoint(eager=True)
            )
        if method == "simhash":
            from ..operators.dedup import incremental_simhash_dedup

            res = incremental_simhash_dedup(
                docs,
                store,
                index_table=index_table,
                bits=simhash_bits,
                bands=simhash_bands,
                max_hamming=max_hamming,
                commit=False,
            )
        else:
            res = incremental_minhash_dedup(
                docs,
                store,
                index_table=index_table,
                threshold=threshold,
                n_hashes=n_hashes,
                bands=bands,
                commit=False,
            )
        if res.n_new == 0:
            return  # replayed batch: sink and index already converged
        # Sink BEFORE index commit (see module docstring); the kept
        # frame is consumed once here, then the O(batch) index DELTA
        # once — both derive from the operator's localCheckpointed
        # signature scan, so neither re-runs the text pass.
        store.append_new(res.kept.select("doc_id"), kept_table, key="doc_id")
        store.append_version(res.index_delta, index_table)
        if compact_every and store.layer_count(index_table) >= compact_every:
            store.compact_layers(index_table)
        totals["new"] += res.n_new
        totals["dropped"] += res.n_dup_vs_history + res.n_dup_within

    n_batches, _ = run_fold_stream(
        stream_documents(spark, source_dir), checkpoint_dir, dedup_batch
    )
    v = store.current_version(index_table)
    return StreamDedupReport(
        n_batches=n_batches,
        n_new=totals["new"],
        n_dropped=totals["dropped"],
        index_version=v if v is not None else 0,
        n_kept_total=store.count(kept_table),
    )
