"""Streaming twin of the batch curation chain (q51,
plans/extensions.py): documents arrive as a file stream, pass the same
language + quality gates map-side, and deduplicate on the content
fingerprint in streaming state — the shape of a continuously-fed
training-data intake.

Semantics vs the batch chain, stated honestly:

- The gates are identical expressions → a document passes the stream
  gate iff it passes the batch gate.
- Dedup keeps the FIRST ARRIVAL per md5 fingerprint; the batch chain
  keeps the minimum doc_id. Which duplicate survives therefore differs
  in general, but the kept FINGERPRINT SET and the kept COUNT are
  identical — that set equality is the stream≡batch invariant the test
  asserts (tests/test_curation_stream.py).
- State is keyed by the 32-char fingerprint. Unbounded retention is
  exact-dedup semantics (same as the batch global dedup); callers who
  can tolerate a horizon should bound state with
  ``deduped_event_stream``-style watermarking instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import predict_lang, quality_score_raw, token_count
from .driver import file_stream

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_documents(spark: SparkSession, source_dir: str) -> DataFrame:
    return file_stream(spark, source_dir, DOCS_STREAM_SCHEMA)


def curated_stream(docs: DataFrame, min_quality: float = 0.18) -> DataFrame:
    """Gate + fingerprint-dedup a document stream (batch frames work
    too — dropDuplicates is the batch global dedup there)."""
    gated = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        quality_score_raw("text").alias("_q"),
        predict_lang("text").alias("pred_lang"),
        F.md5("text").alias("fp"),
    ).filter((F.col("pred_lang") == "en") & (F.col("_q") >= min_quality))
    return gated.dropDuplicates(["fp"]).select(
        "doc_id", "fp", "n_tokens", F.round("_q", 4).alias("quality_score")
    )
