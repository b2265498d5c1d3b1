"""WITHIN-document repetition metrics (Rae et al. 2021 — the Gopher /
MassiveText "repetitious text" filters, token-level form) and their
incremental maintenance.

The cross-document dedup family (q144/q145 spans, q127 boilerplate)
finds text repeated ACROSS documents; this module finds the
looping / template / degenerate-generation text that repeats INSIDE
one document — the other half of repetition filtering:

- coverage fraction of the single most frequent 2-gram (ties broken
  by lexicographically smallest gram — deterministic in both engines'
  binary string order), capped at 1.0 because overlapping occurrences
  can cover more starts than tokens exist ("a a a a");
- the fraction of 3-gram start positions whose gram repeats within
  the document.

Everything here is a pure PER-DOCUMENT computation — embarrassingly
parallel at 100 TB: every exchange below is partitioned by the doc id
and AQE-coalesced; there is no global shuffle anywhere, which is also
why the incremental form needs no watermark and has no crash window
(an id-keyed append of per-doc rows IS the maintenance).

Reference anchor: none (beyond-reference tier); rule-based quality
cousins are q32/q67/q88, the model-based one is operators/lm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

REP_TOP2_MAX = 0.20  # Gopher's most-common-2-gram coverage threshold
REP_DUP3_MAX = 0.30  # duplicated-3-gram-position threshold


def repetition_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics:
    (id, n_tokens, top_2gram, top_2gram_count, top_2gram_frac,
    dup_3gram_frac, repetitive).

    Scale shape: ZERO exchanges — the metrics are pure per-document
    functions, so they are computed entirely in-row: gram arrays
    assembled from the token array (``transform``), ``array_sort``ed,
    and folded with an ``aggregate`` run-length pass (the mode of a
    sorted array is its longest run; ties resolve to the FIRST run in
    sorted order, which is exactly the old "cnt desc, g asc"
    tie-break). The previous form shuffled the exploded gram stream
    into two id-keyed aggregates plus a row_number window; a per-row
    answer never needs an exchange at all."""

    def _gram_arr(k: int):
        return F.when(
            F.col("n_toks") >= k,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), (F.col("n_toks") - k).cast("int")),
                    lambda p: F.concat_ws(
                        " ", *[F.get("_toks", p + i) for i in range(k)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _runs(arr, finish):
        """Fold a SORTED gram array with run-length state
        (prev, run, best_g, best_cnt, dup): ``best`` is the longest
        run seen (strictly-greater update = first-in-sorted-order on
        ties), ``dup`` the sum of lengths of completed runs > 1."""
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(None).cast("string").alias("best_g"),
            F.lit(0).cast("long").alias("best_cnt"),
            F.lit(0).cast("long").alias("dup"),
        )

        def step(acc, x):
            same = acc.prev.isNotNull() & (x == acc.prev)
            newrun = F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long"))
            closed_dup = acc.dup + F.when(
                ~same & (acc.run > 1), acc.run
            ).otherwise(F.lit(0).cast("long"))
            better = newrun > acc.best_cnt
            return F.struct(
                x.alias("prev"),
                newrun.alias("run"),
                F.when(better, x).otherwise(acc.best_g).alias("best_g"),
                F.when(better, newrun).otherwise(acc.best_cnt).alias("best_cnt"),
                closed_dup.alias("dup"),
            )

        return F.aggregate(arr, init, step, finish)

    top2 = _runs(
        F.col("_g2"),
        lambda acc: F.struct(
            acc.best_g.alias("g"), acc.best_cnt.alias("cnt")
        ),
    )
    dup3 = _runs(
        F.col("_g3"),
        lambda acc: acc.dup
        + F.when(acc.run > 1, acc.run).otherwise(F.lit(0).cast("long")),
    )
    return (
        docs.select(id_col, tokens(text_col).alias("_toks"))
        .withColumn("n_toks", F.size("_toks").cast("long"))
        .withColumn("_g2", _gram_arr(2))
        .withColumn("_g3", _gram_arr(3))
        .withColumn("_t2", top2)
        .withColumn("_d3", dup3)
        .select(
            id_col,
            F.col("n_toks").alias("n_tokens"),
            F.col("_t2.g").alias("top_2gram"),
            F.col("_t2.cnt").alias("top_2gram_count"),
            F.coalesce(
                F.round(
                    F.least(
                        F.lit(1.0),
                        F.lit(2.0) * F.col("_t2.cnt") / F.col("n_toks"),
                    ),
                    4,
                ),
                F.lit(0.0),
            ).alias("top_2gram_frac"),
            F.when(
                F.col("n_toks") >= 3,
                F.round(
                    F.col("_d3").cast("double") / (F.col("n_toks") - 2), 4
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_3gram_frac"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_2gram_frac") > REP_TOP2_MAX)
            | (F.col("dup_3gram_frac") > REP_DUP3_MAX),
        )
    )


def incremental_repetition(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    reports_table: str = "repetition_reports",
) -> int:
    """Maintain :func:`repetition_report` batch-by-batch. The metrics
    are a pure PER-DOCUMENT function, so maintenance is one id-keyed
    idempotent append of the fresh docs' rows — the report table is
    its own watermark (fresh = anti-join on ``id_col``), there is ONE
    commit per fold and therefore NO crash window (the q128
    chunk-index protocol verbatim). Maintained ≡ global is immediate:
    the global report is the disjoint union of per-doc rows. Returns
    the number of new documents folded.

    Cost per fold: batch text tokenized once; history is touched only
    through the ≤40-byte report rows' id column (the anti-join)."""
    fresh = store.unseen(new_docs.select(id_col, text_col), reports_table, id_col)
    rows = repetition_report(fresh, id_col, text_col).localCheckpoint(
        eager=True
    )
    n_new = rows.count()
    if n_new:
        store.append(rows, reports_table)
    return n_new


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the Dolma/Gopher
    repetitiveness proxy: highly repetitive or templated text
    compresses far below natural prose (ratio = compressed/raw bytes;
    natural English sits around 0.3-0.5 at level 6, heavy repetition
    collapses toward 0.01, and random gibberish pushes past 0.6), so
    the ratio is a one-number quality signal orthogonal to the
    n-gram/LM families (q67/q139).

    Returns (id, n_bytes, n_compressed, ratio) with ratio rounded to
    4 decimals (NULL for empty text). zlib is fully deterministic at
    a fixed level, so the output is engine-stable; there is no DuckDB
    twin, which is why the registered q171 is Spark-only (determinism
    differential) and the discrimination semantics pin via a planted
    fixture test instead.

    Scale shape: ONE Arrow ``mapInPandas`` pass over (id, text) —
    the only columns read (column-pruned scan), no shuffle anywhere,
    compression runs batch-vectorized in the Python worker exactly
    like the multimodal feature extractors (operators/multimodal.py).
    """
    import pandas as pd

    out_schema = (
        f"{id_col} long, n_bytes long, n_compressed long, ratio double"
    )

    def score(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len)
            n_comp = raw.map(lambda b: len(zlib.compress(b, level)))
            ratio = (n_comp / n_bytes.where(n_bytes > 0)).round(4)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": ratio,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(score, out_schema)


def incremental_compression_ratio(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    table: str = "zlib_scores",
) -> int:
    """Maintain :func:`compression_ratio` scores across intake folds —
    the family's simplest shape, because the ratio is a pure per-doc
    function of the text: the unseen ids (``store.unseen``) scored and
    appended once per fold (the sink is its own replay watermark),
    maintained ≡ global by construction, batch text compressed once
    and history never re-read. Returns the number of newly scored documents."""
    fresh = store.unseen(new_docs.select(id_col, text_col), table, id_col)
    scored = compression_ratio(fresh, id_col, text_col, level).localCheckpoint(
        eager=True
    )
    n = scored.count()
    if n:
        store.append(scored, table)
    return int(n)


# ---------------------------------------------------------------------------
# PII detection/redaction as a maintained intake pass. q65 is the
# one-shot masking query; a production pipeline scans every arriving
# batch ONCE and keeps the per-doc verdicts (counts + the fingerprint
# of the redacted text) as a maintained table the release step reads.
# The regexes are the canonical definitions — plans/extensions.py:q65
# imports them, so the one-shot query and the maintained pass can
# never drift apart.
# ---------------------------------------------------------------------------
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\d{3}-\\d{4}"


def pii_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII verdicts: email/phone match counts, a has_pii
    flag, and the md5 fingerprint of the redacted text (emails then
    phones masked — the q65 order, so a fingerprint equality proves
    the redacted release text byte-identical without shipping it).
    Pure per-doc computation — JVM regex engine, zero shuffle."""
    t = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    n_em = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("int")
    n_ph = F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("int")
    return docs.select(
        id_col,
        n_em.alias("n_emails"),
        n_ph.alias("n_phones"),
        ((n_em > 0) | (n_ph > 0)).alias("has_pii"),
        F.md5(red).alias("redacted_fp"),
    )


def incremental_pii_flags(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    flags_table: str = "pii_flags",
) -> int:
    """Maintain :func:`pii_report` batch-by-batch — the masking pass
    moved to intake. The verdicts are a pure PER-DOCUMENT function of
    the text, so maintenance is one id-keyed idempotent append: the
    flags table is its own watermark (fresh = anti-join on
    ``id_col``), ONE commit per fold, NO crash window — the q128/q146
    protocol verbatim. Maintained ≡ global is immediate (disjoint
    union of per-doc rows). Returns the number of new documents
    folded.

    Cost per fold: batch text regex-scanned once; history is touched
    only through the flag rows' id column."""
    fresh = store.unseen(new_docs.select(id_col, text_col), flags_table, id_col)
    rows = pii_report(fresh, id_col, text_col).localCheckpoint(eager=True)
    n_new = rows.count()
    if n_new:
        store.append(rows, flags_table)
    return n_new
