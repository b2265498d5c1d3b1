"""Mergeable distinct-count sketch — KMV (k-minimum-values).

The classic bottom-k sketch: hash every value with a fixed hash, keep
the k smallest distinct hashes per group, and estimate the distinct
count from the k-th smallest as ``(k-1) / normalized(h_k)`` (exact
when fewer than k distinct values were seen). Standard error is
≈ 1/√(k−2).

Why this shape scales — and is still oracle-checkable:

- **Bounded state.** The per-group top-k-smallest runs as a
  ``row_number`` window that Catalyst executes with partial
  ``WindowGroupLimit``: every map-side partition forwards at most k
  rows per group, so the shuffle carries O(groups × k) 8-byte hashes
  regardless of corpus size — the mergeability of the sketch,
  executed by the engine (same lever as the q03/q29 top-K audit).
- **Deterministic, engine-portable.** Unlike HLL
  (``approx_count_distinct``), KMV over :func:`portable_hash60`
  (md5-derived, bit-identical in DuckDB) gives the SAME estimate in
  any engine: the estimator is a handful of IEEE double ops on
  integer hashes. The DuckDB oracle replays it exactly — an
  *approximate* operator with an *exact* correctness gate.

Reference analogue: none (the reference computes all distinct counts
exactly in PostgreSQL); this is the 100 TB path for distinct-count
dashboards where exactness isn't worth a full shuffle of the key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60

# portable_hash60 is uniform on [0, 2^60) — the normalization constant
# for the estimator, shared verbatim with the oracle SQL.
HASH_SPACE = float(2**60)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT value_col) via a bottom-k
    hash sketch. Returns (group_cols..., kmv_estimate) with the exact
    count whenever a group has < k distinct values."""
    hashed = (
        df.select(*group_cols, portable_hash60(value_col).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    bottom = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return bottom.groupBy(*group_cols).agg(
        F.when(
            F.count(F.lit(1)) < k,
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(F.round(F.lit(k - 1) * F.lit(HASH_SPACE) / F.max("_h"), 0))
        .cast("long")
        .alias("kmv_estimate")
    )


def kmv_bottom(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The raw per-group bottom-k sketch rows (group_cols..., _h) —
    the mergeable representation (at most k rows per group)."""
    hashed = (
        df.select(*group_cols, portable_hash60(value_col).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "_h")
    )


def kmv_merge(bottom: DataFrame, k: int = 64) -> DataFrame:
    """Merge per-group bottom-k sketches into ONE global sketch and
    estimate the distinct count of the union.

    Correct because the k smallest hashes of a union are always within
    their own group's k smallest — so the global bottom-k can be
    recovered from the concatenated per-group sketches alone, without
    revisiting the data. That closure property is what makes KMV
    mergeable: per-partition/per-day/per-source sketches (k rows each)
    roll up to the exact same estimate a monolithic pass would give,
    which is how a 100 TB distinct-count dashboard avoids ever
    re-scanning history. The only single-partition step is the global
    bottom-k over ≤ groups×k sketch rows — bounded state, never data.
    Returns one row: (n_sketch_rows, kmv_estimate).
    """
    merged = bottom.select("_h").distinct()
    w = Window.orderBy("_h")
    topk = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return topk.agg(
        F.count(F.lit(1)).alias("n_sketch_rows"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise(F.round(F.lit(k - 1) * F.lit(HASH_SPACE) / F.max("_h"), 0))
        .cast("long")
        .alias("kmv_estimate"),
    )


def oracle_kmv_sql(
    table: str, group_expr: str, value_expr: str, k: int = 64
) -> str:
    """DuckDB twin of :func:`kmv_distinct` — identical hash, identical
    estimator arithmetic, so the result hash-matches exactly."""
    return f"""
WITH hashed AS (
    SELECT DISTINCT {group_expr} AS g,
           CAST('0x' || substring(md5({value_expr}), 1, 15) AS BIGINT) AS h
    FROM {table}
),
bottom AS (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM hashed
)
SELECT g,
       CAST(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE ROUND(({k} - 1) * {HASH_SPACE!r} / MAX(h), 0)
            END AS BIGINT) AS kmv_estimate
FROM bottom
WHERE rn <= {k}
GROUP BY g
"""


def incremental_kmv(
    new_rows: DataFrame,
    store,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    table: str = "kmv_sketch",
) -> tuple[DataFrame, int]:
    """Fold a new batch into PERSISTED per-group bottom-k sketches and
    return the refreshed per-group estimates — the distinct-count
    dashboard that never rescans history.

    Correctness rides the same closure property as :func:`kmv_merge`:
    the k smallest hashes of (history ∪ batch) are contained in
    (history's bottom-k ∪ batch's bottom-k), so folding the batch's
    sketch into the stored sketch and re-taking the bottom-k yields
    EXACTLY the sketch a from-scratch global pass would build — which
    is what q106's oracle (a direct global DuckDB sketch) checks.
    State is O(groups × k) 8-byte hashes; each commit is a tiny full
    snapshot. Merging is set-union + bottom-k, hence idempotent under
    replay. Returns (estimates DataFrame, committed version)."""
    fresh = kmv_bottom(new_rows, group_cols, value_col, k)
    cur = store.current_version(table)
    if cur is not None:
        fresh = store.read_version(table).unionByName(fresh)
    w = Window.partitionBy(*group_cols).orderBy("_h")
    merged = (
        fresh.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "_h")
        .localCheckpoint(eager=True)
    )
    version = store.write_version(merged, table)
    estimates = merged.groupBy(*group_cols).agg(
        F.when(
            F.count(F.lit(1)) < k,
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(F.round(F.lit(k - 1) * F.lit(HASH_SPACE) / F.max("_h"), 0))
        .cast("long")
        .alias("kmv_estimate")
    )
    return estimates, version


def incremental_dataset_card(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    k: int = 64,
    scalar_table: str = "card_scalars",
    sketch_table: str = "card_kinds_sketch",
) -> tuple[DataFrame, int]:
    """Maintain a corpus RELEASE CARD across batches — q102's one-row
    summary (docs, token/char mass, min/max doc tokens, KMV distinct
    estimates for texts/sources/langs) as persisted state folded per
    batch, never rescanning history. Returns (card row, committed
    scalar version).

    Two state pieces, each with an exact merge property:

    - **Scalars** (one row): COUNT/SUM/MIN/MAX are associative — fold
      the batch aggregate into the stored row.
    - **Distinct estimates**: :func:`incremental_kmv` bottom-k
      closure, keyed by kind ∈ {fp, source, lang}.

    so the maintained card is provably IDENTICAL to q102's one-shot
    global card — which is exactly what q114's oracle (q102's oracle,
    verbatim) checks per round.

    Replay safety by WRITE ORDER: the batch is first cut to
    ``id_col > stored max id`` (the monotone-id contract every
    incremental operator shares — reference: etl_pipeline.py:125-132
    consumes strictly-new rows). The kind sketches commit FIRST
    (set-union bottom-k — idempotent under replay), the scalar row —
    whose max id IS the replay watermark — commits LAST. A crash
    between the two leaves the watermark unmoved, so the retried batch
    re-folds the sketch (no-op) and then completes the scalars:
    sink-before-trigger, the dedup_stream discipline.

    Scale shape: one pass over the batch text (token/char counts +
    md5, all map-side), one O(batch) aggregate row, one groups×k
    sketch fold. History cost: reading one scalar row + 3k hashes.
    """
    cur = store.current_version(scalar_table)
    state = store.read_version(scalar_table).first() if cur is not None else None
    fresh = new_docs
    if state is not None:
        fresh = fresh.filter(F.col(id_col) > state["max_doc_id"])
    from ..functions.text import token_count

    feat = fresh.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fp"),
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        token_count(text_col).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
    ).localCheckpoint(eager=True)
    batch = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("total_chars"),
        F.min("n_tokens").cast("long").alias("min_doc_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        F.max(id_col).alias("max_doc_id"),
    ).first()
    if batch["n_docs"] == 0:  # replay / empty batch: card unchanged
        if state is None:
            raise ValueError(
                "incremental_dataset_card: no state and an empty first "
                "batch — seed the card with a non-empty batch"
            )
        return _card_row(store, scalar_table, sketch_table, k), cur
    kinds = feat.select(
        F.expr("stack(3, 'fp', fp, 'source', source, 'lang', lang) as (kind, val)")
    )
    # Sketch FIRST (idempotent), scalars (the watermark) LAST.
    incremental_kmv(kinds, store, ["kind"], "val", k=k, table=sketch_table)
    merged = {
        "max_doc_id": batch["max_doc_id"],
        "n_docs": batch["n_docs"],
        "total_tokens": batch["total_tokens"],
        "total_chars": batch["total_chars"],
        "min_doc_tokens": batch["min_doc_tokens"],
        "max_doc_tokens": batch["max_doc_tokens"],
    }
    if state is not None:
        merged["n_docs"] += state["n_docs"]
        merged["total_tokens"] += state["total_tokens"]
        merged["total_chars"] += state["total_chars"]
        merged["min_doc_tokens"] = min(
            merged["min_doc_tokens"], state["min_doc_tokens"]
        )
        merged["max_doc_tokens"] = max(
            merged["max_doc_tokens"], state["max_doc_tokens"]
        )
    spark = new_docs.sparkSession
    row = spark.createDataFrame(
        [tuple(merged[c] for c in (
            "max_doc_id", "n_docs", "total_tokens", "total_chars",
            "min_doc_tokens", "max_doc_tokens",
        ))],
        "max_doc_id long, n_docs long, total_tokens long, total_chars long, "
        "min_doc_tokens long, max_doc_tokens long",
    )
    version = store.write_version(row, scalar_table)
    return _card_row(store, scalar_table, sketch_table, k), version


def _card_row(store, scalar_table: str, sketch_table: str, k: int) -> DataFrame:
    """Assemble the q102-shaped card from the persisted state (exact
    scalars row × pivoted KMV estimates)."""
    scalars = store.read_version(scalar_table)
    # stored rows ARE each group's bottom-k already (incremental_kmv
    # re-takes the bottom-k on every fold), so max(_h) is h_k directly.
    est = (
        store.read_version(sketch_table)
        .groupBy("kind")
        .agg(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
            .otherwise(F.round(F.lit(k - 1) * F.lit(HASH_SPACE) / F.max("_h"), 0))
            .cast("long")
            .alias("kmv_estimate")
        )
    )
    one = est.agg(
        *[
            F.max(F.when(F.col("kind") == kind, F.col("kmv_estimate")))
            .cast("long")
            .alias(alias)
            for kind, alias in (
                ("fp", "n_unique_texts_est"),
                ("source", "n_sources_est"),
                ("lang", "n_langs_est"),
            )
        ]
    )
    return scalars.crossJoin(F.broadcast(one)).select(
        "n_docs",
        "n_unique_texts_est",
        "n_sources_est",
        "n_langs_est",
        "total_tokens",
        "total_chars",
        "min_doc_tokens",
        "max_doc_tokens",
        (F.col("total_chars") / F.col("total_tokens")).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash-sample quantiles: the mergeable quantile sketch.
# ---------------------------------------------------------------------------
def hash_sample_bottom(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """Per-group deterministic uniform VALUE sample: the rows whose
    :func:`portable_hash60` of ``key_col`` are the k smallest. The
    hash plays the role of a random draw (uniform over keys) while
    staying a pure function of the key — so the sample is
    reproducible by any engine, and MERGEABLE by the same bottom-k
    closure as KMV: the union's k smallest key-hashes lie in each
    side's k smallest, so per-batch samples fold into exactly the
    sample a global pass would draw. Returns
    (group_cols..., _h, _val): ≤ k rows per group."""
    h = portable_hash60(F.col(key_col).cast("string"))
    # (_h, _val) order: the _val tie-break makes a (vanishingly rare)
    # hash collision deterministic in BOTH engines.
    w = Window.partitionBy(*group_cols).orderBy("_h", "_val")
    return (
        df.select(*group_cols, h.alias("_h"), F.col(value_col).alias("_val"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "_h", "_val")
    )


def sample_quantiles(
    sample: DataFrame,
    group_cols: list[str],
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact quantiles OF THE SAMPLE (which estimate the population's):
    the p-quantile is the value at rank ceil(p·n) under the total
    order (value, hash) — the hash tie-break makes equal values
    deterministic, so the DuckDB oracle replays this bit-for-bit.
    Output: (group_cols..., n_sample, p50, p90, ...) with column names
    derived from the requested quantiles."""
    w = Window.partitionBy(*group_cols).orderBy("_val", "_h")
    n = Window.partitionBy(*group_cols)
    ranked = sample.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(n)
    )
    aggs = [F.max("_n").alias("n_sample")]
    for p in quantiles:
        name = f"p{round(p * 100)}"
        aggs.append(
            F.max(
                F.when(
                    F.col("_rn") == F.ceil(F.lit(p) * F.col("_n")),
                    F.col("_val"),
                )
            ).alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def incremental_quantiles(
    new_rows: DataFrame,
    store,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 256,
    table: str = "quantile_sample",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> tuple[DataFrame, int]:
    """Maintain a per-group quantile DASHBOARD across batches without
    rescanning history — the quantile member of the incremental sketch
    family (distinct counts: :func:`incremental_kmv`). State is the
    ≤ groups×k row hash-sample; each fold unions the batch's bottom-k
    with the stored sample and re-takes the bottom-k (exact by the
    closure property — the maintained sample IS the global sample, so
    q118's oracle replays the from-scratch global form and the value
    hash proves no drift). Replay-idempotent: re-folding committed
    rows is a set-union no-op. Sample-vs-population error follows the
    uniform-sample quantile bound (~1/sqrt(k) rank error; error-bound
    test vs the exact percentiles in tests/test_sketch.py).

    Returns (quantile estimates, committed version)."""
    fresh = hash_sample_bottom(new_rows, group_cols, key_col, value_col, k)
    cur = store.current_version(table)
    if cur is not None:
        fresh = store.read_version(table).unionByName(fresh)
    w = Window.partitionBy(*group_cols).orderBy("_h", "_val")
    merged = (
        fresh.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "_h", "_val")
        .localCheckpoint(eager=True)
    )
    version = store.write_version(merged, table)
    return sample_quantiles(merged, group_cols, quantiles), version


def oracle_sample_quantiles_sql(
    table: str,
    group_expr: str,
    key_expr: str,
    value_expr: str,
    k: int = 256,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB twin of the global hash-sample quantile pipeline —
    identical hash, identical rank rule, so q118 hash-matches."""
    from ..functions.hashing import oracle_hash60

    picks = ",\n       ".join(
        f"MAX(CASE WHEN rn = CAST(CEIL({p} * n) AS BIGINT) THEN val END)"
        f" AS p{round(p * 100)}"
        for p in quantiles
    )
    return f"""
WITH hashed AS (
    SELECT {group_expr} AS g, {oracle_hash60(key_expr)} AS h,
           {value_expr} AS val
    FROM {table}
),
bk AS (
    SELECT g, h, val FROM (
        SELECT g, h, val,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, val) AS brn
        FROM hashed
    ) WHERE brn <= {k}
),
ranked AS (
    SELECT g, val,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY val, h) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM bk
)
SELECT g, CAST(MAX(n) AS BIGINT) AS n_sample,
       {picks}
FROM ranked
GROUP BY g
"""


# ---------------------------------------------------------------------------
# Incremental TF-IDF: maintained per-term document frequency + top-k
# docs per term, scored at read with the CURRENT global idf.
# ---------------------------------------------------------------------------
def incremental_tfidf(
    new_docs: DataFrame,
    store,
    terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    topk_table: str = "tfidf_topk",
    stats_table: str = "tfidf_stats",
) -> tuple[DataFrame, int]:
    """Maintain corpus TF-IDF state for a fixed ``terms`` watchlist
    across batches — q91's one-shot computation as persisted state,
    never rescanning history text. Returns (the q91-shaped result —
    (term, doc_id, tf, tfidf) for each term's top-``k`` docs by tf —
    and the committed stats version).

    Two state pieces, each with an exact merge property, so the
    maintained result is provably IDENTICAL to the one-shot global
    q91 (whose oracle the registered q122 reuses verbatim):

    - **Per-term document frequency + corpus size** (``stats_table``,
      one row per watched term: (term, df, max_doc_id, n_docs)):
      COUNT is associative — fold the batch's per-term df delta and
      doc count into the stored row. idf is DERIVED at read time from
      the current (df, n_docs), so every emitted score always uses
      the whole-corpus-so-far idf — by construction equal to the
      global computation over all docs seen.
    - **Per-term top-k (doc, tf) candidates** (``topk_table``): tf is
      computed once, in the doc's own batch (text read once, the only
      pass); top-k of a union is recoverable from top-k(old) ∪ batch
      rows — the q105/q118 bounded-candidate closure. The merge
      dedups on (term, doc) first, so replaying a committed batch is
      a no-op.

    Replay safety by WRITE ORDER (the incremental_dataset_card
    discipline): the batch is cut to ``id_col > stored max_doc_id``
    (the family's monotone-id contract); the top-k table — idempotent
    under replay — commits FIRST, and the stats snapshot, which
    CARRIES the watermark in the same atomic write_version as the df
    sums it gates, commits LAST. A crash between the two leaves the
    watermark unmoved; the retried batch re-merges the top-k (no-op)
    and completes the stats. The df fold can never double-count
    because the watermark and the sums commit together.

    Scale shape: one tokenize pass over the batch (the only text
    read), one O(batch × |terms|) in-row count, one ≤|terms|-row
    aggregate, one bounded (≤ |terms|·k + batch hits) top-k window.
    History cost: ≤ |terms| stats rows + |terms|·k candidate rows.
    """
    from ..functions.text import tokens

    cur = store.current_version(stats_table)
    state = store.read_version(stats_table) if cur is not None else None
    fresh = new_docs
    n_docs_prev = 0
    if state is not None:
        head = state.first()
        fresh = fresh.filter(F.col(id_col) > head["max_doc_id"])
        n_docs_prev = head["n_docs"]
    base = fresh.select(F.col(id_col), tokens(text_col).alias("t"))
    with_term = base.select(
        id_col, "t", F.explode(F.array(*[F.lit(x) for x in terms])).alias("term")
    )
    tf = (
        with_term.select(
            id_col,
            "term",
            F.size(F.filter("t", lambda x: x == F.col("term")))
            .cast("long")
            .alias("tf"),
        )
        .filter(F.col("tf") > 0)
        .localCheckpoint(eager=True)
    )
    batch = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")
    ).first()
    if batch["n"] == 0:  # replay / empty batch: state unchanged
        if cur is None:
            raise ValueError(
                "incremental_tfidf: no state and an empty first batch — "
                "seed with a non-empty batch"
            )
        return tfidf_scores(store, topk_table, stats_table), cur
    # top-k candidates FIRST (dedup on (term, doc) makes the merge
    # idempotent under replay)
    old_topk = (
        store.read_version(topk_table)
        if store.current_version(topk_table) is not None
        else None
    )
    cand = tf if old_topk is None else (
        old_topk.unionByName(tf).dropDuplicates(["term", id_col])
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col(id_col))
    topk = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    store.write_version(topk, topk_table)
    # stats snapshot LAST — df sums + n_docs + the watermark in ONE
    # atomic commit
    spark = new_docs.sparkSession
    all_terms = spark.createDataFrame([(t,) for t in terms], "term string")
    df_delta = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if state is not None:
        df_delta = (
            state.select("term", "df")
            .unionByName(df_delta)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
        )
    stats = (
        all_terms.join(df_delta, "term", "left")
        .select(
            "term",
            F.coalesce("df", F.lit(0)).cast("long").alias("df"),
            F.lit(batch["mx"]).cast("long").alias("max_doc_id"),
            F.lit(n_docs_prev + batch["n"]).cast("long").alias("n_docs"),
        )
        .localCheckpoint(eager=True)
    )
    version = store.write_version(stats, stats_table)
    return tfidf_scores(store, topk_table, stats_table), version


def tfidf_scores(
    store,
    topk_table: str = "tfidf_topk",
    stats_table: str = "tfidf_stats",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assemble the q91-shaped result from the persisted state: each
    term's top-k docs scored with the CURRENT global idf."""
    stats = store.read_version(stats_table)
    topk = store.read_version(topk_table)
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
    return topk.join(F.broadcast(stats), "term").select(
        "term",
        id_col,
        "tf",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# Incremental OHLC bars: q98's resample->bar primitive maintained as
# per-bar state across event batches.
# ---------------------------------------------------------------------------
def incremental_ohlc(
    new_events: DataFrame,
    store,
    bar: str = "15 minutes",
    id_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    bars_table: str = "ohlc_bars",
) -> tuple[DataFrame, int]:
    """Maintain per-(bar, type) OHLC/volume state across batches —
    q98's downsampling as a fold, never rescanning event history.
    Returns (the q98-shaped result frame, committed version).

    Every component of a bar is an associative merge, which is what
    makes maintained ≡ one-shot-global exact (the registered q124
    oracle is q98's, verbatim):

    - ``open``/``close`` carry their (ts, id) ORDER KEY in the state
      row, so merging two partial bars picks the side with the
      smaller/larger key — ``min_by``/``max_by`` over a total order
      is associative and deterministic under equal timestamps;
    - ``high``/``low`` are MAX/MIN; ``n_events`` a COUNT sum;
    - ``volume`` is kept as the exact DECIMAL(38,6) partial sum in
      state (summing doubles would drift across merge orders) and
      cast to double only at read — the money_sum discipline.

    Replay safety: the state snapshot CARRIES the max event id folded
    so far; the batch is cut to ``id_col > watermark`` and the sums
    commit atomically WITH the watermark in one ``write_version`` —
    the same single-commit discipline as incremental_tfidf's stats.
    The monotone-id contract is the family's usual one (reference:
    etl_pipeline.py:125-132 consumes strictly-new rows); late events
    with reused lower ids are the caller's upstream dedup problem.

    Scale shape: one map-side pass over the batch, one exchange on
    the (bar, type) key of the BATCH only, then a merge against the
    ≤ |bars| state rows — at 100 TB the state is bounded by the
    calendar, not the corpus.
    """
    from ..functions.numeric import MONEY_DECIMAL

    cur = store.current_version(bars_table)
    state = store.read_version(bars_table) if cur is not None else None
    fresh = new_events
    if state is not None:
        fresh = fresh.filter(F.col(id_col) > state.first()["max_event_id"])
    n_mx = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")
    ).first()
    if n_mx["n"] == 0:
        if cur is None:
            raise ValueError(
                "incremental_ohlc: no state and an empty first batch — "
                "seed with a non-empty batch"
            )
        return ohlc_bars_result(store, bars_table), cur
    order_key = F.struct(ts_col, id_col)
    pick = F.struct(value_col, ts_col, id_col)
    delta = fresh.groupBy(
        F.date_format(
            F.window(ts_col, bar)["start"], "yyyy-MM-dd HH:mm:ss"
        ).alias("bar_start"),
        F.col(type_col).alias("event_type"),
    ).agg(
        F.min_by(pick, order_key).alias("o"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(pick, order_key).alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col(value_col).cast(MONEY_DECIMAL))
        .cast(MONEY_DECIMAL)
        .alias("volume_dec"),
    )
    if state is not None:
        delta = state.drop("max_event_id").unionByName(delta)
    okey = F.struct(F.col("o")[ts_col].alias("ts"), F.col("o")[id_col].alias("id"))
    ckey = F.struct(F.col("c")[ts_col].alias("ts"), F.col("c")[id_col].alias("id"))
    merged = (
        delta.groupBy("bar_start", "event_type")
        .agg(
            F.min_by("o", okey).alias("o"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("c", ckey).alias("c"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("volume_dec").cast(MONEY_DECIMAL).alias("volume_dec"),
        )
        .withColumn("max_event_id", F.lit(n_mx["mx"]).cast("long"))
        .localCheckpoint(eager=True)
    )
    version = store.write_version(merged, bars_table)
    return ohlc_bars_result(store, bars_table), version


def ohlc_bars_result(store, bars_table: str = "ohlc_bars") -> DataFrame:
    """The q98-shaped view of the maintained bar state."""
    s = store.read_version(bars_table)
    return s.select(
        "bar_start",
        "event_type",
        F.col("o")["value"].alias("open"),
        "high",
        "low",
        F.col("c")["value"].alias("close"),
        "n_events",
        F.col("volume_dec").cast("double").alias("volume"),
    )


# ---------------------------------------------------------------------------
# Incremental per-source corpus-health rollup: q68 maintained as
# state across intake batches.
# ---------------------------------------------------------------------------
def incremental_source_rollup(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    fp_table: str = "rollup_fp",
    lang_table: str = "rollup_lang",
    scalar_table: str = "rollup_scalars",
) -> tuple[DataFrame, int]:
    """Maintain q68's per-source corpus-health dashboard (volume,
    exact-dup count, language spread, token mass, decimal-exact mean
    quality) across batches, never rescanning history text. Returns
    (the q68-shaped rollup, committed scalar version).

    State, each piece with an exact merge property:

    - ``fp_table`` — the DISTINCT (source, md5-fingerprint) pairs
      (set-union keyed append: idempotent; O(distinct docs) 48-byte
      rows — the same posture as the dedup indexes, and exactly the
      state an exact dup-rate requires);
    - ``lang_table`` — the distinct (source, lang) pairs (tiny);
    - ``scalar_table`` — per-source associative sums (n_docs,
      total_tokens, quality sum as DECIMAL — float addition would
      drift across merge orders) committed atomically WITH the
      monotone-id watermark (the incremental_tfidf discipline).

    Write order: set-union tables first (idempotent under replay),
    the scalar snapshot — which gates the fold — LAST; every crash
    window between them replays to convergence. Maintained ≡ one-shot
    global q68, which is what the registered q125 oracle (q68's SQL,
    verbatim) checks.
    """
    from ..functions.text import quality_score_raw, token_count

    cur = store.current_version(scalar_table)
    state = store.read_version(scalar_table) if cur is not None else None
    fresh = new_docs
    if state is not None:
        fresh = fresh.filter(F.col(id_col) > state.first()["max_doc_id"])
    feat = fresh.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.md5(text_col).alias("fp"),
        token_count(text_col).alias("_nt"),
        quality_score_raw(text_col).cast("decimal(28,12)").alias("_q"),
    ).localCheckpoint(eager=True)
    n_mx = feat.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")
    ).first()
    if n_mx["n"] == 0:
        if cur is None:
            raise ValueError(
                "incremental_source_rollup: no state and an empty first "
                "batch — seed with a non-empty batch"
            )
        return source_rollup_result(store, fp_table, lang_table, scalar_table), cur
    # set-union tables FIRST (idempotent)
    for table, cols in ((fp_table, ["source", "fp"]), (lang_table, ["source", "lang"])):
        store.append_new(feat.select(*cols).distinct(), table, key=cols)
    # scalar snapshot LAST — sums + watermark in one atomic commit
    delta = feat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.sum("_q").cast("decimal(38,12)").alias("q_sum"),
    )
    if state is not None:
        delta = state.drop("max_doc_id").unionByName(delta)
        delta = delta.groupBy("source").agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("q_sum").cast("decimal(38,12)").alias("q_sum"),
        )
    scalars = delta.withColumn(
        "max_doc_id", F.lit(n_mx["mx"]).cast("long")
    ).localCheckpoint(eager=True)
    version = store.write_version(scalars, scalar_table)
    return source_rollup_result(store, fp_table, lang_table, scalar_table), version


def source_rollup_result(
    store,
    fp_table: str = "rollup_fp",
    lang_table: str = "rollup_lang",
    scalar_table: str = "rollup_scalars",
) -> DataFrame:
    """Assemble the q68-shaped rollup from the persisted state."""
    scalars = store.read_version(scalar_table)
    n_fp = store.read(fp_table).groupBy("source").agg(
        F.count(F.lit(1)).alias("_nfp")
    )
    n_lang = store.read(lang_table).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs")
    )
    return (
        scalars.join(n_fp, "source")
        .join(n_lang, "source")
        .select(
            "source",
            "n_docs",
            (F.col("n_docs") - F.col("_nfp")).cast("int").alias("n_exact_dups"),
            "n_langs",
            "total_tokens",
            F.round(
                (F.col("q_sum") / F.col("n_docs")).cast("double"), 4
            ).alias("mean_quality"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental weekly retention: q73 maintained on a (user, week)
# activity set.
# ---------------------------------------------------------------------------
def incremental_retention(
    new_events: DataFrame,
    store,
    user_col: str = "user_id",
    ts_col: str = "ts",
    activity_table: str = "retention_user_weeks",
) -> DataFrame:
    """Maintain q73's weekly-retention dashboard across event batches.
    The ONLY state is the distinct (user, week) activity set — the
    minimal sufficient statistic for cohort retention — folded with an
    idempotent keyed append (set union: replaying a batch adds
    nothing, so there is no watermark and no crash window; ONE commit
    per fold). n_active / n_retained / retention_rate all derive from
    the set at read, so maintained ≡ one-shot global by set-union
    associativity — the registered q126 oracle is q73's, verbatim.

    Scale shape: one map-side (user, week) projection + distinct per
    batch, one anti-join against the stored set on the composite key
    (both sides 16-byte rows), appends O(batch); the report is two
    bounded ≤ |weeks|-row aggregates over a self-semi-join of the
    set. State is O(distinct user-weeks) — the same posture as the
    dedup indexes, and irreducible for exact retention."""
    uw = new_events.select(
        F.col(user_col).alias("user_id"),
        F.floor(F.unix_date(F.col(ts_col).cast("date")) / 7).alias("week"),
    ).distinct()
    store.append_new(uw, activity_table, key=["user_id", "week"])
    return retention_result(store, activity_table)


def retention_result(
    store, activity_table: str = "retention_user_weeks"
) -> DataFrame:
    """The q73-shaped report derived from the activity set."""
    uw = store.read(activity_table)
    nxt = uw.select("user_id", (F.col("week") - 1).alias("week"))
    retained = uw.join(nxt, ["user_id", "week"], "left_semi")
    active = uw.groupBy("week").agg(F.count(F.lit(1)).alias("n_active"))
    ret = retained.groupBy("week").agg(F.count(F.lit(1)).alias("n_retained"))
    return active.join(ret, "week", "left").select(
        "week",
        "n_active",
        F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
        F.round(
            F.coalesce("n_retained", F.lit(0)).cast("double")
            / F.col("n_active"),
            4,
        ).alias("retention_rate"),
    )


def incremental_source_overlap(
    new_docs: DataFrame,
    store,
    n: int = 5,
    source_col: str = "source",
    text_col: str = "text",
    shingle_table: str = "source_shingles",
) -> DataFrame:
    """Maintain q147's cross-source n-gram overlap matrix across
    intake folds. The ONLY state is the distinct (source, shingle-
    hash) set — the minimal sufficient statistic for every pairwise
    Jaccard — folded with an idempotent keyed anti-join append (set
    union: ONE commit per fold, no watermark, NO crash window — the
    incremental_retention protocol verbatim). Shingles enter the
    state as portable 60-bit md5 hashes: 16-byte columnar rows
    instead of raw 5-gram strings, and the DuckDB oracle replays the
    identical hash, so even a collision cannot diverge the
    comparison. Maintained ≡ global by set-union associativity.

    Scale shape per fold: one map-side shingle explode + distinct on
    the batch only (history text is never re-read), one anti-join
    against the stored set on the 16-byte composite key, O(batch)
    appends; the report joins the set to itself on ``gh`` with
    per-key fan-out bounded by the SOURCE count, never document
    count, then broadcasts the ≤S-row size table onto the S² matrix."""
    from ..functions.text import word_shingles

    batch = (
        new_docs.select(
            F.col(source_col).alias("source"),
            F.explode(word_shingles(text_col, n)).alias("g"),
        )
        .select("source", portable_hash60("g").alias("gh"))
        .distinct()
    )
    store.append_new(batch, shingle_table, key=["source", "gh"])
    return source_overlap_result(store, shingle_table)


def source_overlap_result(
    store, shingle_table: str = "source_shingles"
) -> DataFrame:
    """The q147-shaped pairwise matrix derived from the shingle set
    (all unordered source pairs, zero-overlap ones included)."""
    sh = store.read(shingle_table)
    sz = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pairs = (
        sz.alias("a")
        .join(F.broadcast(sz.alias("b")), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )
    return pairs.join(inter, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.col("na").cast("long").alias("n_shingles_a"),
        F.col("nb").cast("long").alias("n_shingles_b"),
        F.coalesce("i", F.lit(0)).cast("long").alias("n_common"),
        F.round(
            F.coalesce("i", F.lit(0)).cast("double")
            / (F.col("na") + F.col("nb") - F.coalesce("i", F.lit(0))),
            4,
        ).alias("jaccard"),
    )


def incremental_temperature_mixture(
    new_docs: DataFrame,
    store,
    total_budget: int,
    fixed: int = 1_000_000,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    stats_table: str = "mixture_doc_stats",
) -> DataFrame:
    """Maintain q154's α=1/2 temperature-mixture selection across
    intake folds. The per-source budgets depend on the GLOBAL source
    masses, which every fold moves — so the selected set is not
    monotone and cannot be appended; instead the state is the minimal
    sufficient statistic the selection is a pure function of: the
    32-byte (id, source, n_tokens, order-hash) projection, folded by
    an idempotent id-keyed anti-join append (ONE commit per fold, the
    table its own watermark, NO crash window). Budgets, prefix sums,
    and the kept set all derive from the state at read — maintained ≡
    global because the state union IS the global projection. Batch
    text is tokenized once; history text is never re-read.

    The derived selection recomputes a per-source window over the
    compact state (32 B/row). At 100 TB of TEXT that state is ~0.03%
    of corpus bytes; if even that outgrew a window, the read side
    would swap in packing.global_prefix_sum's grouped two-level form
    unchanged (it is the same computation — the registered q154 uses
    it; this read side keeps the naive window to stay oracle-literal
    over the small state)."""
    from ..functions.text import token_count

    batch = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        token_count(text_col).cast("long").alias("n_tokens"),
        portable_hash60(F.col(id_col).cast("string")).alias("h"),
    )
    store.append_new(batch, stats_table, key="doc_id")
    return temperature_mixture_result(store, total_budget, fixed, stats_table)


def temperature_mixture_result(
    store,
    total_budget: int,
    fixed: int = 1_000_000,
    stats_table: str = "mixture_doc_stats",
) -> DataFrame:
    """The q154-shaped selection derived from the maintained doc
    stats: √-mass weights at ``fixed`` fixed-point, an all-int64
    TOTAL·w div Σw budget split, per-source hash-order fill."""
    stats = store.read(stats_table)
    w = (
        stats.groupBy("source")
        .agg(F.sum("n_tokens").alias("m"))
        .select(
            "source",
            F.round(F.sqrt(F.col("m").cast("double")) * fixed)
            .cast("long")
            .alias("w"),
        )
    )
    # DECIMAL(38,0) product: w is sqrt(token mass) at 1e-6 fixed point
    # (~4.5e12 for a 100 TB corpus), so TOTAL·w overflows int64 for any
    # production total_budget (>~2e6 tokens). The widened multiply keeps
    # the integral division exact and order-free; values stay far below
    # 10^38 (≤ ~9.2e18 · ~4.5e12 ≈ 4e31).
    budgets = w.crossJoin(F.broadcast(w.agg(F.sum("w").alias("w_tot")))).select(
        "source",
        F.expr(
            f"CAST(CAST({int(total_budget)} AS DECIMAL(38,0)) * w "
            "div w_tot AS BIGINT)"
        ).alias("source_budget"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        stats.withColumn("cum_tokens", F.sum("n_tokens").over(win).cast("long"))
        .join(F.broadcast(budgets), "source")
        .filter(F.col("cum_tokens") <= F.col("source_budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens", "source_budget")
    )


def incremental_dedup_savings(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    keepers_table: str = "savings_keepers",
    sums_table: str = "savings_sums",
) -> int:
    """Maintain q165's per-source exact-dedup savings across intake
    folds. Under monotone ids a fingerprint's min-id keeper IS its
    first arrival, so the keeper set is APPEND-ONLY — one idempotent
    fp-keyed append — and the per-source before-sums are associative
    deltas committed atomically WITH the replay watermark (the q140
    layer protocol). Keeper index commits FIRST (idempotent), the
    sums delta (the watermark) LAST: a crash between them replays the
    batch, the keeper re-append no-ops, and the sums then commit —
    convergence, never divergence. Returns the docs folded.

    Cost per fold: batch text hashed once and dropped; history enters
    only through the fp-keyed keeper index (40-byte rows) and the
    ≤|sources| summed layers."""
    from ..functions.text import token_count

    batch = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.md5(text_col).alias("fp"),
    )
    wm = None
    if store.current_version(sums_table) is not None:
        wm = store.read_union(sums_table).agg(F.max("batch_max_id")).first()[0]
    fresh = (
        batch.filter(F.col("doc_id") > wm) if wm is not None else batch
    ).localCheckpoint(eager=True)
    stats = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")
    ).first()
    if stats["n"] == 0:
        return 0
    first = (
        fresh.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "n_tokens")).alias("k"))
        .select("fp", "k.source", "k.n_tokens")
    )
    store.append_new(first, keepers_table, "fp")
    delta = (
        fresh.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_before"),
            F.sum("n_tokens").alias("tokens_before"),
        )
        .withColumn("batch_max_id", F.lit(int(stats["mx"])).cast("long"))
    )
    store.append_version(delta, sums_table)
    return int(stats["n"])


def dedup_savings_result(
    store,
    keepers_table: str = "savings_keepers",
    sums_table: str = "savings_sums",
) -> DataFrame:
    """The q165-shaped report derived from the maintained state."""
    before = (
        store.read_union(sums_table)
        .groupBy("source")
        .agg(
            F.sum("docs_before").alias("docs_before"),
            F.sum("tokens_before").alias("tokens_before"),
        )
    )
    after = (
        store.read(keepers_table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_after"),
            F.sum("n_tokens").alias("tokens_after"),
        )
    )
    return before.join(after, "source", "left").select(
        "source",
        F.col("docs_before").cast("long").alias("docs_before"),
        F.coalesce("docs_after", F.lit(0)).cast("long").alias("docs_after"),
        F.col("tokens_before").cast("long").alias("tokens_before"),
        F.coalesce("tokens_after", F.lit(0)).cast("long").alias("tokens_after"),
        F.round(
            (F.col("tokens_before") - F.coalesce("tokens_after", F.lit(0)))
            .cast("double")
            / F.col("tokens_before"),
            4,
        ).alias("tokens_saved_frac"),
    )


# ---------------------------------------------------------------------------
# Heavy-hitter n-grams — the frequent-items member of the sketch
# family. The exact "which n-grams dominate the corpus" question
# (stopword-phrase lists, boilerplate discovery, contamination
# watchlists) is a groupBy over EVERY gram — at 100 TB that shuffle
# carries the full gram vocabulary (billions of keys). The classic
# two-pass answer keeps the result EXACT while bounding the exchange:
#
#   Pass 1 (candidates): a per-partition Misra-Gries summary of k
#     counters, merged by union. The mergeable-summaries guarantee
#     (Agarwal/Cormode/Huang/Phillips/Wei/Yi, PODS'12): an item absent
#     from every partition summary has true count <= N/(k+1), so with
#     k >= den every gram reaching the N/den threshold IS in the
#     union. The exchange carries <= partitions x k candidate rows.
#   Pass 2 (exact recount): broadcast the candidate set, semi-join the
#     gram stream map-side, and exactly count ONLY candidates — the
#     shuffle carries O(partitions x |candidates|) partial sums
#     instead of the vocabulary.
#
# The OUTPUT is partition-independent (pass 2 is exact and the
# candidate union is a superset for ANY partitioning), which is what
# makes an approximate-internals operator hold an exact DuckDB oracle
# (the KMV trick again). Reference analogue: none (the reference
# would GROUP BY in PostgreSQL); this is the 100 TB path.
# ---------------------------------------------------------------------------
def _mg_summaries(gram_col: str, k: int):
    """mapInPandas body: one Misra-Gries summary per PARTITION via
    the merge form (add a value_counts batch, then subtract the
    (k+1)-th largest count and truncate — each subtraction of m
    removes >= (k+1)*m total mass, preserving the N_p/(k+1)
    undercount bound). Emits (gram, est) counter rows plus ONE
    (NULL, n_p) row carrying the partition's exact gram count, so
    the caller gets exact N without a third pass over the stream."""

    def fn(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        n_p = 0
        for pdf in batches:
            col = pdf[gram_col]
            n_p += len(col)
            for g, c in col.value_counts().items():
                counters[g] = counters.get(g, 0) + int(c)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                m = vals[k]
                counters = {g: c - m for g, c in counters.items() if c > m}
        out = pd.DataFrame(
            {
                "gram": list(counters.keys()) + [None],
                "est": list(counters.values()) + [n_p],
            }
        )
        yield out.astype({"est": "int64"})

    return fn


def heavy_hitter_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    den: int = 1000,
    k: int | None = None,
) -> DataFrame:
    """EXACT occurrence counts of every word n-gram appearing at least
    N/den times across the corpus (N = total gram occurrences),
    computed with the bounded two-pass Misra-Gries plan above.
    Returns (gram, n_occurrences), most frequent first.

    ``k`` (candidate summary size, default ``2*den``) must be >= den
    or the no-false-negative guarantee breaks — enforced."""
    from ..functions.text import word_ngrams

    if k is None:
        k = 2 * den
    if k < den:
        raise ValueError(
            f"k={k} < den={den}: a Misra-Gries summary of k counters "
            f"only guarantees items above N/(k+1) survive — the N/{den} "
            "threshold needs k >= den"
        )
    grams = df.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
    summ = grams.mapInPandas(
        _mg_summaries("gram", k), "gram string, est long"
    ).localCheckpoint(eager=True)
    n_total = int(
        summ.filter(F.col("gram").isNull()).agg(F.sum("est")).first()[0] or 0
    )
    cands = summ.filter(F.col("gram").isNotNull()).select("gram").distinct()
    counts = (
        grams.join(F.broadcast(cands), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return counts.filter(
        F.col("n_occurrences") * den >= F.lit(n_total)
    ).orderBy(F.desc("n_occurrences"), "gram")


def incremental_ngram_counts(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    counts_table: str = "ngram_counts",
) -> int:
    """Maintain the exact (gram, cnt) table batch-by-batch — the
    maintained twin of :func:`heavy_hitter_ngrams` for intake-time
    watchlists, where the corpus arrives incrementally and the HH
    question is asked repeatedly. Gram counts are associative sums,
    so the fold is the ``incremental_vocab`` protocol verbatim
    (operators/bpe.py): ONE atomic ``append_version`` per fold with
    the replay watermark (``batch_max_id``) INSIDE the delta layer —
    no crash window. Batch contract: ``id_col`` monotone across
    batches. State is O(distinct grams) — the price of EXACT counts
    (bounded-state alternatives trade exactness away; that trade
    lives in :func:`heavy_hitter_ngrams`'s pass 1, not here).
    Returns the number of documents folded."""
    from ..functions.text import word_ngrams

    wm = None
    if store.current_version(counts_table) is not None:
        wm = (
            store.read_union(counts_table).agg(F.max("batch_max_id")).first()[0]
        )
    fresh = new_docs.filter(F.col(id_col) > wm) if wm is not None else new_docs
    batch = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")
    ).first()
    if batch["n"] == 0:
        return 0
    delta = (
        fresh.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("batch_max_id", F.lit(int(batch["mx"])).cast("long"))
        .localCheckpoint(eager=True)
    )
    # a batch whose documents carry NO n-grams (all texts shorter
    # than n tokens) has nothing to commit — an empty layer would
    # erase the watermark column from the union read, and replaying
    # the batch is harmless precisely because it contributes nothing
    if delta.limit(1).count() == 0:
        return int(batch["n"])
    store.append_version(delta, counts_table)
    return int(batch["n"])


def ngram_heavy_hitters(
    store,
    den: int = 1000,
    counts_table: str = "ngram_counts",
) -> DataFrame:
    """The heavy-hitter read over the maintained count table: sum the
    delta layers per gram, threshold at N/den. Maintained ≡ global is
    immediate (sums are associative; every gram occurrence is counted
    in exactly one layer), so this hash-matches
    :func:`heavy_hitter_ngrams` over the same corpus. One O(state)
    scan + one bounded-key exchange; history TEXT is never re-read."""
    from .bpe import FORGOTTEN_MARKER

    per_gram = (
        store.read_union(counts_table)
        .filter(F.col("gram") != FORGOTTEN_MARKER)
        .groupBy("gram")
        .agg(F.sum("cnt").alias("n_occurrences"))
        # grams fully cancelled by forget_ngram_documents' negative
        # layers sum to 0 — a 0-occurrence gram is never a heavy
        # hitter (and must not appear when N itself is 0)
        .filter(F.col("n_occurrences") > 0)
    )
    n_total = int(per_gram.agg(F.sum("n_occurrences")).first()[0] or 0)
    return per_gram.filter(
        F.col("n_occurrences") * den >= F.lit(n_total)
    ).orderBy(F.desc("n_occurrences"), "gram")


def forget_ngram_documents(
    store,
    gone_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    counts_table: str = "ngram_counts",
) -> int:
    """Right-to-be-forgotten for the maintained n-gram count estate —
    the ``forget_vocab_documents`` protocol (operators/bpe.py:210)
    applied to :func:`incremental_ngram_counts`' table: counts are
    associative sums, so the deletion is ONE more +delta layer with
    NEGATED gram counts, after which :func:`ngram_heavy_hitters` (and
    any other read of the table) equals the fold over the surviving
    corpus alone. Blind-retry safe the same way: each forgotten id is
    recorded as a cnt=0 ``FORGOTTEN_MARKER`` row committed INSIDE the
    same atomic ``append_version`` as its negative counts, and a
    retry anti-joins the requested ids against that ledger — no
    double-subtraction window.

    Unlike the vocab estate, this fold keeps NO text sink (the gram
    table is the only state), so the caller supplies the forgotten
    documents' text — ``gone_docs`` must be rows OF THE FOLDED CORPUS
    (the store's kept sink or retained corpus slice is the canonical
    source). A GRAMS-BEARING id above the fold watermark was provably
    never counted (a grams-bearing doc forces its batch to commit,
    which advances the watermark past its id under the monotone
    contract), so subtracting it would corrupt the sums — it raises.
    A GRAM-LESS doc is a natural no-op wherever its id sits: folds
    skip empty deltas, so gram-less ids legitimately live above the
    watermark, and forgetting them subtracts nothing (no marker is
    written — without a subtraction there is nothing a retry could
    double-apply). Returns the number of grams-bearing documents
    newly subtracted (0 on a pure retry)."""
    from ..functions.text import word_ngrams
    from .bpe import FORGOTTEN_MARKER

    if store.current_version(counts_table) is None:
        return 0
    union = store.read_union(counts_table)
    gone_grams = gone_docs.select(
        id_col, F.explode(word_ngrams(text_col, n)).alias("gram")
    ).localCheckpoint(eager=True)
    counted = sorted(
        int(r[id_col])
        for r in gone_grams.select(id_col).distinct().collect()
    )
    wm = int(
        union.filter(F.col("gram") != FORGOTTEN_MARKER)
        .agg(F.max("batch_max_id"))
        .first()[0]
    )
    over = [i for i in counted if i > wm]
    if over:
        raise ValueError(
            f"ids {over[:5]} exceed the fold watermark {wm} while "
            "carrying grams: never counted, nothing to forget — a "
            "subtraction would corrupt the sums"
        )
    already = {
        int(r["batch_max_id"])
        for r in union.filter(
            (F.col("gram") == FORGOTTEN_MARKER)
            & F.col("batch_max_id").isin(counted)
        )
        .select("batch_max_id")
        .distinct()
        .collect()
    }
    pending = [i for i in counted if i not in already]
    if not pending:
        return 0
    neg = (
        gone_grams.filter(F.col(id_col).isin(pending))
        .groupBy("gram")
        .agg((-F.count(F.lit(1))).alias("cnt"))
        .withColumn("batch_max_id", F.lit(wm).cast("long"))
    )
    markers = gone_docs.sparkSession.createDataFrame(
        [(FORGOTTEN_MARKER, 0, i) for i in pending],
        "gram string, cnt long, batch_max_id long",
    )
    store.append_version(neg.unionByName(markers), counts_table)
    return len(pending)


def _mg_grouped_summaries(group_col: str, gram_col: str, k: int):
    """Grouped mapInPandas body: one INDEPENDENT Misra-Gries summary
    per (partition, group) — the per-group undercount bound is
    N_pg/(k+1), so the union is a per-group candidate superset for
    k >= den exactly as in the ungrouped proof. Emits (grp, gram,
    est) counter rows plus one (grp, NULL, n_pg) exact-total row per
    group seen in the partition."""

    def fn(batches):
        import pandas as pd

        counters: dict[str, dict[str, int]] = {}
        totals: dict[str, int] = {}
        for pdf in batches:
            for grp, sub in pdf.groupby(group_col, sort=False):
                c = counters.setdefault(grp, {})
                totals[grp] = totals.get(grp, 0) + len(sub)
                for g, n in sub[gram_col].value_counts().items():
                    c[g] = c.get(g, 0) + int(n)
                if len(c) > k:
                    vals = sorted(c.values(), reverse=True)
                    m = vals[k]
                    counters[grp] = {g: n - m for g, n in c.items() if n > m}
        grps, grams, ests = [], [], []
        for grp, c in counters.items():
            for g, n in c.items():
                grps.append(grp)
                grams.append(g)
                ests.append(n)
        for grp, n in totals.items():
            grps.append(grp)
            grams.append(None)
            ests.append(n)
        yield pd.DataFrame({"grp": grps, "gram": grams, "est": ests}).astype(
            {"est": "int64"}
        )

    return fn


def heavy_hitter_ngrams_by(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = 2,
    den: int = 500,
    k: int | None = None,
) -> DataFrame:
    """Per-GROUP exact heavy-hitter n-grams — "which phrases dominate
    each source/domain", the grouped form of
    :func:`heavy_hitter_ngrams` (per-domain boilerplate discovery is
    where HH earns its keep in web-corpus curation: a phrase at 0.2%
    of ONE domain is invisible globally). Same two-pass plan with the
    MG summary kept per (partition, group); thresholds are per-group
    (count >= N_group/den). Intended for bounded group cardinality
    (sources, domains, language buckets) — the candidate exchange is
    <= partitions x groups x k rows. Group values must be NON-NULL
    and are processed (and returned) AS STRINGS: the input frame is
    cast explicitly so the Arrow summary schema ('grp string') is
    self-enforcing for any group type, and a null group FAILS FAST
    here (pandas groupby would otherwise silently drop the rows).
    Returns (group_col string, gram, n_occurrences), per-group
    most-frequent first."""
    from ..functions.text import word_ngrams

    if k is None:
        k = 2 * den
    if k < den:
        raise ValueError(
            f"k={k} < den={den}: the per-group Misra-Gries bound needs "
            "k >= den"
        )
    # fail fast on null groups: limit(1) short-circuits on the first
    # null and only touches the group column's pages
    if df.filter(F.col(group_col).isNull()).limit(1).count():
        raise ValueError(
            f"{group_col} contains NULLs: null groups would be silently "
            "dropped by the per-batch pandas groupby — filter or coalesce "
            "them before calling heavy_hitter_ngrams_by"
        )
    grams = df.select(
        F.col(group_col).cast("string").alias("grp"),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    )
    summ = grams.mapInPandas(
        _mg_grouped_summaries("grp", "gram", k),
        "grp string, gram string, est long",
    ).localCheckpoint(eager=True)
    totals = (
        summ.filter(F.col("gram").isNull())
        .groupBy("grp")
        .agg(F.sum("est").alias("_n"))
    )
    cands = (
        summ.filter(F.col("gram").isNotNull()).select("grp", "gram").distinct()
    )
    counts = (
        grams.join(F.broadcast(cands), ["grp", "gram"], "left_semi")
        .groupBy("grp", "gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.join(F.broadcast(totals), "grp")
        .filter(F.col("n_occurrences") * den >= F.col("_n"))
        .select(
            F.col("grp").alias(group_col),
            "gram",
            "n_occurrences",
        )
        .orderBy(group_col, F.desc("n_occurrences"), "gram")
    )
