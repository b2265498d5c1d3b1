"""BM25 retrieval over the document corpus — the search/attribution
member of the text-operator families: "which documents best answer
this query", the ranked-retrieval twin of the exact-match passage
search (operators/dedup.py:passage_search) and the containment
attribution (q188). Training-data pipelines use exactly this shape
for eval-set retrieval contamination ("is a benchmark answer
retrievable verbatim?"), RAG-corpus QA, and hard-negative mining.

Three surfaces, one scoring law:

- :func:`bm25_topk` — one-shot over a corpus frame (q194);
- :func:`incremental_term_postings` + :func:`bm25_index_query` — the
  maintained inverted-index estate: postings fold batch-by-batch at
  intake (one text pass per batch, history text never rescanned) and
  queries read ONLY the probed terms' directory slice (q195);
- :func:`forget_term_documents` — GDPR for the estate (q196): pure
  deletes, blind-retry convergent, after which every read equals the
  one-shot over the survivors.

Scoring is Lucene-shaped BM25 with the q139 fixed-point discipline:
each (query term, doc) contribution is computed with a DuckDB-
mirrorable float AST —

    idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
    norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

— then rounded to an exact int64 at 1e9 fixed point, so the per-doc
SUM is order-free and the oracle hash-exact; ranks order by the
fixed-point score (exact long) with doc-id tie-breaks, never by a
rounded double.

Scale shape: query terms BROADCAST; the corpus token pass filters to
them BEFORE any exchange, so the tf/df aggregates shuffle matched
postings only, never the corpus vocabulary; doc lengths come from
``F.size`` on the scan (no explode). The maintained index partitions
postings by tp = xxhash64(term) mod buckets (layout sidecar, the
GH_BUCKETS discipline), so point queries prune the postings scan to
the query terms' directory prefixes.

Reference anchor: none (beyond-reference tier — the reference's
engine is PostgreSQL, reference etl_pipeline.py:1-80 has no search
surface); nearest public analogue is Lucene/Elasticsearch BM25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .dedup import GH_BUCKETS, _persisted_buckets

_FP = 1e9  # fixed-point scale for per-term contributions (q139 rule)


def _query_terms(queries: DataFrame, query_id_col: str, query_col: str) -> DataFrame:
    """(query_id, term), distinct — repeated query terms score once
    (the Lucene default for qf=1)."""
    return (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(query_col)).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )


def _empty_topk(qterms: DataFrame, doc_ids: DataFrame, id_col: str) -> DataFrame:
    """Zero-row (query_id, <id_col>, rank, score) frame with the input
    frames' own column types — the exact BM25 answer over an empty
    corpus (top-k of nothing is nothing), kept schema-stable so unions
    and oracle comparisons still line up."""
    return (
        qterms.select("query_id")
        .limit(0)
        .crossJoin(doc_ids.select(F.col("_id").alias(id_col)).limit(0))
        .withColumn("rank", F.lit(0).cast("long"))
        .withColumn("score", F.lit(0.0))
    )


def _bm25_scores(
    tf: DataFrame,
    qterms: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    sum_dl: int,
    k1: float,
    b: float,
    k: int,
) -> DataFrame:
    """Shared scoring tail: (doc _id, term, tf) postings for the query
    terms → fixed-point BM25 → per-query top-k. ``tf`` must hold ONE
    row per (term, _id); the index reader dedupes its multiset before
    calling (the one-shot aggregate is distinct by construction)."""
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = float(sum_dl) / n_docs
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .join(doclens, "_id")
        .select(
            "query_id",
            "_id",
            F.round(idf * norm * F.lit(_FP)).cast("long").alias("t_fp"),
        )
    )
    from pyspark.sql.window import Window

    scored = contrib.groupBy("query_id", "_id").agg(
        F.sum("t_fp").alias("s_fp")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s_fp"), F.col("_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "_id",
            "rank",
            F.round(F.col("s_fp") / F.lit(_FP), 6).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """One-shot BM25 top-k: (query_id, doc_id, rank, score) for the
    ``k`` best documents per query, most-relevant first, exact ties
    broken by doc id. See the module docstring for the scoring law,
    the fixed-point exactness rule, and the scale shape."""
    base = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_t")
    )
    doclens = base.select(
        "_id", F.size("_t").cast("long").alias("dl")
    ).localCheckpoint(eager=True)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    qterms = _query_terms(queries, query_id_col, query_col).localCheckpoint(
        eager=True
    )
    if int(stats["n"]) == 0:
        return _empty_topk(qterms, base, id_col)
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    terms = qterms.select("term").distinct()
    tf = (
        base.select("_id", F.explode("_t").alias("term"))
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy("term", "_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    out = _bm25_scores(tf, qterms, doclens, n_docs, sum_dl, k1, b, k)
    return out.withColumnRenamed("_id", id_col)


def oracle_bm25_sql(
    queries: list[tuple[int, str]] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    where: str = "TRUE",
    queries_from: str | None = None,
) -> str:
    """The DuckDB replay of :func:`bm25_topk` over the ``documents``
    view (optionally restricted by ``where`` — the q196 survivor
    form), with the SAME float AST and 1e9 fixed point, so the
    comparison is hash-exact. Query set: literal ``queries`` pairs,
    or ``queries_from`` — a SQL fragment selecting (query_id, query)
    — for corpus-derived query text (the q197 form)."""
    if queries_from is None:
        # '' is SQL's quote escape — a query containing a single quote
        # must not break (or silently change) the rendered oracle.
        vals = ", ".join(
            f"({i}, '{q.replace(chr(39), chr(39) * 2)}')" for i, q in queries
        )
        q_cte = f"q(query_id, query) AS (VALUES {vals})"
    else:
        q_cte = f"q AS ({queries_from})"
    return f"""
WITH {q_cte},
toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
    FROM documents WHERE {where}
),
dl AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS dl FROM toks),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
qt AS (
    -- mirror _query_terms' empty-token filter: both tokenizers emit
    -- '' for leading/trailing whitespace and Spark drops it
    SELECT DISTINCT query_id, term FROM (
        SELECT query_id,
               UNNEST(regexp_split_to_array(query, '\\s+')) AS term
        FROM q
    ) WHERE term <> ''
),
tf AS (
    SELECT x AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks, UNNEST(t) AS u(x)
    WHERE x <> '' AND x IN (SELECT DISTINCT term FROM qt)
    GROUP BY 1, 2
),
dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
contrib AS (
    SELECT qt.query_id, tf.doc_id,
           CAST(ROUND(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * ((tf * {k1 + 1.0!r})
                  / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl / avgdl)))
               * {_FP!r}) AS BIGINT) AS t_fp
    FROM tf
    JOIN qt USING (term)
    JOIN dfc USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
),
scored AS (
    SELECT query_id, doc_id, SUM(t_fp) AS s_fp FROM contrib GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, s_fp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_fp DESC, doc_id) AS rank
    FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       CAST(rank AS BIGINT) AS rank,
       ROUND(s_fp / {_FP!r}, 6) AS score
FROM ranked WHERE rank <= {k}
"""


def _tp_of(term, buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(buckets)).cast("int")


def incremental_term_postings(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_table: str = "term_postings",
    doclen_table: str = "doc_lengths",
    seen_table: str = "postings_seen_docs",
) -> int:
    """Maintain the inverted index batch-by-batch: after every fold,
    the postings/doc-length tables describe ALL documents ever seen,
    and :func:`bm25_index_query` over them equals :func:`bm25_topk`
    over the union corpus. Returns the number of new documents folded.

    Per fold: ONE text pass over the batch only (tokenize → per-doc
    term counts + lengths); history text is never rescanned and no
    history exchange exists at all — BM25's corpus statistics (df, N,
    avgdl) are pure sums over per-doc rows, so the fold is pure
    append (contrast the span fold's retroactive Cut 1/Cut 2: nothing
    here reopens old docs). Postings commit hive-partitioned by
    tp = xxhash64(term) mod buckets (modulus in the layout sidecar —
    the GH_BUCKETS discipline) so queries prune to their terms'
    prefixes.

    Crash matrix — postings FIRST, doc-lengths SECOND, seen-watermark
    LAST, each append idempotent-by-replay:

    - crash before postings: nothing durable, full replay.
    - crash after postings / after doc-lengths, before seen: the
      replay re-appends the batch, making the touched tables
      MULTISETS for it; every reader collapses duplicates by
      ``max`` over the key (replayed rows are byte-identical, so
      max = the value) — exact, duplicates cost storage in this one
      window, never correctness. A doc visible in postings but not
      yet in doc-lengths cannot mis-score a query meanwhile: the
      scoring join is INNER on doc-lengths... which would DROP the
      doc's postings rows silently — hence doc-length rows for the
      batch are derived from the SAME frame as its postings and the
      reader treats postings-without-length as the corruption it is
      and raises (:func:`bm25_index_query`).
    - a partially visible seen append replays the missing suffix.
    """
    dup = (
        new_docs.groupBy(F.col(id_col).alias("_id"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        # A batch with two rows for one id is ambiguous input: tf would
        # sum across the duplicates while the doc-length reader collapses
        # to one row, silently breaking index-query ≡ one-shot. Fail
        # fast (the null-group-guard precedent, heavy_hitter_ngrams_by).
        raise ValueError(
            f"incremental_term_postings: batch contains duplicate "
            f"{id_col} rows (e.g. {dup[0]['_id']!r}); dedupe the batch "
            "before folding"
        )
    fresh = store.unseen(
        new_docs.select(F.col(id_col).alias("_id")).distinct(), seen_table, "_id"
    )
    base = (
        new_docs.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_t"))
        .join(fresh, "_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    n_new = base.count()
    if n_new == 0:
        return 0
    buckets = (
        _persisted_buckets(store, postings_table)
        if store.exists(postings_table)
        else GH_BUCKETS
    )
    postings = (
        base.select("_id", F.explode("_t").alias("term"))
        .groupBy("term", "_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("tp", _tp_of(F.col("term"), buckets))
        .repartition("tp")
    )
    if not store.exists(postings_table):
        store.write_layout_meta(
            postings_table,
            {"bucket_col": "tp", "hash_col": "term", "buckets": buckets},
        )
    store.append(postings, postings_table, partition_by=["tp"])
    store.append(
        base.select("_id", F.size("_t").cast("long").alias("dl")),
        doclen_table,
    )
    store.append_new(fresh.select("_id"), seen_table, key="_id")
    return n_new


def _pruned_postings(
    store, postings_table: str, terms: DataFrame
) -> DataFrame:
    """The index read: postings for the probed terms, with the scan
    PRUNED to the terms' tp directory prefixes when the term set
    cannot saturate the directory tree (the Cut-1 heuristic), and
    crash-window duplicates collapsed by max-per-key (replayed rows
    are byte-identical). Factored out so the plan pin tests the
    operator's actual read path."""
    buckets = _persisted_buckets(store, postings_table)
    scan = store.read(postings_table)
    if terms.count() <= 16 * buckets:
        prefixes = [
            int(r["p"])
            for r in terms.select(_tp_of(F.col("term"), buckets).alias("p"))
            .distinct()
            .collect()
        ]
        scan = scan.filter(F.col("tp").isin(prefixes))
    return (
        scan.join(F.broadcast(terms), "term", "left_semi")
        .groupBy("term", "_id")
        .agg(F.max("tf").alias("tf"))
    )


def bm25_index_query(
    store,
    queries: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    postings_table: str = "term_postings",
    doclen_table: str = "doc_lengths",
) -> DataFrame:
    """:func:`bm25_topk` answered from the maintained index —
    result-identical to the one-shot over every document ever folded
    (same postings, same statistics, same fixed-point law), which is
    what lets the q195 oracle be q194's SQL verbatim.

    Read shape: the postings scan PRUNES to the query terms' hash
    prefixes at the directory level (skipped past the coupon-
    collector saturation bound, the Cut-1 heuristic); corpus
    statistics come from the doc-length table (2 slim columns,
    O(docs-seen)); both reads collapse crash-window duplicates by
    max-per-key. Raises on a doc that has postings but no committed
    length row — that is index corruption, not a scorable state."""
    doclens = (
        store.read(doclen_table)
        .groupBy("_id")
        .agg(F.max("dl").alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    qterms = _query_terms(queries, query_id_col, query_col).localCheckpoint(
        eager=True
    )
    if int(stats["n"]) == 0:
        return _empty_topk(qterms, doclens, id_col)
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    terms = qterms.select("term").distinct()
    tf = _pruned_postings(store, postings_table, terms).localCheckpoint(
        eager=True
    )
    orphans = tf.select("_id").distinct().join(doclens, "_id", "left_anti")
    if orphans.limit(1).count():
        raise RuntimeError(
            f"{postings_table} holds postings for docs with no committed "
            f"{doclen_table} row: a crashed fold must replay before "
            "queries can score (postings commit first; lengths second)"
        )
    out = _bm25_scores(tf, qterms, doclens, n_docs, sum_dl, k1, b, k)
    return out.withColumnRenamed("_id", id_col)


def forget_term_documents(
    store,
    ids: DataFrame,
    id_col: str = "doc_id",
    postings_table: str = "term_postings",
    doclen_table: str = "doc_lengths",
    seen_table: str = "postings_seen_docs",
) -> dict[str, int]:
    """Right-to-be-forgotten for the retrieval estate: purge the ids
    from the postings index, the doc-length table, and the seen
    watermark. PURE deletes — BM25 statistics (df, N, avgdl) are
    recomputed from surviving rows at every read, so unlike the span
    estate there is NO derived report to shrink retroactively: after
    the purge every query equals the one-shot over the survivors, by
    construction. Blind-retry convergent trivially (each delete is
    idempotent; any crash window leaves a subset of the deletes done
    and the retry re-runs them all). Layout-preserving on the
    tp-bucketed postings directories. Returns per-table bookkeeping."""
    ids = (
        ids.select(F.col(id_col).alias("_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out: dict[str, int] = {}
    for table in (postings_table, doclen_table, seen_table):
        if store.exists(table):
            store.delete_keys(table, ids, "_id", pinned=True)
            out[table] = 0
    return out


def _query_pairs(
    queries: DataFrame, query_id_col: str, query_col: str
) -> DataFrame:
    """(query_id, j, t1, t2) — the query's consecutive ordered token
    pairs (after dropping empty tokens), numbered by j. The proximity
    scorer matches each pair against document positions; queries are
    tiny, so the per-query window is free and the frame broadcasts."""
    from pyspark.sql.window import Window

    toks = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.posexplode(tokens(query_col)).alias("j", "t1"),
        )
        .filter(F.col("t1") != "")
    )
    w = Window.partitionBy("query_id").orderBy("j")
    return (
        toks.withColumn("t2", F.lead("t1").over(w))
        .filter(F.col("t2").isNotNull())
        .select("query_id", "j", "t1", "t2")
    )


def _proximity_scores(
    hits: DataFrame, pairs: DataFrame, slop: int, k: int
) -> DataFrame:
    """Shared scoring tail for the one-shot and the index read:
    ``hits`` = (doc _id, pos, term) positional postings already cut to
    the pair vocabulary, ONE row per (_id, pos); ``pairs`` = the
    broadcastable query pair frame. A pair (t1, t2) scores one point
    for every position pair (p1, p2) with doc[p1]=t1, doc[p2]=t2 and
    1 <= p2-p1 <= slop (ordered, Lucene sloppy-bigram shape); a doc's
    score is the exact integer sum over the query's pairs — no floats
    anywhere, so oracle hashes match without fixed-point machinery.

    Skew posture: the naive doc-keyed self-join fans out
    occ(t1) x occ(t2) per doc BEFORE the range filter — quadratic on a
    pathological document that repeats both terms. The join therefore
    keys on (doc, position block) with block = floor(pos / slop): a
    window (p1, p1+slop] spans exactly the two blocks {b1, b1+1}, so
    the left side duplicates each hit into those two keys and the
    per-key fan-out is bounded by the occurrences inside ONE block
    (<= slop positions) — worst case drops from occ^2 to
    occ x 2 x slop. Execution detail only; results are identical."""
    from pyspark.sql.window import Window

    b1 = F.floor(F.col("p1") / F.lit(slop)).cast("long")
    left = (
        hits.join(F.broadcast(pairs), hits["term"] == pairs["t1"])
        .select("query_id", "j", "t2", "_id", F.col("pos").alias("p1"))
        .withColumn("blk", F.explode(F.array(b1, b1 + 1)))
    )
    right = hits.select(
        F.col("_id").alias("r_id"),
        F.col("pos").alias("p2"),
        F.col("term").alias("rt"),
        F.floor(F.col("pos") / F.lit(slop)).cast("long").alias("rblk"),
    )
    matched = left.join(
        right,
        (left["_id"] == right["r_id"])
        & (left["blk"] == right["rblk"])
        & (right["rt"] == left["t2"])
        & (right["p2"] > left["p1"])
        & (right["p2"] <= left["p1"] + slop),
    ).select(left["query_id"], left["_id"])
    scored = matched.groupBy("query_id", "_id").agg(
        F.count(F.lit(1)).cast("long").alias("pair_hits")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pair_hits"), F.col("_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "_id", "rank", "pair_hits")
    )


def proximity_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    slop: int = 3,
    k: int = 10,
) -> DataFrame:
    """Proximity (sloppy-phrase) retrieval: rank documents by how
    often the query's CONSECUTIVE token pairs occur in order within
    ``slop`` positions — the positional member of the retrieval family
    (BM25 q194 is bag-of-words; passage_search q174 is exact-match;
    this is Lucene's phrase-with-slop shape, the standard relevance
    signal BM25 alone cannot express). Single-term queries have no
    pairs and return no rows, by definition.

    Returns (query_id, <id_col>, rank, pair_hits), best first, exact
    integer scores, ties broken by doc id.

    Scale shape: the pair vocabulary BROADCASTS; the corpus positional
    pass filters to it BEFORE any exchange, so the position self-join
    exchanges matched postings only (keyed on the doc id — naturally
    distributed) and the raw corpus text never shuffles."""
    if slop < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    postoks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    pairs = _query_pairs(queries, query_id_col, query_col).localCheckpoint(
        eager=True
    )
    vocab = (
        pairs.select(F.col("t1").alias("term"))
        .unionByName(pairs.select(F.col("t2").alias("term")))
        .distinct()
    )
    hits = postoks.join(
        F.broadcast(vocab), "term", "left_semi"
    ).localCheckpoint(eager=True)
    out = _proximity_scores(hits, pairs, slop, k)
    return out.withColumnRenamed("_id", id_col)


def oracle_proximity_sql(
    queries_from: str,
    slop: int = 3,
    k: int = 10,
    where: str = "TRUE",
) -> str:
    """DuckDB replay of :func:`proximity_topk` over the ``documents``
    view (optionally restricted by ``where`` — the forget/survivor
    form). ``queries_from`` is a SQL fragment selecting (query_id,
    query). Positions are 0-based over the raw token array with empty
    tokens dropped, exactly the Spark side's posexplode+filter."""
    return f"""
WITH q AS ({queries_from}),
qtok AS (
    SELECT query_id, i - 1 AS j, t[i] AS term
    FROM (SELECT query_id, regexp_split_to_array(query, '\\s+') AS t
          FROM q),
         UNNEST(range(1, length(t) + 1)) AS u(i)
    WHERE t[i] <> ''
),
pairs AS (
    SELECT query_id, j, term AS t1,
           LEAD(term) OVER (PARTITION BY query_id ORDER BY j) AS t2
    FROM qtok
    QUALIFY t2 IS NOT NULL
),
toks AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS term
    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
          FROM documents WHERE {where}),
         UNNEST(range(1, length(t) + 1)) AS u(i)
    WHERE t[i] <> ''
      AND t[i] IN (SELECT t1 FROM pairs UNION SELECT t2 FROM pairs)
),
matched AS (
    SELECT p.query_id, l.doc_id
    FROM pairs p
    JOIN toks l ON l.term = p.t1
    JOIN toks r ON r.doc_id = l.doc_id AND r.term = p.t2
               AND r.pos > l.pos AND r.pos <= l.pos + {slop}
),
scored AS (
    SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS pair_hits
    FROM matched GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, pair_hits,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY pair_hits DESC, doc_id) AS rank
    FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       CAST(rank AS BIGINT) AS rank, pair_hits
FROM ranked WHERE rank <= {k}
"""


def incremental_positional_postings(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_table: str = "positional_postings",
    seen_table: str = "positional_seen_docs",
) -> int:
    """Maintain the POSITIONAL inverted index batch-by-batch — the
    estate behind :func:`proximity_index_query`, the positional twin
    of :func:`incremental_term_postings` (which keeps only term
    frequencies). One row per surviving (doc, position): (term, _id,
    pos), hive-partitioned by tp = xxhash64(term) mod buckets (layout
    sidecar, the GH_BUCKETS discipline) so queries prune to their pair
    vocabulary's directory prefixes. Returns the number of new
    documents folded.

    Per fold: ONE text pass over the batch only; history text is
    never rescanned and nothing retroactive exists (positions are
    per-doc facts — contrast the span estate's Cut 1/Cut 2). Crash
    matrix — postings FIRST, seen-watermark LAST: a crash between
    them makes the postings a MULTISET for the batch; replayed rows
    are byte-identical, so every reader collapses them with DISTINCT
    (no tf to merge here, unlike the BM25 estate) — exact, duplicates
    cost storage in that one window, never correctness. Rejects a
    batch carrying duplicate ids (same ambiguity as the BM25 fold)."""
    dup = (
        new_docs.groupBy(F.col(id_col).alias("_id"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"incremental_positional_postings: batch contains duplicate "
            f"{id_col} rows (e.g. {dup[0]['_id']!r}); dedupe the batch "
            "before folding"
        )
    fresh = store.unseen(
        new_docs.select(F.col(id_col).alias("_id")).distinct(), seen_table, "_id"
    ).localCheckpoint(eager=True)
    base = (
        new_docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(tokens(text_col)).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .join(fresh, "_id", "left_semi")
    )
    n_new = fresh.count()
    if n_new == 0:
        return 0
    buckets = (
        _persisted_buckets(store, postings_table)
        if store.exists(postings_table)
        else GH_BUCKETS
    )
    postings = (
        base.select("term", "_id", F.col("pos").cast("long").alias("pos"))
        .withColumn("tp", _tp_of(F.col("term"), buckets))
        .repartition("tp")
    )
    if not store.exists(postings_table):
        store.write_layout_meta(
            postings_table,
            {"bucket_col": "tp", "hash_col": "term", "buckets": buckets},
        )
    store.append(postings, postings_table, partition_by=["tp"])
    store.append_new(fresh.select("_id"), seen_table, key="_id")
    return n_new


def _pruned_positions(store, postings_table: str, terms: DataFrame) -> DataFrame:
    """The positional index read: (term, _id, pos) rows for the probed
    terms, scan PRUNED to the terms' tp directory prefixes past the
    saturation bound (the Cut-1 heuristic shared with
    :func:`_pruned_postings`), crash-window duplicates collapsed by
    DISTINCT (replayed rows are byte-identical). Factored out so the
    plan pin tests the operator's actual read path."""
    buckets = _persisted_buckets(store, postings_table)
    scan = store.read(postings_table)
    if terms.count() <= 16 * buckets:
        prefixes = [
            int(r["p"])
            for r in terms.select(_tp_of(F.col("term"), buckets).alias("p"))
            .distinct()
            .collect()
        ]
        scan = scan.filter(F.col("tp").isin(prefixes))
    return (
        scan.join(F.broadcast(terms), "term", "left_semi")
        .select("term", "_id", "pos")
        .distinct()
    )


def proximity_index_query(
    store,
    queries: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
    slop: int = 3,
    k: int = 10,
    postings_table: str = "positional_postings",
) -> DataFrame:
    """:func:`proximity_topk` answered from the maintained positional
    index — result-identical to the one-shot over every document ever
    folded (same positions, same integer scoring), so the oracle is
    the one-shot's SQL verbatim. The postings scan prunes to the pair
    vocabulary's hash prefixes at the directory level."""
    if slop < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    pairs = _query_pairs(queries, query_id_col, query_col).localCheckpoint(
        eager=True
    )
    vocab = (
        pairs.select(F.col("t1").alias("term"))
        .unionByName(pairs.select(F.col("t2").alias("term")))
        .distinct()
    )
    hits = _pruned_positions(store, postings_table, vocab).localCheckpoint(
        eager=True
    )
    out = _proximity_scores(
        hits.select("_id", "pos", "term"), pairs, slop, k
    )
    return out.withColumnRenamed("_id", id_col)


def forget_positional_documents(
    store,
    ids: DataFrame,
    id_col: str = "doc_id",
    postings_table: str = "positional_postings",
    seen_table: str = "positional_seen_docs",
) -> dict[str, int]:
    """Right-to-be-forgotten for the positional estate: purge the ids
    from the positional postings and the seen watermark. Pure deletes
    (proximity scores are per-doc facts — nothing derived to shrink),
    blind-retry convergent, layout-preserving on the tp directories;
    afterwards every read equals the one-shot over the survivors."""
    return forget_term_documents(
        store,
        ids,
        id_col=id_col,
        postings_table=postings_table,
        doclen_table="__absent__",
        seen_table=seen_table,
    )


def retrieval_eval_mrr(
    ranking: DataFrame,
    qrels: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank evaluation of ANY ranking surface (BM25 q194,
    proximity q200, ANN q29/q30 after a rename) against labeled qrels
    — the retrieval twin of the ANN recall harness (q97): given
    ``ranking`` = (query_id, <id_col>, rank) and ``qrels`` =
    (query_id, rel_id) with ONE relevant item per query, emit per
    query (query_id, rel_id, rank, rr_ppm) where rank is the relevant
    item's position (0 = not retrieved) and rr_ppm =
    round(1e6 / rank) as an EXACT integer (0 on a miss) — parts-per-
    million reciprocal rank, so the frame hashes exactly and the
    caller's mean(rr_ppm)/1e6 is MRR@k.

    Scale shape: both inputs are bounded (queries × k and queries
    rows); every join is on the query key."""
    hits = ranking.join(
        qrels,
        (ranking["query_id"] == qrels["query_id"])
        & (ranking[id_col] == qrels["rel_id"]),
    ).select(qrels["query_id"], qrels["rel_id"], ranking["rank"])
    return qrels.join(hits, ["query_id", "rel_id"], "left").select(
        "query_id",
        "rel_id",
        F.coalesce(F.col("rank"), F.lit(0)).cast("long").alias("rank"),
        F.coalesce(
            F.round(F.lit(1e6) / F.col("rank")).cast("long"), F.lit(0)
        ).alias("rr_ppm"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher's RRF, the
    standard hybrid-retrieval combiner): fuse N per-query rankings —
    e.g. BM25 lexical (q194) and embedding-cosine semantic (q29) —
    into one list per query, scoring each item Σ 1/(c + rank) over
    the lists it appears in. Rank-based, so the component scores
    need no calibration against each other; c=60 is the paper's
    robust default.

    Inputs must carry (query_id, item_id, rank); an item missing
    from a list simply contributes no term (the standard convention).
    Exactness follows the q139 fixed-point rule: each term rounds to
    int64 at 1e9 before the order-free SUM, and the fused rank
    orders by the exact fixed-point score with item-id tie-breaks.
    Returns (query_id, item_id, rank, rrf_score), best first.

    Scale shape: each input is already a top-k frame (≤ queries × k
    rows), so the union/aggregate/window all run on bounded data —
    the heavy lifting happened in the component retrievals."""
    from functools import reduce

    from pyspark.sql.window import Window

    fp = [
        r.select(
            "query_id",
            "item_id",
            F.round(F.lit(_FP) / (F.lit(float(c)) + F.col("rank")))
            .cast("long")
            .alias("t_fp"),
        )
        for r in rankings
    ]
    scored = (
        reduce(lambda a, b: a.unionByName(b), fp)
        .groupBy("query_id", "item_id")
        .agg(F.sum("t_fp").alias("s_fp"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("s_fp"), F.col("item_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "item_id",
            "rank",
            F.round(F.col("s_fp") / F.lit(_FP), 6).alias("rrf_score"),
        )
    )
