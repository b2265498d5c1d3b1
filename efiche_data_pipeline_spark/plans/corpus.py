"""Round-4 corpus-analytics operators: document fingerprinting
(winnowing), weighted sampling, graph ranking (fixed-point PageRank),
data-layout clustering (Z-order), schema profiling, entropy-based
quality scoring, curriculum source mixing, exact rank-based outlier
detection, and TF-IDF term scoring.

These extend the training-data-pipeline surface (plans/extensions.py)
with the remaining families a 100 TB corpus engine needs:

- **q83 winnowing** — the MOSS fingerprint scheme (Schleimer, Wilkerson,
  Aiken, SIGMOD'03): hash every word 4-gram, slide a window of 4 hashes,
  keep each window's minimum. Guarantees any sufficiently long match
  between two documents shares a fingerprint, at ~2/(w+1) sampling
  density.  Map-side shingling + one exchange on doc_id.
- **q84 weighted sampling** — Poisson/Bernoulli sampling with
  per-row inclusion probability proportional to an integer weight,
  decided by pure integer comparison on a portable md5-derived hash:
  zero shuffles, exactly reproducible in any engine (the distributed
  analogue of `ORDER BY random() LIMIT n` weighted draws, without the
  global sort).
- **q85 PageRank** — 3 fixed damped iterations over the part
  co-purchase graph in *fixed-point integer arithmetic* (rank mass
  scaled by 1e6, integer division for contributions), so the result is
  bit-identical regardless of aggregation order — the trick that makes
  an iterative float algorithm oracle-checkable and
  parallelism-invariant.  Per iteration: one shuffle keyed on dst.
- **q86 Z-order** — Morton bit-interleave of (customer, day) buckets,
  the clustering key Delta/Iceberg use for multi-dimensional data
  skipping; pure JVM bit math, plus the per-bin min/max stats a file
  pruner would consume.
- **q87 profiler** — per-column null/distinct counts in ONE pass
  (Spark plans the multi-distinct aggregate via Expand), the
  schema-drift guard that runs before every large ingest.
- **q88 char entropy** — character-distribution entropy per document
  (gibberish/boilerplate detector): 27 fixed `length - replace` counters
  folded into -Σ p·log2 p, all map-side.
- **q89 curriculum mixture** — deterministic per-source rate sampling
  (hash-threshold in integer ppm), the "mix sources at target ratios"
  step of training-data assembly; map-side only.
- **q90 outliers** — exact rank-based p99 per segment (row_number
  against ceil(0.99·n), no float interpolation) and the count above it;
  one window exchange, decimal-exact revenue.
- **q91 TF-IDF** — per-term document scoring with in-row tf counts,
  a broadcast df join, and a bounded top-10 window per term.

Reference parity note: the reference engine (psycopg2 ETL + Postgres
warehouse, src/etl_pipeline.py / src/populate_warehouse.py) has none of
these — they are the beyond-reference LLM-pipeline surface the build
brief requires, designed Spark-first.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import (
    oracle_chunk_hash,
    oracle_hash60,
    portable_chunk_hash,
    portable_hash60,
)
from ..functions.numeric import money_sum, oracle_money_sum
from ..functions.text import token_count, tokens, word_shingles
from ..operators.quality import (
    REP_DUP3_MAX as _REP_DUP3_MAX,
    REP_TOP2_MAX as _REP_TOP2_MAX,
)
from ..operators.dedup import oracle_simhash_sql
from ..operators.similarity import brute_force_topk, ivf_topk
from ..pipeline.store import Store
from ..sources.catalog import load_table


def _en_stop_sql() -> str:
    from ..functions.text import LANG_STOPWORDS

    return ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


_EN_STOP_SQL_C = _en_stop_sql()

ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# Q83 — winnowing document fingerprints (MOSS).  Word 4-grams hashed
# with the md5-portable 60-bit hash; a sliding window of 4 consecutive
# hashes keeps its minimum; the distinct kept hashes are the document's
# fingerprints.  Documents shorter than one full window keep the
# minimum of what they have (the pos <= max(n-w, 0) filter admits
# exactly window start 0 in that case).
#
# Scale shape: the token explode is map-side; ONE exchange (hash
# partition on doc_id) feeds every window function — the token count,
# the three `lead`s that assemble each gram from consecutive tokens,
# and the winnowing min — plus the final per-doc aggregate, all
# reusing the same sort.  Assembling grams with `lead` over exploded
# tokens (instead of posexplode of the word_ngrams array) keeps the
# whole pipeline inside WindowExec/codegen and splits each document
# exactly once; the array form measured 16× slower at sf0.1 before
# the word_ngrams lambda-binding fix, ~3× after it.  Fingerprint
# density is ~2/(w+1) of grams, so downstream width is a fraction of
# the corpus.
# ---------------------------------------------------------------------------
_WINNOW_N = 4  # words per shingle
_WINNOW_W = 4  # hashes per winnowing window


def q83_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _parallelize_scan

    docs = _parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    by_doc = W.partitionBy("doc_id")
    wd = by_doc.orderBy("pos")
    gram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wd) for j in range(1, _WINNOW_N)],
    )
    base = (
        toks.withColumn("n_toks", F.count(F.lit(1)).over(by_doc))
        .withColumn("gram", gram)
        # keep only FULL grams: pos is then exactly the gram index, and
        # trailing rows (whose concat_ws silently drops null leads)
        # never reach the hash.
        .filter(F.col("pos") <= F.col("n_toks") - _WINNOW_N)
    )
    hashed = base.select(
        "doc_id",
        "pos",
        (F.col("n_toks") - F.lit(_WINNOW_N - 1)).alias("n_grams"),
        portable_hash60("gram").alias("h"),
    )
    kept = hashed.withColumn(
        "wmin", F.min("h").over(wd.rowsBetween(0, _WINNOW_W - 1))
    ).filter(F.col("pos") <= F.greatest(F.col("n_grams") - _WINNOW_W, F.lit(0)))
    return kept.groupBy("doc_id").agg(
        F.greatest(F.max("n_grams") - F.lit(_WINNOW_W - 1), F.lit(1))
        .cast("long")
        .alias("n_windows"),
        F.countDistinct("wmin").alias("n_fingerprints"),
    )


ORACLES["q83_winnowing_fingerprints"] = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
    FROM toks, UNNEST(range(1, greatest(length(t) - {_WINNOW_N - 2}, 1))) AS u(i)
),
h AS (
    SELECT doc_id, pos, {oracle_hash60('gram')} AS h FROM g
),
wm AS (
    SELECT doc_id, pos,
           COUNT(*) OVER (PARTITION BY doc_id) AS n,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS wmin
    FROM h
)
SELECT doc_id,
       CAST(greatest(MAX(n) - {_WINNOW_W - 1}, 1) AS BIGINT) AS n_windows,
       CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints
FROM wm
WHERE pos <= greatest(n - {_WINNOW_W}, 0)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Q84 — weighted Bernoulli (Poisson) sampling: each order is kept with
# probability proportional to its price, decided by an INTEGER
# comparison `hash60(key) < weight_cents * SCALE` on the portable
# 60-bit hash (uniform on [0, 2^60)).  No shuffle, no global sort, no
# floats — the plan is a pure map-side filter, and the expected sample
# rate is E[weight]·SCALE / 2^60 (~1.7% on this fixture).  The exact
# same integer arithmetic replays in any md5-capable engine.
# ---------------------------------------------------------------------------
_WSAMPLE_SCALE = 800_000_000


def q84_weighted_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keep = portable_hash60(F.col("o_orderkey").cast("string")) < cents * F.lit(
        _WSAMPLE_SCALE
    )
    return o.select(
        "o_orderkey", cents.alias("weight_cents"), "o_orderpriority"
    ).filter(keep)


ORACLES["q84_weighted_order_sample"] = f"""
SELECT o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS weight_cents,
       o_orderpriority
FROM orders
WHERE {oracle_hash60("CAST(o_orderkey AS VARCHAR)")}
      < CAST(round(o_totalprice * 100) AS BIGINT) * {_WSAMPLE_SCALE}
"""


# ---------------------------------------------------------------------------
# Q85 — PageRank over the part co-purchase graph, 3 damped iterations
# (d=0.85), in FIXED-POINT INTEGER arithmetic: ranks carry 1e6 scale,
# contributions are `pr div deg` (integer division), and the damping
# step is `150000 + (85 * Σcontrib) div 100`.  Integer sums are
# associative, so the result is bit-identical under any partitioning /
# aggregation order — which is what lets an iterative graph algorithm
# carry an exact SQL oracle (3 unrolled CTE levels) instead of a
# tolerance check.
#
# Scale shape: the edge list is built once with the q09 in-row lever
# (collect per order — bounded by lines-per-order — then in-row pair
# expansion; the quadratic blowup of a lineitem⋈lineitem self-join
# never reaches an exchange) and persisted partitioned by src; each
# iteration then costs one small shuffle of the rank table (joined on
# the co-located src) plus one aggregate exchange on dst — the classic
# distributed PageRank schedule.  Every node has degree ≥ 1 (edges are
# symmetric), so no dangling-mass term is needed.
# ---------------------------------------------------------------------------
_PR_ITERS = 3
_PR_SCALE = 1_000_000
_PR_ADJ_SEGMENTS = 8  # bounds per-row adjacency fan-in to ~deg/S
# Truncate the rank lineage every k iterations: the unrolled
# join/agg chain grows linearly in plan size (and planner time grows
# worse than linearly) with the iteration count. Harmless at the
# default 3 iterations; load-bearing the moment a caller passes a
# larger `iters` — the same guard dedup_components uses per round.
_PR_CKPT_EVERY = 8


def q85_part_pagerank(
    spark: SparkSession, sf_dir: str, iters: int = _PR_ITERS
) -> DataFrame:
    from ..operators.dedup import _pair_combinations

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    half = per_order.select(
        F.explode(_pair_combinations(F.col("parts"))).alias("p")
    ).select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
    # Persist the graph as SEGMENTED ADJACENCY LISTS rather than edge
    # rows: the expensive lineage (group/explode/mirror/dedup)
    # collapses into one grouped aggregate, the resident footprint is
    # ~node-count, and each iteration re-expands edges IN-TASK with
    # explode — so the only wide data per iteration is the
    # (dst, contribution) stream into the aggregate. Measured 3-4×
    # faster than persisted edge rows under a vanilla 200-shuffle-
    # partition session (the driver's), equal output. Neighbors hash
    # into _PR_ADJ_SEGMENTS rows per node so a hub's adjacency never
    # materializes as ONE unbounded array row (the power-law hazard of
    # naive collect_set-per-node); per-row fan-in is deg/S, and S
    # scales with the expected max degree. Degree spans segments via a
    # same-key window over the groupBy's own partitioning.
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    adj = (
        edges.groupBy(
            "src", F.pmod("dst", F.lit(_PR_ADJ_SEGMENTS)).alias("_seg")
        )
        .agg(F.collect_set("dst").alias("dsts"))
        .withColumn(
            "deg", F.sum(F.size("dsts").cast("long")).over(W.partitionBy("src"))
        )
        .persist()
    )
    edeg = adj.select("src", F.explode("dsts").alias("dst"), "deg")
    ranks = (
        adj.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.lit(_PR_SCALE).cast("long").alias("pr"),
        )
    )
    for i in range(iters):
        ranks = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select("dst", F.expr("pr div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150_000) + F.expr("(85 * inc) div 100"))
                .cast("long")
                .alias("pr"),
            )
        )
        if (i + 1) % _PR_CKPT_EVERY == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.select(
        F.col("node").alias("p_partkey"), F.col("pr").alias("pagerank")
    )
    # Materialize the (O(nodes)-row) result eagerly so the persisted
    # adjacency can be RELEASED here rather than leaking a cached
    # dataset for the session lifetime of every non-bench caller
    # (verify driver, pytest) — the same persist-then-release shape as
    # dedup's connected components.
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def _pr_iteration_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
    SELECT e.dst AS node,
           CAST(150000 + (85 * SUM(r.pr // d.deg)) // 100 AS BIGINT) AS pr
    FROM e0 e
    JOIN deg d ON e.src = d.src
    JOIN {prev} r ON r.node = e.src
    GROUP BY 1
)"""


ORACLES["q85_part_pagerank"] = f"""
WITH e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY 1),
r0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM deg),
{_pr_iteration_sql('r0', 'r1')},
{_pr_iteration_sql('r1', 'r2')},
{_pr_iteration_sql('r2', 'r3')}
SELECT node AS p_partkey, pr AS pagerank FROM r3
"""


# ---------------------------------------------------------------------------
# Q86 — Z-order (Morton) clustering key over (customer, order-day):
# 8 low bits of each dimension interleaved into a 16-bit z-value, plus
# the per-bin row counts and z-ranges a file-level pruner consumes.
# This is the layout-optimization primitive behind Delta/Iceberg
# `OPTIMIZE ZORDER BY` — repartitionByRange(z) before a write gives
# files whose (custkey, day) min/max envelopes are tight in BOTH
# dimensions, so either predicate prunes.  Pure JVM-side bit
# arithmetic; one aggregate exchange on the 256 bins.
# ---------------------------------------------------------------------------
def _morton16(x, y):  # Column, Column -> Column (bit-interleave 8+8)
    z = F.lit(0).cast("long")
    for b in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


def _morton16_sql(x: str, y: str) -> str:
    terms = []
    for b in range(8):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b})")
    return " + ".join(terms)


def q86_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(256)).cast("long")
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    ).cast("long")
    y = F.pmod(days, F.lit(256)).cast("long")
    z = _morton16(x, y)
    return (
        o.select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 8).alias("zbin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("z").alias("z_lo"),
            F.max("z").alias("z_hi"),
        )
    )


ORACLES["q86_zorder_orders"] = f"""
WITH xy AS (
    SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
           CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                % 256 AS BIGINT) AS y
    FROM orders
),
zv AS (SELECT {_morton16_sql('x', 'y')} AS z FROM xy)
SELECT CAST(z >> 8 AS BIGINT) AS zbin,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(z) AS BIGINT) AS z_lo,
       CAST(MAX(z) AS BIGINT) AS z_hi
FROM zv
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q87 — one-pass column profiler over `orders`: per-column null count
# and exact distinct count, unpivoted to one row per column.  Spark
# plans the 6 exact COUNT(DISTINCT)s as a single scan with a 6-way
# Expand (documented in docs/PLAN_AUDIT.md — at extreme scale the
# approx_count_distinct variant drops the Expand entirely; the exact
# form is what the oracle can replay).  The profile is the schema-drift
# gate a production ingest runs before accepting a new batch.
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def q87_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    row = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct" for c in _PROFILE_COLS
    )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack})"
            " as (column_name, n_nulls, n_distinct)"
        )
    )


ORACLES["q87_orders_profile"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders"""
    for c in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# Q88 — character-distribution entropy per document (the cheap
# gibberish / boilerplate / encoding-garbage detector): counts of
# 'a'..'z' and space over the lowercased text via 27 fixed
# `length(t) - length(replace(t, ch, ''))` counters, folded into
# -Σ p·log2(p) and rounded to 6 places.  Entirely map-side (no
# explode-per-character — the counters are O(27·len) in-row string
# ops inside whole-stage codegen); the sum is a FIXED left-to-right
# expression chain, identical in both engines, so the only cross-engine
# wobble is log2's final ulp, absorbed by the rounding.
# ---------------------------------------------------------------------------
_ENT_CHARS = "abcdefghijklmnopqrstuvwxyz "


def q88_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _parallelize_scan

    # CPU-bound map stage (27 × length/replace per row): spread a
    # small single-file fixture scan across cores; no-op on a real
    # multi-split scan.
    docs = _parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    low = F.lower(F.col("text"))
    cnt_cols = [
        (F.length(low) - F.length(F.replace(low, F.lit(ch), F.lit(""))))
        .cast("long")
        .alias(f"c{i}")
        for i, ch in enumerate(_ENT_CHARS)
    ]
    step = docs.select("doc_id", *cnt_cols).withColumn(
        "n", sum(F.col(f"c{i}") for i in range(len(_ENT_CHARS))).cast("long")
    )
    n = F.col("n")
    terms = []
    for i in range(len(_ENT_CHARS)):
        p = F.col(f"c{i}") / n
        terms.append(
            F.when(F.col(f"c{i}") > 0, -(p * F.log2(p))).otherwise(F.lit(0.0))
        )
    ent = terms[0]
    for t in terms[1:]:
        ent = ent + t
    return step.select(
        "doc_id",
        n.alias("n_letters"),
        F.when(n > 0, F.round(ent, 6)).otherwise(F.lit(0.0)).alias("char_entropy"),
    )


def _ent_oracle() -> str:
    cnts = ",\n           ".join(
        f"CAST(length(t) - length(replace(t, '{ch}', '')) AS BIGINT) AS c{i}"
        for i, ch in enumerate(_ENT_CHARS)
    )
    total = " + ".join(f"c{i}" for i in range(len(_ENT_CHARS)))
    terms = " + ".join(
        f"(CASE WHEN c{i} > 0 THEN -((c{i} / n) * log2(c{i} / n)) ELSE 0.0 END)"
        for i in range(len(_ENT_CHARS))
    )
    return f"""
WITH cnts AS (
    SELECT doc_id,
           {cnts}
    FROM (SELECT doc_id, lower(text) AS t FROM documents)
),
wn AS (SELECT *, CAST({total} AS BIGINT) AS n FROM cnts)
SELECT doc_id,
       n AS n_letters,
       CASE WHEN n > 0 THEN ROUND({terms}, 6) ELSE 0.0 END AS char_entropy
FROM wn
"""


ORACLES["q88_char_entropy"] = _ent_oracle()


# ---------------------------------------------------------------------------
# Q89 — curriculum source mixing: sample each source at a
# deterministic target rate (in integer parts-per-million, derived
# from the source id so the fixture needs no side table) by comparing
# the portable doc-id hash against the threshold.  This is the
# "assemble the training mix at fixed source ratios" step; the plan is
# a map-side filter folded into one aggregate exchange on ~20 groups,
# and the identical integer arithmetic replays in the oracle.
# ---------------------------------------------------------------------------
def q89_curriculum_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # try_cast, not cast: a digitless source name extracts '' and a
    # plain cast throws under ANSI mode (both engines). NULL rate_ppm
    # then propagates: sampled is NULL, SUM over the all-NULL group is
    # NULL (rate is constant per source) — mirrored by the oracle.
    idx = F.regexp_extract("source", r"(\d+)", 1).try_cast("int")
    rate_ppm = ((idx % 4 + 1) * F.lit(200_000)).cast("long")
    sampled = F.pmod(
        portable_hash60(F.col("doc_id").cast("string")), F.lit(1_000_000)
    ) < rate_ppm
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sampled.cast("long")).alias("n_sampled"),
        F.max(rate_ppm).alias("rate_ppm"),
    )


ORACLES["q89_curriculum_mixture"] = f"""
WITH r AS (
    SELECT source, doc_id,
           -- TRY_CAST, not CAST: a source name with no digits yields
           -- regexp_extract = '' and DuckDB's CAST('' AS INTEGER)
           -- raises, while the Spark side's cast('int') yields NULL.
           -- TRY_CAST mirrors the NULL; the WHEN rate_ppm IS NULL
           -- branch below then mirrors Spark's SUM-of-all-NULL = NULL
           -- (rate is constant per source, so groups are never mixed).
           CAST((TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER)
                 % 4 + 1) * 200000 AS BIGINT) AS rate_ppm
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rate_ppm IS NULL THEN NULL
                     WHEN {oracle_hash60("CAST(doc_id AS VARCHAR)")} % 1000000
                          < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(MAX(rate_ppm) AS BIGINT) AS rate_ppm
FROM r
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q90 — exact rank-based outlier detection per customer segment: the
# p99 price is the value at row_number == ceil(0.99·n) (NO float
# interpolation — the returned p99 is an exact data value, so the
# "price > p99" count is deterministic in any engine; contrast
# quantile_cont, whose interpolation arithmetic is engine-shaped), and
# revenue uses the repo's decimal-exact money_sum.  One window
# exchange on the 5 segments feeds both window functions and the final
# aggregate.  ceil(n·0.99) is computed from the same IEEE double in
# both engines, so the boundary index is identical.
# ---------------------------------------------------------------------------
def q90_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    seg = W.partitionBy("c_mktsegment")
    ranked = (
        j.withColumn("rn", F.row_number().over(seg.orderBy("o_totalprice")))
        .withColumn("n", F.count(F.lit(1)).over(seg))
        .withColumn("k", F.ceil(F.col("n") * F.lit(0.99)).cast("long"))
    )
    ranked = ranked.withColumn(
        "p99",
        F.max(F.when(F.col("rn") == F.col("k"), F.col("o_totalprice"))).over(seg),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("p99").alias("p99_price"),
        F.sum((F.col("o_totalprice") > F.col("p99")).cast("long")).alias(
            "n_above_p99"
        ),
        money_sum("o_totalprice").alias("revenue"),
    )


ORACLES["q90_price_outliers"] = f"""
WITH j AS (
    SELECT c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
),
ranked AS (
    SELECT c_mktsegment, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice) AS rn,
           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
    FROM j
),
wk AS (
    SELECT *, CAST(ceil(n * 0.99) AS BIGINT) AS k FROM ranked
),
wp AS (
    SELECT *,
           MAX(CASE WHEN rn = k THEN o_totalprice END)
               OVER (PARTITION BY c_mktsegment) AS p99
    FROM wk
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(p99) AS p99_price,
       CAST(SUM(CASE WHEN o_totalprice > p99 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_p99,
       {oracle_money_sum('o_totalprice')} AS revenue
FROM wp
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q91 — TF-IDF term scoring: in-row tf via a higher-order filter over
# the token array (no explode of the corpus), document frequency via a
# tiny broadcast aggregate, idf = ln((N+1)/(df+1)), and a bounded
# top-10-per-term window.  The ranking key is (tf DESC, doc_id) —
# integer-only, so the float score can never reorder the cutoff; the
# score itself is rounded output.  Corpus-side work is one narrow
# map stage; the only wide ops are the 3-row df aggregate and the
# 3-partition top-k window over tf>0 docs.
# ---------------------------------------------------------------------------
_TFIDF_TERMS = ("join", "vector", "stream")


def q91_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("t"))
    with_term = base.select(
        "doc_id",
        "t",
        F.explode(F.array(*[F.lit(x) for x in _TFIDF_TERMS])).alias("term"),
    )
    tf = with_term.select(
        "doc_id",
        "term",
        F.size(F.filter("t", lambda x: x == F.col("term"))).cast("long").alias("tf"),
    ).filter(F.col("tf") > 0)
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(F.broadcast(dfc), "term").crossJoin(F.broadcast(ndocs))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
    top = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id"))
        ),
    ).filter(F.col("rn") <= 10)
    return top.select(
        "term", "doc_id", "tf", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )


ORACLES["q91_tfidf_terms"] = f"""
WITH docs_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tf AS (
    SELECT doc_id, term,
           CAST(length(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x = term)) AS BIGINT) AS tf
    FROM documents,
         UNNEST([{", ".join(f"'{t}'" for t in _TFIDF_TERMS)}]) AS u(term)
),
nz AS (SELECT * FROM tf WHERE tf > 0),
dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM nz GROUP BY 1),
ranked AS (
    SELECT nz.doc_id, nz.term, nz.tf,
           ROUND(nz.tf * ln((n_docs + 1) / (df + 1)), 6) AS tfidf,
           ROW_NUMBER() OVER (PARTITION BY nz.term
                              ORDER BY nz.tf DESC, nz.doc_id) AS rn
    FROM nz JOIN dfc USING (term) CROSS JOIN docs_n
)
SELECT term, doc_id, tf, tfidf FROM ranked WHERE rn <= 10
"""


# ---------------------------------------------------------------------------
# Q92 — semi-join with an explicit Bloom prefilter (the runtime-filter
# pattern): build a 2-hash Bloom bitmap over the DISTINCT urgent-order
# customer keys (packed int64 words → one broadcast MAP row), drop
# non-members of the probe side MAP-SIDE, then run the exact left-semi
# join to remove the Bloom's false positives.  Blooms have no false
# negatives with deterministic hashes, so the result is ≡ the plain
# EXISTS semi-join — which is exactly what the oracle checks (any bug
# that drops a true member breaks the hash).  At 100 TB this is the
# shape AQE's runtime row-filters automate: the KB-scale bitmap rides
# the broadcast instead of the full key set, and the probe-side scan
# discards ~99% of rows before the shuffle.
#
# SIZING (r05, closes the r04 scale watch-item): a FIXED 256 Kbit map
# saturates around ~160k build keys (2-hash FP ≈ 50%) and degrades to
# a pass-through prefilter — correct but useless.  Bits are now sized
# from an estimated build-side NDV (one approx_count_distinct partial
# aggregate — the estimate only steers a performance knob, never the
# result, so HLL's engine-privacy doesn't matter here) at
# _BLOOM_BITS_PER_KEY ≈ 19 bits/key → ~1% FP with 2 hashes, rounded
# up to a power of two between the 256 Kbit floor and a 16 Mbit
# broadcast-budget cap (2 MB bitmap; only SET words are stored, ≤ 2
# entries/key, so the map never exceeds ~min(bits/64, 2·ndv) words).
# Beyond the cap the FP rate rises again — by then a shuffled semi-
# join (or AQE's own runtime filter) is the right tool and the exact
# verify join still guarantees correctness.
# ---------------------------------------------------------------------------
_BLOOM_MIN_BITS = 1 << 18  # 262144 bits = 4096 int64 words = 32 KB
_BLOOM_MAX_BITS = 1 << 24  # broadcast budget: 2 MB bitmap
_BLOOM_BITS_PER_KEY = 19  # with k=2 hashes: FP = (1-e^(-2/19))^2 ≈ 1%
_BLOOM_SEEDS = (0, 1)


def _bloom_bits_for_ndv(ndv: int) -> int:
    """Power-of-two bit count targeting ~1% FP at ``ndv`` keys,
    clamped to [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS]."""
    want = max(_BLOOM_MIN_BITS, int(ndv) * _BLOOM_BITS_PER_KEY)
    return min(1 << (want - 1).bit_length(), _BLOOM_MAX_BITS)


def bloom_prefilter(
    probe: DataFrame, probe_key: str, build_keys: DataFrame, bits: int
) -> DataFrame:
    """Rows of ``probe`` whose ``probe_key`` MIGHT be in ``build_keys``
    (single column ``k``): no false negatives, FP rate set by ``bits``.
    The bitmap is built with one aggregate over the build side and
    broadcast as a single map row; the membership test is pure
    map-side expression work on the probe scan."""
    pos = build_keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        portable_chunk_hash(F.col("k").cast("string"), s),
                        F.lit(bits),
                    )
                    for s in _BLOOM_SEEDS
                ]
            )
        ).alias("p")
    )
    words = pos.select(
        F.shiftright("p", 6).alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT))").alias("m"),
    )
    bloom = (
        words.groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("word", "bits")))
            ).alias("bloom")
        )
    )
    conds = []
    for s in _BLOOM_SEEDS:
        p = F.pmod(
            portable_chunk_hash(F.col(probe_key).cast("string"), s),
            F.lit(bits),
        )
        word = F.element_at(F.col("bloom"), F.shiftright(p, 6))
        conds.append(
            F.coalesce(F.getbit(word, p.bitwiseAND(F.lit(63))), F.lit(0)) == 1
        )
    return (
        probe.crossJoin(F.broadcast(bloom))
        .filter(conds[0] & conds[1])
        .drop("bloom")
    )


def q92_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent_scan = o.filter(F.col("o_orderpriority") == "1-URGENT")
    ndv = urgent_scan.agg(
        F.approx_count_distinct("o_custkey").alias("ndv")
    ).first()["ndv"]
    urgent = urgent_scan.select(F.col("o_custkey").alias("k")).distinct()
    prefiltered = bloom_prefilter(
        c, "c_custkey", urgent, _bloom_bits_for_ndv(ndv)
    ).select("c_custkey", "c_name", "c_mktsegment")
    return prefiltered.join(
        urgent, prefiltered["c_custkey"] == urgent["k"], "left_semi"
    )


ORACLES["q92_bloom_semi_join"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


# ---------------------------------------------------------------------------
# Q93 — content-defined chunking (FastCDC-flavored, word granularity):
# a chunk boundary falls after any word whose portable hash ≡ 0
# (mod 16), so boundaries are CONTENT-anchored — inserting a sentence
# into a document shifts only the chunks it touches, and every other
# chunk keeps its fingerprint (the property fixed-size chunking lacks,
# and the basis of chunk-level dedup in storage systems and training
# corpora).  Expected chunk length = the modulus.  One exchange on
# doc_id (prefix-sum window + per-chunk fold), one on the 32-char
# fingerprint for the cross-corpus dedup rollup.
# ---------------------------------------------------------------------------
_CDC_MOD = 16


def q93_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The decomposition itself lives in operators/dedup.py:
    # content_chunks (shared with the q127/q128 boilerplate family) —
    # one definition of the boundary rule, two consumers.
    from ..operators.dedup import content_chunks

    chunks = content_chunks(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        "text",
        mod=_CDC_MOD,
    )
    return chunks.groupBy("chunk_fp").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


ORACLES["q93_content_defined_chunks"] = f"""
WITH toks AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS tok
    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
          FROM documents),
         UNNEST(range(1, length(t) + 1)) AS u(i)
),
fl AS (
    SELECT doc_id, pos, tok,
           CASE WHEN {oracle_hash60('tok')} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END
               AS f
    FROM toks
),
ch AS (
    SELECT doc_id, pos, tok,
           COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS chunk_id
    FROM fl
),
agg AS (
    SELECT doc_id, chunk_id,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM ch
    GROUP BY 1, 2
)
SELECT md5(chunk_text) AS chunk_fp,
       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM agg
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q94 — symmetric int8 quantization of the embedding column (the ANN
# memory-compression step: 4 bytes/dim → 1 byte/dim): per-vector
# scale = max(|x|), q_i = round(x_i · 127 / scale).  Entirely in-row
# (transform/aggregate higher-order folds — the corpus never explodes
# and never shuffles; output is one narrow row per vector).  The
# surfaced scale is the RAW double (max of exactly-converted float32
# values — bit-identical in any engine; no decimal rounding, which is
# exactly where cross-engine half-way drift lives), and the integer
# checksum/min/max make any per-element disagreement visible.
# round() at scale 0 is cross-engine-safe: every half-way point n.5
# is a dyadic rational, exactly representable in binary.
# ---------------------------------------------------------------------------
def q94_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", v.alias("v"))
    scale = F.array_max(F.transform("v", F.abs))
    with_scale = base.withColumn("scale", scale)
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            "v",
            lambda x: F.round(x * F.lit(127) / F.col("scale")).cast("int"),
        ),
    ).otherwise(F.transform("v", lambda x: F.lit(0)))
    with_q = with_scale.withColumn("q", q)
    return with_q.select(
        "vec_id",
        F.col("scale").alias("q_scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


ORACLES["q94_embedding_quantization"] = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS q_scale
    FROM v
),
q AS (
    SELECT vec_id, q_scale,
           CASE WHEN q_scale > 0
                THEN list_transform(v, x -> CAST(round(x * 127 / q_scale)
                                                 AS INTEGER))
                ELSE list_transform(v, x -> CAST(0 AS INTEGER))
           END AS q
    FROM s
)
SELECT vec_id, q_scale,
       CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(q, 'min') AS INTEGER) AS q_min,
       CAST(list_aggregate(q, 'max') AS INTEGER) AS q_max
FROM q
"""


# ---------------------------------------------------------------------------
# Q95 — KMV sketch MERGEABILITY, end-to-end: build per-priority
# bottom-k sketches of the customer key (≤ k rows per group — the
# state a per-day/per-source rollup would persist), then merge the
# sketch ROWS into one global sketch and estimate the union's distinct
# count.  The oracle computes the global sketch DIRECTLY from the raw
# data — the two hash-match only because bottom-k(∪ groups) is
# recoverable from the per-group bottom-ks (the closure property that
# lets 100 TB distinct-count dashboards roll up sketches instead of
# re-scanning history).  Output also carries the exact distinct count
# for the error-vs-exact read (k=64 ⇒ ~12% stderr).
# ---------------------------------------------------------------------------
_KMV_MERGE_K = 64


def q95_kmv_merge_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_bottom, kmv_merge

    o = load_table(spark, sf_dir, "orders")
    per_group = kmv_bottom(
        o.select(
            "o_orderpriority", F.col("o_custkey").cast("string").alias("ck")
        ),
        ["o_orderpriority"],
        "ck",
        k=_KMV_MERGE_K,
    )
    merged = kmv_merge(per_group, k=_KMV_MERGE_K)
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return merged.crossJoin(F.broadcast(exact))


ORACLES["q95_kmv_merge_global"] = f"""
WITH hashed AS (
    SELECT DISTINCT {oracle_hash60("CAST(o_custkey AS VARCHAR)")} AS h
    FROM orders
),
bottom AS (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hashed
),
est AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch_rows,
           CAST(CASE WHEN COUNT(*) < {_KMV_MERGE_K}
                     THEN CAST(COUNT(*) AS DOUBLE)
                     ELSE ROUND(({_KMV_MERGE_K} - 1) * {float(2**60)!r} / MAX(h), 0)
                END AS BIGINT) AS kmv_estimate
    FROM bottom
    WHERE rn <= {_KMV_MERGE_K}
)
SELECT est.*,
       (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
           AS exact_distinct
FROM est
"""


# ---------------------------------------------------------------------------
# Q96 — EQUI-DEPTH histogram of order prices (the q80 equi-width
# twin; what an optimizer's column statistics actually store): decile
# boundaries from exact global ranks via operators/ranking.global_ntile
# — the quantile-bucketed scheme whose only single-partition window is
# the ≤buckets-row offsets frame — then per-decile count/min/max/
# decimal-exact revenue.  Boundaries are exact data values (no
# interpolation), so the oracle's NTILE window reproduces them
# bit-for-bit.
# ---------------------------------------------------------------------------
def q96_equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tiled = global_ntile(o, ["o_totalprice", "o_orderkey"], 10, out_col="decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("price_lo"),
        F.max("o_totalprice").alias("price_hi"),
        money_sum("o_totalprice").alias("revenue"),
    )


ORACLES["q96_equidepth_price_histogram"] = f"""
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS price_lo,
       MAX(o_totalprice) AS price_hi,
       {oracle_money_sum('o_totalprice')} AS revenue
FROM (
    SELECT o_totalprice,
           ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q97 — ANN QUALITY EVALUATION as a first-class query: recall@5 of the
# IVF index (pinned centroids, nprobe=8 — the q30 configuration)
# against exact brute force (q29), reported in integer permille so the
# whole result is integer arithmetic.  This is the measurement loop an
# ANN deployment runs after every (re)build — index quality as data,
# not a pytest aside.  Both sides compose the REGISTERED operators
# (operators/similarity.py), and the oracle replays both chains with
# the identical ROUND(sim,4)+id tie-break, so the intersection count
# is deterministic.
# ---------------------------------------------------------------------------
def q97_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    bf = brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(
        emb, queries, centroids, "vec_id", "embedding", k=5, nprobe=8
    ).select("query_id", "neighbor_id")
    hits = ivf.join(bf, ["query_id", "neighbor_id"], "left_semi")
    n_q = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("total_hits"))
    return (
        n_q.crossJoin(F.broadcast(n_hits))
        .select(
            "n_queries",
            "total_hits",
            F.expr("(total_hits * 1000) div (n_queries * 5)").alias(
                "recall_permille"
            ),
        )
    )


ORACLES["q97_ann_recall_eval"] = """
WITH corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
bf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(q.qv, c.v), 4) DESC,
                            c.vec_id) AS rn
        FROM q, corpus c WHERE c.vec_id <> q.query_id
    ) WHERE rn <= 5
),
cent AS (SELECT vec_id + 1 AS cell_id, v AS cv FROM corpus WHERE vec_id < 16),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus c, cent ct
    ) WHERE rn = 1
),
qprobe AS (
    SELECT vec_id AS query_id, cell_id FROM (
        SELECT qq.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY qq.vec_id
                   ORDER BY list_cosine_similarity(qq.v, ct.cv) DESC,
                            ct.cell_id) AS rn
        FROM corpus qq, cent ct WHERE qq.vec_id < 10
    ) WHERE rn <= 8
),
cand AS (
    SELECT qp.query_id, a.vec_id AS neighbor_id
    FROM qprobe qp JOIN assign a USING (cell_id)
    WHERE a.vec_id <> qp.query_id
),
ivf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.neighbor_id,
               row_number() OVER (PARTITION BY cand.query_id
                   ORDER BY ROUND(list_cosine_similarity(qq.v, cc.v), 4) DESC,
                            cand.neighbor_id) AS rn
        FROM cand
        JOIN corpus qq ON qq.vec_id = cand.query_id
        JOIN corpus cc ON cc.vec_id = cand.neighbor_id
    ) WHERE rn <= 5
),
hits AS (
    SELECT i.query_id, i.neighbor_id
    FROM ivf i
    WHERE EXISTS (SELECT 1 FROM bf
                  WHERE bf.query_id = i.query_id
                    AND bf.neighbor_id = i.neighbor_id)
)
SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
       CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS total_hits,
       CAST(((SELECT COUNT(*) FROM hits) * 1000)
            // ((SELECT COUNT(*) FROM q) * 5) AS BIGINT) AS recall_permille
"""


# ---------------------------------------------------------------------------
# Q98 — time-series downsampling to OHLC bars: 15-minute
# open/high/low/close per event type (the resample→bar primitive of
# metric and market pipelines).  Open/close are `min_by`/`max_by`
# with a (ts, event_id) STRUCT order key — total order, so the picked
# value is deterministic even with equal timestamps, and the emitted
# numbers are raw data values (no arithmetic → no float drift; volume
# uses the decimal-exact money_sum).  One exchange on the (bar, type)
# key, partial aggregates map-side.  The oracle uses DuckDB's ordered
# aggregates (first/last ... ORDER BY ts, event_id) — same total
# order, same picks.
# ---------------------------------------------------------------------------
def q98_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    order_key = F.struct("ts", "event_id")
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("volume"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_start"
            ),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )


ORACLES["q98_ohlc_bars"] = f"""
SELECT strftime(epoch_ms(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000),
                '%Y-%m-%d %H:%M:%S') AS bar_start,
       event_type,
       first(value ORDER BY ts, event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_money_sum('value')} AS volume
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q99 — weighted EXACT-N sampling without replacement
# (Efraimidis–Spirakis A-ES): each order draws priority
# -ln(u)/w  (u = portable hash normalized to (0,1], w = price in
# cents), and the N smallest priorities are the sample.  This is the
# fixed-budget complement of q84's weighted Bernoulli: inclusion
# probability ∝ weight, sample size exactly N.  The plan is a
# map-side projection + `TakeOrderedAndProject` (per-partition top-N,
# tiny driver merge) — no global sort, no shuffle of the corpus.
# Output columns are integers only; both engines compute the priority
# from the identical hash with IEEE doubles, and with ~15 k continuous
# keys the boundary gap dwarfs the 1-ulp cross-engine log() wobble
# (the fixture run is the proof — any drift breaks the hash gate).
# ---------------------------------------------------------------------------
_WES_N = 200


def q99_weighted_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    u = (portable_hash60(F.col("o_orderkey").cast("string")) + F.lit(1)) / F.lit(
        float(2**60)
    )
    key = -F.log(u) / cents
    return (
        o.select(
            "o_orderkey",
            cents.alias("weight_cents"),
            key.alias("_k"),
        )
        .orderBy("_k", "o_orderkey")
        .limit(_WES_N)
        .select("o_orderkey", "weight_cents")
    )


ORACLES["q99_weighted_exact_sample"] = f"""
SELECT o_orderkey, weight_cents
FROM (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS weight_cents,
           -ln(({oracle_hash60("CAST(o_orderkey AS VARCHAR)")} + 1)
               / {float(2**60)!r})
               / CAST(round(o_totalprice * 100) AS BIGINT) AS k
    FROM orders
)
ORDER BY k, o_orderkey
LIMIT {_WES_N}
"""


# ---------------------------------------------------------------------------
# Q100 — the DATASET CARD: one row summarizing the documents corpus —
# the release artifact a training-data pipeline publishes next to the
# data.  Composes the engine's own primitives (exact-dedup fingerprint,
# token counting, language ID is summarized as distinct-language count
# to stay integer-clean) in ONE dataflow: a map-side feature projection
# feeding a single global aggregate (two-level partial/final; the
# distinct counts ride Spark's Expand).  Everything emitted is an
# integer or a decimal-exact ratio.
# ---------------------------------------------------------------------------
def q100_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("fp"),
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique_texts"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_tokens").cast("long").alias("min_doc_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        (F.sum("n_chars") / F.sum("n_tokens")).alias("chars_per_token"),
    )


ORACLES["q100_dataset_card"] = """
WITH feat AS (
    SELECT doc_id, source, lang, md5(text) AS fp,
           length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_texts,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
FROM feat
"""


# ---------------------------------------------------------------------------
# Q101 / Q102 — the 100 TB SCALE TWINS of the two exact-distinct
# profilers (q87 orders profile, q100 dataset card).  The exact forms
# plan a 6-way (resp. 3-way) distinct Expand that shuffles full-width
# values; at 100 TB that exchange is the bottleneck (documented in
# docs/PLAN_AUDIT.md since r04).  These twins swap every
# COUNT(DISTINCT) for the deterministic KMV bottom-k sketch
# (operators/sketch.py): values are canonicalized to engine-identical
# strings, hashed to 60-bit md5-derived ints, and only 8-byte hashes
# ever enter an exchange — map-side partial-distinct first, then a
# WindowGroupLimit-capped bottom-k of O(groups x k) rows.  Unlike
# approx_count_distinct (HLL, engine-private), the KMV estimator is a
# handful of IEEE double ops DuckDB replays bit-for-bit — an
# approximate operator with an EXACT correctness gate.  Estimates are
# exact below k=64 distinct values; above, standard error ~ 1/sqrt(62)
# (tests/test_sketch.py bounds the error vs the exact q87/q100).
#
# Canonicalization notes (must render identically in both engines):
# bigints via CAST AS STRING; o_totalprice at CENT precision via
# CAST(ROUND(x*100) AS BIGINT) — double-to-string scientific-notation
# thresholds differ across engines, integer cents do not (TPC-H prices
# are cent-quantized, so this is injective on real data); timestamps
# via CAST AS STRING ('yyyy-MM-dd HH:mm:ss' in both engines).
# ---------------------------------------------------------------------------
_PROFILE_KMV_K = 64
_PROFILE_CANON = {
    "o_orderkey": "CAST(o_orderkey AS STRING)",
    "o_custkey": "CAST(o_custkey AS STRING)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING)",
    "o_orderdate": "CAST(o_orderdate AS STRING)",
    "o_orderpriority": "o_orderpriority",
}


def q101_orders_profile_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_distinct

    o = load_table(spark, sf_dir, "orders")
    pairs = ", ".join(f"'{c}', {e}" for c, e in _PROFILE_CANON.items())
    unp = o.select(
        F.expr(
            f"stack({len(_PROFILE_CANON)}, {pairs}) as (column_name, val)"
        )
    )
    nulls = unp.groupBy("column_name").agg(
        F.sum(F.col("val").isNull().cast("long")).alias("n_nulls")
    )
    est = kmv_distinct(
        unp.filter(F.col("val").isNotNull()),
        ["column_name"],
        "val",
        k=_PROFILE_KMV_K,
    )
    return nulls.join(est, "column_name", "left").select(
        "column_name",
        "n_nulls",
        F.coalesce(F.col("kmv_estimate"), F.lit(0)).cast("long").alias(
            "n_distinct_est"
        ),
    )


def _profile_kmv_oracle() -> str:
    from ..operators.sketch import oracle_kmv_sql

    canon_duck = {
        "o_orderkey": "CAST(o_orderkey AS VARCHAR)",
        "o_custkey": "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
        "o_orderdate": "CAST(o_orderdate AS VARCHAR)",
        "o_orderpriority": "o_orderpriority",
    }
    unions = "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS column_name, {e} AS val FROM orders"
        for c, e in canon_duck.items()
    )
    kmv = oracle_kmv_sql(
        "(SELECT * FROM unp WHERE val IS NOT NULL)",
        "column_name",
        "val",
        _PROFILE_KMV_K,
    )
    return f"""
WITH unp AS (
{unions}
),
nulls AS (
    SELECT column_name,
           CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls
    FROM unp GROUP BY 1
),
approx AS ({kmv})
SELECT n.column_name, n.n_nulls,
       CAST(COALESCE(a.kmv_estimate, 0) AS BIGINT) AS n_distinct_est
FROM nulls n LEFT JOIN approx a ON n.column_name = a.g
"""


ORACLES["q101_orders_profile_kmv"] = _profile_kmv_oracle()


def q102_dataset_card_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import kmv_distinct

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        F.md5("text").alias("fp"),
        "source",
        "lang",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    kinds = feat.select(
        F.expr("stack(3, 'fp', fp, 'source', source, 'lang', lang) as (kind, val)")
    )
    est = kmv_distinct(kinds, ["kind"], "val", k=_PROFILE_KMV_K)
    one = est.agg(
        *[
            F.max(F.when(F.col("kind") == k_, F.col("kmv_estimate")))
            .cast("long")
            .alias(a)
            for k_, a in (
                ("fp", "n_unique_texts_est"),
                ("source", "n_sources_est"),
                ("lang", "n_langs_est"),
            )
        ]
    )
    exact = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_tokens").cast("long").alias("min_doc_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        (F.sum("n_chars") / F.sum("n_tokens")).alias("chars_per_token"),
    )
    return exact.crossJoin(F.broadcast(one)).select(
        "n_docs",
        "n_unique_texts_est",
        "n_sources_est",
        "n_langs_est",
        "total_tokens",
        "total_chars",
        "min_doc_tokens",
        "max_doc_tokens",
        "chars_per_token",
    )


def _card_sketch_oracle() -> str:
    from ..operators.sketch import oracle_kmv_sql

    kmv = oracle_kmv_sql("kinds", "kind", "val", _PROFILE_KMV_K)
    return f"""
WITH feat AS (
    SELECT md5(text) AS fp, source, lang,
           length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
),
kinds AS (
    SELECT 'fp' AS kind, fp AS val FROM feat
    UNION ALL SELECT 'source', source FROM feat
    UNION ALL SELECT 'lang', lang FROM feat
),
approx AS ({kmv}),
one AS (
    SELECT
        CAST(MAX(CASE WHEN g = 'fp' THEN kmv_estimate END) AS BIGINT)
            AS n_unique_texts_est,
        CAST(MAX(CASE WHEN g = 'source' THEN kmv_estimate END) AS BIGINT)
            AS n_sources_est,
        CAST(MAX(CASE WHEN g = 'lang' THEN kmv_estimate END) AS BIGINT)
            AS n_langs_est
    FROM approx
),
exact AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
    FROM feat
)
SELECT n_docs, n_unique_texts_est, n_sources_est, n_langs_est,
       total_tokens, total_chars, min_doc_tokens, max_doc_tokens,
       chars_per_token
FROM exact CROSS JOIN one
"""


ORACLES["q102_dataset_card_sketch"] = _card_sketch_oracle()



# ---------------------------------------------------------------------------
# The incremental queries (q103 on) replay the pipeline's daily batches:
# each splits its input into two or three key ranges and folds them in
# order through a Store that lives for one call.
# ---------------------------------------------------------------------------
def _require(cond: bool, msg: str) -> None:
    """Contract check for the incremental queries. A plain
    ``assert`` vanishes under ``python -O`` — these contracts (version
    monotonicity, frozen centroids) ARE the operators' correctness
    story, so they must fail loudly in every mode."""
    if not cond:
        raise RuntimeError(msg)


def _on_scratch_store(
    body: Callable[[SparkSession, str, Store], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Turn ``body(spark, sf_dir, store)`` into the registered
    ``(spark, sf_dir)`` query, run against a Store in a fresh temp
    directory that is deleted on every exit path. The body's result
    plan lazily reads store parquet (history index, labels, cells), so
    the result is pinned (eager localCheckpoint) BEFORE the directory
    goes away."""

    @functools.wraps(body)
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        import shutil
        from tempfile import mkdtemp

        root = mkdtemp(prefix=f"efiche_{body.__name__}_")
        try:
            return body(spark, sf_dir, Store(spark, root)).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return query


def _cuts(df: DataFrame, key: str, parts: int = 2) -> list[int]:
    """The ``parts - 1`` integer cut points that split ``df``'s
    ``[min(key), max(key)]`` range into ``parts`` batches; batch ``i``
    holds the keys in ``(cut[i-1], cut[i]]``. One job."""
    lo, hi = (int(v) for v in df.agg(F.min(key), F.max(key)).first())
    return [lo + (hi - lo) * i // parts for i in range(1, parts)]


# ---------------------------------------------------------------------------
# Q103 — INCREMENTAL near-dup dedup against a persisted signature
# index (operators/dedup.py:incremental_minhash_dedup): the fixture
# corpus is split by doc-id midpoint into two "daily" batches, each
# run through the incremental operator against a fresh versioned
# store. Batch 2 is deduped against batch 1 WITHOUT rescanning batch
# 1's text — only its committed MinHash index. Because the dominated
# rule is order-free, the union of the two batches' kept sets must
# equal one GLOBAL LSH dedup of the whole corpus, which is exactly
# what the oracle computes (the q28 pipeline replayed in DuckDB, its
# est_sim >= τ pairs' doc_b side removed). The monotone index-version
# contract is asserted in-line.
# ---------------------------------------------------------------------------
_INC_DEDUP_SIM = 0.5


@_on_scratch_store
def q103_incremental_minhash_dedup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") <= split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    r2 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") > split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    _require(r2.index_version > r1.index_version, "index version must grow")
    return (
        r1.kept.select("doc_id", F.lit(1).cast("int").alias("batch"))
        .unionByName(r2.kept.select("doc_id", F.lit(2).cast("int").alias("batch")))
    )


def _inc_dedup_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH pairs AS ({lsh}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
s AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS split FROM documents)
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id <= s.split THEN 1 ELSE 2 END AS INTEGER) AS batch
FROM documents d CROSS JOIN s
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


ORACLES["q103_incremental_minhash_dedup"] = _inc_dedup_oracle()



# ---------------------------------------------------------------------------
# Q104 — INCREMENTAL IVF index build + query
# (operators/similarity.py:ivf_index_append / ivf_index_query): the
# fixture embeddings arrive as two "daily" batches appended to a
# persisted, cell-PARTITIONED vector store under frozen pinned
# centroids; the query probes nprobe=8 cells against the store with a
# literal cell_id filter that prunes the scan at the directory level.
# Because assignment depends only on (vector, frozen centroids), the
# incremental index is provably identical to q30's one-shot build —
# so the oracle IS q30's oracle, replayed verbatim.  The frozen-
# centroid contract is asserted in-line.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q104_incremental_ivf_topk(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.similarity import ivf_index_append, ivf_index_query

    emb = load_table(spark, sf_dir, "embeddings")
    [split] = _cuts(emb, "vec_id")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    r1 = ivf_index_append(emb.filter(F.col("vec_id") <= split), store, centroids=pinned)
    r2 = ivf_index_append(emb.filter(F.col("vec_id") > split), store)
    _require(
        r2.centroid_version == r1.centroid_version,
        "centroids must stay frozen",
    )
    return ivf_index_query(store, emb.filter(F.col("vec_id") < 10), k=5, nprobe=8)


def _ivf_inc_oracle() -> str:
    from .extensions import ORACLES as EXT

    return EXT["q30_knn_ivf"]


ORACLES["q104_incremental_ivf_topk"] = _ivf_inc_oracle()



# ---------------------------------------------------------------------------
# Q105 / Q106 — incremental STATE twins of q99 and q69: the sample and
# the distinct-count sketch maintained across batches in a persisted
# store, never rescanning history.  Both exploit a mergeability
# property that makes incremental ≡ one-shot EXACTLY (not just
# approximately): A-ES top-N priorities ("top-N of a union is
# computable from top-N(A) ∪ B") and KMV bottom-k closure ("the k
# smallest hashes of a union lie in the union of each side's k
# smallest").  The oracles are therefore simply the GLOBAL forms —
# q105 reuses q99's oracle verbatim; q106 replays a direct global
# sketch — and the hash gate proves the maintained state never
# drifted from the from-scratch computation.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q105_incremental_weighted_sample(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.ranking import incremental_weighted_sample

    o = load_table(spark, sf_dir, "orders")
    [split] = _cuts(o, "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    u = (portable_hash60(F.col("o_orderkey").cast("string")) + F.lit(1)) / F.lit(
        float(2**60)
    )
    rows = o.select(
        "o_orderkey", cents.alias("weight_cents"), (-F.log(u) / cents).alias("_k")
    )
    _, v1 = incremental_weighted_sample(
        rows.filter(F.col("o_orderkey") <= split), store, _WES_N, "o_orderkey", "_k"
    )
    sample, v2 = incremental_weighted_sample(
        rows.filter(F.col("o_orderkey") > split), store, _WES_N, "o_orderkey", "_k"
    )
    _require(v2 > v1, "sample state version must grow")
    return sample.select("o_orderkey", "weight_cents")


def _q105_oracle() -> str:
    return ORACLES["q99_weighted_exact_sample"]


@_on_scratch_store
def q106_incremental_kmv_customers(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_kmv

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_custkey").cast("string").alias("ck")
    )
    [split] = _cuts(o, "o_orderkey")
    _, v1 = incremental_kmv(
        o.filter(F.col("o_orderkey") <= split), store, ["o_orderpriority"], "ck"
    )
    est, v2 = incremental_kmv(
        o.filter(F.col("o_orderkey") > split), store, ["o_orderpriority"], "ck"
    )
    _require(v2 > v1, "sketch state version must grow")
    return est


def _q106_oracle() -> str:
    from ..operators.sketch import oracle_kmv_sql

    inner = oracle_kmv_sql("orders", "o_orderpriority", "CAST(o_custkey AS VARCHAR)")
    return f"""
WITH direct AS ({inner})
SELECT g AS o_orderpriority, kmv_estimate FROM direct
"""


ORACLES["q105_incremental_weighted_sample"] = _q105_oracle()
ORACLES["q106_incremental_kmv_customers"] = _q106_oracle()



# ---------------------------------------------------------------------------
# Q107 — distribution DRIFT detection between two ingest slices (the
# gate that runs before accepting a new batch into a 100 TB corpus):
# Population Stability Index per column, computed over equi-width
# buckets for numerics (q80's clamped integer bucket math on a global
# min/max) and over the raw values for categoricals.  Laplace-smoothed
# rates ((cnt+1)/(n+B)) keep empty buckets finite; each bucket's PSI
# term is rounded to a 1e-9 fixed-point INTEGER before the per-column
# sum, so the aggregation is exact-associative (no float-sum order
# wobble between engines or between Spark runs) and only the per-term
# double math (one division, one ln) must agree — the same fixed-order
# discipline as q88's entropy fold.  Plan: one union of map-side
# bucket projections, one (column, bucket, side) aggregate, bounded
# per-column windows over ≤ buckets rows.
# ---------------------------------------------------------------------------
_DRIFT_NBUCKETS = 10


def q107_orders_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    [split] = _cuts(o, "o_orderkey")
    side = F.when(F.col("o_orderkey") <= split, "ref").otherwise("cur")
    mm = o.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    price_bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("_lo"))
            / ((F.col("_hi") - F.col("_lo")) / _DRIFT_NBUCKETS)
        ),
        F.lit(_DRIFT_NBUCKETS - 1),
    ).cast("int")
    rows = (
        o.crossJoin(F.broadcast(mm))
        .select(
            F.lit("o_totalprice").alias("column_name"),
            price_bucket.cast("string").alias("bucket"),
            side.alias("side"),
        )
        .unionByName(
            o.select(
                F.lit("o_orderpriority").alias("column_name"),
                F.col("o_orderpriority").alias("bucket"),
                side.alias("side"),
            )
        )
        .unionByName(
            o.select(
                F.lit("o_orderstatus").alias("column_name"),
                F.col("o_orderstatus").alias("bucket"),
                side.alias("side"),
            )
        )
    )
    from ..operators.drift import psi_from_bucket_counts

    per_bucket = rows.groupBy("column_name", "bucket").agg(
        F.sum((F.col("side") == "ref").cast("long")).alias("c_ref"),
        F.sum((F.col("side") == "cur").cast("long")).alias("c_cur"),
    )
    return psi_from_bucket_counts(per_bucket)


ORACLES["q107_orders_drift"] = f"""
WITH s AS (SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS split FROM orders),
mm AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
rows_ AS (
    SELECT 'o_totalprice' AS column_name,
           CAST(CAST(least(floor((o_totalprice - lo)
                    / ((hi - lo) / {_DRIFT_NBUCKETS})),
               {_DRIFT_NBUCKETS - 1}) AS INTEGER) AS VARCHAR) AS bucket,
           CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END AS side
    FROM orders CROSS JOIN mm CROSS JOIN s
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority,
           CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END
    FROM orders CROSS JOIN s
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus,
           CASE WHEN o_orderkey <= split THEN 'ref' ELSE 'cur' END
    FROM orders CROSS JOIN s
),
pb AS (
    SELECT column_name, bucket,
           SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS c_ref,
           SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c_cur
    FROM rows_ GROUP BY 1, 2
),
wn AS (
    SELECT *,
           SUM(c_ref) OVER (PARTITION BY column_name) AS n_ref,
           SUM(c_cur) OVER (PARTITION BY column_name) AS n_cur,
           COUNT(*) OVER (PARTITION BY column_name) AS n_buckets
    FROM pb
),
terms AS (
    SELECT column_name, n_ref, n_cur, n_buckets,
           CAST(ROUND((((c_cur + 1.0) / (n_cur + n_buckets)
                        - (c_ref + 1.0) / (n_ref + n_buckets))
                       * ln(((c_cur + 1.0) / (n_cur + n_buckets))
                            / ((c_ref + 1.0) / (n_ref + n_buckets))))
                      * 1e9) AS BIGINT) AS t
    FROM wn
)
SELECT column_name,
       ROUND(SUM(t) / 1e9, 4) AS psi,
       CAST(MAX(n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(n_cur) AS BIGINT) AS n_cur,
       CAST(MAX(n_buckets) AS BIGINT) AS n_buckets
FROM terms
GROUP BY column_name
"""



# ---------------------------------------------------------------------------
# Q108 — incremental BINARY dedup against a persisted fingerprint
# index (operators/multimodal.py:incremental_binary_dedup): the
# multimodal member of the incremental family.  Two "daily" media
# batches (the synthesized binary column, doc-id midpoint split) fold
# into a layered (id, fp) index; the kept set must equal the global
# min-id-per-fingerprint rule (q40) over the whole corpus — which is
# exactly what the oracle computes.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q108_incremental_binary_dedup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.multimodal import incremental_binary_dedup, synthesize_content

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_content(docs, "doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_binary_dedup(media.filter(F.col("doc_id") <= split), store)
    r2 = incremental_binary_dedup(media.filter(F.col("doc_id") > split), store)
    _require(r2.index_version > r1.index_version, "index version must grow")
    return (
        r1.kept.select("doc_id", F.lit(1).cast("int").alias("batch"))
        .unionByName(r2.kept.select("doc_id", F.lit(2).cast("int").alias("batch")))
    )


def _q108_oracle() -> str:
    from .extensions import _CONTENT_SQL

    return f"""
WITH c AS ({_CONTENT_SQL}),
s AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS split FROM documents),
k AS (SELECT md5(hex(content)) AS fp, MIN(doc_id) AS doc_id FROM c GROUP BY 1)
SELECT k.doc_id,
       CAST(CASE WHEN k.doc_id <= s.split THEN 1 ELSE 2 END AS INTEGER) AS batch
FROM k CROSS JOIN s
"""


ORACLES["q108_incremental_binary_dedup"] = _q108_oracle()



# ---------------------------------------------------------------------------
# Q109 — incremental near-dup CLUSTER maintenance
# (operators/dedup.py:incremental_neardup_components): two "daily"
# batches fold their LSH pairs (within-batch AND vs-history) into a
# persisted label table via star compression; the final labels must
# equal one GLOBAL connected-components run over the full corpus's
# LSH pairs — which is what the oracle computes (q28's portable pair
# pipeline closed under a recursive CTE, q57's shape).  This includes
# the MERGE case: a batch-2 doc similar to two separate batch-1
# components relabels both to one.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q109_incremental_components(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_neardup_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    incremental_neardup_components(
        docs.filter(F.col("doc_id") <= split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    r2 = incremental_neardup_components(
        docs.filter(F.col("doc_id") > split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    return r2.labels


def _inc_components_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS component_id
FROM reach
GROUP BY src
"""


ORACLES["q109_incremental_components"] = _inc_components_oracle()



# ---------------------------------------------------------------------------
# Q110 — incremental EMBEDDING near-dup dedup (the SemDeDup shape;
# operators/similarity.py:incremental_embedding_dedup): two "daily"
# embedding batches (vec-id midpoint split) deduped against a
# persisted cell-partitioned vector index under PINNED frozen
# centroids (the q30/q104 fixture centroids: vec_id 0..15, cell_id =
# vec_id+1).  Drop rule: a vector is dropped iff a smaller-id vector
# whose HOME cell lies among its nprobe=4 probed cells is within
# cosine tau — home/probe are pure functions of (vector, frozen
# centroids), so the rule is order-free and the two-batch run must
# equal one GLOBAL pass, which is exactly what the oracle replays
# (q30's assignment SQL + the q103 dominated-rule shape).  tau=0.35
# because the fixture embeddings are isotropic (q47's threshold);
# real near-dup corpora use ~0.9.  Completes the incremental dedup
# family: text q103, binary q108, clusters q109, vectors q110.
# Reference anchor: the dormant VECTOR(768) similarity column
# (sql/01_schema.sql:95) under the incremental-consumption contract
# (etl_pipeline.py:125-132).
# ---------------------------------------------------------------------------
_EMB_DEDUP_TAU = 0.35
_EMB_DEDUP_NPROBE = 4


@_on_scratch_store
def q110_incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.similarity import incremental_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    [split] = _cuts(emb, "vec_id")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    r1 = incremental_embedding_dedup(
        emb.filter(F.col("vec_id") <= split),
        store,
        centroids=pinned,
        tau=_EMB_DEDUP_TAU,
        nprobe=_EMB_DEDUP_NPROBE,
    )
    r2 = incremental_embedding_dedup(
        emb.filter(F.col("vec_id") > split),
        store,
        tau=_EMB_DEDUP_TAU,
        nprobe=_EMB_DEDUP_NPROBE,
    )
    _require(
        r2.n_indexed_total == r1.n_indexed_total + r2.n_new,
        "index must grow by exactly the fresh batch",
    )
    return (
        r1.kept.select("vec_id", F.lit(1).cast("int").alias("batch"))
        .unionByName(r2.kept.select("vec_id", F.lit(2).cast("int").alias("batch")))
    )


ORACLES["q110_incremental_embedding_dedup"] = f"""
WITH cent AS (
    SELECT vec_id + 1 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
asn AS (  -- every vector's centroid ranking under the frozen centroids
    SELECT c.vec_id, ct.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
               ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
               AS rn
    FROM corpus c, cent ct
),
cand AS (  -- a's HOME cell among b's nprobe probed cells, a < b
    SELECT DISTINCT h.vec_id AS id_a, p.vec_id AS id_b
    FROM (SELECT vec_id, cell_id FROM asn WHERE rn = 1) h
    JOIN (SELECT vec_id, cell_id FROM asn WHERE rn <= {_EMB_DEDUP_NPROBE}) p
      USING (cell_id)
    WHERE h.vec_id < p.vec_id
),
dropped AS (
    SELECT DISTINCT id_b FROM cand
    JOIN corpus a ON a.vec_id = cand.id_a
    JOIN corpus b ON b.vec_id = cand.id_b
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_EMB_DEDUP_TAU}
),
s AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS split FROM embeddings)
SELECT c.vec_id,
       CAST(CASE WHEN c.vec_id <= s.split THEN 1 ELSE 2 END AS INTEGER) AS batch
FROM corpus c CROSS JOIN s
WHERE c.vec_id NOT IN (SELECT id_b FROM dropped)
"""



# ---------------------------------------------------------------------------
# Q111 / Q112 — Unicode CANONICALIZATION front-end for text dedup
# (VERDICT r05 Next #6): real crawls carry the same document differing
# only in case, punctuation, spacing, or NFC-vs-decomposed accents;
# raw-text hashing/shingling treats those as distinct and misses the
# duplicate.  The chain is NFC (Arrow mapInPandas,
# operators/dedup.py:nfc_normalize_docs — Spark has no built-in) →
# lower → non-alphanumeric→space → whitespace collapse → trim
# (functions/text.py:canonical_text, all JVM codegen), mirrored in
# DuckDB as nfc_normalize → the same regex chain
# (functions/text.py:oracle_canonical_sql; cross-engine agreement
# incl. planted confusables pinned in tests/test_dedup.py).
#
# q111: exact dedup on the canonical form — md5(canonical) groups,
#       min-id keeper, variant count (q35's shape, canonicalized).
# q112: the near-dup front-end — the q28 banded-LSH pipeline run on
#       canonicalized text (shingles from the canonical tokens).
# ---------------------------------------------------------------------------
def q111_canonical_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import canonical_text
    from ..operators.dedup import nfc_normalize_docs

    docs = nfc_normalize_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return (
        docs.select("doc_id", F.md5(canonical_text("text")).alias("canon_fp"))
        .groupBy("canon_fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select("canon_fp", "keeper_doc_id", "n_variants")
    )


def _q111_oracle() -> str:
    from ..functions.text import oracle_canonical_sql

    return f"""
WITH c AS (
    SELECT doc_id, md5({oracle_canonical_sql("text")}) AS canon_fp
    FROM documents
)
SELECT canon_fp,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM c GROUP BY canon_fp
"""


ORACLES["q111_canonical_exact_dedup"] = _q111_oracle()


def q112_canonical_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import canonical_text
    from ..operators.dedup import minhash_lsh_pairs, nfc_normalize_docs

    # Pin the canonical frame: the NFC mapInPandas pass would
    # otherwise re-execute for every downstream action.
    docs = (
        nfc_normalize_docs(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .withColumn("text", canonical_text("text"))
        .localCheckpoint(eager=True)
    )
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4, min_est_sim=0.5,
        portable=True,
    )


def _q112_oracle() -> str:
    from ..functions.text import oracle_canonical_sql
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "cdocs", "doc_id", "text", n_hashes=16, bands=4, min_est_sim=0.5
    )
    return f"""
WITH cdocs AS (
    SELECT doc_id, {oracle_canonical_sql("text")} AS text FROM documents
),
pairs AS ({lsh})
SELECT doc_a, doc_b, est_sim FROM pairs
"""


ORACLES["q112_canonical_neardup_pairs"] = _q112_oracle()


# ---------------------------------------------------------------------------
# Q113 — EMBEDDING distribution drift gate: PSI between two ingest
# slices over the frozen-centroid CELL histogram.  q107 gates scalar
# columns; embeddings need their own drift signal — it is what decides
# when the IVF lifecycle's one deliberate O(index) migration
# (ivf_index_retrain) actually runs.  Cell assignment under frozen
# centroids is a pure function of the vector (the q30/q110 machinery),
# so the per-cell (ref, cur) counts — and therefore the fixed-point
# PSI fold (operators/drift.py) — replay exactly in DuckDB.  One
# broadcast assignment pass over the vectors, one (cell, side)
# aggregate, one bounded window: no vector ever shuffles.
# ---------------------------------------------------------------------------
def q113_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_from_bucket_counts
    from ..operators.similarity import assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    [split] = _cuts(emb, "vec_id")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    cells = assign_cells(emb, pinned, "vec_id", "embedding", nprobe=1)
    per_bucket = (
        cells.select(
            F.lit("embedding_cell").alias("column_name"),
            F.col("cell_id").cast("string").alias("bucket"),
            F.when(F.col("vec_id") <= split, "ref").otherwise("cur").alias("side"),
        )
        .groupBy("column_name", "bucket")
        .agg(
            F.sum((F.col("side") == "ref").cast("long")).alias("c_ref"),
            F.sum((F.col("side") == "cur").cast("long")).alias("c_cur"),
        )
    )
    return psi_from_bucket_counts(per_bucket)


ORACLES["q113_embedding_drift"] = """
WITH cent AS (
    SELECT vec_id + 1 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS split FROM embeddings),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus c, cent ct
    ) WHERE rn = 1
),
pb AS (
    SELECT 'embedding_cell' AS column_name,
           CAST(cell_id AS VARCHAR) AS bucket,
           SUM(CASE WHEN a.vec_id <= s.split THEN 1 ELSE 0 END) AS c_ref,
           SUM(CASE WHEN a.vec_id > s.split THEN 1 ELSE 0 END) AS c_cur
    FROM assign a CROSS JOIN s
    GROUP BY 1, 2
),
wn AS (
    SELECT *,
           SUM(c_ref) OVER (PARTITION BY column_name) AS n_ref,
           SUM(c_cur) OVER (PARTITION BY column_name) AS n_cur,
           COUNT(*) OVER (PARTITION BY column_name) AS n_buckets
    FROM pb
),
terms AS (
    SELECT column_name, n_ref, n_cur, n_buckets,
           CAST(ROUND((((c_cur + 1.0) / (n_cur + n_buckets)
                        - (c_ref + 1.0) / (n_ref + n_buckets))
                       * ln(((c_cur + 1.0) / (n_cur + n_buckets))
                            / ((c_ref + 1.0) / (n_ref + n_buckets))))
                      * 1e9) AS BIGINT) AS t
    FROM wn
)
SELECT column_name,
       ROUND(SUM(t) / 1e9, 4) AS psi,
       CAST(MAX(n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(n_cur) AS BIGINT) AS n_cur,
       CAST(MAX(n_buckets) AS BIGINT) AS n_buckets
FROM terms
GROUP BY column_name
"""


# ---------------------------------------------------------------------------
# Q114 — INCREMENTAL dataset card
# (operators/sketch.py:incremental_dataset_card): q102's one-row
# release card maintained as persisted state across two "daily"
# batches — exact scalars fold associatively, distinct estimates ride
# the KMV bottom-k closure — so the maintained card must equal the
# one-shot global card EXACTLY, and the oracle IS q102's oracle,
# verbatim.  The state read per fold is one scalar row + 3·k hashes;
# history text is never rescanned.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q114_incremental_dataset_card(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_dataset_card

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    [split] = _cuts(docs, "doc_id")
    _, v1 = incremental_dataset_card(
        docs.filter(F.col("doc_id") <= split), store, k=_PROFILE_KMV_K
    )
    card, v2 = incremental_dataset_card(
        docs.filter(F.col("doc_id") > split), store, k=_PROFILE_KMV_K
    )
    _require(v2 > v1, "card state version must grow")
    return card


ORACLES["q114_incremental_dataset_card"] = _card_sketch_oracle()


# ---------------------------------------------------------------------------
# Q115 — the production intake composition: CANONICALIZE (q111's NFC +
# lower/strip/collapse front-end), then INCREMENTAL index dedup
# (q103's operator) — so case/punct/spacing/accent variants of one
# document dedup across batches too, not just within a one-shot pass.
# Pure composition: no new operator code; the canonical projection
# runs in the same scan as the signature pass.  Canonicalization is a
# pure per-doc function, so the dominated-rule equivalence is
# untouched and the oracle is q103's global replay over the canonical
# CTE.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q115_incremental_canonical_dedup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..functions.text import canonical_text
    from ..operators.dedup import incremental_minhash_dedup, nfc_normalize_docs

    docs = (
        nfc_normalize_docs(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .withColumn("text", canonical_text("text"))
        .localCheckpoint(eager=True)  # one NFC pass, many consumers
    )
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") <= split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    r2 = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") > split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    _require(r2.index_version > r1.index_version, "index version must grow")
    return (
        r1.kept.select("doc_id", F.lit(1).cast("int").alias("batch"))
        .unionByName(r2.kept.select("doc_id", F.lit(2).cast("int").alias("batch")))
    )


def _inc_canonical_oracle() -> str:
    from ..functions.text import oracle_canonical_sql
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "cdocs", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH cdocs AS (
    SELECT doc_id, {oracle_canonical_sql("text")} AS text FROM documents
),
pairs AS ({lsh}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
s AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS split FROM documents)
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id <= s.split THEN 1 ELSE 2 END AS INTEGER) AS batch
FROM documents d CROSS JOIN s
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


ORACLES["q115_incremental_canonical_dedup"] = _inc_canonical_oracle()


# ---------------------------------------------------------------------------
# Q116 — IVF-SQ8 quantized vector search
# (operators/similarity.py:quantized_ivf_topk): the q30 pipeline with
# the candidate side scored against int8-quantized vectors (q94's
# per-vector symmetric scheme) — the memory-bound form of the cell
# store (1 byte/dim + one scale instead of 8 ⇒ 4-8× less I/O per
# probed cell at 100 TB).  Assignment runs on the original vectors,
# quantize→dequantize is exact dyadic-safe arithmetic, sims fold in
# index order — fully deterministic, so the oracle replays the whole
# chain (q30's assignment SQL + q94's quantization SQL composed).
# ---------------------------------------------------------------------------
def q116_quantized_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantized_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    return quantized_ivf_topk(
        emb, queries, centroids, "vec_id", "embedding", k=5, nprobe=8
    )


ORACLES["q116_quantized_ivf_topk"] = """
WITH cent AS (
    SELECT vec_id + 1 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
quant AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS q_scale
    FROM corpus
),
deq AS (
    SELECT vec_id,
           CASE WHEN q_scale > 0
                THEN list_transform(v, x -> CAST(CAST(round(x * 127 / q_scale)
                                                      AS INTEGER) AS DOUBLE)
                                            * q_scale / 127)
                ELSE list_transform(v, x -> CAST(0 AS DOUBLE))
           END AS dv
    FROM quant
),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus c, cent ct
    ) WHERE rn = 1
),
qprobe AS (
    SELECT vec_id AS query_id, cell_id FROM (
        SELECT q.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus q, cent ct WHERE q.vec_id < 10
    ) WHERE rn <= 8
),
cand AS (
    SELECT qp.query_id, a.vec_id AS neighbor_id
    FROM qprobe qp JOIN assign a USING (cell_id)
    WHERE a.vec_id <> qp.query_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
FROM (
    SELECT cand.query_id, cand.neighbor_id,
           ROUND(list_cosine_similarity(q.v, d.dv), 4) AS sim
    FROM cand
    JOIN corpus q ON q.vec_id = cand.query_id
    JOIN deq d ON d.vec_id = cand.neighbor_id
)
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# Q117 — the END-TO-END incremental intake, one query: per "daily"
# batch, CANONICALIZE (q111 front-end) → INCREMENTAL index dedup
# (q103 operator, canonical form) → fold the SURVIVORS into the
# INCREMENTAL release card (q114 operator).  This is the composition a
# production corpus pipeline actually runs on every drop; each stage
# carries an exact merge property, so the composed maintained state is
# provably identical to the one-shot global run — kept set = global
# canonical dominated rule, card = global card over the kept set —
# which is exactly what the oracle replays.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q117_incremental_intake_e2e(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..functions.text import canonical_text
    from ..operators.dedup import incremental_minhash_dedup, nfc_normalize_docs
    from ..operators.sketch import incremental_dataset_card

    docs = (
        nfc_normalize_docs(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "source", "lang"
            )
        )
        .withColumn("text", canonical_text("text"))
        .localCheckpoint(eager=True)  # one NFC pass, many consumers
    )
    [split] = _cuts(docs, "doc_id")
    card = None
    for batch in (
        docs.filter(F.col("doc_id") <= split),
        docs.filter(F.col("doc_id") > split),
    ):
        ded = incremental_minhash_dedup(
            batch.select("doc_id", "text"),
            store,
            threshold=_INC_DEDUP_SIM,
            portable=True,
        )
        kept = batch.join(ded.kept.select("doc_id"), "doc_id", "left_semi")
        card, _ = incremental_dataset_card(kept, store, k=_PROFILE_KMV_K)
    return card


def _intake_e2e_oracle() -> str:
    from ..functions.text import oracle_canonical_sql
    from ..operators.sketch import oracle_kmv_sql
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "cdocs", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    kmv = oracle_kmv_sql("kinds", "kind", "val", _PROFILE_KMV_K)
    return f"""
WITH cdocs AS (
    SELECT doc_id, {oracle_canonical_sql("text")} AS text, source, lang
    FROM documents
),
pairs AS ({lsh}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
kept AS (
    SELECT * FROM cdocs WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
),
feat AS (
    SELECT md5(text) AS fp, source, lang,
           length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
           length(text) AS n_chars
    FROM kept
),
kinds AS (
    SELECT 'fp' AS kind, fp AS val FROM feat
    UNION ALL SELECT 'source', source FROM feat
    UNION ALL SELECT 'lang', lang FROM feat
),
approx AS ({kmv}),
one AS (
    SELECT
        CAST(MAX(CASE WHEN g = 'fp' THEN kmv_estimate END) AS BIGINT)
            AS n_unique_texts_est,
        CAST(MAX(CASE WHEN g = 'source' THEN kmv_estimate END) AS BIGINT)
            AS n_sources_est,
        CAST(MAX(CASE WHEN g = 'lang' THEN kmv_estimate END) AS BIGINT)
            AS n_langs_est
    FROM approx
),
exact AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
    FROM feat
)
SELECT n_docs, n_unique_texts_est, n_sources_est, n_langs_est,
       total_tokens, total_chars, min_doc_tokens, max_doc_tokens,
       chars_per_token
FROM exact CROSS JOIN one
"""


ORACLES["q117_incremental_intake_e2e"] = _intake_e2e_oracle()


# ---------------------------------------------------------------------------
# Q118 — INCREMENTAL quantile dashboard
# (operators/sketch.py:incremental_quantiles): per-priority
# p50/p90/p99 of order value, maintained across two "daily" batches as
# a persisted ≤ groups×k row hash-sample.  The sample is the k rows
# with the smallest portable hash of the KEY — a deterministic uniform
# draw that is MERGEABLE by the same bottom-k closure as KMV, so the
# maintained sample provably equals the global sample and the oracle
# replays the from-scratch global pipeline (hash → bottom-k →
# rank-ceil quantile picks, identical tie-breaks).  The quantile
# member of the incremental sketch family (distinct counts q106, card
# q114); sample-vs-exact error is bounded in tests/test_sketch.py.
# ---------------------------------------------------------------------------
_QS_K = 256


@_on_scratch_store
def q118_incremental_quantiles(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    [split] = _cuts(o, "o_orderkey")
    _, v1 = incremental_quantiles(
        o.filter(F.col("o_orderkey") <= split),
        store,
        ["o_orderpriority"],
        "o_orderkey",
        "o_totalprice",
        k=_QS_K,
    )
    est, v2 = incremental_quantiles(
        o.filter(F.col("o_orderkey") > split),
        store,
        ["o_orderpriority"],
        "o_orderkey",
        "o_totalprice",
        k=_QS_K,
    )
    _require(v2 > v1, "sample state version must grow")
    return est


def _q118_oracle() -> str:
    from ..operators.sketch import oracle_sample_quantiles_sql

    inner = oracle_sample_quantiles_sql(
        "orders",
        "o_orderpriority",
        "CAST(o_orderkey AS VARCHAR)",
        "o_totalprice",
        k=_QS_K,
    )
    return f"""
WITH direct AS ({inner})
SELECT g AS o_orderpriority, n_sample, p50, p90, p99
FROM direct
"""


ORACLES["q118_incremental_quantiles"] = _q118_oracle()


# ---------------------------------------------------------------------------
# Q119 — INCREMENTAL first-introducer novelty
# (operators/dedup.py:incremental_novelty): score each doc, at ingest,
# by the fraction of its distinct 3-gram shingles it INTRODUCED to the
# corpus (credit goes to the smallest doc id containing the shingle).
# MIN per shingle is associative, so batch-by-batch maintenance of the
# (shingle, first_doc) index is EXACTLY the global assignment — q103's
# dominated-rule argument with min-per-key — and the oracle replays
# the global rule.  The at-ingest signal q72's corpus-global
# uniqueness cannot give (q72 needs the finished corpus before any doc
# can be scored); per batch the cost is one text pass over the batch
# plus an O(batch-shingles) lookup against the 16-byte/shingle index.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q119_incremental_novelty(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_novelty

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_novelty(docs.filter(F.col("doc_id") <= split), store)
    r2 = incremental_novelty(docs.filter(F.col("doc_id") > split), store)
    _require(r2.index_version > r1.index_version, "index version must grow")
    return r1.scores.unionByName(r2.scores)


ORACLES["q119_incremental_novelty"] = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
    FROM toks, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
),
intro AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per_doc AS (
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_introduced
    FROM sh JOIN intro USING (g)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_introduced, 0) AS BIGINT) AS n_introduced,
       ROUND(CAST(COALESCE(n_introduced, 0) AS DOUBLE)
             / NULLIF(COALESCE(n_shingles, 0), 0), 4) AS introduced_frac
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


# ---------------------------------------------------------------------------
# Q120 — the IVF LIFECYCLE end-to-end (VERDICT r06 Next #5): the q113
# drift gate wired to the retrain migration as one drift-gated intake.
# Fold 1 seeds the index (pinned centroids A) and pins the reference
# cell profile; fold 2 is a PLANTED regime change — only the
# second-half vectors homing to cells 1-4 under A arrive (a source-mix
# collapse: 16-cell near-uniform reference vs a 4-cell concentrated
# batch), so the PSI gate must alarm — which triggers the one
# deliberate O(index) migration onto pinned centroids B.  The
# query returns the final index's per-cell histogram — correct ONLY if
# the gate fired and the migration re-assigned every stored vector to
# B, which is exactly what the oracle replays as a single global
# assignment (q113's SQL shape with the negated second half).  Pinned
# A/B centroid sets keep the whole lifecycle deterministic and
# SQL-expressible; production uses trained centroids (same mechanics,
# train_centroids in place of the pins).
# Reference anchor: the dormant pgvector VECTOR(768) column
# (sql/01_schema.sql:95) — a production vector column needs exactly
# this maintenance loop.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q120_ivf_lifecycle_histogram(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.similarity import ivf_index_maintain

    emb = load_table(spark, sf_dir, "embeddings")
    [split] = _cuts(emb, "vec_id")
    cents_a = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    cents_b = emb.filter(F.col("vec_id").between(16, 31)).select(
        (F.col("vec_id") - 15).alias("cell_id"), "embedding"
    )
    from ..operators.similarity import assign_cells

    # the drifted intake: second-half vectors whose HOME cell under A
    # is 1-4 — a concentrated batch against a near-uniform reference
    fold2 = (
        assign_cells(
            emb.filter(F.col("vec_id") > split), cents_a, "vec_id", "embedding"
        )
        .filter(F.col("cell_id") <= 4)
        .select("vec_id", "embedding")
    )
    r1 = ivf_index_maintain(
        emb.filter(F.col("vec_id") <= split), store, centroids=cents_a
    )
    _require(r1.psi is None and not r1.retrained, "fold 1 seeds the gate")
    r2 = ivf_index_maintain(fold2, store, retrain_centroids=cents_b)
    _require(r2.retrained, "the planted regime change must alarm the gate")
    return (
        store.read("ivf_cells")
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


ORACLES["q120_ivf_lifecycle_histogram"] = """
WITH cent_a AS (
    SELECT vec_id + 1 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
cent_b AS (
    SELECT vec_id - 15 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id BETWEEN 16 AND 31
),
s AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS split FROM embeddings),
all_vecs AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
home_a AS (  -- second-half vectors' home cell under centroids A
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM all_vecs c, cent_a ct
        WHERE c.vec_id > (SELECT split FROM s)
    ) WHERE rn = 1
),
corpus AS (  -- fold 1 plus the drifted (cells 1-4) fold-2 subset
    SELECT a.vec_id, a.v FROM all_vecs a CROSS JOIN s
    WHERE a.vec_id <= s.split
    UNION ALL
    SELECT a.vec_id, a.v FROM all_vecs a
    JOIN home_a h ON a.vec_id = h.vec_id
    WHERE h.cell_id <= 4
),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus c, cent_b ct
    ) WHERE rn = 1
)
SELECT CAST(cell_id AS INTEGER) AS cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM assign GROUP BY cell_id
"""


# ---------------------------------------------------------------------------
# Q121 — right-to-be-forgotten COMPLIANCE over the dedup family
# (VERDICT r06 Next #7 wired to the query surface): build the kept
# sink + novelty scores for the corpus, then forget a fixed id set
# with ONE forget_documents call and return the surviving kept docs
# with their novelty scores.  The oracle replays it globally: LSH
# survivors minus the forgotten ids, joined to the first-introducer
# scores (which forgetting does NOT rewrite for survivors — rows are
# deleted, not recomputed; the introducer shift only affects FUTURE
# batches).  The physical-purge guarantee (ids in no surviving file)
# is the walk test in tests/test_incremental_dedup.py; this query
# pins the logical result.
# Reference anchor: the reference would run DELETE FROM across its
# normalized tables (sql/01_schema.sql) — here it is one composed op
# over parquet with affected-layer surgery.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q121_forget_compliance(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.dedup import (
        forget_documents,
        incremental_minhash_dedup,
        incremental_novelty,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    r = incremental_minhash_dedup(docs, store, threshold=_INC_DEDUP_SIM, portable=True)
    store.append_new(r.kept.select("doc_id"), "dedup_kept_docs", key="doc_id")
    incremental_novelty(docs, store)
    forget_documents(store, docs.filter(F.col("doc_id") % 17 == 3).select("doc_id"))
    return (
        store.read("dedup_kept_docs")
        .join(store.read("novelty_scores"), "doc_id")
        .select("doc_id", "n_shingles", "n_introduced", "introduced_frac")
    )


def _forget_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH pairs AS ({lsh}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
    FROM toks, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
),
intro AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per_doc AS (
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS n_introduced
    FROM sh JOIN intro USING (g)
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_introduced, 0) AS BIGINT) AS n_introduced,
       ROUND(CAST(COALESCE(n_introduced, 0) AS DOUBLE)
             / NULLIF(COALESCE(n_shingles, 0), 0), 4) AS introduced_frac
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
  AND d.doc_id % 17 <> 3
"""


ORACLES["q121_forget_compliance"] = _forget_oracle()


# ---------------------------------------------------------------------------
# Q122 — incremental TF-IDF: q91's watchlist statistics maintained as
# persisted state across three intake folds.  df/n_docs are
# associative counts folded into one atomic stats snapshot (whose row
# also CARRIES the replay watermark — the card discipline), the
# per-term top-k candidates ride the bounded-candidate closure, and
# idf is derived at read from the current global (df, n_docs) — so
# maintained ≡ one-shot global and the oracle is q91's, verbatim.
# Completes the maintained-corpus-statistics family (card q114,
# quantiles q118, novelty q119) with the term-statistics member.
# Reference anchor: none (beyond-reference tier); the batch-global
# form is q91.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q122_incremental_tfidf(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.sketch import incremental_tfidf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c1, c2 = _cuts(docs, "doc_id", 3)
    incremental_tfidf(docs.filter(F.col("doc_id") <= c1), store, _TFIDF_TERMS)
    incremental_tfidf(
        docs.filter(F.col("doc_id").between(c1 + 1, c2)),
        store,
        _TFIDF_TERMS,
    )
    out, _ = incremental_tfidf(docs.filter(F.col("doc_id") > c2), store, _TFIDF_TERMS)
    return out


ORACLES["q122_incremental_tfidf"] = ORACLES["q91_tfidf_terms"]


# ---------------------------------------------------------------------------
# Q123 — intake-time benchmark decontamination: q66's n-gram-overlap
# check moved to WHERE it belongs at 100 TB — per intake batch
# against a PERSISTED benchmark-shingle index, instead of a global
# pass after the corpus is assembled.  The held-out set is FIXED, so
# each doc's verdict is a pure function of (doc, index) and
# batch-by-batch ≡ global: the oracle is q66's, verbatim.  The flags
# sink doubles as the replay watermark (single keyed commit — no
# second state table to get out of step with).
# Reference anchor: none (beyond-reference tier); batch-global form
# is q66.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q123_incremental_decontamination(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import (
        incremental_decontamination,
        seed_benchmark_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.pmod("doc_id", 20) == 0
    [split] = _cuts(docs, "doc_id")
    seed_benchmark_index(store, docs.filter(is_bench))
    intake = docs.filter(~is_bench)
    incremental_decontamination(intake.filter(F.col("doc_id") <= split), store)
    incremental_decontamination(intake.filter(F.col("doc_id") > split), store)
    return store.read("decontam_flags")


def _decontam_oracle() -> str:
    from .extensions import ORACLES as _EXT_ORACLES

    return _EXT_ORACLES["q66_benchmark_decontamination"]


ORACLES["q123_incremental_decontamination"] = _decontam_oracle()


# ---------------------------------------------------------------------------
# Q124 — incremental OHLC bars: q98's resample→bar downsampling
# maintained as per-(bar, type) state across three event folds.
# open/close carry their (ts, id) order key in the state row so
# partial-bar merges are associative and deterministic; volume is the
# exact DECIMAL partial sum (cast to double only at read); the sums
# commit atomically WITH the monotone-id watermark.  Maintained ≡
# one-shot global, so the oracle is q98's, verbatim.
# Reference anchor: none (beyond-reference tier); batch-global form
# is q98.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q124_incremental_ohlc(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.sketch import incremental_ohlc

    e = load_table(spark, sf_dir, "events")
    c1, c2 = _cuts(e, "event_id", 3)
    incremental_ohlc(e.filter(F.col("event_id") <= c1), store)
    incremental_ohlc(e.filter(F.col("event_id").between(c1 + 1, c2)), store)
    out, _ = incremental_ohlc(e.filter(F.col("event_id") > c2), store)
    return out


ORACLES["q124_incremental_ohlc"] = ORACLES["q98_ohlc_bars"]


# ---------------------------------------------------------------------------
# Q125 — incremental per-source corpus-health rollup: q68's dashboard
# (volume, exact-dup count, language spread, token mass, decimal-exact
# mean quality) maintained across three intake folds.  Distinct
# (source, fp)/(source, lang) sets ride idempotent keyed appends —
# exactly the state an EXACT dup rate requires — and the per-source
# sums commit atomically WITH the monotone-id watermark.  Maintained ≡
# one-shot global, so the oracle is q68's, verbatim.
# Reference anchor: none (beyond-reference tier); batch-global form is
# q68.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q125_incremental_source_rollup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_source_rollup

    docs = load_table(spark, sf_dir, "documents")
    c1, c2 = _cuts(docs, "doc_id", 3)
    incremental_source_rollup(docs.filter(F.col("doc_id") <= c1), store)
    incremental_source_rollup(docs.filter(F.col("doc_id").between(c1 + 1, c2)), store)
    out, _ = incremental_source_rollup(docs.filter(F.col("doc_id") > c2), store)
    return out


def _rollup_oracle() -> str:
    from .extensions import ORACLES as _EXT_ORACLES

    return _EXT_ORACLES["q68_source_quality_rollup"]


ORACLES["q125_incremental_source_rollup"] = _rollup_oracle()


# ---------------------------------------------------------------------------
# Q126 — incremental weekly retention: q73's cohort dashboard
# maintained on the distinct (user, week) activity set across three
# event folds.  Set union is idempotent-associative and the only
# commit per fold, so there is no watermark and no crash window at
# all; the report derives from the set at read.  Maintained ≡ one-shot
# global; the oracle is q73's, verbatim.
# Reference anchor: none (beyond-reference tier); batch-global form is
# q73.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q126_incremental_retention(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_retention

    e = load_table(spark, sf_dir, "events")
    c1, c2 = _cuts(e, "event_id", 3)
    incremental_retention(e.filter(F.col("event_id") <= c1), store)
    incremental_retention(e.filter(F.col("event_id").between(c1 + 1, c2)), store)
    return incremental_retention(e.filter(F.col("event_id") > c2), store)


def _retention_oracle() -> str:
    from .extensions import ORACLES as _EXT_ORACLES

    return _EXT_ORACLES["q73_weekly_retention"]


ORACLES["q126_incremental_retention"] = _retention_oracle()



# ---------------------------------------------------------------------------
# Q127 — corpus-level boilerplate removal (the CCNet/RefinedWeb "drop
# paragraphs repeated across documents" pass): documents decompose
# into q93's content-defined chunks, a chunk is boilerplate when its
# fingerprint occurs in >= _BOILER_MIN_DOCS DISTINCT documents, and
# each document reports its kept/removed token mass plus the md5 of
# its kept chunk fingerprints in chunk order — the cleaned document's
# identity without re-materializing text. Content-anchored boundaries
# (not fixed windows) are what let the same boilerplate passage
# fingerprint identically wherever it lands in a page.
# Scale shape: one exchange on doc_id (chunk assembly window), one on
# the 32-char fp (distinct-doc count + join-back), one on doc_id for
# the report — all over compact chunk rows; text never shuffles.
# Reference anchor: none (beyond-reference LLM-pipeline tier).
# ---------------------------------------------------------------------------
_BOILER_MIN_DOCS = 2


def q127_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import boilerplate_report, content_chunks

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Pin the decomposition once: the report consumes it on BOTH sides
    # of the fp-count join, and without the pin each branch re-runs
    # the explode + chunk-assembly window over the raw text (the q112
    # NFC-pass lesson; the no-Generate plan pin lives in
    # tests/test_plan_regressions.py).
    chunks = content_chunks(docs, "doc_id", "text", mod=_CDC_MOD).localCheckpoint(
        eager=True
    )
    return boilerplate_report(chunks, "doc_id", min_docs=_BOILER_MIN_DOCS)


# The chunk-decomposition CTE chain (q93's oracle, re-used), extended
# with the per-fp distinct-doc count and the per-doc report.
def _boiler_oracle() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS tok
    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
          FROM documents),
         UNNEST(range(1, length(t) + 1)) AS u(i)
),
fl AS (
    SELECT doc_id, pos, tok,
           CASE WHEN {oracle_hash60('tok')} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END
               AS f
    FROM toks
),
ch AS (
    SELECT doc_id, pos, tok,
           COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS chunk_id
    FROM fl
),
agg AS (
    SELECT doc_id, chunk_id,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM ch
    GROUP BY 1, 2
),
cnt AS (
    SELECT chunk_fp, COUNT(DISTINCT doc_id) AS n_docs FROM agg GROUP BY 1
)
SELECT a.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_chunks,
       CAST(SUM(CASE WHEN n_docs >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
            AS INTEGER) AS n_boiler,
       CAST(SUM(CASE WHEN n_docs >= {_BOILER_MIN_DOCS} THEN 0 ELSE n_tokens END)
            AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN n_docs >= {_BOILER_MIN_DOCS} THEN n_tokens ELSE 0 END)
            AS BIGINT) AS removed_tokens,
       md5(COALESCE(string_agg(
               CASE WHEN n_docs < {_BOILER_MIN_DOCS} THEN chunk_fp END,
               ' ' ORDER BY chunk_id), '')) AS cleaned_fp
FROM agg a JOIN cnt USING (chunk_fp)
GROUP BY 1
"""


ORACLES["q127_boilerplate_removal"] = _boiler_oracle()


# ---------------------------------------------------------------------------
# Q128 — INCREMENTAL boilerplate removal
# (operators/dedup.py:incremental_chunk_index): the chunk
# decomposition is a PURE per-document function, so maintaining the
# (id, chunk_id, chunk_fp, n_tokens) index batch-by-batch — one
# id-keyed idempotent append per fold, no watermark, no crash window —
# yields EXACTLY the global decomposition, and the report derived from
# the index at read equals the one-shot q127. Raw text is chunked
# once, on the batch that introduces it; the report (and any re-run
# with a raised min_docs) touches only ~48-byte chunk rows. The
# oracle is q127's, verbatim.
# Reference anchor: none (beyond-reference tier); batch-global form is
# q127.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q128_incremental_boilerplate(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import boilerplate_report, incremental_chunk_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_chunk_index(
        docs.filter(F.col("doc_id") <= split), store, mod=_CDC_MOD
    )
    n2 = incremental_chunk_index(
        docs.filter(F.col("doc_id") > split), store, mod=_CDC_MOD
    )
    _require(n1 > 0 and n2 > 0, "both folds must introduce documents")
    return boilerplate_report(
        store.read("chunk_index"), "doc_id", min_docs=_BOILER_MIN_DOCS
    )


ORACLES["q128_incremental_boilerplate"] = ORACLES["q127_boilerplate_removal"]


# ---------------------------------------------------------------------------
# Q129 — near-dup cluster REPRESENTATIVE selection: q57's connected
# components (min-label propagation over the rare-shingle candidate
# graph) composed with q32's quality score — each cluster keeps its
# HIGHEST-quality member (ties by smallest id), which is what
# production dedup actually ships: the keeper should be the best
# member, not the one with the smallest id. Docs in no pair are their
# own singleton cluster and always kept.
# Scale shape: the pair/component machinery is q57's (frequency-capped
# blocking, bulk-iteration components); the selection adds ONE window
# exchange on component_id over (id, quality) rows.
# Reference anchor: none (beyond-reference tier); builds on q57 + q32.
# ---------------------------------------------------------------------------
def q129_neardup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score_raw
    from ..operators.dedup import dedup_components, jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, max_freq=20, min_shared=2)
    comp = dedup_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    labeled = (
        docs.select(
            "doc_id", F.round(quality_score_raw("text"), 4).alias("quality_score")
        )
        .join(comp, "doc_id", "left")
        .withColumn(
            "component_id",
            F.coalesce("component", F.col("doc_id")).cast("long"),
        )
        .drop("component")
    )
    w = W.partitionBy("component_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    rep = F.first("doc_id").over(w)
    return labeled.select(
        "doc_id",
        "component_id",
        "quality_score",
        rep.alias("rep_doc"),
        (F.col("doc_id") == rep).cast("int").alias("kept"),
    )


def _rep_oracle() -> str:
    from .extensions import _SHINGLE_PAIR_CTES

    stop_sql = _EN_STOP_SQL_C
    return f"""
WITH RECURSIVE {_SHINGLE_PAIR_CTES},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
qual AS (
    SELECT doc_id,
           ROUND(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
                 + 0.5 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0), 4)
               AS quality_score
    FROM (
        SELECT doc_id,
               length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
               length(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t IN ({stop_sql}))) AS n_stop
        FROM documents
    )
),
labeled AS (
    SELECT d.doc_id,
           CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id,
           q.quality_score
    FROM documents d
    LEFT JOIN comp c USING (doc_id)
    JOIN qual q USING (doc_id)
)
SELECT doc_id, component_id, quality_score,
       CAST(first_value(doc_id) OVER w AS BIGINT) AS rep_doc,
       CAST(CASE WHEN doc_id = first_value(doc_id) OVER w
                 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM labeled
WINDOW w AS (PARTITION BY component_id
             ORDER BY quality_score DESC, doc_id)
"""


ORACLES["q129_neardup_representatives"] = _rep_oracle()



# ---------------------------------------------------------------------------
# Q130 — token-budget mixture sampling: the training-mix assembly
# primitive q89's RATE sampler can't express — each source contributes
# documents until an exact TOKEN budget is filled (training mixtures
# are specified in tokens, not doc counts or rates). Selection is a
# pure function of the ids: docs order within their source by portable
# hash (a deterministic shuffle), and a doc is kept iff the running
# token total through it stays within the budget — reproducible across
# engines, runs, and corpus repartitionings.
# Scale shape: the per-source running sum does NOT use a naive
# PARTITION BY source window (one task per source — a skewed source
# would funnel half the corpus through one task). It runs through
# global_prefix_sum's grouped two-level scheme (operators/packing.py):
# rows bucket by hash magnitude, a bounded window per (source,
# bucket), per-bucket totals windowed per source, broadcast join back.
# The oracle IS the naive window — bit-identical by construction.
# Reference anchor: none (beyond-reference tier); complements q89
# (rate mix) and q64 (sequence packing).
# ---------------------------------------------------------------------------
_MIX_TOKEN_BUDGET = 1000  # tokens per source
_MIX_HASH_BUCKETS = 64  # order-hash range 2^60 / 2^54


def q130_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import global_prefix_sum

    # Pin the narrow (id, source, n_tokens, h) projection once: the
    # prefix sum consumes it on both the data side and the per-bucket
    # totals side, and without the pin the totals branch re-reads and
    # re-tokenizes the text column (32 B/row pinned vs a second full
    # text scan at corpus scale).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            token_count("text").cast("long").alias("n_tokens"),
            portable_hash60(F.col("doc_id").cast("string")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    pref = global_prefix_sum(
        docs,
        order_col="h",
        value_col="n_tokens",
        out_col="_prefix",
        bucket_size=2**60 // _MIX_HASH_BUCKETS,
        group_cols=["source"],
    )
    return (
        pref.withColumn(
            "cum_tokens", (F.col("_prefix") + F.col("n_tokens")).cast("long")
        )
        .filter(F.col("cum_tokens") <= _MIX_TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


ORACLES["q130_token_budget_sample"] = f"""
SELECT doc_id, source, n_tokens, cum_tokens
FROM (
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {oracle_hash60("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS BIGINT) AS cum_tokens
    FROM (
        SELECT doc_id, source,
               CAST(length(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
)
WHERE cum_tokens <= {_MIX_TOKEN_BUDGET}
"""



# ---------------------------------------------------------------------------
# Q131 — INCREMENTAL cluster-representative selection
# (operators/dedup.py:incremental_representatives): q129's "every
# cluster ships its best member" maintained at intake over the LSH
# pair graph. Maintained ≡ global by composition — the label table is
# q109's star-compression closure (≡ global components of all pairs
# ever seen), the quality sink is a pure per-doc function, the
# selection a pure function of both — so the oracle replays ONE
# global pass: q28's portable LSH pairs closed under a recursive CTE,
# joined to q32's quality, windowed per component. Quality commits
# first (idempotent keyed append), the components fold (whose
# signature index is the batch watermark) last — every crash window
# between them replays to convergence.
# Reference anchor: none (beyond-reference tier); batch-global form
# is q129, cluster maintenance is q109.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q131_incremental_representatives(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_representatives

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    incremental_representatives(
        docs.filter(F.col("doc_id") <= split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    return incremental_representatives(
        docs.filter(F.col("doc_id") > split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )


def _inc_rep_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    stop_sql = _EN_STOP_SQL_C
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
qual AS (
    SELECT doc_id,
           ROUND(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
                 + 0.5 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0), 4)
               AS quality_score
    FROM (
        SELECT doc_id,
               length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
               length(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t IN ({stop_sql}))) AS n_stop
        FROM documents
    )
),
labeled AS (
    SELECT d.doc_id,
           CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id,
           q.quality_score
    FROM documents d
    LEFT JOIN comp c USING (doc_id)
    JOIN qual q USING (doc_id)
)
SELECT doc_id, component_id, quality_score,
       CAST(first_value(doc_id) OVER w AS BIGINT) AS rep_doc,
       CAST(CASE WHEN doc_id = first_value(doc_id) OVER w
                 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM labeled
WINDOW w AS (PARTITION BY component_id
             ORDER BY quality_score DESC, doc_id)
"""


ORACLES["q131_incremental_representatives"] = _inc_rep_oracle()



# ---------------------------------------------------------------------------
# Q132 — INCREMENTAL split-leakage monitor
# (operators/dedup.py:incremental_split_leakage): q71's "near-dups
# crossing the train/val/test boundary" check moved to WHERE it
# belongs at 100 TB — intake time, flagged when the offending
# document arrives. Maintained ≡ global because each batch's LSH
# pairs (within-batch and vs-history, (smaller, larger)-oriented
# under monotone ids) union to exactly the global pair set — the
# property q109's oracle certifies — and the q56 split is a pure
# function of the id; the oracle replays one global pass over the
# portable LSH pipeline. Leakage sink commits first (pair-keyed,
# idempotent), the signature index (the watermark) last.
# Reference anchor: none (beyond-reference tier); batch-global form
# is q71, dedup substrate q103.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q132_incremental_split_leakage(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_split_leakage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    incremental_split_leakage(
        docs.filter(F.col("doc_id") <= split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )
    return incremental_split_leakage(
        docs.filter(F.col("doc_id") > split),
        store,
        threshold=_INC_DEDUP_SIM,
        portable=True,
    )


def _inc_leakage_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    split_case = (
        "CASE WHEN {h} % 100 < 80 THEN 'train' "
        "WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END"
    ).format(h=oracle_hash60("CAST(doc_id AS VARCHAR)"))
    return f"""
WITH pairs AS ({lsh}),
sp AS (SELECT doc_id, {split_case} AS split FROM documents)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN sp sa ON p.doc_a = sa.doc_id
JOIN sp sb ON p.doc_b = sb.doc_id
WHERE sa.split <> sb.split
"""


ORACLES["q132_incremental_split_leakage"] = _inc_leakage_oracle()



# ---------------------------------------------------------------------------
# Q133 — binary-quantized embedding search
# (operators/similarity.py:binary_topk): candidates scored against
# their 1-bit SIGN quantization — the compression tier below SQ8
# (q94/q116): 1 bit/dim, 32× less candidate I/O than float32, queries
# full-precision (asymmetric scoring). Deterministic end-to-end
# (sign per element, rounded sims, ties to smaller id), so the oracle
# replays the chain bit-for-bit; ranking QUALITY vs the float path is
# the recall test in tests/test_similarity.py. Completes the
# quantization ladder: float (q29) → SQ8 (q116) → binary (this).
# Reference anchor: the dormant pgvector VECTOR(768) column
# (sql/01_schema.sql:95).
# ---------------------------------------------------------------------------
def q133_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return binary_topk(emb, queries, "vec_id", "embedding", k=5)


ORACLES["q133_binary_topk"] = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id,
           list_transform(embedding,
                          x -> CAST(sign(CAST(x AS DOUBLE)) AS DOUBLE)) AS sv
    FROM embeddings
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
FROM (
    SELECT query_id, neighbor_id,
           ROUND(list_cosine_similarity(qv, sv), 4) AS sim
    FROM c, q WHERE neighbor_id <> query_id
)
QUALIFY rank <= 5
"""



# ---------------------------------------------------------------------------
# Q134 — binary shortlist + full-precision rerank
# (operators/similarity.py:binary_rerank_topk): the production
# two-stage deployment of q133 — the 1-bit index scans cheap, the
# top-shortlist survivors are re-scored on their full vectors
# (measured on the fixture: sign-only recall@5 ≈ 0.36, reranked at
# shortlist=50 ≈ 0.92). Deterministic end-to-end, so the oracle
# replays both stages; the recall bars live in
# tests/test_similarity.py.
# Reference anchor: the dormant pgvector VECTOR(768) column
# (sql/01_schema.sql:95).
# ---------------------------------------------------------------------------
def q134_binary_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import binary_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return binary_rerank_topk(
        emb, queries, "vec_id", "embedding", k=5, shortlist=50
    )


ORACLES["q134_binary_rerank_topk"] = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
           list_transform(embedding,
                          x -> CAST(sign(CAST(x AS DOUBLE)) AS DOUBLE)) AS sv
    FROM embeddings
),
short AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND(list_cosine_similarity(qv, sv), 4) DESC,
                            neighbor_id
               ) AS srank
        FROM c, q WHERE neighbor_id <> query_id
    )
    WHERE srank <= 50
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
FROM (
    SELECT s.query_id, s.neighbor_id,
           ROUND(list_cosine_similarity(q.qv, c.cv), 4) AS sim
    FROM short s
    JOIN q ON s.query_id = q.query_id
    JOIN c ON s.neighbor_id = c.neighbor_id
)
QUALIFY rank <= 5
"""



# ---------------------------------------------------------------------------
# Q135 — corpus RELEASE DIFF (pipeline/store.py:diff_versions): the
# time-travel dividend of the versioned store — "what changed between
# release v1 and v2" (added / removed / changed keys) answered from
# two snapshots with NO extra bookkeeping at write time. Each side
# ships only (key, md5-of-compare-columns), so wide payloads never
# cross the full-outer join; unchanged keys are filtered out, making
# the diff the small output of two big scans. The wrapper stages two
# deterministic releases of the documents table (v1 = ids < 300;
# v2 = ids ≥ 100 with every id%10==0 doc's text amended) and the
# oracle replays the same two subsets with a direct comparison.
# Reference anchor: none (beyond-reference tier); the store substrate
# is §2's versioned snapshot machinery.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q135_release_diff(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    v1 = docs.filter(F.col("doc_id") < 300)
    v2 = docs.filter(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")),
    )
    a = store.write_version(v1, "corpus_release")
    b = store.write_version(v2, "corpus_release")
    _require(b > a, "the second release must get a later version")
    return store.diff_versions("corpus_release", a, b, "doc_id", ["source", "text"])


ORACLES["q135_release_diff"] = """
WITH v1 AS (
    SELECT doc_id, source, text FROM documents WHERE doc_id < 300
),
v2 AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 10 = 0 THEN text || ' updated' ELSE text END
               AS text
    FROM documents WHERE doc_id >= 100
)
SELECT doc_id, change
FROM (
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.text <> v2.text OR v1.source <> v2.source
                    THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
WHERE change <> 'unchanged'
"""



# ---------------------------------------------------------------------------
# Q136 — cluster-safe train/val/test split: the FIX for what q132
# detects. q56 hashes the DOC id, so near-dup pairs (LSH est_sim ≥
# 0.5 — the same relation q132 monitors) can straddle the held-out
# boundary; here the split hashes the CLUSTER id (q109's connected
# components over the LSH pair graph; a doc in no pair is its own
# singleton cluster), so every near-dup cluster lands whole in one
# split and leakage w.r.t. that relation is ZERO by construction —
# the group-aware split every leakage-safe dataset release needs.
# Same 80/10/10 hash rule, applied one level up. (The q26 candidate
# graph would be the WRONG substrate: with no similarity threshold it
# collapses the fixture into one giant component and the "split"
# moves half the corpus as a block — found while building this.)
# Scale shape: q28's audited banded-LSH dataflow + bulk-iteration
# components + in-row hash math; no window at all.
# Reference anchor: none (beyond-reference tier); composes q109 +
# q56, closes the loop with q132.
# ---------------------------------------------------------------------------
def q136_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_components, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM, portable=True,
    )
    comp = dedup_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "component_id",
            F.coalesce("component", F.col("doc_id")).cast("long"),
        )
        .drop("component")
    )
    bucket = F.pmod(
        portable_hash60(F.col("component_id").cast("string")), F.lit(100)
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return labeled.select("doc_id", "component_id", split.alias("split"))


def _cluster_split_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH RECURSIVE pairs AS ({lsh}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
labeled AS (
    SELECT d.doc_id,
           CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component_id,
       CASE WHEN {oracle_hash60("CAST(component_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
            WHEN {oracle_hash60("CAST(component_id AS VARCHAR)")} % 100 < 90
                THEN 'val'
            ELSE 'test' END AS split
FROM labeled
"""


ORACLES["q136_cluster_safe_split"] = _cluster_split_oracle()



# ---------------------------------------------------------------------------
# Q137 — the dataset RELEASE pipeline end-to-end: q117 proved the
# intake side (canonicalize → dedup → card) as one oracled query;
# this is its counterpart for shipping a training set — (1) drop
# benchmark docs and anything contaminated by them (q66's 5-gram
# rule), (2) connected components over the survivors' LSH pairs and
# the CLUSTER-safe 80/10/10 split (q136 — zero leakage by
# construction), (3) keep the train split, (4) fill each source's
# exact token budget in deterministic hash order (q130). Every stage
# is an already-oracled operator; the oracle chains their SQL forms
# into one global pass.
# Scale shape: each stage's audited dataflow, composed; the clean
# doc set is pinned once (the narrow (id, source, n_tokens, h)
# projection) so the budget stage never re-reads text.
# Reference anchor: none (beyond-reference tier); composes q66 +
# q136 + q130.
# ---------------------------------------------------------------------------
_RELEASE_BUDGET = 800  # tokens per source in the released train set


def q137_dataset_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles
    from ..operators.dedup import dedup_components, minhash_lsh_pairs
    from ..operators.packing import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # (1) q66 decontamination: benchmark = doc_id % 20 == 0; a doc
    # sharing ANY 5-gram with the benchmark set is contaminated.
    is_bench = F.pmod("doc_id", 20) == 0
    sh = docs.select(
        "doc_id",
        is_bench.alias("_b"),
        F.explode(word_shingles("text", 5)).alias("g"),
    ).select("doc_id", "_b", F.xxhash64("g").alias("gh"))
    bench_gh = sh.filter("_b").select("gh").distinct()
    dirty = (
        sh.filter(~F.col("_b"))
        .join(F.broadcast(bench_gh), "gh")
        .select("doc_id")
        .distinct()
    )
    clean = docs.filter(~is_bench).join(dirty, "doc_id", "left_anti")
    # (2) cluster-safe split over the survivors' LSH near-dup graph
    pairs = minhash_lsh_pairs(
        clean, "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM, portable=True,
    )
    comp = dedup_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    labeled = (
        clean.join(comp, "doc_id", "left")
        .withColumn(
            "component_id",
            F.coalesce("component", F.col("doc_id")).cast("long"),
        )
        .drop("component")
    )
    bucket = F.pmod(
        portable_hash60(F.col("component_id").cast("string")), F.lit(100)
    )
    # (3) keep train; (4) pin the narrow projection and fill budgets
    train = (
        labeled.filter(bucket < 80)
        .select(
            "doc_id",
            "source",
            token_count("text").cast("long").alias("n_tokens"),
            portable_hash60(F.col("doc_id").cast("string")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    pref = global_prefix_sum(
        train,
        order_col="h",
        value_col="n_tokens",
        out_col="_prefix",
        bucket_size=2**60 // _MIX_HASH_BUCKETS,
        group_cols=["source"],
    )
    return (
        pref.withColumn(
            "cum_tokens", (F.col("_prefix") + F.col("n_tokens")).cast("long")
        )
        .filter(F.col("cum_tokens") <= _RELEASE_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def _release_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "clean", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    comp_hash = oracle_hash60("CAST(component_id AS VARCHAR)")
    doc_hash = oracle_hash60("CAST(doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE toks5 AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
sh5 AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(t, i, i + 4), ' ') AS g
    FROM toks5, UNNEST(range(1, greatest(length(t) - 4, 0) + 1)) AS u(i)
),
bench5 AS (SELECT DISTINCT g FROM sh5 WHERE doc_id % 20 = 0),
dirty AS (
    SELECT DISTINCT doc_id FROM sh5 JOIN bench5 USING (g)
    WHERE doc_id % 20 != 0
),
clean AS (
    SELECT d.doc_id, d.source, d.text
    FROM documents d
    WHERE d.doc_id % 20 != 0
      AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
),
pairs AS ({lsh}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
train AS (
    SELECT doc_id, source, n_tokens
    FROM (
        SELECT c.doc_id, c.source,
               CAST(length(regexp_split_to_array(c.text, '\\s+')) AS BIGINT)
                   AS n_tokens,
               CAST(COALESCE(comp.component_id, c.doc_id) AS BIGINT)
                   AS component_id
        FROM clean c LEFT JOIN comp USING (doc_id)
    )
    WHERE {comp_hash} % 100 < 80
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM (
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY {doc_hash}, doc_id
           ) AS BIGINT) AS cum_tokens
    FROM train
)
WHERE cum_tokens <= {_RELEASE_BUDGET}
"""


ORACLES["q137_dataset_release"] = _release_oracle()



# ---------------------------------------------------------------------------
# Q138 — product-quantized embedding search
# (operators/similarity.py:pq_topk): 8 subspaces × 16 codes = 4
# bytes/vector (64× smaller than float32) scored by asymmetric
# distance against the reconstruction — the BOTTOM rung of the
# quantization ladder (float q29 → SQ8 q116 → binary q133 → PQ
# this), each rung's recall measured in tests/test_similarity.py
# (isotropic fixture: 1.0 → ~0.9 → 0.36 → 0.22 raw recall@5).
# Codebook = the pinned corpus vectors vec_id 0..15 (the q30/q116
# discipline), so every step — per-subspace L2 argmin with ties to
# the lower code, slice reconstruction, cosine, rank — is
# deterministic and the oracle replays it bit-for-bit.
# Reference anchor: the dormant pgvector VECTOR(768) column
# (sql/01_schema.sql:95).
# ---------------------------------------------------------------------------
def q138_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    codebook = emb.filter(F.col("vec_id") < 16)
    return pq_topk(emb, queries, codebook, "vec_id", "embedding", m=8, k=5)


ORACLES["q138_pq_topk"] = """
WITH cb AS (
    SELECT vec_id AS code, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sub AS (
    SELECT c.vec_id, s.s, cb.code,
           list_sum(list_transform(range(1, 9),
               i -> (v[s.s * 8 + i] - cv[s.s * 8 + i])
                  * (v[s.s * 8 + i] - cv[s.s * 8 + i]))) AS d
    FROM corpus c, (SELECT UNNEST(range(0, 8)) AS s) s, cb
),
best AS (
    SELECT vec_id, s, code
    FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, code) AS rn
        FROM sub
    )
    WHERE rn = 1
),
recon AS (
    SELECT b.vec_id,
           flatten(list(list_slice(cb.cv, b.s * 8 + 1, b.s * 8 + 8)
                        ORDER BY b.s)) AS rv
    FROM best b JOIN cb ON cb.code = b.code
    GROUP BY b.vec_id
),
q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 10
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
FROM (
    SELECT q.query_id, r.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(q.qv, r.rv), 4) AS sim
    FROM recon r, q WHERE r.vec_id <> q.query_id
)
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# Q139 — n-gram language-model quality scoring (the CCNet discipline,
# operators/lm.py): train an interpolated bigram LM on a reference
# slice (doc_id % 3 == 0 — the deterministic stand-in for "trusted
# corpus"), score EVERY document by its mean -ln P per token. The
# model-based member of the quality family (rule-based: q32/q67/q88).
# Per-position ln-terms are 1e-9 fixed-point rounded before the
# per-document sum (the q88/q113 exactness discipline), so the
# aggregate is associative and bit-identical across engines.
# Scale shape: one grouping-sets aggregate trains both count tables
# in a single exchange; the vocab-bounded model is pinned + BROADCAST
# into the scoring joins, so scoring the corpus costs one id-exchange
# and zero shuffle joins.
# Reference anchor: none (beyond-reference LLM-pipeline tier).
# ---------------------------------------------------------------------------
_LM_TRAIN_MOD = 3


def q139_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import lm_count_delta, ngram_lm_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    model = lm_count_delta(train, "doc_id", "text").localCheckpoint(eager=True)
    return ngram_lm_score(docs, model, "doc_id", "text")


ORACLES["q139_ngram_lm_score"] = rf"""
WITH toks AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS w2
    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
         UNNEST(range(1, length(t) + 1)) AS u(i)
),
lagf AS (
    SELECT doc_id, pos, w2,
           lag(w2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM toks
),
tr AS (SELECT * FROM lagf WHERE doc_id % {_LM_TRAIN_MOD} = 0),
uni AS (SELECT w2 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM tr WHERE w1 IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_train,
               CAST(COUNT(*) AS BIGINT) AS v_train FROM uni),
sc AS (
    SELECT p.doc_id, p.pos, u1.c1 AS c1_prev, u2.c1 AS c1_cur, b.c12
    FROM lagf p
    LEFT JOIN uni u1 ON u1.w = p.w1
    LEFT JOIN uni u2 ON u2.w = p.w2
    LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
    WHERE p.w1 IS NOT NULL
),
terms AS (
    SELECT doc_id,
           CAST(ROUND(ln(0.8 * (CASE WHEN c1_prev IS NOT NULL
                                     THEN CAST(COALESCE(c12, 0) AS DOUBLE) / c1_prev
                                     ELSE 0.0 END)
                          + 0.2 * (CAST(COALESCE(c1_cur, 0) AS DOUBLE) + 1)
                                / (n_train + v_train + 1)) * 1e9) AS BIGINT) AS t,
           CASE WHEN c1_cur IS NULL THEN 1 ELSE 0 END
             + CASE WHEN pos = 1 AND c1_prev IS NULL THEN 1 ELSE 0 END AS oov,
           CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM sc CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(hit) AS BIGINT) AS n_hit_bigrams,
       ROUND(-(CAST(SUM(t) AS DOUBLE) / 1e9) / COUNT(*), 4) AS xent
FROM terms GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q140 — INCREMENTAL LM maintenance (operators/lm.py:incremental_lm):
# q139's model folded batch-by-batch as layered +delta count rows,
# ONE atomic append_version per fold — the replay watermark travels
# INSIDE the delta layer it gates, so the fold has no crash window at
# all. Counts are associative sums, so the maintained model is
# EXACTLY the one-shot q139 model and the oracle is q139's verbatim.
# Batch text is tokenized once, on arrival; history text never
# re-read; the read-side fold is over the vocab-bounded model layers.
# Reference anchor: none (beyond-reference tier); batch form is q139.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q140_incremental_lm(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.lm import incremental_lm, lm_model_from_store, ngram_lm_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    [split] = _cuts(train, "doc_id")
    r1 = incremental_lm(train.filter(F.col("doc_id") <= split), store)
    r2 = incremental_lm(train.filter(F.col("doc_id") > split), store)
    _require(r1.n_new > 0 and r2.n_new > 0, "both folds must introduce documents")
    model = lm_model_from_store(store).localCheckpoint(eager=True)
    return ngram_lm_score(docs, model, "doc_id", "text")


ORACLES["q140_incremental_lm"] = ORACLES["q139_ngram_lm_score"]


# ---------------------------------------------------------------------------
# Q141 — DSIR importance selection (operators/lm.py:dsir_select):
# Data Selection via Importance Resampling (Xie et al. 2023) in its
# deterministic oracle-checkable form — every document ranked by the
# log-ratio of its probability under the TARGET model (the q139
# reference slice) vs the SOURCE model (the whole raw pool), keep the
# top-100 most target-like. The per-position fixed-point ln-terms
# make the log-weight an EXACT integer difference, so the ranking is
# total and engine-exact. One text pass scores both models (six
# broadcast joins on the same bigram frame); the global rank is the
# bucketed two-level global_row_number — no single-task sort.
# Reference anchor: none (beyond-reference LLM-pipeline tier).
# ---------------------------------------------------------------------------
_DSIR_N = 100


def q141_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import dsir_select, lm_count_delta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = lm_count_delta(
        docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0), "doc_id", "text"
    ).localCheckpoint(eager=True)
    source = lm_count_delta(docs, "doc_id", "text").localCheckpoint(eager=True)
    return dsir_select(docs, target, source, "doc_id", "text", n_select=_DSIR_N)


ORACLES["q141_dsir_selection"] = rf"""
WITH toks AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS w2
    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
         UNNEST(range(1, length(t) + 1)) AS u(i)
),
lagf AS (
    SELECT doc_id, pos, w2,
           lag(w2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM toks
),
trt AS (SELECT * FROM lagf WHERE doc_id % {_LM_TRAIN_MOD} = 0),
unit AS (SELECT w2 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM trt GROUP BY 1),
bigt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         FROM trt WHERE w1 IS NOT NULL GROUP BY 1, 2),
tott AS (SELECT CAST(SUM(c1) AS BIGINT) AS tn,
                CAST(COUNT(*) AS BIGINT) AS tv FROM unit),
unis AS (SELECT w2 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM lagf GROUP BY 1),
bigs AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         FROM lagf WHERE w1 IS NOT NULL GROUP BY 1, 2),
tots AS (SELECT CAST(SUM(c1) AS BIGINT) AS sn,
                CAST(COUNT(*) AS BIGINT) AS sv FROM unis),
sc AS (
    SELECT p.doc_id,
           ut1.c1 AS tc1p, ut2.c1 AS tc1c, bt.c12 AS tc12,
           us1.c1 AS sc1p, us2.c1 AS sc1c, bs.c12 AS sc12
    FROM lagf p
    LEFT JOIN unit ut1 ON ut1.w = p.w1
    LEFT JOIN unit ut2 ON ut2.w = p.w2
    LEFT JOIN bigt bt ON bt.w1 = p.w1 AND bt.w2 = p.w2
    LEFT JOIN unis us1 ON us1.w = p.w1
    LEFT JOIN unis us2 ON us2.w = p.w2
    LEFT JOIN bigs bs ON bs.w1 = p.w1 AND bs.w2 = p.w2
    WHERE p.w1 IS NOT NULL
),
terms AS (
    SELECT doc_id,
           CAST(ROUND(ln(0.8 * (CASE WHEN tc1p IS NOT NULL
                                     THEN CAST(COALESCE(tc12, 0) AS DOUBLE) / tc1p
                                     ELSE 0.0 END)
                          + 0.2 * (CAST(COALESCE(tc1c, 0) AS DOUBLE) + 1)
                                / (tn + tv + 1)) * 1e9) AS BIGINT) AS tt,
           CAST(ROUND(ln(0.8 * (CASE WHEN sc1p IS NOT NULL
                                     THEN CAST(COALESCE(sc12, 0) AS DOUBLE) / sc1p
                                     ELSE 0.0 END)
                          + 0.2 * (CAST(COALESCE(sc1c, 0) AS DOUBLE) + 1)
                                / (sn + sv + 1)) * 1e9) AS BIGINT) AS ts
    FROM sc CROSS JOIN tott CROSS JOIN tots
),
perdoc AS (
    SELECT doc_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_tokens,
           SUM(tt) - SUM(ts) AS lw
    FROM terms GROUP BY 1
)
SELECT doc_id, n_tokens,
       ROUND(CAST(lw AS DOUBLE) / 1e9, 4) AS log_weight,
       CAST(row_number() OVER (ORDER BY lw DESC, doc_id) AS BIGINT) AS rank
FROM perdoc
QUALIFY rank <= {_DSIR_N}
"""


# ---------------------------------------------------------------------------
# Q142 — INCREMENTAL DSIR: both q141 models maintained batch-by-batch
# with incremental_lm (target folds the reference slice, source folds
# everything — two independent single-commit layered count tables),
# the selection derived at read time from the maintained pair. Counts
# associative ⇒ both maintained models ≡ their one-shot twins ⇒ the
# selection is EXACTLY q141's; oracle reused verbatim. Per drop:
# one token pass over the batch (each model's fold), zero crash
# windows; the re-rank touches model state + corpus text once.
# Reference anchor: none (beyond-reference tier); batch form is q141.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q142_incremental_dsir(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.lm import dsir_select, incremental_lm, lm_model_from_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    for batch in (
        docs.filter(F.col("doc_id") <= split),
        docs.filter(F.col("doc_id") > split),
    ):
        rt = incremental_lm(
            batch.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0),
            store,
            model_table="lm_target",
        )
        rs = incremental_lm(batch, store, model_table="lm_source")
        _require(
            rt.n_new > 0 and rs.n_new > 0,
            "both folds must introduce documents to both models",
        )
    target = lm_model_from_store(store, "lm_target").localCheckpoint(eager=True)
    source = lm_model_from_store(store, "lm_source").localCheckpoint(eager=True)
    return dsir_select(docs, target, source, "doc_id", "text", n_select=_DSIR_N)


ORACLES["q142_incremental_dsir"] = ORACLES["q141_dsir_selection"]


# ---------------------------------------------------------------------------
# Q143 — quality-score drift monitor: the PSI gate (q113's
# fixed-point discipline, operators/drift.py) pointed at the LM
# quality score itself — bucket every document's q139 cross-entropy
# into 0.25-nat bins and compare the reference population (even ids
# — the stand-in for "last accepted period") against the current one
# (odd ids). This is the gate that tells an intake pipeline its
# QUALITY FILTER's input distribution moved (new crawl source, a
# register shift), before the filter silently starts passing junk or
# rejecting good text. One scoring pass + one bounded
# (column, bucket) aggregate; the PSI fold is over <= dozens of rows.
# Reference anchor: none (beyond-reference tier); composes q139+q113.
# ---------------------------------------------------------------------------
def q143_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_from_bucket_counts
    from ..operators.lm import lm_count_delta, ngram_lm_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    model = lm_count_delta(train, "doc_id", "text").localCheckpoint(eager=True)
    scored = ngram_lm_score(docs, model, "doc_id", "text")
    per_bucket = (
        scored.select(
            F.lit("lm_xent").alias("column_name"),
            F.floor(F.col("xent") * F.lit(4)).cast("int").alias("bucket"),
            (F.col("doc_id") % 2 == 0).alias("is_ref"),
        )
        .groupBy("column_name", "bucket")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("c_cur"),
        )
    )
    return psi_from_bucket_counts(per_bucket)


_Q139_XENT_CHAIN = ORACLES["q139_ngram_lm_score"]

ORACLES["q143_quality_drift"] = rf"""
WITH xents AS (
{_Q139_XENT_CHAIN}
),
rows_ AS (
    SELECT 'lm_xent' AS column_name,
           CAST(FLOOR(xent * 4) AS INTEGER) AS bucket,
           CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side
    FROM xents
),
pb AS (
    SELECT column_name, bucket,
           SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS c_ref,
           SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c_cur
    FROM rows_ GROUP BY 1, 2
),
wn AS (
    SELECT *,
           SUM(c_ref) OVER (PARTITION BY column_name) AS n_ref,
           SUM(c_cur) OVER (PARTITION BY column_name) AS n_cur,
           COUNT(*) OVER (PARTITION BY column_name) AS n_buckets
    FROM pb
),
terms AS (
    SELECT column_name, n_ref, n_cur, n_buckets,
           CAST(ROUND((((c_cur + 1.0) / (n_cur + n_buckets)
                        - (c_ref + 1.0) / (n_ref + n_buckets))
                       * ln(((c_cur + 1.0) / (n_cur + n_buckets))
                            / ((c_ref + 1.0) / (n_ref + n_buckets))))
                      * 1e9) AS BIGINT) AS t
    FROM wn
)
SELECT column_name,
       ROUND(SUM(t) / 1e9, 4) AS psi,
       CAST(MAX(n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(n_cur) AS BIGINT) AS n_cur,
       CAST(MAX(n_buckets) AS BIGINT) AS n_buckets
FROM terms
GROUP BY column_name
"""


# ---------------------------------------------------------------------------
# Q144 — duplicated-SPAN report: the Spark-expressible form of
# suffix-array substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — their operator finds
# byte spans repeated across the corpus and cuts them; a true suffix
# array is a single-machine construction, so the distributed form
# fixes a span granularity k and works on k-token gram hashes):
# every k-gram seen in >= _SPAN_MIN_DOCS distinct docs marks its
# start position duplicated; per doc, overlapping duplicated grams
# are merged into MAXIMAL spans by interval union (running-max-end
# gaps-and-islands), reporting span count, covered tokens, and the
# duplicated fraction — the "cut these spans before training" sheet.
# Scale shape: lead-chained gram assembly on the q83 window (one
# doc_id exchange), one gram-hash aggregate + semi-join back (the
# q103 history-cut discipline — positions, not text, cross that
# exchange), then the island windows and both per-doc aggregates
# reuse the doc_id partitioning. Never all-pairs, never text after
# the hash.
# Reference anchor: none (beyond-reference tier); gram machinery
# shared with q83, chunk-granularity cousin is q93/q127.
# ---------------------------------------------------------------------------
_SPAN_K = 6
_SPAN_MIN_DOCS = 2


def q144_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _parallelize_scan, duplicated_span_report

    docs = _parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return duplicated_span_report(
        docs, "doc_id", "text", k=_SPAN_K, min_docs=_SPAN_MIN_DOCS
    )


ORACLES["q144_duplicated_spans"] = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g AS (
    SELECT doc_id, i - 1 AS pos, length(t) AS n_toks,
           {" || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SPAN_K))}
               AS gram
    FROM toks, UNNEST(range(1, greatest(length(t) - {_SPAN_K - 2}, 1))) AS u(i)
),
hh AS (
    SELECT doc_id, pos, n_toks, {oracle_hash60('gram')} AS h FROM g
),
dup AS (
    SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS d FROM hh GROUP BY 1)
    WHERE d >= {_SPAN_MIN_DOCS}
),
starts AS (
    SELECT doc_id, pos, n_toks FROM hh WHERE h IN (SELECT h FROM dup)
),
isl AS (
    SELECT doc_id, pos, n_toks,
           SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM (
        SELECT *,
               MAX(pos + {_SPAN_K - 1})
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pme
        FROM starts
    )
),
spans AS (
    SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e,
           MAX(n_toks) AS nt
    FROM isl GROUP BY 1, 2
)
SELECT doc_id,
       CAST(MAX(nt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       ROUND(CAST(SUM(e - s + 1) AS DOUBLE) / MAX(nt), 4) AS dup_frac
FROM spans GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q145 — INCREMENTAL duplicated-span maintenance
# (operators/dedup.py:incremental_duplicated_spans): q144 moved to
# intake time, INCLUDING the retroactive updates span semantics force
# — when a late document re-uses a span a historical document carried
# alone, the OLD document's report changes too (its gram just crossed
# min_docs), so the maintained reports table equals the one-shot q144
# over everything seen after every fold. Per fold: one text pass over
# the batch, then two semi-join cuts of the 32-byte positional index
# (batch grams → changed counts; affected docs' grams → current dup
# status) — O(batch neighborhood), never O(corpus). Reports upsert
# commits FIRST (pure function of index ∪ batch, idempotent), the
# positions append (the watermark) LAST, so every crash window
# replays to convergence. The oracle is q144's, verbatim.
# Reference anchor: none (beyond-reference tier); batch-global form is
# q144.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q145_incremental_duplicated_spans(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import _parallelize_scan, incremental_duplicated_spans

    docs = _parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= split),
        store,
        k=_SPAN_K,
        min_docs=_SPAN_MIN_DOCS,
    )
    n2 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > split),
        store,
        k=_SPAN_K,
        min_docs=_SPAN_MIN_DOCS,
    )
    _require(n1 > 0 and n2 > 0, "both folds must introduce documents")
    return store.read("span_reports")


ORACLES["q145_incremental_duplicated_spans"] = ORACLES["q144_duplicated_spans"]


# ---------------------------------------------------------------------------
# Q146 — WITHIN-document repetition metrics (Rae et al. 2021, Gopher /
# MassiveText "repetitious text" filters, token-level form): per doc,
# the coverage fraction of the single most frequent 2-gram (ties by
# lexicographically smallest gram — deterministic in both engines'
# binary string order) and the fraction of 3-gram start positions
# whose gram repeats within the doc. The q144/q145 family finds text
# repeated ACROSS documents; this finds the looping/generated text
# that repeats INSIDE one — the other half of repetition filtering,
# and a pure per-doc computation (embarrassingly parallel at 100 TB:
# every exchange below is partitioned by doc_id and AQE-coalesced).
# Coverage is capped at 1.0 (overlapping occurrences of a 2-gram can
# cover more starts than tokens exist, e.g. "a a a a").
# Scale shape: one posexplode + one doc_id window for gram assembly
# (the q144 lead-chain), then two doc_id-keyed aggregates and one
# row_number window — no global exchange anywhere (operators/quality.py).
# Reference anchor: none (beyond-reference tier); cross-doc twin is
# q144, rule-based quality cousins are q32/q67/q88.
# ---------------------------------------------------------------------------
def q146_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import repetition_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_report(docs)


ORACLES["q146_repetition_metrics"] = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g2 AS (
    SELECT doc_id, length(t) AS n_toks, t[i] || ' ' || t[i+1] AS g
    FROM toks, UNNEST(range(1, greatest(length(t), 1))) AS u(i)
),
g3 AS (
    SELECT doc_id, length(t) AS n_toks,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
    FROM toks, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
),
top2 AS (
    SELECT doc_id, g AS top_2gram, cnt AS top_2gram_count,
           ROUND(LEAST(1.0, CAST(2.0 * cnt AS DOUBLE) / n_toks), 4)
               AS top_2gram_frac
    FROM (
        SELECT doc_id, g, COUNT(*) AS cnt, MAX(n_toks) AS n_toks,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g ASC) AS rn
        FROM g2 GROUP BY doc_id, g
    ) WHERE rn = 1
),
dup3 AS (
    SELECT doc_id,
           ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                 / (MAX(n_toks) - 2), 4) AS dup_3gram_frac
    FROM (
        SELECT doc_id, g, COUNT(*) AS cnt, MAX(n_toks) AS n_toks
        FROM g3 GROUP BY doc_id, g
    ) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(regexp_split_to_array(d.text, '\\s+')) AS BIGINT)
           AS n_tokens,
       top_2gram,
       CAST(COALESCE(top_2gram_count, 0) AS BIGINT) AS top_2gram_count,
       COALESCE(top_2gram_frac, 0.0) AS top_2gram_frac,
       COALESCE(dup_3gram_frac, 0.0) AS dup_3gram_frac,
       (COALESCE(top_2gram_frac, 0.0) > {_REP_TOP2_MAX}
        OR COALESCE(dup_3gram_frac, 0.0) > {_REP_DUP3_MAX}) AS repetitive
FROM documents d
LEFT JOIN top2 USING (doc_id)
LEFT JOIN dup3 USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Q147 — cross-SOURCE n-gram overlap matrix: pairwise Jaccard between
# each source's distinct 5-gram shingle SET — the corpus-composition
# diagnostic run before mixing sources into a training set (two
# crawls of the same sites show up as a high-overlap pair; dedup
# budget and mixture weights follow from it). Every unordered source
# pair is reported, including zero-overlap ones.
# Scale shape: one (source, shingle) distinct aggregate — text is
# dropped at that exchange — then an equi-join on the shingle string
# whose per-key fan-out is bounded by the SOURCE count (distinct per
# source first!), never by document count; per-source set sizes
# broadcast back onto the S² matrix. No all-pairs over documents
# anywhere. Shingles join as raw strings, not hashes, so the counts
# are collision-free and engine-exact.
# Reference anchor: none (beyond-reference tier); doc-level twin is
# q26 (Jaccard pairs), benchmark form is q66/q123.
# ---------------------------------------------------------------------------
_SRC_SHINGLE_N = 5


def q147_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    sh = (
        docs.select(
            "source",
            F.explode(word_shingles("text", _SRC_SHINGLE_N)).alias("g"),
        )
        .distinct()
    )
    sz = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    srcs = sz.select(F.col("source"), F.col("n"))
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .select(
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
    )


ORACLES["q147_source_overlap_matrix"] = f"""
WITH toks AS (
    SELECT source, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT source,
           {" || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SRC_SHINGLE_N))}
               AS g
    FROM toks,
         UNNEST(range(1, greatest(length(t) - {_SRC_SHINGLE_N - 2}, 1))) AS u(i)
),
sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(a.n AS BIGINT) AS n_shingles_a,
       CAST(b.n AS BIGINT) AS n_shingles_b,
       CAST(COALESCE(i, 0) AS BIGINT) AS n_common,
       ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
             / (a.n + b.n - COALESCE(i, 0)), 4) AS jaccard
FROM sz a
JOIN sz b ON a.source < b.source
LEFT JOIN inter ON inter.source_a = a.source AND inter.source_b = b.source
"""


# ---------------------------------------------------------------------------
# Q148 / Q149 — distributed BPE tokenizer induction + exact token
# counts under the learned vocab (operators/bpe.py). Real BPE training
# loops over the WORD-FREQUENCY table, not the corpus: one corpus pass
# builds the vocab, then every merge iteration is a vocab-bounded
# aggregate plus a one-row argmax collect (the q85 scalar-reduction
# shape). Symbol sequences live as paren-walled strings — 'hi' →
# '(h)(i)(</w>)' — so applying a merge is ONE literal replace of
# '(l)(r)' with '(lr)', which has identical left-to-right
# non-overlapping semantics in Spark and DuckDB; ties break by
# (count DESC, lhs, rhs) binary order in both. The oracle replays the
# identical loop as a chained CTE per iteration (the q85 pattern), so
# the learned merge table is bit-for-bit checkable. q149 then charges
# each document its EXACT token count under the learned vocab — the
# model-true upgrade of q31's BPE-ish regex estimate — via one
# broadcast join of the vocab's per-word symbol counts.
# Reference anchor: none (beyond-reference tier).
# ---------------------------------------------------------------------------
_BPE_MERGES = 12


def q148_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_learn, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("text")
    return bpe_learn(word_vocab(docs), _BPE_MERGES).merges


def q149_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_learn, bpe_token_counts, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    res = bpe_learn(word_vocab(docs), _BPE_MERGES)
    return bpe_token_counts(docs, res.vocab)


def _bpe_chain_sql(n: int, doc_filter: str = "") -> str:
    """The BPE training loop as chained CTEs (one p/b/v triple per
    iteration — the q85 oracle pattern): pairs → argmax → replace.
    ``doc_filter`` optionally restricts the TRAINING corpus (q155
    trains on half and encodes everything).
    Every v/b CTE is MATERIALIZED: each ``v{i}`` is referenced twice
    (by ``p{i+1}`` and ``v{i+1}``), so the default inlining
    re-evaluates the chain 2^n times — 8 minutes at n=12 vs ~2 s
    materialized (measured at sf0.01)."""
    parts = [
        f"""v0 AS MATERIALIZED (
    SELECT word, COUNT(*) AS freq,
           regexp_replace(word, '(.)', '(\\1)', 'g') || '(</w>)' AS seq
    FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word
          FROM documents{doc_filter})
    WHERE word NOT LIKE '%(%' AND word NOT LIKE '%)%' AND word <> ''
    GROUP BY word
)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""p{i} AS (
    SELECT s[j] AS l, s[j + 1] AS r, SUM(freq) AS c
    FROM (SELECT string_split(substring(seq, 2, length(seq) - 2), ')(') AS s,
                 freq
          FROM v{i - 1}) sx,
         UNNEST(range(1, greatest(len(s), 1))) AS u(j)
    GROUP BY 1, 2
)"""
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} "
            "ORDER BY c DESC, l ASC, r ASC LIMIT 1)"
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
    SELECT word, freq,
           replace(seq, '(' || b.l || ')(' || b.r || ')',
                   '(' || b.l || b.r || ')') AS seq
    FROM v{i - 1}, b{i} b
)"""
        )
    return "WITH " + ",\n".join(parts)


ORACLES["q148_bpe_merges"] = (
    _bpe_chain_sql(_BPE_MERGES)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS it, l AS lhs, r AS rhs, "
        f"CAST(c AS BIGINT) AS pair_count, l || r AS new_symbol FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)

ORACLES["q149_bpe_token_counts"] = (
    _bpe_chain_sql(_BPE_MERGES)
    + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2), ')(')))
            AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2),
                                       ')('))) AS DOUBLE) / COUNT(*), 4)
           AS tokens_per_word
FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS word
      FROM documents) w
JOIN v{_BPE_MERGES} v USING (word)
GROUP BY 1
"""
)


# ---------------------------------------------------------------------------
# Q150 — INCREMENTAL BPE vocabulary (operators/bpe.py:
# incremental_vocab): the (word, freq) training input maintained as
# layered +delta count rows — associative sums, so ONE atomic
# append_version per fold with the replay watermark inside the delta
# layer (the q140 protocol verbatim; no crash window). The merge loop
# is a pure function of the count table, so retraining from the
# maintained vocab equals training on the full corpus — which is
# exactly what this query proves: two folds, retrain, and the oracle
# is q148's global chain verbatim. This is how a production tokenizer
# tracks a growing corpus: fold word counts at intake (cheap), re-run
# the vocab-bounded merge loop only when retraining is scheduled.
# Reference anchor: none (beyond-reference tier); one-shot form q148.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q150_incremental_vocab(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.bpe import bpe_learn, incremental_vocab, vocab_from_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_vocab(docs.filter(F.col("doc_id") <= split), store)
    r2 = incremental_vocab(docs.filter(F.col("doc_id") > split), store)
    _require(r1.n_new > 0 and r2.n_new > 0, "both folds must add documents")
    return bpe_learn(vocab_from_store(store), _BPE_MERGES).merges


ORACLES["q150_incremental_vocab"] = ORACLES["q148_bpe_merges"]


# ---------------------------------------------------------------------------
# Q151 — INCREMENTAL repetition metrics (operators/quality.py:
# incremental_repetition): q146 maintained at intake. The metrics are
# a pure PER-DOCUMENT function, so the fold is one id-keyed idempotent
# append — the report table is its own watermark, ONE commit per fold,
# NO crash window (the q128 chunk-index protocol verbatim), and
# maintained ≡ global is the disjoint-union-of-per-doc-rows argument.
# The registered query folds two batches and returns the maintained
# table; the oracle is q146's global pass verbatim.
# Reference anchor: none (beyond-reference tier); one-shot form q146.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q151_incremental_repetition(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.quality import incremental_repetition

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_repetition(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_repetition(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must add documents")
    return store.read("repetition_reports")


ORACLES["q151_incremental_repetition"] = ORACLES["q146_repetition_metrics"]


# ---------------------------------------------------------------------------
# Q152 — sequence packing under EXACT BPE token counts: the packed
# token stream a pretraining run actually materializes, with each
# document charged its model-true q149 count instead of q64's
# whitespace estimate (at 2048-token packs a ~25% systematic
# undercount misplaces every boundary after the first few documents —
# the whole point of exact counts). Composition: q148's learned vocab
# → q149's per-doc counts → q64's concat-then-chunk offsets via the
# bucketed two-level prefix sum (no single-task sort).
# Docs with no in-vocab words contribute no row (the q149 inner-join
# contract), matching the oracle chain's join.
# Reference anchor: none (beyond-reference tier); estimate form q64.
# ---------------------------------------------------------------------------
_BPE_PACK_BUDGET = 2048


def q152_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_learn, bpe_token_counts, word_vocab
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = bpe_learn(word_vocab(docs), _BPE_MERGES).vocab
    counts = bpe_token_counts(docs, vocab).select("doc_id", "n_bpe_tokens")
    return pack_sequences(
        counts, "doc_id", "n_bpe_tokens", budget=_BPE_PACK_BUDGET
    ).select(
        "doc_id", "n_bpe_tokens", "start_offset", "pack_first", "pack_last", "n_packs"
    )


ORACLES["q152_bpe_packing"] = (
    _bpe_chain_sql(_BPE_MERGES)
    + f""",
cnt AS (
    SELECT doc_id,
           CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2),
                                     ')('))) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS word
          FROM documents) w
    JOIN v{_BPE_MERGES} v USING (word)
    GROUP BY 1
),
p AS (
    SELECT doc_id, n_bpe_tokens,
           CAST(COALESCE(SUM(n_bpe_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
    FROM cnt
)
SELECT doc_id, n_bpe_tokens, start_offset,
       CAST(floor(start_offset / {_BPE_PACK_BUDGET}) AS BIGINT) AS pack_first,
       CAST(floor((start_offset + greatest(n_bpe_tokens, 1) - 1)
                  / {_BPE_PACK_BUDGET}) AS BIGINT) AS pack_last,
       CAST(floor((start_offset + greatest(n_bpe_tokens, 1) - 1)
                  / {_BPE_PACK_BUDGET})
            - floor(start_offset / {_BPE_PACK_BUDGET}) + 1 AS BIGINT) AS n_packs
FROM p
"""
)


# ---------------------------------------------------------------------------
# Q153 — INCREMENTAL cross-source overlap (operators/sketch.py:
# incremental_source_overlap): q147's composition diagnostic
# maintained at intake. State = the distinct (source, shingle-hash)
# set — the minimal sufficient statistic for the pairwise Jaccard
# matrix — folded with an idempotent keyed anti-join append (set
# union: ONE commit per fold, no watermark, NO crash window — the
# q126 retention protocol). Shingles enter the state as portable
# 60-bit md5 hashes (16-byte rows instead of raw 5-gram strings; the
# oracle replays the identical hash, so even a collision would
# match). Maintained ≡ global by set-union associativity.
# Reference anchor: none (beyond-reference tier); one-shot raw-string
# form q147.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q153_incremental_source_overlap(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_source_overlap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    [split] = _cuts(docs, "doc_id")
    incremental_source_overlap(
        docs.filter(F.col("doc_id") <= split), store, n=_SRC_SHINGLE_N
    )
    return incremental_source_overlap(
        docs.filter(F.col("doc_id") > split), store, n=_SRC_SHINGLE_N
    )


ORACLES["q153_incremental_source_overlap"] = f"""
WITH toks AS (
    SELECT source, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT source,
           {oracle_hash60(" || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SRC_SHINGLE_N)))}
               AS gh
    FROM toks,
         UNNEST(range(1, greatest(length(t) - {_SRC_SHINGLE_N - 2}, 1))) AS u(i)
),
sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
    GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(a.n AS BIGINT) AS n_shingles_a,
       CAST(b.n AS BIGINT) AS n_shingles_b,
       CAST(COALESCE(i, 0) AS BIGINT) AS n_common,
       ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
             / (a.n + b.n - COALESCE(i, 0)), 4) AS jaccard
FROM sz a
JOIN sz b ON a.source < b.source
LEFT JOIN inter ON inter.source_a = a.source AND inter.source_b = b.source
"""


# ---------------------------------------------------------------------------
# Q154 — temperature-smoothed mixture budgets (the mT5 / ROOTS / UniMax
# α-sampling step): per-source token budgets ∝ (source token mass)^α
# with α = 1/2, then each source filled in deterministic hash order to
# its budget. α < 1 up-weights small sources relative to proportional
# sampling — THE standard fix for web-crawl dominance in multilingual /
# multi-source pretraining mixes; q130 takes externally-given budgets,
# this derives them from the corpus itself.
# Engine-exactness: α = 1/2 is computed with SQRT (correctly rounded
# by IEEE 754 in both engines — general POW is not), snapped to
# 1e-6 fixed point; the budget split then happens entirely in int64
# (TOTAL·w_s div Σw — exact and order-free, no float sum anywhere).
# Scale shape: one map-side per-source mass aggregate (≤S rows),
# weights/budgets broadcast back; the per-source fill reuses q130's
# grouped two-level prefix sum — no single-task sort, skew-immune.
# Reference anchor: none (beyond-reference tier); fixed-budget form
# q130, rate form q89.
# ---------------------------------------------------------------------------
_TEMP_TOTAL_BUDGET = 5000  # tokens across all sources
_TEMP_FIXED = 1_000_000  # 1e-6 fixed point for the sqrt weights


def q154_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import global_prefix_sum

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            token_count("text").cast("long").alias("n_tokens"),
            portable_hash60(F.col("doc_id").cast("string")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    w = (
        docs.groupBy("source")
        .agg(F.sum("n_tokens").alias("m"))
        .select(
            "source",
            F.round(F.sqrt(F.col("m").cast("double")) * _TEMP_FIXED)
            .cast("long")
            .alias("w"),
        )
    )
    # DECIMAL(38,0) product: at 100 TB, w ≈ 4.5e12, so a production
    # total_budget (>~2e6) would overflow TOTAL·w in int64; the widened
    # multiply keeps the split exact (≈4e31 max, far below 10^38).
    budgets = (
        w.crossJoin(F.broadcast(w.agg(F.sum("w").alias("w_tot"))))
        .select(
            "source",
            F.expr(
                f"CAST(CAST({_TEMP_TOTAL_BUDGET} AS DECIMAL(38,0)) * w "
                "div w_tot AS BIGINT)"
            ).alias("source_budget"),
        )
    )
    pref = global_prefix_sum(
        docs,
        order_col="h",
        value_col="n_tokens",
        out_col="_prefix",
        bucket_size=2**60 // _MIX_HASH_BUCKETS,
        group_cols=["source"],
    )
    return (
        pref.withColumn(
            "cum_tokens", (F.col("_prefix") + F.col("n_tokens")).cast("long")
        )
        .join(F.broadcast(budgets), "source")
        .filter(F.col("cum_tokens") <= F.col("source_budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens", "source_budget")
    )


ORACLES["q154_temperature_mixture"] = f"""
WITH t AS (
    SELECT doc_id, source,
           CAST(length(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tokens
    FROM documents
),
w AS (
    SELECT source,
           CAST(ROUND(SQRT(CAST(SUM(n_tokens) AS DOUBLE)) * {_TEMP_FIXED})
                AS BIGINT) AS w
    FROM t GROUP BY 1
),
b AS (
    SELECT source,
           CAST({_TEMP_TOTAL_BUDGET} * w
                // (SELECT CAST(SUM(w) AS BIGINT) FROM w) AS BIGINT)
               AS source_budget
    FROM w
),
p AS (
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {oracle_hash60("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS BIGINT) AS cum_tokens
    FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens, source_budget
FROM p JOIN b USING (source)
WHERE cum_tokens <= source_budget
"""


# ---------------------------------------------------------------------------
# Q155 — BPE ENCODING of unseen text (operators/bpe.py:bpe_encode_
# counts): the deployment property a tokenizer exists for — encode
# text the trainer never saw. Train the q148 merge table on the FIRST
# HALF of the corpus only, then charge EVERY document (both halves)
# its exact token count by applying the merges in learned order to
# each distinct word; unseen words decompose greedily toward
# characters (higher tokens_per_word — the fertility penalty OOV text
# pays), and n_oov_words counts occurrences outside the training
# vocabulary. The encoder is a chained literal-replace column
# expression (JVM codegen, no UDF) over the corpus's distinct words.
# The oracle replays training on the filtered half (the same
# MATERIALIZED chain) plus a second chain applying each learned merge
# to ALL distinct words, in order — bit-for-bit.
# Reference anchor: none (beyond-reference tier); training q148,
# in-vocab counts q149.
# ---------------------------------------------------------------------------
def q155_bpe_encode_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_counts, bpe_learn, word_vocab

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    train_vocab = word_vocab(docs.filter(F.col("doc_id") <= split))
    res = bpe_learn(train_vocab, _BPE_MERGES)
    return bpe_encode_counts(docs, res.merges, train_vocab)


def _bpe_encode_chain_sql(n: int) -> str:
    """All distinct corpus words re-encoded under the b1..bn merges,
    in learned order (e0 → en) — MATERIALIZED for the same 2^n
    inlining reason as the training chain."""
    parts = [
        """e0 AS MATERIALIZED (
    SELECT word,
           regexp_replace(word, '(.)', '(\\1)', 'g') || '(</w>)' AS seq
    FROM (SELECT DISTINCT word
          FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word
                FROM documents)
          WHERE word NOT LIKE '%(%' AND word NOT LIKE '%)%' AND word <> '')
)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""e{i} AS MATERIALIZED (
    SELECT word,
           replace(seq, '(' || b.l || ')(' || b.r || ')',
                   '(' || b.l || b.r || ')') AS seq
    FROM e{i - 1}, b{i} b
)"""
        )
    return ",\n".join(parts)


ORACLES["q155_bpe_encode_oov"] = (
    _bpe_chain_sql(
        _BPE_MERGES,
        doc_filter=(
            " WHERE doc_id <= (SELECT (MIN(doc_id) + MAX(doc_id)) // 2"
            " FROM documents)"
        ),
    )
    + ",\n"
    + _bpe_encode_chain_sql(_BPE_MERGES)
    + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2), ')(')))
            AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov_words,
       ROUND(CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2),
                                       ')('))) AS DOUBLE) / COUNT(*), 4)
           AS tokens_per_word
FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS word
      FROM documents) w
JOIN e{_BPE_MERGES} e USING (word)
LEFT JOIN (SELECT word FROM v0) v USING (word)
GROUP BY 1
"""
)


# ---------------------------------------------------------------------------
# Q156 — INCREMENTAL temperature mixture (operators/sketch.py:
# incremental_temperature_mixture): q154 maintained at intake. Every
# fold moves the global source masses, so the selected set is NOT
# monotone and cannot be appended — the state is instead the minimal
# sufficient statistic the selection is a pure function of: the
# 32-byte (id, source, n_tokens, order-hash) projection, folded by an
# idempotent id-keyed append (one commit, its own watermark, no crash
# window). Budgets and the kept set derive at read; maintained ≡
# global because the state union IS the global projection, so the
# oracle is q154's verbatim.
# Reference anchor: none (beyond-reference tier); one-shot form q154.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q156_incremental_temperature_mixture(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_temperature_mixture

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    [split] = _cuts(docs, "doc_id")
    incremental_temperature_mixture(
        docs.filter(F.col("doc_id") <= split), store, _TEMP_TOTAL_BUDGET
    )
    return incremental_temperature_mixture(
        docs.filter(F.col("doc_id") > split), store, _TEMP_TOTAL_BUDGET
    )


ORACLES["q156_incremental_temperature_mixture"] = ORACLES[
    "q154_temperature_mixture"
]


# ---------------------------------------------------------------------------
# Q157 — tokenizer FERTILITY by language: per-language mean BPE
# tokens per word under the learned vocab — the standard multilingual
# tokenizer-fairness diagnostic (a vocab trained on a skewed mix
# charges under-represented languages more tokens for the same text,
# which directly inflates their training/inference cost). Weighted
# mean = Σtokens / Σwords per language, plus the document count and
# the per-language worst-case doc ratio.
# Scale shape: q148/q149's audited shapes; the per-language rollup is
# one ≤|langs|-row aggregate over the per-doc counts joined back to
# the (doc_id, lang) projection.
# Reference anchor: none (beyond-reference tier); per-doc form q149.
# ---------------------------------------------------------------------------
def q157_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_learn, bpe_token_counts, word_vocab

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    res = bpe_learn(word_vocab(docs), _BPE_MERGES)
    counts = bpe_token_counts(docs, res.vocab)
    return (
        counts.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens").cast("double") / F.sum("n_words"), 4
            ).alias("fertility"),
            F.max("tokens_per_word").alias("worst_doc_fertility"),
        )
    )


ORACLES["q157_bpe_fertility_by_lang"] = (
    _bpe_chain_sql(_BPE_MERGES)
    + f""",
cnt AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(substring(seq, 2, length(seq) - 2),
                                     ')('))) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(len(string_split(substring(seq, 2,
                                                     length(seq) - 2),
                                           ')('))) AS DOUBLE) / COUNT(*), 4)
               AS tokens_per_word
    FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS word
          FROM documents) w
    JOIN v{_BPE_MERGES} v USING (word)
    GROUP BY 1
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(n_bpe_tokens) AS DOUBLE) / SUM(n_words), 4)
           AS fertility,
       MAX(tokens_per_word) AS worst_doc_fertility
FROM cnt JOIN documents USING (doc_id)
GROUP BY 1
"""
)


# ---------------------------------------------------------------------------
# Q158 — join-key SKEW diagnostic: the report run BEFORE deciding to
# salt (operators/skew.py:salted_join) or lean on AQE's skew-join
# split — the top-N heavy hitters of a join key with their share of
# all rows, each key's multiple of the mean key load, and the global
# key stats (distinct keys, mean rows/key) on every row for context.
# A key at many× the mean is exactly the one whose shuffle partition
# becomes the straggler at 100 TB.
# Scale shape: one key-bounded COUNT aggregate (map-side combined —
# the output is |distinct keys|, not rows), one single-row global
# rollup broadcast back, top-N via ORDER BY count LIMIT (TakeOrdered,
# no global sort materialization).
# Reference anchor: none (beyond-reference tier); the remedy it
# gates is operators/skew.py:salted_join (§2.10).
# ---------------------------------------------------------------------------
_SKEW_TOP_N = 20


def _skew_report(per_key: DataFrame, key: str) -> DataFrame:
    """Top-N heavy hitters + global key stats from a (key, cnt)
    frame — shared by the one-shot q158 and the maintained q161."""
    glob = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
    )
    return (
        per_key.crossJoin(F.broadcast(glob))
        .orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(_SKEW_TOP_N)
        .select(
            key,
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("n_rows"), 4
            ).alias("x_mean"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def q158_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return _skew_report(per_key, "l_suppkey")


ORACLES["q158_join_key_skew"] = f"""
WITH per_key AS (
    SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
g_stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows
    FROM per_key
)
SELECT l_suppkey,
       CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
       ROUND(CAST(cnt AS DOUBLE) * n_keys / n_rows, 4) AS x_mean,
       n_keys, n_rows
FROM per_key, g_stats
ORDER BY cnt DESC, l_suppkey ASC
LIMIT {_SKEW_TOP_N}
"""


# ---------------------------------------------------------------------------
# Q159 — PERCENTILE-CALIBRATED quality gate: the production way to
# set a quality threshold — not a magic constant, but "keep pool text
# no worse than the p-th percentile of the TRUSTED reference slice's
# own score distribution" (CCNet sets its perplexity buckets exactly
# this way). Threshold = the k-th smallest reference xent with
# k = ceil(0.9 · n_ref) as an exact integer order statistic ((xent,
# doc_id) total order — engine-exact, no percentile-interpolation
# ambiguity); the gate keeps pool (non-reference) docs at or below it.
# Scale shape: q139's audited one-pass scoring, the reference rank
# via the bucketed two-level global_row_number (no single-task sort),
# the single-row (k, threshold) frame broadcast into the gate filter.
# Reference anchor: none (beyond-reference tier); score q139,
# drift gate q143.
# ---------------------------------------------------------------------------
_GATE_PCT_NUM, _GATE_PCT_DEN = 9, 10  # keep at or below the ref p90


def q159_calibrated_quality_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.lm import lm_count_delta, ngram_lm_score
    from ..operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    model = lm_count_delta(train, "doc_id", "text").localCheckpoint(eager=True)
    scores = ngram_lm_score(docs, model, "doc_id", "text").localCheckpoint(
        eager=True
    )
    ref = scores.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    ranked = global_row_number(
        ref.select("doc_id", "xent"), ["xent", "doc_id"], out_col="rn"
    )
    # exact integer ceil-div — no float percentile ambiguity
    k = ref.agg(F.count(F.lit(1)).alias("_n")).select(
        F.expr(
            f"CAST((_n * {_GATE_PCT_NUM} + {_GATE_PCT_DEN - 1})"
            f" div {_GATE_PCT_DEN} AS BIGINT)"
        ).alias("k")
    )
    thr = (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rn") == F.col("k"))
        .select(F.col("xent").alias("threshold"))
    )
    return (
        scores.filter(F.col("doc_id") % _LM_TRAIN_MOD != 0)
        .crossJoin(F.broadcast(thr))
        .filter(F.col("xent") <= F.col("threshold"))
        .select("doc_id", "n_tokens", "n_oov", "n_hit_bigrams", "xent", "threshold")
    )


def _gate_oracle() -> str:
    """Splice q139's scoring chain into a MATERIALIZED sc_all CTE,
    then rank the reference slice, pick the exact k-th order
    statistic, and gate the pool."""
    chain, final = ORACLES["q139_ngram_lm_score"].rsplit("SELECT doc_id,", 1)
    return (
        chain
        + ", sc_all AS MATERIALIZED (SELECT doc_id,"
        + final
        + f"""),
ranked AS (
    SELECT doc_id, xent,
           ROW_NUMBER() OVER (ORDER BY xent, doc_id) AS rn
    FROM sc_all WHERE doc_id % {_LM_TRAIN_MOD} = 0
),
kk AS (
    SELECT CAST((COUNT(*) * {_GATE_PCT_NUM} + {_GATE_PCT_DEN - 1})
                // {_GATE_PCT_DEN} AS BIGINT) AS k
    FROM sc_all WHERE doc_id % {_LM_TRAIN_MOD} = 0
),
thr AS (SELECT xent AS threshold FROM ranked, kk WHERE rn = k)
SELECT s.doc_id, s.n_tokens, s.n_oov, s.n_hit_bigrams, s.xent, threshold
FROM sc_all s, thr
WHERE s.doc_id % {_LM_TRAIN_MOD} <> 0 AND s.xent <= threshold
"""
    )


ORACLES["q159_calibrated_quality_gate"] = _gate_oracle()


# ---------------------------------------------------------------------------
# Q160 — pack MANIFEST: the writer-side artifact of sequence packing —
# for every (pack, document) incidence, the exact slice of the doc
# that lands in that pack and where: (pack_id, doc_id, doc_off =
# tokens of the doc already consumed by earlier packs, pack_off =
# position inside the pack, n_slice). A shard writer materializes
# packs from exactly these rows; q64/q152 say WHERE docs start, this
# says what each PACK contains. Empty docs are charged a 1-token
# placeholder slice (the q64 convention, so every doc appears).
# Scale shape: the q64 prefix sum + one explode over each doc's
# ≤(n_packs) pack ids — output size is the manifest itself (≈ docs +
# pack-crossings); all arithmetic in-row.
# Reference anchor: none (beyond-reference tier); offsets q64/q152.
# ---------------------------------------------------------------------------
def q160_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    budget = 2048
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(lens, "doc_id", "n_tokens", budget=budget)
    eff = F.greatest(F.col("n_tokens"), F.lit(1))
    return (
        packed.withColumn(
            "pack_id", F.explode(F.sequence("pack_first", "pack_last"))
        )
        .select(
            "pack_id",
            "doc_id",
            (
                F.greatest(F.col("pack_id") * budget, F.col("start_offset"))
                - F.col("start_offset")
            )
            .cast("long")
            .alias("doc_off"),
            (
                F.greatest(F.col("pack_id") * budget, F.col("start_offset"))
                - F.col("pack_id") * budget
            )
            .cast("long")
            .alias("pack_off"),
            (
                F.least(
                    (F.col("pack_id") + 1) * budget,
                    F.col("start_offset") + eff,
                )
                - F.greatest(F.col("pack_id") * budget, F.col("start_offset"))
            )
            .cast("long")
            .alias("n_slice"),
        )
    )


ORACLES["q160_pack_manifest"] = """
WITH t AS (
    SELECT doc_id,
           CAST(length(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
    FROM documents
),
p AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
    FROM t
),
spans AS (
    SELECT doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / 2048) AS BIGINT) AS pack_first,
           CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 2048)
                AS BIGINT) AS pack_last
    FROM p
)
SELECT CAST(u.pack_id AS BIGINT) AS pack_id,
       doc_id,
       CAST(greatest(u.pack_id * 2048, start_offset) - start_offset AS BIGINT)
           AS doc_off,
       CAST(greatest(u.pack_id * 2048, start_offset) - u.pack_id * 2048
            AS BIGINT) AS pack_off,
       CAST(least((u.pack_id + 1) * 2048,
                  start_offset + greatest(n_tokens, 1))
            - greatest(u.pack_id * 2048, start_offset) AS BIGINT) AS n_slice
FROM spans, UNNEST(range(pack_first, pack_last + 1)) AS u(pack_id)
"""


# ---------------------------------------------------------------------------
# Q161 — INCREMENTAL join-key skew (q158 maintained at intake): the
# skew diagnostic a long-running pipeline keeps current without ever
# rescanning history. Per-key counts are associative sums, so the
# fold is ONE atomic layered +delta append with the watermark inside
# the layer (the q140/q150 protocol verbatim — no crash window); the
# top-N report derives from the key-bounded summed state at read.
# Maintained ≡ global by commutativity, so the oracle is q158's
# verbatim.
# Reference anchor: none (beyond-reference tier); one-shot form q158.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q161_incremental_key_skew(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    [split] = _cuts(li, "l_orderkey")

    def fold(batch: DataFrame) -> None:
        wm = None
        if store.current_version("key_counts") is not None:
            wm = (
                store.read_union("key_counts")
                .agg(F.max("batch_max_id"))
                .first()[0]
            )
        fresh = batch.filter(F.col("l_orderkey") > wm) if wm is not None else batch
        mx = fresh.agg(F.max("l_orderkey")).first()[0]
        if mx is None:
            return
        delta = (
            fresh.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("batch_max_id", F.lit(int(mx)).cast("long"))
        )
        store.append_version(delta, "key_counts")

    fold(li.filter(F.col("l_orderkey") <= split))
    fold(li.filter(F.col("l_orderkey") > split))
    per_key = (
        store.read_union("key_counts")
        .groupBy("l_suppkey")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _skew_report(per_key, "l_suppkey")


ORACLES["q161_incremental_key_skew"] = ORACLES["q158_join_key_skew"]


# ---------------------------------------------------------------------------
# Q162 — CURRICULUM schedule: the training-order artifact of
# curriculum learning — every document assigned a quality-quartile
# STAGE (NTILE over the q32 rule-based score, best first) and a
# deterministic hash order WITHIN its stage, so the loader streams
# stage 1 → 4 with intra-stage shuffling that is reproducible across
# engines and runs. q89 mixes by rate; this ORDERS the corpus.
# Scale shape: both ranks ride the bucketed two-level
# global_row_number (operators/ranking.py — no single-task sort, no
# per-stage single-partition window: the in-stage order is ONE global
# rank over (stage, order-hash, id) minus broadcast per-stage
# offsets).
# Reference anchor: none (beyond-reference tier); score q32, rate
# mixture q89, ntile machinery q79.
# ---------------------------------------------------------------------------
_CURR_STAGES = 4


def _curriculum_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score_raw

    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(quality_score_raw("text"), 4).alias("quality_score"),
        portable_hash60(F.col("doc_id").cast("string")).alias("h"),
    )


def _curriculum_from_stats(stats: DataFrame) -> DataFrame:
    """The schedule as a pure function of the (id, quality, hash)
    stats — shared by the one-shot q162 and the maintained q163.
    The IN-STAGE rank is a grouped two-level prefix-COUNT over the
    order hash (operators/packing.py:global_prefix_sum with
    group_cols) — rows bucket by hash magnitude and the bounded
    window runs per (stage, bucket), so no stage ever funnels through
    a single task (a plain global rank led by the 4-valued stage
    column would degenerate to exactly that: ≤4 quantile buckets =
    per-stage single-partition windows)."""
    from ..operators.packing import global_prefix_sum
    from ..operators.ranking import global_ntile

    # best quality = stage 1: NTILE ascends, so rank on the negated score
    staged = global_ntile(
        stats.withColumn("q_neg", -F.col("quality_score")),
        ["q_neg", "doc_id"],
        _CURR_STAGES,
        out_col="stage",
    ).drop("q_neg")
    pref = global_prefix_sum(
        staged.withColumn("_one", F.lit(1)),
        order_col="h",
        value_col="_one",
        out_col="_rk",
        bucket_size=2**60 // _MIX_HASH_BUCKETS,
        group_cols=["stage"],
    )
    return pref.select(
        "doc_id",
        "quality_score",
        F.col("stage").cast("int").alias("stage"),
        (F.col("_rk") + 1).cast("long").alias("stage_order"),
    )


def q162_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curriculum_from_stats(_curriculum_doc_stats(spark, sf_dir))


ORACLES["q162_curriculum_schedule"] = f"""
WITH scored AS (
    SELECT doc_id,
           ROUND(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
                 + 0.5 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0), 4)
               AS quality_score,
           {oracle_hash60("CAST(doc_id AS VARCHAR)")} AS h
    FROM (
        SELECT doc_id,
               length(regexp_split_to_array(text, '\\s+')) AS n_tokens,
               length(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t IN ({_EN_STOP_SQL_C}))) AS n_stop
        FROM documents
    )
),
staged AS (
    SELECT doc_id, quality_score, h,
           CAST(NTILE({_CURR_STAGES}) OVER (
               ORDER BY -quality_score, doc_id) AS INTEGER) AS stage
    FROM scored
)
SELECT doc_id, quality_score, stage,
       CAST(ROW_NUMBER() OVER (PARTITION BY stage ORDER BY h, doc_id)
            AS BIGINT) AS stage_order
FROM staged
"""


# ---------------------------------------------------------------------------
# Q163 — INCREMENTAL curriculum (q162 maintained at intake): stage
# boundaries are global quality quantiles, so every fold moves them —
# the schedule is NOT monotone and cannot be appended (the q156
# non-monotone argument). State = the 24-byte (id, quality, hash)
# stats projection the schedule is a pure function of: ONE idempotent
# id-keyed commit per fold (its own watermark, no crash window);
# the schedule derives at read via the shared _curriculum_from_stats.
# Maintained ≡ global because the state union IS the global stats, so
# the oracle is q162's verbatim.
# Reference anchor: none (beyond-reference tier); one-shot form q162.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q163_incremental_curriculum(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    stats = _curriculum_doc_stats(spark, sf_dir)
    [split] = _cuts(stats, "doc_id")

    for fold in (F.col("doc_id") <= split, F.col("doc_id") > split):
        store.append_new(stats.filter(fold), "curriculum_stats", key="doc_id")
    return _curriculum_from_stats(store.read("curriculum_stats"))


ORACLES["q163_incremental_curriculum"] = ORACLES["q162_curriculum_schedule"]


# ---------------------------------------------------------------------------
# Q164 — stratified eval HOLDOUT: exactly N documents per source,
# chosen in deterministic hash order — the held-out eval carve-out a
# release reserves per stratum BEFORE training (exact counts, not the
# rate-based expectation q56/q89 give; reproducible across engines,
# runs, and repartitionings). Output: the holdout with each doc's
# in-source pick rank.
# Scale shape: the in-source rank is ONE bucketed two-level global
# rank over (source, order-hash, id) minus broadcast per-source
# offsets (the q162 discipline) — deliberately NOT a PARTITION BY
# source window, which would funnel each source through one task.
# Reference anchor: none (beyond-reference tier); global exact-N
# q43, weighted q99, per-source token budgets q130.
# ---------------------------------------------------------------------------
_HOLDOUT_PER_SOURCE = 20


def q164_stratified_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        portable_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    # in-source pick rank = grouped two-level prefix-COUNT over the
    # order hash (bounded window per (source, bucket)) — never a
    # per-source single-partition window
    pref = global_prefix_sum(
        docs.withColumn("_one", F.lit(1)),
        order_col="h",
        value_col="_one",
        out_col="_rk",
        bucket_size=2**60 // _MIX_HASH_BUCKETS,
        group_cols=["source"],
    )
    return (
        pref.withColumn("pick", (F.col("_rk") + 1).cast("long"))
        .filter(F.col("pick") <= _HOLDOUT_PER_SOURCE)
        .select("doc_id", "source", "pick")
    )


ORACLES["q164_stratified_holdout"] = f"""
SELECT doc_id, source, pick
FROM (
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {oracle_hash60("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS BIGINT) AS pick
    FROM documents
)
WHERE pick <= {_HOLDOUT_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# Q165 — per-source DEDUP SAVINGS: the summary a data owner reads
# after the exact-dedup pass — per source, documents and token mass
# before vs after min-id keep-first dedup (the q24 rule), and the
# fraction of tokens the pass saved. The dedup rule is GLOBAL (a copy
# counts as kept only in its keeper's source), so per-source savings
# reflect cross-source duplication honestly rather than each source
# double-counting the same survivor.
# Scale shape: one (fp → min id) aggregate over hashed text (the q24
# exchange), a left-semi back onto the narrow (id, source, n_tokens)
# projection, two ≤S-row rollups — text is read once and dropped at
# the first exchange.
# Reference anchor: none (beyond-reference tier); dedup rule q24,
# rollup cousin q68.
# ---------------------------------------------------------------------------
def _savings_report(before: DataFrame, after: DataFrame) -> DataFrame:
    """The shared 6-column savings projection (q165/q167; the
    maintained q166/q169 read side lives in
    operators/sketch.py:dedup_savings_result)."""
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


def q165_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    keepers = docs.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("n_tokens").alias("tokens_before"),
    )
    after = (
        docs.join(keepers, ["fp", "doc_id"], "left_semi")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_after"),
            F.sum("n_tokens").alias("tokens_after"),
        )
    )
    return _savings_report(before, after)


ORACLES["q165_dedup_savings"] = """
WITH d AS (
    SELECT doc_id, source,
           CAST(length(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tokens,
           md5(text) AS fp
    FROM documents
),
k AS (SELECT fp, MIN(doc_id) AS doc_id FROM d GROUP BY 1),
b AS (SELECT source, COUNT(*) AS docs_before, SUM(n_tokens) AS tokens_before
      FROM d GROUP BY 1),
a AS (
    SELECT source, COUNT(*) AS docs_after, SUM(n_tokens) AS tokens_after
    FROM d SEMI JOIN k USING (fp, doc_id)
    GROUP BY 1
)
SELECT source,
       CAST(docs_before AS BIGINT) AS docs_before,
       CAST(COALESCE(docs_after, 0) AS BIGINT) AS docs_after,
       CAST(tokens_before AS BIGINT) AS tokens_before,
       CAST(COALESCE(tokens_after, 0) AS BIGINT) AS tokens_after,
       ROUND(CAST(tokens_before - COALESCE(tokens_after, 0) AS DOUBLE)
             / tokens_before, 4) AS tokens_saved_frac
FROM b LEFT JOIN a USING (source)
"""


# ---------------------------------------------------------------------------
# Q166 — INCREMENTAL dedup savings (q165 maintained at intake): under
# monotone ids the min-id keeper of a fingerprint is simply its FIRST
# arrival, so the keeper set is append-only — a keyed (fp) append of
# each batch's novel fingerprints — and the per-source before-sums
# are associative deltas (the q140 watermark-in-layer protocol).
# Keeper index commits FIRST (idempotent keyed append), the sums
# delta (the watermark) LAST, so every crash window replays to
# convergence. Maintained ≡ global by first-arrival = global-min +
# sum associativity; oracle is q165's verbatim.
# Reference anchor: none (beyond-reference tier); one-shot form q165.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q166_incremental_dedup_savings(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import dedup_savings_result, incremental_dedup_savings

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_dedup_savings(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_dedup_savings(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must add documents")
    return dedup_savings_result(store)


ORACLES["q166_incremental_dedup_savings"] = ORACLES["q165_dedup_savings"]


# ---------------------------------------------------------------------------
# Q167 — per-source NEAR-DUP savings: q165's report under the fuzzy
# rule — the number actually cited for a dedup pass ("MinHash removed
# X% of tokens"). Kept set = the q103 order-free dominated rule (drop
# iff LSH-paired with ANY smaller id) over the portable pair set;
# exact-duplicate texts long enough to shingle (≥3 tokens) share
# every band bucket, so on such docs the fuzzy rule subsumes the
# exact one; sub-shingle docs carry no signature and are always kept
# here even when byte-identical (q165 still catches those).
# Scale shape: the q28 single-shuffle banded LSH (text dropped at the
# signature exchange), one anti-join of the ≤pairs 8-byte doc_b set
# onto the narrow projection, two ≤S-row rollups.
# Reference anchor: none (beyond-reference tier); exact form q165,
# rule q103, pair machinery q28.
# ---------------------------------------------------------------------------
def q167_neardup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    full = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        full, "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM, portable=True,
    )
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("n_tokens").alias("tokens_before"),
    )
    after = (
        docs.join(dropped, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_after"),
            F.sum("n_tokens").alias("tokens_after"),
        )
    )
    return _savings_report(before, after)


def _neardup_savings_oracle() -> str:
    from .extensions import oracle_minhash_lsh_sql

    lsh = oracle_minhash_lsh_sql(
        "documents", "doc_id", "text", n_hashes=16, bands=4,
        min_est_sim=_INC_DEDUP_SIM,
    )
    return f"""
WITH pairs AS ({lsh}),
d AS (
    SELECT doc_id, source,
           CAST(length(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tokens
    FROM documents
),
b AS (SELECT source, COUNT(*) AS docs_before, SUM(n_tokens) AS tokens_before
      FROM d GROUP BY 1),
a AS (
    SELECT source, COUNT(*) AS docs_after, SUM(n_tokens) AS tokens_after
    FROM d WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
    GROUP BY 1
)
SELECT source,
       CAST(docs_before AS BIGINT) AS docs_before,
       CAST(COALESCE(docs_after, 0) AS BIGINT) AS docs_after,
       CAST(tokens_before AS BIGINT) AS tokens_before,
       CAST(COALESCE(tokens_after, 0) AS BIGINT) AS tokens_after,
       ROUND(CAST(tokens_before - COALESCE(tokens_after, 0) AS DOUBLE)
             / tokens_before, 4) AS tokens_saved_frac
FROM b LEFT JOIN a USING (source)
"""


ORACLES["q167_neardup_savings"] = _neardup_savings_oracle()


# ---------------------------------------------------------------------------
# Q168 — per-source BOILERPLATE savings: the third member of the
# savings triad (exact q165, near-dup q167, boilerplate here) — per
# source, total vs removed token mass under the q127 cross-document
# chunk rule, and the affected-doc count. Together the three reports
# are the cost-benefit sheet of the whole dedup family.
# Scale shape: q127's audited one-text-pass decomposition; the rollup
# joins the ≤40-byte per-doc report rows to the (id, source)
# projection, two bounded aggregates.
# Reference anchor: none (beyond-reference tier); per-doc form q127.
# ---------------------------------------------------------------------------
def q168_boilerplate_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = q127_boilerplate_removal(spark, sf_dir).select(
        "doc_id", "n_boiler", "kept_tokens", "removed_tokens"
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        rep.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_boiler") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_affected"),
            (F.sum("kept_tokens") + F.sum("removed_tokens"))
            .cast("long")
            .alias("tokens_total"),
            F.sum("removed_tokens").cast("long").alias("tokens_removed"),
            F.round(
                F.sum("removed_tokens").cast("double")
                / (F.sum("kept_tokens") + F.sum("removed_tokens")),
                4,
            ).alias("tokens_removed_frac"),
        )
    )


def _boiler_savings_oracle() -> str:
    """Splice q127's per-doc oracle into a MATERIALIZED rep CTE (the
    q159 gate's splice pattern), then roll it up by source."""
    chain, final = ORACLES["q127_boilerplate_removal"].rsplit(
        "SELECT a.doc_id", 1
    )
    return (
        chain
        + ", rep AS MATERIALIZED (SELECT a.doc_id"
        + final
        + """)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_boiler > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_affected,
       CAST(SUM(kept_tokens) + SUM(removed_tokens) AS BIGINT)
           AS tokens_total,
       CAST(SUM(removed_tokens) AS BIGINT) AS tokens_removed,
       ROUND(CAST(SUM(removed_tokens) AS DOUBLE)
             / (SUM(kept_tokens) + SUM(removed_tokens)), 4)
           AS tokens_removed_frac
FROM rep JOIN documents USING (doc_id)
GROUP BY 1
"""
    )


ORACLES["q168_boilerplate_savings"] = _boiler_savings_oracle()


# ---------------------------------------------------------------------------
# Q169 — INCREMENTAL near-dup savings (q167 maintained at intake):
# the fuzzy savings dashboard kept current batch-by-batch. Three
# maintained pieces, each idempotent ahead of its OWN watermark (the
# intake.py multi-stage discipline):
#   1. kept sink — (id, source, n_tokens) of the q103 dominated-rule
#      survivors, keyed append (idempotent), commits BEFORE
#   2. the MinHash signature index (the dedup stage's watermark,
#      committed via the operator's commit=False hook), then
#   3. per-source before-sums as a watermarked associative delta
#      (independent of the dedup stage — dropped docs count too).
# Crash between 1-2: replay re-dedups against unchanged history,
# recomputes the SAME kept set, no-op appends, commits. Between 2-3:
# the dedup stage no-ops and the sums stage folds from its own
# watermark. Maintained ≡ global by the q103 dominated-rule argument
# + sum associativity; oracle is q167's verbatim.
# Reference anchor: none (beyond-reference tier); one-shot q167,
# rule/state machinery q103.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q169_incremental_neardup_savings(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text",
        token_count("text").cast("long").alias("n_tokens"),
    )
    [split] = _cuts(docs, "doc_id")

    def fold(batch: DataFrame) -> int:
        res = incremental_minhash_dedup(
            batch, store, n_hashes=16, bands=4,
            threshold=_INC_DEDUP_SIM, portable=True, commit=False,
        )
        if res.n_new > 0:
            store.append_new(
                res.kept.select("doc_id", "source", "n_tokens"),
                "nds_kept",
                "doc_id",
            )
            store.append_version(res.index_delta, "minhash_sig_index")
        # before-sums: independent stage, own watermark (dropped docs
        # count toward "before" too)
        wm = None
        if store.current_version("nds_sums") is not None:
            wm = (
                store.read_union("nds_sums")
                .agg(F.max("batch_max_id"))
                .first()[0]
            )
        fresh = (
            batch.filter(F.col("doc_id") > wm) if wm is not None else batch
        ).localCheckpoint(eager=True)
        stats = fresh.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")
        ).first()
        if stats["n"] == 0:
            return 0
        delta = (
            fresh.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("docs_before"),
                F.sum("n_tokens").alias("tokens_before"),
            )
            .withColumn("batch_max_id", F.lit(int(stats["mx"])).cast("long"))
        )
        store.append_version(delta, "nds_sums")
        return int(stats["n"])

    n1 = fold(docs.filter(F.col("doc_id") <= split))
    n2 = fold(docs.filter(F.col("doc_id") > split))
    _require(n1 > 0 and n2 > 0, "both folds must add documents")
    from ..operators.sketch import dedup_savings_result

    return dedup_savings_result(store, keepers_table="nds_kept", sums_table="nds_sums")


ORACLES["q169_incremental_neardup_savings"] = ORACLES["q167_neardup_savings"]


# ---------------------------------------------------------------------------
# Q170 — INCREMENTAL calibrated quality gate (operators/lm.py:
# calibrate_quality_gate + gate_pool_batch): q159 maintained — the
# trusted reference slice folds batch-by-batch into the layered gate
# LM (two atomic-commit folds here), the percentile calibration
# re-derives per fold (an O(ref-slice) re-score; the reference set is
# the SMALL retained trusted corpus, the 100 TB pool is never re-read
# anywhere), and each POOL batch is then gated once, at intake, under
# the frozen version-tagged calibration. Maintained ≡ global exactly:
# the full reference folds before the first pool batch, so the final
# calibration equals q159's, and gating is a pure per-doc function of
# (doc, pinned model) — batch-by-batch is the one-shot verbatim (the
# oracle is q159's, reused). Mid-stream re-calibration (version tags
# diverging between batches) is the production path pytest covers.
# Reference anchor: none (beyond-reference tier); one-shot q159,
# model maintenance q140, drift trigger q143.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q170_incremental_quality_gate(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.lm import calibrate_quality_gate, gate_pool_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    pool = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD != 0)
    [split] = _cuts(train, "doc_id")
    [psplit] = _cuts(pool, "doc_id")
    c1 = calibrate_quality_gate(store, train.filter(F.col("doc_id") <= split))
    c2 = calibrate_quality_gate(store, train.filter(F.col("doc_id") > split))
    _require(
        c1.n_ref > 0 and c2.n_ref > c1.n_ref,
        "both reference folds must add documents",
    )
    n1 = gate_pool_batch(pool.filter(F.col("doc_id") <= psplit), store)
    n2 = gate_pool_batch(pool.filter(F.col("doc_id") > psplit), store)
    _require(n1 > 0 and n2 > 0, "both pool batches must gate docs in")
    return store.read("gate_scores").select(
        "doc_id", "n_tokens", "n_oov", "n_hit_bigrams", "xent", "threshold"
    )


ORACLES["q170_incremental_quality_gate"] = ORACLES["q159_calibrated_quality_gate"]


# ---------------------------------------------------------------------------
# Q171 — zlib COMPRESSION-RATIO quality signal (operators/quality.py:
# compression_ratio): the Dolma/Gopher repetitiveness proxy — one
# Arrow mapInPandas pass over (doc_id, text), no shuffle, no oracle
# twin (DuckDB has no zlib), so the driver records the Spark-only
# determinism differential and the discrimination semantics pin via
# the planted fixture test (repetitive ≪ natural ≪ random).
# Reference anchor: none (beyond-reference tier); rule-based quality
# family q32/q67/q88, model-based q139.
# ---------------------------------------------------------------------------
def q171_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import compression_ratio

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_ratio(docs)


# ---------------------------------------------------------------------------
# Q172 — INCREMENTAL compression-ratio maintenance (operators/
# quality.py:incremental_compression_ratio): q171's scores folded
# batch-by-batch — the ratio is a pure per-doc function, so the fold
# is one id-keyed idempotent append (sink = watermark) and maintained
# ≡ global by construction. Spark-only like q171 (no zlib in DuckDB);
# the determinism differential plus the fold≡one-shot pytest pin it.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q172_incremental_compression_ratio(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.quality import incremental_compression_ratio

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_compression_ratio(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_compression_ratio(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must score documents")
    return store.read("zlib_scores")


# ---------------------------------------------------------------------------
# Q174 — token-aligned PASSAGE SEARCH (operators/dedup.py:
# passage_search): the takedown/decontamination point query — find
# every document containing a given passage, word-aligned. The needle
# here derives deterministically from the corpus (the first 6 tokens
# of the smallest doc_id), both engines normalize with the same
# whitespace tokenizer and space-pad, and pos is the 1-based locate
# in the normalized text — engine-exact. The Spark side answers via
# the maintained q145 positional index: the passage's own k-gram
# hashes broadcast-semi-join the 16-byte index rows (a scan SLICE,
# lossless — a token-aligned hit implies all its k-grams are
# indexed), and the single `locate` verify runs on the candidate docs
# only; the oracle IS the naive full corpus scan the index avoids.
# Reference anchor: none (beyond-reference tier); index maintenance
# q145, set-level decontamination q66/q123.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q174_passage_search(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.dedup import incremental_duplicated_spans, passage_search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    needle = (
        docs.orderBy("doc_id")
        .limit(1)
        .select(
            F.concat_ws(" ", F.slice(tokens("text"), 1, 6)).alias("passage")
        )
        .localCheckpoint(eager=True)
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_duplicated_spans(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_duplicated_spans(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must index documents")
    return passage_search(docs, needle, "doc_id", "text", k=6, store=store)


ORACLES["q174_passage_search"] = """
WITH needle AS (
    SELECT array_to_string(
               regexp_split_to_array(text, '\\s+')[1:6], ' ') AS p
    FROM documents ORDER BY doc_id LIMIT 1
),
norm AS (
    SELECT doc_id,
           ' ' || array_to_string(
               regexp_split_to_array(text, '\\s+'), ' ') || ' ' AS t
    FROM documents
)
SELECT doc_id,
       CAST(instr(t, ' ' || p || ' ') AS BIGINT) AS pos
FROM norm, needle
WHERE instr(t, ' ' || p || ' ') > 0
"""


# ---------------------------------------------------------------------------
# Q176 — INCREMENTAL passage-watchlist flags (operators/dedup.py:
# seed_passage_watchlist + incremental_passage_flags): q174 moved to
# intake time — the takedown-list production shape, on the q123
# fixed-index discipline (each verdict is a pure per-doc function of
# (doc, watchlist), so batch-by-batch ≡ global trivially; the oracle
# is the two-needle full-scan). The watchlist here is the first 6
# tokens of the two smallest doc_ids; flags commit FIRST (composite-
# keyed, idempotent), the seen-docs watermark LAST.
# Reference anchor: the fixed-benchmark decontamination pattern
# (q66/q123); one-shot form q174.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q176_incremental_passage_flags(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import (
        incremental_passage_flags,
        seed_passage_watchlist,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = W.orderBy("doc_id")
    passages = (
        docs.orderBy("doc_id")
        .limit(2)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("needle_id"),
            F.concat_ws(" ", F.slice(tokens("text"), 1, 6)).alias("passage"),
        )
        .localCheckpoint(eager=True)
    )
    [split] = _cuts(docs, "doc_id")
    seed_passage_watchlist(store, passages)
    n1 = incremental_passage_flags(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_passage_flags(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must check documents")
    return store.read("passage_flags").select("doc_id", "needle_id", "pos")


ORACLES["q176_incremental_passage_flags"] = """
WITH needles AS (
    SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS needle_id,
           array_to_string(
               regexp_split_to_array(text, '\\s+')[1:6], ' ') AS p
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2)
),
norm AS (
    SELECT doc_id,
           ' ' || array_to_string(
               regexp_split_to_array(text, '\\s+'), ' ') || ' ' AS t
    FROM documents
)
SELECT doc_id, CAST(needle_id AS BIGINT) AS needle_id,
       CAST(instr(t, ' ' || p || ' ') AS BIGINT) AS pos
FROM norm, needles
WHERE instr(t, ' ' || p || ' ') > 0
"""


# ---------------------------------------------------------------------------
# Q177 — span-family FORGET compliance (operators/dedup.py:
# forget_span_documents): the GDPR walk for the q145/q174/q176 tables,
# INCLUDING the retroactive SHRINK span semantics force — removing a
# document may drop a gram below min_docs, so surviving documents
# sharing a forgotten gram get their reports recomputed against the
# survivor-only index (zero-span holders disappear), the exact mirror
# of q145's retroactive growth. The registered shape folds the corpus
# in two batches, forgets doc_id % 7 == 0, and returns the maintained
# reports; the oracle is q144's one-shot over the SURVIVORS — if the
# maintained table kept any forgotten influence (a span held up only
# by a forgotten doc, a stale report row), the hash would diverge.
# Reference anchor: none (beyond-reference tier); family forget is
# operators/dedup.py:forget_documents (q121), fold is q145.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q177_span_forget_compliance(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import (
        _parallelize_scan,
        forget_span_documents,
        incremental_duplicated_spans,
    )

    docs = _parallelize_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") <= split),
        store,
        k=_SPAN_K,
        min_docs=_SPAN_MIN_DOCS,
    )
    n2 = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") > split),
        store,
        k=_SPAN_K,
        min_docs=_SPAN_MIN_DOCS,
    )
    _require(n1 > 0 and n2 > 0, "both folds must introduce documents")
    gone = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    _require(gone.limit(1).count() > 0, "the forget set must be non-empty")
    forget_span_documents(store, gone, k=_SPAN_K, min_docs=_SPAN_MIN_DOCS)
    return store.read("span_reports")


# the one-shot q144 over the survivors, verbatim
ORACLES["q177_span_forget_compliance"] = ORACLES[
    "q144_duplicated_spans"
].replace("FROM documents", "FROM documents WHERE doc_id % 7 <> 0")
assert "WHERE doc_id % 7 <> 0" in ORACLES["q177_span_forget_compliance"]


# ---------------------------------------------------------------------------
# Q178 — gate-family FORGET compliance (operators/lm.py:
# forget_gate_documents): GDPR for the calibrated gate — forgotten
# REFERENCE docs' n-gram counts subtract as one atomic negative
# layer (counts are associative sums, so the maintained model then
# equals training on the survivors alone — lm_model_from_store drops
# counts cancelled to zero, which is what keeps the smoothing
# vocabulary size survivor-exact), the ref/docs/verdict sinks purge,
# and the calibration re-commits as a pure function of surviving
# state. The registered shape builds the q170 gate, forgets
# doc_id % 17 == 0 (refs AND pool), then re-judges the surviving pool
# under the post-forget calibration; the oracle is q159's one-shot
# gate over the SURVIVOR corpus — any forgotten influence left in the
# model, threshold, or verdicts diverges the hash.
# Reference anchor: none (beyond-reference tier); family forgets are
# q121 (dedup estate), q177 (span estate), forget_vocab (tokenizer).
# ---------------------------------------------------------------------------
@_on_scratch_store
def q178_gate_forget_compliance(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.lm import (
        calibrate_quality_gate,
        forget_gate_documents,
        gate_pool_batch,
        lm_model_from_store,
        ngram_lm_score,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    pool = docs.filter(F.col("doc_id") % _LM_TRAIN_MOD != 0)
    [split] = _cuts(train, "doc_id")
    calibrate_quality_gate(store, train.filter(F.col("doc_id") <= split))
    calibrate_quality_gate(store, train.filter(F.col("doc_id") > split))
    gate_pool_batch(pool, store)
    gone = [
        int(r["doc_id"])
        for r in docs.filter(F.col("doc_id") % 17 == 0)
        .select("doc_id")
        .collect()
    ]
    _require(
        any(i % _LM_TRAIN_MOD == 0 for i in gone)
        and any(i % _LM_TRAIN_MOD != 0 for i in gone),
        "the forget set must cover reference AND pool documents",
    )
    calib = forget_gate_documents(store, gone)
    # re-judge the SURVIVING pool under the post-forget state —
    # the q159 shape the survivor oracle replays
    model = lm_model_from_store(store, "gate_lm").localCheckpoint(eager=True)
    return (
        ngram_lm_score(
            pool.filter(F.col("doc_id") % 17 != 0),
            model,
            "doc_id",
            "text",
        )
        .filter(F.col("xent") <= F.lit(calib.threshold))
        .withColumn("threshold", F.lit(calib.threshold))
        .select("doc_id", "n_tokens", "n_oov", "n_hit_bigrams", "xent", "threshold")
    )


# the one-shot q159 gate over the survivors, verbatim
ORACLES["q178_gate_forget_compliance"] = ORACLES[
    "q159_calibrated_quality_gate"
].replace("FROM documents", "FROM documents WHERE doc_id % 17 <> 0")
assert "WHERE doc_id % 17 <> 0" in ORACLES["q178_gate_forget_compliance"]


# ---------------------------------------------------------------------------
# Q179 — batch passage search (operators/dedup.py:passage_search_many):
# the RETRO half of the watchlist pair — q176 checks ARRIVING batches
# against a seeded list; this answers "which already-stored documents
# contain any of these N passages" in ONE pass instead of N q174
# queries: one gram pass over the needle list, one index scan pruned
# to the union of all needles' hash prefixes (hp-bucketed layout),
# one broadcast join to candidate (doc, needle) pairs, one locate per
# surviving pair; the q174 coverage guard routes unindexed docs (and
# sub-k needles) through the full verify. Needles here are q176's
# (first 6 tokens of the two smallest doc_ids), so the oracle is
# q176's two-needle full-scan VERBATIM.
# Reference anchor: none (beyond-reference tier); intake half q176,
# single-needle form q174, index maintenance q145.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q179_passage_search_many(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import (
        incremental_duplicated_spans,
        passage_search_many,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = W.orderBy("doc_id")
    passages = (
        docs.orderBy("doc_id")
        .limit(2)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("needle_id"),
            F.concat_ws(" ", F.slice(tokens("text"), 1, 6)).alias("passage"),
        )
        .localCheckpoint(eager=True)
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_duplicated_spans(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_duplicated_spans(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must index documents")
    return passage_search_many(docs, passages, "doc_id", "text", k=6, store=store)


# the two-needle full retro scan — q176's oracle, verbatim
ORACLES["q179_passage_search_many"] = ORACLES["q176_incremental_passage_flags"]


# ---------------------------------------------------------------------------
# Q180 — SEMANTIC benchmark decontamination (operators/similarity.py:
# semantic_decontamination): the vector member of the decontamination
# family.  q66/q123 catch VERBATIM eval overlap through 5-gram
# shingles; paraphrased or lightly-rewritten benchmark material shares
# no shingle but still embeds next to its source, so modern
# pretraining hygiene adds an embedding-similarity screen against the
# eval suite.  Every 20th vector stands in for the benchmark (the q66
# convention); a corpus vector is contaminated when its max
# pair-rounded cosine to ANY benchmark vector reaches tau.  tau=0.35
# because the fixture embeddings are isotropic (q47's threshold);
# real screens use ~0.9.  Scale shape: the (small, fixed) benchmark
# broadcasts, the corpus is read once, the nested-loop fan-out
# collapses in-task via partial max — one (id, max) row per corpus
# vector enters the exchange.
# Reference anchor: the dormant VECTOR(768) column
# (sql/01_schema.sql:95); n-gram twin q66.
# ---------------------------------------------------------------------------
_SEMDECON_TAU = 0.35


def q180_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import semantic_decontamination

    emb = load_table(spark, sf_dir, "embeddings")
    is_bench = F.pmod("vec_id", 20) == 0
    return semantic_decontamination(
        emb.filter(~is_bench),
        emb.filter(is_bench),
        "vec_id",
        "embedding",
        tau=_SEMDECON_TAU,
    )


ORACLES["q180_semantic_decontamination"] = f"""
WITH bench AS (
    SELECT CAST(embedding AS DOUBLE[]) AS bv
    FROM embeddings WHERE vec_id % 20 = 0
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 20 != 0
),
sims AS (
    SELECT c.vec_id,
           MAX(ROUND(list_cosine_similarity(c.v, b.bv), 4)) AS m
    FROM corpus c CROSS JOIN bench b
    GROUP BY 1
)
SELECT c.vec_id,
       sims.m AS max_bench_sim,
       COALESCE(sims.m >= {_SEMDECON_TAU}, FALSE) AS contaminated
FROM corpus c LEFT JOIN sims ON c.vec_id = sims.vec_id
"""


# ---------------------------------------------------------------------------
# Q181 — incremental semantic decontamination (operators/similarity.py:
# incremental_semantic_decontamination): q180 moved to intake time —
# each embedding batch screened against a PERSISTED benchmark index
# (seed_semantic_benchmark) the moment it arrives, instead of a
# global pass after the corpus is assembled.  The benchmark is FIXED
# between releases, so each verdict is a pure function of (vector,
# index) and batch-by-batch ≡ global: the oracle is q180's, verbatim.
# The flags sink doubles as the replay watermark (single keyed
# commit — no crash window), the q123 protocol for vectors.
# Reference anchor: none (beyond-reference tier); batch-global form
# is q180, text twin q123.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q181_incremental_semantic_decontamination(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.similarity import (
        incremental_semantic_decontamination,
        seed_semantic_benchmark,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_bench = F.pmod("vec_id", 20) == 0
    [split] = _cuts(emb, "vec_id")
    seed_semantic_benchmark(store, emb.filter(is_bench))
    intake = emb.filter(~is_bench)
    incremental_semantic_decontamination(
        intake.filter(F.col("vec_id") <= split), store, tau=_SEMDECON_TAU
    )
    incremental_semantic_decontamination(
        intake.filter(F.col("vec_id") > split), store, tau=_SEMDECON_TAU
    )
    return store.read("semantic_decontam_flags")


ORACLES["q181_incremental_semantic_decontamination"] = ORACLES[
    "q180_semantic_decontamination"
]


# ---------------------------------------------------------------------------
# Q182 — EPOCH-SHUFFLED training order (operators/ranking.py:
# epoch_shuffle): a fresh deterministic permutation of the release
# for every training epoch, derived — never materialized — from the
# portable order hash md5(seed#ep<e>#id).  The loader streams epoch e
# in position order; the same seed reproduces the order bit-identically
# on any engine/partitioning, which is what makes a run resumable and
# a data-order ablation reportable.  q162 orders ONE pass by
# curriculum stage; this derives the per-epoch reshuffle a multi-epoch
# run needs.  Scale shape: epoch fan-out is an in-task Expand (zero
# shuffle) and the per-epoch rank is the grouped two-level
# prefix-COUNT (no single-task sort, no per-epoch single-partition
# window).
# Reference anchor: none (beyond-reference tier); ordering machinery
# q162/q79, seeded-hash sampling q43.
# ---------------------------------------------------------------------------
_N_EPOCHS = 3


def q182_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", _N_EPOCHS)


ORACLES["q182_epoch_shuffle"] = f"""
WITH eps AS (SELECT UNNEST(range(1, {_N_EPOCHS + 1})) AS epoch),
fanned AS (
    SELECT e.epoch, d.doc_id,
           {oracle_hash60(
               "'seed42#ep' || CAST(e.epoch AS VARCHAR) || '#'"
               " || CAST(d.doc_id AS VARCHAR)"
           )} AS h
    FROM documents d CROSS JOIN eps e
)
SELECT CAST(epoch AS INTEGER) AS epoch, doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
            AS BIGINT) AS position
FROM fanned
"""


# ---------------------------------------------------------------------------
# Q183 — intake-time PII flags (operators/quality.py:
# incremental_pii_flags): q65's masking pass maintained at intake —
# every arriving batch regex-scanned ONCE, per-doc verdicts (match
# counts, has_pii, redacted-text fingerprint) kept as the table the
# release step reads.  The verdicts are a pure per-doc function, so
# the fold is one id-keyed idempotent append — the flags table is its
# own watermark, NO crash window (the q128/q146 protocol).  Maintained
# ≡ global by disjoint union, so the oracle is the one-shot global
# scan.  Same deterministic PII injection as q65 (every 5th doc) so
# both engines see identical input.
# Reference anchor: none (beyond-reference tier); one-shot form q65.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q183_incremental_pii_flags(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.quality import incremental_pii_flags

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.pmod("doc_id", 5) == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or 555-0100"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_pii_flags(injected.filter(F.col("doc_id") <= split), store)
    n2 = incremental_pii_flags(injected.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must flag documents")
    return store.read("pii_flags")


ORACLES["q183_incremental_pii_flags"] = """
WITH inj AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or 555-0100'
                ELSE text END AS t
    FROM documents
),
counted AS (
    SELECT doc_id,
           CAST(length(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
               AS n_emails,
           CAST(length(regexp_extract_all(t, '\\d{3}-\\d{4}')) AS INTEGER)
               AS n_phones,
           md5(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                '<EMAIL>', 'g'),
                '\\d{3}-\\d{4}', '<PHONE>', 'g')) AS redacted_fp
    FROM inj
)
SELECT doc_id, n_emails, n_phones,
       (n_emails > 0 OR n_phones > 0) AS has_pii,
       redacted_fp
FROM counted
"""


# ---------------------------------------------------------------------------
# Q184 — incremental SIMHASH dedup (operators/dedup.py:
# incremental_simhash_dedup): the q175 Hamming pairing rule moved to
# intake — two "daily" document batches (doc-id midpoint split)
# deduped against a persisted fingerprint index of ONE int64 per doc
# ever seen.  Drop rule: a doc is dropped iff SOME smaller-id doc is
# within max_hamming bit flips of its md5-portable SimHash — a pure
# pair function, so batch-by-batch ≡ one global pass (the q103
# argument with NO cap caveat: banding here is pigeonhole-lossless
# candidate generation only, and flood control is the exact
# fingerprint-class min-id collapse).  The oracle replays the global
# rule directly: the portable fingerprints all-pairs XOR/bit_count
# cut, dropped = any smaller-id partner within distance.  Completes
# the incremental fuzzy family: MinHash q103, binary q108, embeddings
# q110, SimHash q184.
# Reference anchor: the incremental-consumption contract
# (etl_pipeline.py:125-132); one-shot pairing q175, fingerprint q27.
# ---------------------------------------------------------------------------
_ISH_BITS, _ISH_BANDS, _ISH_MAXH = 48, 8, 3


@_on_scratch_store
def q184_incremental_simhash_dedup(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import incremental_simhash_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    r1 = incremental_simhash_dedup(
        docs.filter(F.col("doc_id") <= split),
        store,
        bits=_ISH_BITS,
        bands=_ISH_BANDS,
        max_hamming=_ISH_MAXH,
    )
    r2 = incremental_simhash_dedup(
        docs.filter(F.col("doc_id") > split),
        store,
        bits=_ISH_BITS,
        bands=_ISH_BANDS,
        max_hamming=_ISH_MAXH,
    )
    _require(r2.index_version > r1.index_version, "index version must grow")
    return (
        r1.kept.select("doc_id", F.lit(1).cast("int").alias("batch"))
        .unionByName(r2.kept.select("doc_id", F.lit(2).cast("int").alias("batch")))
    )


ORACLES["q184_incremental_simhash_dedup"] = f"""
WITH fp AS (
    {oracle_simhash_sql("documents", "doc_id", "text", bits=_ISH_BITS)}
),
dropped AS (
    SELECT DISTINCT b.doc_id
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id
     AND bit_count(xor(a.simhash, b.simhash)) <= {_ISH_MAXH}
),
s AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS split FROM documents)
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id <= s.split THEN 1 ELSE 2 END AS INTEGER)
           AS batch
FROM documents d CROSS JOIN s
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


# ---------------------------------------------------------------------------
# Q185 — HEAVY-HITTER n-grams: EXACT counts of every bigram at >=
# N/den of all bigram occurrences, via the bounded two-pass
# Misra-Gries plan (operators/sketch.py:heavy_hitter_ngrams — pass 1
# per-partition MG summaries cap the exchange at partitions x k
# candidate rows, pass 2 exactly recounts ONLY candidates). The
# output is partition-independent (the candidate union is a
# guaranteed superset for any partitioning; the recount is exact), so
# the oracle is the plain GROUP BY ... HAVING the operator exists to
# avoid running over the full gram vocabulary at 100 TB.
# ---------------------------------------------------------------------------
_HH_DEN = 1000


def q185_heavy_hitter_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import heavy_hitter_ngrams

    docs = load_table(spark, sf_dir, "documents").select("text")
    return heavy_hitter_ngrams(docs, "text", n=2, den=_HH_DEN)


_HH_ORACLE = f"""
WITH toks AS (
    SELECT regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g AS (
    SELECT t[i] || ' ' || t[i+1] AS gram
    FROM toks, UNNEST(range(1, greatest(length(t), 1))) AS u(i)
),
tot AS (SELECT COUNT(*) AS n FROM g)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g, tot
GROUP BY gram, tot.n
HAVING COUNT(*) * {_HH_DEN} >= tot.n
ORDER BY n_occurrences DESC, gram
"""

ORACLES["q185_heavy_hitter_ngrams"] = _HH_ORACLE


# ---------------------------------------------------------------------------
# Q186 — the MAINTAINED heavy-hitter twin: gram counts folded
# batch-by-batch into a layered delta table (the incremental_vocab
# single-commit protocol — watermark inside the layer, no crash
# window), then the HH read sums layers and thresholds. Maintained ≡
# global exactly (associative sums), so the oracle is q185's.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q186_incremental_ngram_hh(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.sketch import incremental_ngram_counts, ngram_heavy_hitters

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s1, s2 = _cuts(docs, "doc_id", 3)
    n1 = incremental_ngram_counts(docs.filter(F.col("doc_id") <= s1), store)
    incremental_ngram_counts(
        docs.filter((F.col("doc_id") > s1) & (F.col("doc_id") <= s2)), store
    )
    incremental_ngram_counts(docs.filter(F.col("doc_id") > s2), store)
    _require(n1 > 0, "first fold must see documents")
    return ngram_heavy_hitters(store, den=_HH_DEN)


ORACLES["q186_incremental_ngram_hh"] = _HH_ORACLE


# ---------------------------------------------------------------------------
# Q187 — IVF-PQ with exact rerank (operators/similarity.py:
# ivf_pq_topk): the production ANN composition assembled from the
# ladder's audited rungs — IVF cell probing (q116's assign) bounds
# which vectors are touched, PQ codes (q138's reconstruction) bound
# the bytes per probed cell, exact rerank of the top-``shortlist`` PQ
# candidates recovers the recall. The oracle replays the full chain:
# assign → probe → per-subspace nearest code → reconstruct → PQ-sim
# shortlist cut → exact-cosine rerank, all ties to the lower id/code.
# ---------------------------------------------------------------------------
def q187_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    codebook = emb.filter(F.col("vec_id") < 16)
    return ivf_pq_topk(
        emb, queries, centroids, codebook, m=8, k=5, nprobe=8, shortlist=20
    )


ORACLES["q187_ivf_pq_topk"] = """
WITH cent AS (
    SELECT vec_id + 1 AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
cb AS (
    SELECT vec_id AS code, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id < 16
),
corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus c, cent ct
    ) WHERE rn = 1
),
qprobe AS (
    SELECT vec_id AS query_id, cell_id FROM (
        SELECT q.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cell_id)
                   AS rn
        FROM corpus q, cent ct WHERE q.vec_id < 10
    ) WHERE rn <= 8
),
sub AS (
    SELECT c.vec_id, s.s, cb.code,
           list_sum(list_transform(range(1, 9),
               i -> (v[s.s * 8 + i] - cv[s.s * 8 + i])
                  * (v[s.s * 8 + i] - cv[s.s * 8 + i]))) AS d
    FROM corpus c, (SELECT UNNEST(range(0, 8)) AS s) s, cb
),
best AS (
    SELECT vec_id, s, code
    FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, code) AS rn
        FROM sub
    )
    WHERE rn = 1
),
recon AS (
    SELECT b.vec_id,
           flatten(list(list_slice(cb.cv, b.s * 8 + 1, b.s * 8 + 8)
                        ORDER BY b.s)) AS rv
    FROM best b JOIN cb ON cb.code = b.code
    GROUP BY b.vec_id
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT qp.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qp.query_id
                   ORDER BY ROUND(list_cosine_similarity(q.v, r.rv), 4) DESC,
                            a.vec_id) AS srn
        FROM qprobe qp
        JOIN assign a USING (cell_id)
        JOIN corpus q ON q.vec_id = qp.query_id
        JOIN recon r ON r.vec_id = a.vec_id
        WHERE a.vec_id <> qp.query_id
    ) WHERE srn <= 20
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
FROM (
    SELECT s.query_id, s.neighbor_id,
           ROUND(list_cosine_similarity(q.v, n.v), 4) AS sim
    FROM shortlist s
    JOIN corpus q ON q.vec_id = s.query_id
    JOIN corpus n ON n.vec_id = s.neighbor_id
)
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# Q188 — whole-document CONTAINMENT SEARCH against the maintained
# span index (operators/dedup.py:containment_search): q173's
# one-sided containment measure answered from the index instead of a
# corpus self-join — the attribution/licensing triage read. The
# semantics are point-in-time (rare-gram cap at CURRENT index
# frequency), so after folding the whole corpus the result equals the
# global SQL below exactly. The q174 read recipe: hp-pruned index
# scan, broadcast gram cut, pair exchange on hashes only.
# ---------------------------------------------------------------------------
_CSEARCH_MOD = 5
_CSEARCH_MAXF = 20


@_on_scratch_store
def q188_containment_search(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import containment_search, incremental_duplicated_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = incremental_duplicated_spans(docs, store, k=_SPAN_K)
    _require(n > 0, "the fold must index documents")
    probes = docs.filter(F.col("doc_id") % _CSEARCH_MOD == 0)
    return containment_search(
        store, probes, k=_SPAN_K, max_freq=_CSEARCH_MAXF, min_shared=2
    )


ORACLES["q188_containment_search"] = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g AS (
    SELECT DISTINCT doc_id,
           {" || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SPAN_K))}
               AS gram
    FROM toks, UNNEST(range(1, greatest(length(t) - {_SPAN_K - 2}, 1))) AS u(i)
),
freq AS (SELECT gram, COUNT(*) AS f FROM g GROUP BY 1),
probes AS (
    SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % {_CSEARCH_MOD} = 0
),
np AS (SELECT probe_id, COUNT(*) AS n FROM probes GROUP BY 1),
pairs AS (
    SELECT p.probe_id, c.doc_id, COUNT(*) AS n_shared
    FROM probes p
    JOIN freq f ON f.gram = p.gram AND f.f <= {_CSEARCH_MAXF}
    JOIN g c ON c.gram = p.gram AND c.doc_id <> p.probe_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
)
SELECT probe_id, pairs.doc_id,
       CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / np.n, 4) AS containment
FROM pairs JOIN np USING (probe_id)
"""


# ---------------------------------------------------------------------------
# Q189 — PER-SOURCE heavy-hitter n-grams (operators/sketch.py:
# heavy_hitter_ngrams_by): q185's two-pass Misra-Gries plan with the
# summary kept per (partition, source) and per-group thresholds —
# per-domain boilerplate discovery, where a phrase at 0.2% of one
# domain is invisible in the global count. Same exactness story: the
# per-group candidate union is a guaranteed superset (k >= den), the
# recount is exact, so the oracle is the grouped GROUP BY ... HAVING.
# ---------------------------------------------------------------------------
_HHB_DEN = 500


def q189_source_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import heavy_hitter_ngrams_by

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return heavy_hitter_ngrams_by(docs, "source", "text", n=2, den=_HHB_DEN)


ORACLES["q189_source_heavy_hitters"] = f"""
WITH toks AS (
    SELECT source, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
g AS (
    SELECT source, t[i] || ' ' || t[i+1] AS gram
    FROM toks, UNNEST(range(1, greatest(length(t), 1))) AS u(i)
),
tot AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1)
SELECT g.source, gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g JOIN tot ON tot.source = g.source
GROUP BY g.source, gram, tot.n
HAVING COUNT(*) * {_HHB_DEN} >= tot.n
ORDER BY g.source, n_occurrences DESC, gram
"""


# ---------------------------------------------------------------------------
# Q192 — the PERSISTED IVF-PQ index (operators/similarity.py:
# build_ivf_pq_index / ivf_pq_index_query): q187's exact semantics
# answered from the codes-only cell store — 4-bit-per-subspace codes
# hive-partitioned by cell (directory pruning plan-pinned), centroids
# + codebook versioned alongside, full vectors touched only for the
# per-query shortlist rerank. Result-identical to the on-the-fly
# operator under the same parameters, so the oracle is q187's SQL
# verbatim.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q192_ivf_pq_index(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.similarity import build_ivf_pq_index, ivf_pq_index_query

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    codebook = emb.filter(F.col("vec_id") < 16)
    n = build_ivf_pq_index(emb, store, centroids, codebook, m=8)
    _require(n > 0, "the build must index vectors")
    return ivf_pq_index_query(store, queries, emb, m=8, k=5, nprobe=8, shortlist=20)


ORACLES["q192_ivf_pq_index"] = ORACLES["q187_ivf_pq_topk"]


# ---------------------------------------------------------------------------
# Q193 — containment-search COVERAGE report (operators/dedup.py:
# containment_coverage): the blind-spot companion VERDICT r09 Next #6
# asked for. q188's results cover indexed documents only (no text
# fallback exists by design); this per-source report counts how many
# corpus docs are not yet in the span estate's seen watermark — the
# docs that CANNOT appear as matches — so an attribution/licensing
# caller sees the exposure as data instead of a docstring
# precondition. Here one third of the corpus (doc_id % 3 = 0) is
# deliberately left unindexed, so the oracle is the same split rule
# grouped per source. Reference anchor: none (beyond-reference tier);
# search surface q188, per-passage guard q174.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q193_containment_coverage(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.dedup import (
        containment_coverage,
        incremental_duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n = incremental_duplicated_spans(
        docs.filter(F.col("doc_id") % 3 != 0), store, k=_SPAN_K
    )
    _require(n > 0, "the fold must index documents")
    return containment_coverage(store, docs, by="source")


ORACLES["q193_containment_coverage"] = """
SELECT source,
       COUNT(*) AS n_corpus,
       COUNT(*) FILTER (WHERE doc_id % 3 <> 0) AS n_indexed,
       COUNT(*) FILTER (WHERE doc_id % 3 = 0) AS n_unindexed
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q194-Q196 — BM25 retrieval family (operators/retrieval.py): ranked
# search over the corpus — eval-set retrievability screening, RAG QA,
# hard-negative mining. q194 is the one-shot; q195 answers the same
# queries from the MAINTAINED inverted index (two intake folds, read
# pruned to the query terms' tp directory prefixes) and must be
# result-identical, so its oracle is q194's SQL verbatim; q196 forgets
# a seventh of the corpus from the index and re-queries — pure
# deletes, after which the read equals the one-shot over survivors
# (the oracle: the same SQL restricted to the survivor predicate).
# Exactness: the q139 fixed-point discipline — each (term, doc)
# contribution rounds to int64 at 1e9 before the order-free SUM, and
# ranks order by the exact fixed-point score. Reference anchor: none
# (beyond-reference tier; nearest public analogue Lucene BM25).
# ---------------------------------------------------------------------------
_BM25_QUERIES = [
    (0, "vector join stream"),
    (1, "hash table scan"),
    (2, "slow window merge"),
]


def _bm25_query_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")


def q194_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, _bm25_query_frame(spark), k=10)


@_on_scratch_store
def q195_bm25_index(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.retrieval import (
        bm25_index_query,
        incremental_term_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_term_postings(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_term_postings(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must index documents")
    return bm25_index_query(store, _bm25_query_frame(spark), k=10)


@_on_scratch_store
def q196_bm25_forget(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.retrieval import (
        bm25_index_query,
        forget_term_documents,
        incremental_term_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = incremental_term_postings(docs, store)
    _require(n > 0, "the fold must index documents")
    forget_term_documents(store, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"))
    return bm25_index_query(store, _bm25_query_frame(spark), k=10)


def _bm25_oracle(where: str = "TRUE") -> str:
    from ..operators.retrieval import oracle_bm25_sql

    return oracle_bm25_sql(_BM25_QUERIES, k1=1.2, b=0.75, k=10, where=where)


ORACLES["q194_bm25_topk"] = _bm25_oracle()
ORACLES["q195_bm25_index"] = ORACLES["q194_bm25_topk"]
ORACLES["q196_bm25_forget"] = _bm25_oracle(where="doc_id % 7 <> 0")


# ---------------------------------------------------------------------------
# Q197 — hybrid retrieval via RECIPROCAL-RANK FUSION (operators/
# retrieval.py:rrf_fuse): the standard lexical+semantic combiner —
# BM25 over the documents table fused with embedding-cosine top-k
# over the embeddings table (query i pairs doc_id=i's first-3-token
# text with vec_id=i's vector), scoring Σ 1/(60+rank) per item.
# Rank-based, so no score calibration between components; exactness
# via the q139 fixed-point rule on each 1/(60+r) term. Both
# component rankings are deterministic (fixed-point BM25 ties by
# doc_id; rounded cosine ties by neighbor_id), so the fusion is too.
# Reference anchor: none (beyond-reference tier; the method is
# Cormack/Clarke/Buettcher RRF, the hybrid-search default in
# Elasticsearch/OpenSearch). Components: q194 (lexical), q29
# (semantic).
# ---------------------------------------------------------------------------
_RRF_QIDS = (0, 1, 2)
_RRF_COMPONENT_K = 20


def q197_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(_RRF_QIDS)
    text_queries = docs.filter(F.col("doc_id").isin(qids)).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, 3)).alias("query"),
    )
    bm = bm25_topk(docs, text_queries, k=_RRF_COMPONENT_K).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    cos = brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=_RRF_COMPONENT_K
    ).select("query_id", F.col("neighbor_id").alias("item_id"), "rank")
    return rrf_fuse([bm, cos], k=10).withColumnRenamed("item_id", "doc_id")


def _rrf_oracle() -> str:
    from ..operators.retrieval import oracle_bm25_sql

    ids = ", ".join(str(i) for i in _RRF_QIDS)
    bm_sql = oracle_bm25_sql(
        k=_RRF_COMPONENT_K,
        queries_from=f"""
SELECT doc_id AS query_id,
       array_to_string(regexp_split_to_array(text, '\\s+')[1:3], ' ')
           AS query
FROM documents WHERE doc_id IN ({ids})""",
    )
    return f"""
WITH bm AS ({bm_sql}),
cos AS (
    SELECT query_id, neighbor_id AS item_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), 4) AS sim
        FROM embeddings c, embeddings q
        WHERE q.vec_id IN ({ids}) AND c.vec_id <> q.vec_id
    )
    QUALIFY rank <= {_RRF_COMPONENT_K}
),
unioned AS (
    SELECT query_id, doc_id AS item_id, rank FROM bm
    UNION ALL
    SELECT query_id, item_id, rank FROM cos
),
fused AS (
    SELECT query_id, item_id,
           SUM(CAST(ROUND(1000000000.0 / (60.0 + rank)) AS BIGINT)) AS s_fp
    FROM unioned GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, item_id, s_fp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_fp DESC, item_id) AS rn
    FROM fused
)
SELECT CAST(query_id AS BIGINT) AS query_id, item_id AS doc_id,
       CAST(rn AS BIGINT) AS rank,
       ROUND(s_fp / 1000000000.0, 6) AS rrf_score
FROM ranked WHERE rn <= 10
"""


ORACLES["q197_rrf_fusion"] = _rrf_oracle()


# ---------------------------------------------------------------------------
# Q200-Q202 — proximity (sloppy-phrase) retrieval estate (operators/
# retrieval.py: proximity_topk / incremental_positional_postings /
# proximity_index_query / forget_positional_documents): rank documents
# by how often the query's consecutive token pairs occur in order
# within ``slop`` positions — the positional member of the retrieval
# family (BM25 q194 is bag-of-words, passage_search q174 is
# exact-match; this is Lucene's phrase-with-slop shape). Queries are
# corpus-derived (doc i's tokens 2-4, the q197 convention shifted so
# the two families don't share query text). Scores are exact integer
# pair counts — no floats anywhere. q201 answers the same queries from
# the MAINTAINED positional index (two intake folds, read pruned to
# the pair vocabulary's tp directory prefixes) and must be
# result-identical, so its oracle is q200's SQL verbatim; q202 forgets
# a fifth of the corpus and re-queries (pure deletes; oracle = the
# same SQL restricted to the survivors). Reference anchor: none
# (beyond-reference tier; nearest public analogue Lucene SpanNear /
# sloppy PhraseQuery).
# ---------------------------------------------------------------------------
_PROX_QIDS = (0, 1, 2)
_PROX_SLOP = 3


def _prox_query_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id").isin(list(_PROX_QIDS))).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 2, 3)).alias("query"),
    )


def _prox_oracle(where: str = "TRUE") -> str:
    from ..operators.retrieval import oracle_proximity_sql

    ids = ", ".join(str(i) for i in _PROX_QIDS)
    return oracle_proximity_sql(
        queries_from=f"""
SELECT doc_id AS query_id,
       array_to_string(regexp_split_to_array(text, '\\s+')[2:4], ' ')
           AS query
FROM documents WHERE doc_id IN ({ids})""",
        slop=_PROX_SLOP,
        k=10,
        where=where,
    )


def q200_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import proximity_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return proximity_topk(
        docs, _prox_query_frame(spark, docs), slop=_PROX_SLOP, k=10
    )


@_on_scratch_store
def q201_proximity_index(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.retrieval import (
        incremental_positional_postings,
        proximity_index_query,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    [split] = _cuts(docs, "doc_id")
    n1 = incremental_positional_postings(docs.filter(F.col("doc_id") <= split), store)
    n2 = incremental_positional_postings(docs.filter(F.col("doc_id") > split), store)
    _require(n1 > 0 and n2 > 0, "both folds must index documents")
    return proximity_index_query(
        store, _prox_query_frame(spark, docs), slop=_PROX_SLOP, k=10
    )


@_on_scratch_store
def q202_proximity_forget(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.retrieval import (
        forget_positional_documents,
        incremental_positional_postings,
        proximity_index_query,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = incremental_positional_postings(docs, store)
    _require(n > 0, "the fold must index documents")
    forget_positional_documents(
        store, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    return proximity_index_query(
        store, _prox_query_frame(spark, docs), slop=_PROX_SLOP, k=10
    )


ORACLES["q200_proximity_topk"] = _prox_oracle()
ORACLES["q201_proximity_index"] = ORACLES["q200_proximity_topk"]
ORACLES["q202_proximity_forget"] = _prox_oracle(where="doc_id % 5 <> 0")


# ---------------------------------------------------------------------------
# Q203 — retrieval-quality evaluation (operators/retrieval.py:
# retrieval_eval_mrr): per-query reciprocal rank of BM25 against
# labeled qrels — the lexical-retrieval twin of the ANN recall harness
# (q97), the screening a pipeline runs before trusting a retriever for
# decontamination or hard-negative mining. Queries are corpus-derived
# (doc i's first three tokens); the qrel for query i is document i
# itself, so the eval asks "does BM25 retrieve the source document of
# its own opening phrase?". rr_ppm = round(1e6 / rank) is an EXACT
# integer (0 = miss), so mean(rr_ppm)/1e6 is MRR@10 and the frame
# hashes exactly. Reference anchor: none (beyond-reference tier;
# the metric is standard TREC MRR).
# ---------------------------------------------------------------------------
_MRR_QIDS = tuple(range(8))


def q203_bm25_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk, retrieval_eval_mrr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = list(_MRR_QIDS)
    queries = docs.filter(F.col("doc_id").isin(ids)).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, 3)).alias("query"),
    )
    qrels = docs.filter(F.col("doc_id").isin(ids)).select(
        F.col("doc_id").alias("query_id"), F.col("doc_id").alias("rel_id")
    )
    ranking = bm25_topk(docs, queries, k=10)
    return retrieval_eval_mrr(ranking, qrels)


def _mrr_oracle() -> str:
    from ..operators.retrieval import oracle_bm25_sql

    ids = ", ".join(str(i) for i in _MRR_QIDS)
    bm_sql = oracle_bm25_sql(
        k=10,
        queries_from=f"""
SELECT doc_id AS query_id,
       array_to_string(regexp_split_to_array(text, '\\s+')[1:3], ' ')
           AS query
FROM documents WHERE doc_id IN ({ids})""",
    )
    return f"""
WITH results AS ({bm_sql}),
qrels AS (
    SELECT doc_id AS query_id, doc_id AS rel_id
    FROM documents WHERE doc_id IN ({ids})
)
SELECT q.query_id, q.rel_id,
       COALESCE(r.rank, 0) AS rank,
       COALESCE(CAST(ROUND(1000000.0 / r.rank) AS BIGINT), 0) AS rr_ppm
FROM qrels q
LEFT JOIN results r
       ON r.query_id = q.query_id AND r.doc_id = q.rel_id
"""


ORACLES["q203_bm25_mrr"] = _mrr_oracle()


# ---------------------------------------------------------------------------
# Q209 — streaming expectations gate (streaming/expectations_stream.py:
# expectations_gate_fold): the q208 rule sheet applied at intake, per
# batch, ROUTING rows — hard-rule violators land in a quarantine sink
# tagged with the rule ids they broke (fixed alphabetical tag order),
# clean rows in the accepted sink, audits ledgered per batch. The
# registered query folds the orders fact in two monotone batches
# exactly as the stream does and returns the quarantine sheet, which
# is batch-composition-independent for row-decidable rules — so the
# oracle is the plain SQL predicate classification of the whole
# table. Reference anchor: generalizes the reference's skipped-row
# counting (etl_pipeline.py:110-112) into routed, tagged quarantine.
# ---------------------------------------------------------------------------
@_on_scratch_store
def q209_expectations_gate(spark: SparkSession, sf_dir: str, store: Store) -> DataFrame:
    from ..operators.expectations import Rule
    from ..streaming.expectations_stream import expectations_gate_fold

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = [
        Rule("key_not_null", "not_null", "o_orderkey"),
        Rule("cust_unique", "unique", "o_custkey"),  # audit-only
        Rule("price_range", "range", "o_totalprice", lo=0.0, hi=300000.0),
        Rule("status_set", "in_set", "o_orderstatus", values=("F", "O")),
        Rule("priority_regex", "regex", "o_orderpriority", pattern="^[1-3]-"),
        Rule("cust_ref", "ref", "o_custkey", ref=customer, ref_col="c_custkey"),
    ]
    hard = ("cust_ref", "price_range", "priority_regex", "status_set")
    [split] = _cuts(orders, "o_orderkey")
    n1 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") <= split),
        store, rules, hard, "o_orderkey",
    )
    n2 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") > split),
        store, rules, hard, "o_orderkey",
    )
    _require(n1 > 0 and n2 > 0, "both gate folds must process rows")
    return store.read("expectations_quarantine").select("o_orderkey", "broken_rules")


ORACLES["q209_expectations_gate"] = """
WITH tagged AS (
    SELECT o_orderkey,
           CONCAT_WS(',',
               CASE WHEN o_custkey IS NOT NULL
                     AND o_custkey NOT IN (SELECT c_custkey FROM customer)
                    THEN 'cust_ref' END,
               CASE WHEN o_totalprice IS NOT NULL
                     AND NOT (o_totalprice BETWEEN 0.0 AND 300000.0)
                    THEN 'price_range' END,
               CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
                    THEN 'priority_regex' END,
               CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O')
                    THEN 'status_set' END
           ) AS broken_rules
    FROM orders
)
SELECT o_orderkey, broken_rules FROM tagged WHERE broken_rules <> ''
"""


# ---------------------------------------------------------------------------
# Q212 — incremental expectations audit rollup: the audit ledger the
# q209 gate maintains, summed per rule across batches, EQUALS the
# one-shot q208 audit over the union — the incremental ≡ global
# differential for the expectations family. Holds for the
# row-decidable kinds (row-local predicates and ref against the fixed
# dimension) because their verdicts are per-row facts: counts are
# associative sums over disjoint batches. Dataset-level kinds
# (unique) are deliberately NOT in the streamed sheet — a per-batch
# uniqueness count does NOT sum to the global one, which is exactly
# why the gate refuses them as hard rules (the honest-scope rule).
# ---------------------------------------------------------------------------
@_on_scratch_store
def q212_incremental_expectations(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.expectations import Rule
    from ..streaming.expectations_stream import (
        expectations_gate_fold,
        read_expectations_audit,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = [
        Rule("key_not_null", "not_null", "o_orderkey"),
        Rule("price_range", "range", "o_totalprice", lo=0.0, hi=300000.0),
        Rule("status_set", "in_set", "o_orderstatus", values=("F", "O")),
        Rule("priority_regex", "regex", "o_orderpriority", pattern="^[1-3]-"),
        Rule("cust_ref", "ref", "o_custkey", ref=customer, ref_col="c_custkey"),
    ]
    hard = ("price_range", "status_set")
    [split] = _cuts(orders, "o_orderkey")
    n1 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") <= split),
        store, rules, hard, "o_orderkey",
    )
    n2 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") > split),
        store, rules, hard, "o_orderkey",
    )
    _require(n1 > 0 and n2 > 0, "both gate folds must process rows")
    return (
        read_expectations_audit(store)
        .groupBy("rule_id", "kind", "column")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
        .withColumn("ok", F.col("n_violations") == 0)
    )


# ---------------------------------------------------------------------------
# Q213 — expectations-estate forget: purge requested ids from the
# gate's row sinks (pure keyed deletes, the q196/q202 degenerate
# case), after which the quarantine sheet equals the classification
# of the SURVIVORS. The audit ledger (aggregate counts only) and the
# watermark (batch id spans) deliberately stay — erasure targets row
# data, and the watermark is what guarantees a forgotten id cannot
# silently re-enter (its range is behind the committed watermark).
# ---------------------------------------------------------------------------
@_on_scratch_store
def q213_expectations_forget(
    spark: SparkSession, sf_dir: str, store: Store
) -> DataFrame:
    from ..operators.expectations import Rule
    from ..streaming.expectations_stream import (
        expectations_gate_fold,
        forget_expectation_rows,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = [
        Rule("price_range", "range", "o_totalprice", lo=0.0, hi=300000.0),
        Rule("status_set", "in_set", "o_orderstatus", values=("F", "O")),
        Rule("priority_regex", "regex", "o_orderpriority", pattern="^[1-3]-"),
        Rule("cust_ref", "ref", "o_custkey", ref=customer, ref_col="c_custkey"),
    ]
    hard = ("cust_ref", "price_range", "priority_regex", "status_set")
    [split] = _cuts(orders, "o_orderkey")
    n1 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") <= split),
        store, rules, hard, "o_orderkey",
    )
    n2 = expectations_gate_fold(
        orders.filter(F.col("o_orderkey") > split),
        store, rules, hard, "o_orderkey",
    )
    _require(n1 > 0 and n2 > 0, "both gate folds must process rows")
    forget_expectation_rows(
        store,
        orders.filter(F.col("o_orderkey") % 9 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    return store.read("expectations_quarantine").select("o_orderkey", "broken_rules")


ORACLES["q213_expectations_forget"] = """
WITH tagged AS (
    SELECT o_orderkey,
           CONCAT_WS(',',
               CASE WHEN o_custkey IS NOT NULL
                     AND o_custkey NOT IN (SELECT c_custkey FROM customer)
                    THEN 'cust_ref' END,
               CASE WHEN o_totalprice IS NOT NULL
                     AND NOT (o_totalprice BETWEEN 0.0 AND 300000.0)
                    THEN 'price_range' END,
               CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
                    THEN 'priority_regex' END,
               CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O')
                    THEN 'status_set' END
           ) AS broken_rules
    FROM orders
    WHERE o_orderkey % 9 <> 0
)
SELECT o_orderkey, broken_rules FROM tagged WHERE broken_rules <> ''
"""


# the oracle IS the one-shot audit over the whole table for the same
# five row-decidable rules — incremental ≡ global, hash-exact
ORACLES["q212_incremental_expectations"] = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
v AS (
    SELECT 'key_not_null' AS rule_id, 'not_null' AS kind,
           'o_orderkey' AS col,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey IS NULL) AS n_violations
    UNION ALL
    SELECT 'price_range', 'range', 'o_totalprice',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND NOT (o_totalprice BETWEEN 0.0 AND 300000.0))
    UNION ALL
    SELECT 'status_set', 'in_set', 'o_orderstatus',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('F', 'O'))
    UNION ALL
    SELECT 'priority_regex', 'regex', 'o_orderpriority',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
    UNION ALL
    SELECT 'cust_ref', 'ref', 'o_custkey',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
)
SELECT rule_id, kind, col AS "column", n.n_rows, n_violations,
       n_violations = 0 AS ok
FROM v, n
"""


QUERIES = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q") and name[1:3].isdigit() and callable(fn)
}
