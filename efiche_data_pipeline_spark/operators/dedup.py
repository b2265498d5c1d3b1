"""Deduplication operators for large text corpora.

Four tiers, each a pure ``DataFrame -> DataFrame`` function so the same
operator runs on the fixture `documents` table, a 100 TB corpus, or a
tiny unit-test frame:

- :func:`exact_dedup`       — hash-groupBy on the raw text (one shuffle
  on a 32-char key, never on the document body).
- :func:`bow_dedup`         — bag-of-words fingerprint; catches
  shuffled/reordered duplicates.
- :func:`jaccard_pairs`     — n-gram-shingle Jaccard on candidate pairs
  blocked by *rare* shingles (frequency-capped inverted index — the
  classic sub-quadratic candidate generation; common shingles carry no
  signal and would blow up the self-join at scale).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash +
  banded LSH: constant-size signatures per doc, candidate pairs only
  for band-bucket collisions. The scale path for near-dedup.
- :func:`simhash` — 16-bit SimHash via per-bit majority vote, all
  JVM-side expressions (no UDF), reproducible by any engine with md5.

Reference analogue: the reference dedups only on an exact key
(etl_pipeline.py:92-116, ON CONFLICT (image_id) DO NOTHING); the
near-dup family is the LLM-pipeline extension on top of that.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_chunk_hash, portable_hash60, seeded_hash64
from ..functions.text import tokens, word_shingles

# Hash-prefix bucket count for the gh-keyed indexes (novelty
# introducer, positional gram index): each delta layer is laid out
# hive-partitioned by ghp = gh mod GH_BUCKETS so small-batch folds and
# point lookups prune the SCAN to the touched prefixes. 64 balances
# prune granularity against per-layer directory/file counts (a fold
# writes at most one file per touched bucket).
#
# GH_BUCKETS is only the default for NEW indexes. Every bucketed
# commit stamps the modulus it used into the table's layout sidecar
# (`Store.write_layout_meta`), and every pruned reader/writer resolves
# the modulus FROM that sidecar (:func:`_persisted_buckets`) — so
# changing this constant re-buckets nothing retroactively and cannot
# desynchronize the prune filter from the stored partition values.
GH_BUCKETS = 64


def _persisted_buckets(store, table: str) -> int:
    """The hash-bucket modulus a bucketed index was COMMITTED with:
    the layout sidecar's value, or GH_BUCKETS for a table whose first
    commit has not stamped one yet (the fold stamps it before its
    first write). Readers prune and writers extend a bucketed table
    with THIS value, never the constant directly — a prune filter
    computed with a different modulus than the stored partition values
    would silently read the wrong directories instead of failing."""
    meta = store.read_layout_meta(table) or {}
    b = meta.get("buckets")
    return int(b) if b else GH_BUCKETS


def nfc_normalize_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """NFC-normalize a text column (é as one codepoint ≡ e + combining
    accent) — the one canonicalization step Spark has no built-in for.
    Runs as an Arrow-batched ``mapInPandas`` pass (the same sanctioned
    Python boundary as operators/multimodal.py — never a row-at-a-time
    UDF); schema is preserved, so it composes as a prefix of any text
    pipeline: ``canonical_text`` (functions/text.py) after this equals
    the DuckDB oracle's ``nfc_normalize → lower → strip → collapse``
    chain exactly.

    Cost note: pure-ASCII batches round-trip through Arrow unchanged —
    at 100 TB, run this only on corpora that may carry decomposed
    forms, or push it into the same mapInPandas as other unavoidable
    Python work (language-specific segmentation, HTML stripping)."""
    from unicodedata import normalize

    schema = df.schema

    def batches(it):
        for pdf in it:
            pdf[text_col] = [
                normalize("NFC", s) if s is not None else None
                for s in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(batches, schema)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: md5(text) → (keeper = min id, n_copies).

    The shuffle key is the 128-bit digest, not the document body, so
    shuffle volume is O(rows · 32 bytes) regardless of doc size.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def bow_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive duplicate groups: md5 of the sorted distinct
    token set."""
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _parallelize_scan(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition a corpus scan when the input has fewer splits
    than the cluster has cores. Explode-heavy operators are CPU-bound,
    and AQE coalesces by *bytes*, so a small single-file fixture would
    otherwise run its whole shingle pipeline in one task. On a real
    100 TB scan the parquet reader already yields >> defaultParallelism
    splits and this is a no-op (no shuffle added).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(id_col))
    return df


def shingle_buckets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, max_freq: int = 20
) -> DataFrame:
    """Inverted shingle index grouped into buckets: one row per distinct
    shingle hash with the sorted list of documents containing it,
    keeping only shingles that occur in at most ``max_freq`` documents.
    The frequency cap is the blocking step that keeps candidate
    generation sub-quadratic at scale: a shingle shared by k docs
    yields k² pair candidates, so common shingles (stop-phrases) are
    dropped as uninformative.

    Scale design (one shuffle, no strings on the wire):

    - shingles are hashed to 8-byte ``xxhash64`` keys *inside* the
      shingle array, before the explode, so no n-gram text is ever
      shuffled (a 64-bit collision adds one spurious shared-shingle
      count — harmless for candidate generation);
    - the frequency cap and the bucket build are the same groupBy —
      round 1 spent a count-aggregate *plus* a join-back on this;
    - ``collect_list`` per bucket is bounded: buckets above
      ``max_freq`` are dropped immediately after the aggregate.
    """
    hashed = F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s))
    sh = _parallelize_scan(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(hashed).alias("sh")
    )
    return (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list(id_col)).alias("docs"))
        .filter(F.size("docs") <= max_freq)
    )


def _pair_combinations(docs: Column) -> Column:
    """All (a, b) combinations with a < b from a sorted id array —
    pure higher-order functions, generated JVM-side inside the bucket
    row instead of via a self-join."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_freq: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs with Jaccard over the rare-shingle sets.

    Returns (doc_a, doc_b, n_shared, jaccard) with doc_a < doc_b.

    Dataflow: shingle buckets (one shuffle) → per-bucket pair
    combinations generated in-row (``max_freq`` caps each bucket at
    max_freq²/2 pairs, so no bucket can explode a task) → count shared
    shingles per pair → join per-doc shingle counts. Round 1 did this
    with a three-shuffle self-join that moved raw shingle strings and
    pinned an un-unpersisted cache; this shape has neither problem.
    AQE's runtime exchange reuse deduplicates the two size-join
    branches; the pair branch re-runs the shingle pass — an eager
    bucket pin was A/B-measured SLOWER here (1.87 vs 1.73 s at sf0.1:
    the pin serializes the array column and blocks every consumer on
    one materialization job, while the recompute overlaps at full
    scan parallelism), so the lazy shape stays.
    """
    buckets = shingle_buckets(df, id_col, text_col, n=n, max_freq=max_freq)
    pair = F.explode(_pair_combinations(F.col("docs"))).alias("pair")
    shared = (
        buckets.filter(F.size("docs") >= 2)
        .select(pair)
        .select(F.col("pair.a").alias("doc_a"), F.col("pair.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sizes = (
        buckets.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_freq: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate pairs scored by one-sided shingle CONTAINMENT —
    |A∩B| / |A| and |A∩B| / |B| — the asymmetric overlap measure
    quote/partial-copy detection needs where Jaccard goes blind: a
    200-word passage lifted verbatim into a 20,000-word document has
    near-zero Jaccard (the union is huge) but containment ≈ 1 on the
    small side. ``max_containment`` (shared over the SMALLER set) is
    the number curation thresholds on (Broder's containment measure;
    the same asymmetry CDC chunking q93 exploits positionally).

    Returns (doc_a, doc_b, n_shared, containment_a, containment_b,
    max_containment) with doc_a < doc_b, over the same rare-shingle
    blocked candidates as :func:`jaccard_pairs` — identical dataflow
    (one bucket shuffle, in-row pair combinations, hashes on the wire,
    never text), only the final ratios differ."""
    buckets = shingle_buckets(df, id_col, text_col, n=n, max_freq=max_freq)
    pair = F.explode(_pair_combinations(F.col("docs"))).alias("pair")
    shared = (
        buckets.filter(F.size("docs") >= 2)
        .select(pair)
        .select(F.col("pair.a").alias("doc_a"), F.col("pair.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sizes = (
        buckets.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("na"), 4
            ).alias("containment_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("nb"), 4
            ).alias("containment_b"),
            F.round(
                F.col("n_shared").cast("double") / F.least("na", "nb"), 4
            ).alias("max_containment"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: for each of ``n_hashes`` seeded
    hash functions, the minimum hash over the doc's shingle set.
    One explode + one groupBy — a single shuffle keyed by doc id.

    Measured note (round 2): an in-row formulation
    (``array_min(transform(shingles, s -> xxhash64(seed, s)))``) is
    2-3× SLOWER despite avoiding the shuffle — higher-order functions
    evaluate outside whole-stage codegen, projection collapse
    re-inlines the shingle-array expression into all 16 min columns,
    and without an Exchange the three downstream consumers of the
    signature frame each recompute it from raw text. Explode +
    hash-aggregate is fully codegen'd and its output Exchange is
    reused (ReusedExchange) by every consumer.

    With ``portable=True`` the permutations come from the md5-chunk
    family (functions/hashing.py: chunk ``s%4`` of ``md5('<s//4>:'||
    shingle)`` — ``n_hashes/4`` md5 calls per shingle, not
    ``n_hashes``) — bit-reproducible by the DuckDB oracle, which is
    how the driver verifies the full LSH dataflow (same explode /
    aggregate / banding shape either way).
    """
    sh = _parallelize_scan(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    if portable:
        # Materialize each md5 digest ONCE in a projection (4 digests
        # for 16 hashes) rather than leaving 16 copies of the md5
        # expression inside the aggregate and hoping subexpression
        # elimination dedupes them; the per-seed substring/conv picks
        # are cheap. Semantics identical to portable_chunk_hash.
        n_digests = (n_hashes + 3) // 4
        sh = sh.select(
            F.col(id_col),
            *[
                F.md5(F.concat_ws(":", F.lit(str(k)), F.col("shingle"))).alias(
                    f"_d{k}"
                )
                for k in range(n_digests)
            ],
        )
        mins = [
            F.min(
                F.conv(
                    F.substring(f"_d{seed // 4}", 8 * (seed % 4) + 1, 8), 16, 10
                ).cast("long")
            ).alias(f"mh_{seed}")
            for seed in range(n_hashes)
        ]
    else:
        mins = [
            F.min(seeded_hash64("shingle", seed)).alias(f"mh_{seed}")
            for seed in range(n_hashes)
        ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est_sim: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated Jaccard similarity.

    Signatures are split into ``bands`` bands of ``n_hashes // bands``
    rows; documents colliding on any band's hash become candidates
    (probability ≈ 1-(1-s^r)^b for true similarity s). Estimated
    similarity = fraction of agreeing signature positions. Returns
    (doc_a, doc_b, est_sim) with doc_a < doc_b.

    ``portable=True`` swaps both hash families for md5-derived ones
    (signature perms via :func:`portable_seeded_hash60`; band buckets
    via ``md5`` of the comma-joined band slice) so a DuckDB oracle can
    replay the ENTIRE pipeline — banding, bucket grouping, the sorted
    ``cap`` slice, in-row pair generation, and the est_sim join —
    bit-for-bit (see oracle_minhash_lsh_sql in plans/extensions.py).
    The default stays xxhash64 + 8-byte wire keys for the 100 TB path;
    the dataflow (and therefore the scale posture) is identical.
    """
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}); "
            "otherwise trailing signature positions are silently excluded "
            "from banding and candidate recall drops"
        )
    # The signature aggregate feeds the band frame AND both
    # signature-lookup join sides. Relying on runtime exchange reuse
    # (the round-2 posture) left the executed r12 plan with FIVE
    # parquet scans — AQE only deduplicated one repartition stage, so
    # the shingle+hash signature pass (the md5-heavy part in portable
    # mode) ran three times. One eager localCheckpoint pins the
    # (O(docs) × n_hashes longs) frame so the corpus is signed exactly
    # once; unlike round 1's leaked cache() it is scoped to this
    # dataflow and needs no unpersist bookkeeping.
    sig = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_n, portable
    ).localCheckpoint(eager=True)
    memberships = _band_memberships(sig, id_col, n_hashes, bands, portable)
    cand = _bucket_candidates(memberships, id_col)
    return _pair_est_sim(cand, sig, sig, id_col, n_hashes).filter(
        F.col("est_sim") >= min_est_sim
    )


def _band_memberships(
    sig: DataFrame, id_col: str, n_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """One row per (doc, band): the band id + the band's bucket hash,
    generated in-row from an array literal — no union of per-band
    frames, so the signature aggregate is scanned once. Portable mode
    buckets on md5('<band>,<mh..>,..') (32-char key, DuckDB-equal:
    md5(band || ',' || mh_i || ...)); default is xxhash64 (8-byte).
    Rows whose signature is NULL (documents too short to shingle) emit
    no membership — they can never near-dup anything."""
    rows = n_hashes // bands
    cols = [f"mh_{i}" for i in range(n_hashes)]

    def _bucket(band: int) -> Column:
        band_cols = [F.col(c) for c in cols[band * rows : (band + 1) * rows]]
        if portable:
            return F.md5(F.concat_ws(",", F.lit(str(band)), *band_cols))
        return F.xxhash64(F.lit(band), *band_cols)

    band_structs = F.array(
        *[
            F.struct(F.lit(band).alias("band"), _bucket(band).alias("bucket"))
            for band in range(bands)
        ]
    )
    return (
        sig.filter(F.col(cols[0]).isNotNull())
        .select(F.col(id_col), F.explode(band_structs).alias("bb"))
        .select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))
    )


def _bucket_candidates(
    memberships: DataFrame, id_col: str, cap: int = 1000
) -> DataFrame:
    """Candidate pairs by grouping each (band, bucket) into its member
    list and emitting combinations in-row — same shape as
    jaccard_pairs: one shuffle, no self-join. Identical docs can
    produce huge buckets; collect_list is capped via slice to bound
    the per-bucket pair blow-up (cap² pairs max — everything in an
    over-full LSH bucket is near-identical anyway, and the first
    ``cap`` sorted members still chain the duplicates together)."""
    grouped = (
        memberships.groupBy("band", "bucket")
        .agg(F.slice(F.array_sort(F.collect_list(id_col)), 1, cap).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return (
        grouped.select(F.explode(_pair_combinations(F.col("docs"))).alias("pair"))
        .select(F.col("pair.a").alias("doc_a"), F.col("pair.b").alias("doc_b"))
        .distinct()
    )


def _pair_est_sim(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    n_hashes: int,
) -> DataFrame:
    """Attach the estimated Jaccard (fraction of agreeing signature
    positions) to candidate (doc_a, doc_b) pairs; doc_a's signature
    comes from ``sig_a`` and doc_b's from ``sig_b`` (the two frames
    differ in the incremental case: historical index vs new batch)."""
    cols = [f"mh_{i}" for i in range(n_hashes)]
    sa = sig_a.select(
        F.col(id_col).alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in cols]
    )
    sb = sig_b.select(
        F.col(id_col).alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in cols]
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in cols
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(n_hashes)), 4).alias("est_sim"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-document SimHash: majority vote over token-hash bits
    (term frequency weighted, since explode keeps duplicate tokens).
    Uses the md5-portable 60-bit hash so an external engine can
    reproduce the exact value. Returns (id, simhash).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", portable_hash60("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    sh = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return per_doc.select(F.col(id_col), sh.cast("long").alias("simhash"))


def oracle_simhash_sql(table: str, id_col: str, text_col: str, bits: int = 16) -> str:
    """DuckDB SQL computing the identical SimHash (for the oracle)."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    recombine = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
SELECT {id_col}, CAST({recombine} AS BIGINT) AS simhash
FROM (
    SELECT {id_col}, {votes}
    FROM (
        SELECT {id_col},
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
        FROM (
            SELECT {id_col},
                   unnest(regexp_split_to_array({text_col}, '\\s+')) AS tok
            FROM {table}
        )
    )
    GROUP BY {id_col}
)
"""


def dedup_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected near-dup pair graph:
    (node, component) where component = the minimum id reachable from
    the node. This is the missing half of pairwise dedup — pairs only
    say "these two are similar"; components let a pipeline keep ONE
    representative per duplicate *cluster* (min id) even when A~B~C
    but A≁C directly.

    Distributed min-label propagation (the Pregel formulation): every
    round each node takes the min of its own label and its neighbors',
    one join + one min-aggregate per round — all bulk DataFrame ops,
    nothing driver-side except the O(1) convergence aggregate.
    Converges in graph-diameter rounds; near-dup clusters are dense and
    shallow (diameter 2-4 in practice), so the loop runs a handful of
    rounds regardless of corpus size. Labels decrease monotonically, so
    an unchanged SUM(label) is an exact fixpoint test. Each round is
    ``localCheckpoint``-ed: it truncates the otherwise exponentially
    nested join lineage AND materializes the only state the next round
    needs (the label frame — bounded at two longs per node).
    """
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        neighbor = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels.select("node", F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Incremental near-dup dedup against a persisted signature index.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IncrementalDedupResult:
    """Outcome of one incremental batch: the surviving docs, the drop
    breakdown, and the committed index version. With ``commit=False``
    the batch's index DELTA is returned in ``index_delta`` instead of
    being committed (``index_version`` then reports the still-current
    version)
    — the hook that lets a streaming caller order its sink write
    BEFORE the index commit for crash-safe exactly-once (see
    streaming/dedup_stream.py)."""

    kept: DataFrame
    n_new: int  # fresh (never-indexed) docs in this batch
    n_dup_vs_history: int  # fresh docs dominated by an indexed doc
    n_dup_within: int  # fresh docs dominated only within this batch
    index_version: int
    index_delta: DataFrame | None = None  # only with commit=False
    # qualifying (doc_a, doc_b, _h) pairs at est_sim >= threshold —
    # _h = 1 for cross-history pairs. The edge feed for
    # incremental_neardup_components.
    sim_pairs: DataFrame | None = None


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store,
    index_table: str = "minhash_sig_index",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    commit: bool = True,
) -> IncrementalDedupResult:
    """Dedup a NEW batch of documents against the full historical
    corpus — without rescanning the corpus. The history lives as a
    MinHash signature index in the versioned store
    (pipeline/store.py:write_version): ~`n_hashes` int64s per document
    ever seen, ~one millionth of a 100 TB corpus's text. Each call

    1. signs the new batch (the only pass over raw text),
    2. drops every new doc that is LSH-similar (est_sim >= threshold)
       to an already-indexed doc OR to a smaller-id doc in the same
       batch, and
    3. commits the batch's signatures as the next index version —
       a LAYERED delta commit (store.append_version), so the write is
       O(batch) while readers see the union of all layers; a periodic
       ``store.compact_layers`` folds the layers back to one directory
       (the OPTIMIZE step), entirely outside the hot path.

    Semantics — the order-free "dominated" rule: a doc is dropped iff
    some banded-LSH candidate pairing matches it with a SMALLER-id doc
    at est_sim >= threshold, whether or not that smaller doc itself
    survived. Because domination is pairwise (not keep-chain
    dependent), batch-by-batch processing is EQUIVALENT to one global
    dedup of the concatenated corpus, provided (a) doc ids are
    monotone across batches — later batches carry larger ids, the
    reference's own incremental contract (etl_pipeline.py:125-132
    consumes strictly-new rows) — and (b) no band bucket exceeds the
    candidate cap (the cap only binds on floods of near-identical
    docs, where both forms chain the flood to one survivor anyway).
    tests/test_incremental_dedup.py pins the two-batch ≡ global
    property, replay idempotence, and index-version monotonicity.

    Replay safety: already-indexed ids are filtered out up front, so
    re-running a committed batch keeps nothing, writes nothing, and
    leaves the version unchanged. Documents too short to shingle have
    a NULL signature row in the index (they can never near-dup
    anything, but must be remembered or a replay would re-emit them).

    Scale shape: the index is never rescanned as text and never
    shuffled in full — its band memberships are computed in-row from
    the signature scan, then cut down with a left-semi join against
    the new batch's (band, bucket) set (broadcast under AQE whenever
    the daily slice is small) BEFORE the only cross-history equi-join.
    Within-batch work is the standard single-shuffle banded dataflow.
    """
    sig_cols = [f"mh_{i}" for i in range(n_hashes)]
    new_ids = new_docs.select(id_col).distinct()
    current = store.current_version(index_table)
    hist = store.read_union(index_table) if current is not None else None
    fresh_ids = (
        new_ids.join(hist.select(id_col), id_col, "left_anti")
        if hist is not None
        else new_ids
    )
    sig_new = minhash_signatures(
        new_docs.join(fresh_ids, id_col, "left_semi"),
        id_col,
        text_col,
        n_hashes,
        shingle_n,
        portable,
    )
    # Left join, not the signature frame alone: shingle-less docs have
    # no signature row but still need an index entry (NULL sigs).
    fresh_sig = fresh_ids.join(sig_new, id_col, "left").localCheckpoint(
        eager=True
    )
    n_new = fresh_sig.count()
    if n_new == 0:
        return IncrementalDedupResult(
            kept=new_docs.limit(0),
            n_new=0,
            n_dup_vs_history=0,
            n_dup_within=0,
            index_version=current if current is not None else 0,
        )

    new_memb = _band_memberships(fresh_sig, id_col, n_hashes, bands, portable)
    # Both dominated sets fold into ONE frame tagged by source, so a
    # single localCheckpoint + a single 2-scalar aggregate replaces
    # what was two checkpoints and three count jobs — under a vanilla
    # 200-partition driver session each extra action costs real wall
    # time. A doc dominated by BOTH history and its own batch counts
    # as history (max of the tag).
    within_pairs = _pair_est_sim(
        _bucket_candidates(new_memb, id_col),
        fresh_sig,
        fresh_sig,
        id_col,
        n_hashes,
    )
    sim_pairs = (
        within_pairs.filter(F.col("est_sim") >= threshold)
        .select("doc_a", "doc_b")
        .withColumn("_h", F.lit(0))
    )
    if hist is not None:
        hist_memb = _band_memberships(hist, id_col, n_hashes, bands, portable)
        hot = new_memb.select("band", "bucket").distinct()
        # Cut history down to buckets the new batch actually touches
        # BEFORE any join that would shuffle it.
        hist_hits = hist_memb.join(hot, ["band", "bucket"], "left_semi")
        cand_hist = (
            hist_hits.select("band", "bucket", F.col(id_col).alias("doc_a"))
            .join(
                new_memb.select("band", "bucket", F.col(id_col).alias("doc_b")),
                ["band", "bucket"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))  # monotone-id guard
            .select("doc_a", "doc_b")
            .distinct()
        )
        sim_pairs = sim_pairs.unionByName(
            _pair_est_sim(cand_hist, hist, fresh_sig, id_col, n_hashes)
            .filter(F.col("est_sim") >= threshold)
            .select("doc_a", "doc_b")
            .withColumn("_h", F.lit(1))
        )
    sim_pairs = sim_pairs.localCheckpoint(eager=True)
    dropped = (
        sim_pairs.select(F.col("doc_b").alias(id_col), "_h")
        .groupBy(id_col)
        .agg(F.max("_h").alias("_h"))
        .localCheckpoint(eager=True)
    )
    tallies = dropped.agg(
        F.coalesce(F.sum("_h"), F.lit(0)).alias("nh"),
        F.count(F.lit(1)).alias("nd"),
    ).first()
    n_hist = int(tallies["nh"])
    n_within = int(tallies["nd"]) - n_hist
    kept = new_docs.join(fresh_ids, id_col, "left_semi").join(
        dropped.select(id_col), id_col, "left_anti"
    )
    index_delta = fresh_sig.select(id_col, *sig_cols)
    if commit:
        version = store.append_version(index_delta, index_table)
        return IncrementalDedupResult(
            kept=kept,
            n_new=n_new,
            n_dup_vs_history=n_hist,
            n_dup_within=n_within,
            index_version=version,
            sim_pairs=sim_pairs,
        )
    return IncrementalDedupResult(
        kept=kept,
        n_new=n_new,
        n_dup_vs_history=n_hist,
        n_dup_within=n_within,
        index_version=current if current is not None else 0,
        index_delta=index_delta,
        sim_pairs=sim_pairs,
    )


# ---------------------------------------------------------------------------
# Incremental near-dup CLUSTERS: connected components maintained
# across batches on top of the incremental signature index.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IncrementalComponentsResult:
    labels: DataFrame  # (doc_id, component_id) for every ever-paired doc
    dedup: IncrementalDedupResult
    labels_version: int


def incremental_neardup_components(
    new_docs: DataFrame,
    store,
    index_table: str = "minhash_sig_index",
    labels_table: str = "neardup_labels",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> IncrementalComponentsResult:
    """Maintain near-dup CLUSTER labels across batches: run the
    incremental index dedup (which also yields this batch's
    est_sim >= threshold pairs, within-batch AND vs-history), then
    fold those new edges into the persisted label table.

    Correctness rides STAR COMPRESSION: the stored labels are
    equivalent to edges (node → component-min), and components of
    (star(labels_{k-1}) ∪ new_pairs_k) equal components of the union
    of ALL pairs ever seen — so batch-by-batch label maintenance is
    EXACTLY global clustering (oracle-checked by q109, including the
    merge case where a new doc joins two previously-separate
    components into one). Per batch the propagation input is
    O(ever-paired nodes + new pairs), never the corpus; the label
    table is (doc_id, component_id) rows, rewritten per batch
    (O(clustered-nodes · 16 B) — negligible next to any corpus).

    Only docs that have ever appeared in a qualifying pair carry a
    label (q57's convention); singletons are implicit.

    Crash-safe by WRITE ORDER (the dedup_stream discipline): the inner
    dedup runs with ``commit=False``, the batch's edges fold into the
    label table FIRST, and the signature-index delta commits LAST. The
    index commit is what makes a replay a no-op — so any crash before
    it leaves the batch's ids un-indexed, and the replay re-derives the
    SAME pairs and re-folds them (star compression is idempotent on
    repeated edges), converging to the single-run state. The previous
    index-first order had a window where a crash between the two
    commits lost that batch's edges from the label table forever."""
    import dataclasses

    ded = incremental_minhash_dedup(
        new_docs,
        store,
        index_table=index_table,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
        commit=False,
    )
    cur = store.current_version(labels_table)
    hist_labels = store.read_version(labels_table) if cur is not None else None
    if ded.n_new == 0:  # replayed / empty batch: nothing to persist
        return IncrementalComponentsResult(
            labels=hist_labels
            if hist_labels is not None
            else new_docs.select(F.col(id_col)).limit(0).withColumn(
                "component_id", F.col(id_col)
            ),
            dedup=ded,
            labels_version=cur if cur is not None else 0,
        )
    has_pairs = (
        ded.sim_pairs is not None and ded.sim_pairs.limit(1).count() > 0
    )
    if has_pairs:  # labels BEFORE the index commit (see docstring)
        labels_version = fold_component_labels(
            store, ded.sim_pairs.select("doc_a", "doc_b"), labels_table, id_col
        )
    index_version = store.append_version(ded.index_delta, index_table)
    ded = dataclasses.replace(
        ded, index_version=index_version, index_delta=None
    )
    if not has_pairs:  # fresh docs, no qualifying pairs: labels unchanged
        return IncrementalComponentsResult(
            labels=hist_labels
            if hist_labels is not None
            else new_docs.select(F.col(id_col)).limit(0).withColumn(
                "component_id", F.col(id_col)
            ),
            dedup=ded,
            labels_version=cur if cur is not None else 0,
        )
    return IncrementalComponentsResult(
        labels=store.read_version(labels_table, labels_version),
        dedup=ded,
        labels_version=labels_version,
    )


def fold_component_labels(
    store,
    new_pairs: DataFrame,
    labels_table: str = "neardup_labels",
    id_col: str = "doc_id",
) -> int:
    """Fold a batch of (doc_a, doc_b) edges into the persisted
    component-label table via STAR COMPRESSION: stored labels re-enter
    the propagation as (node → component) edges, so a new edge that
    touches two existing components relabels BOTH to their common
    minimum — the merge case — while untouched components pass through
    verbatim. components(star(labels) ∪ new_pairs) ≡ components(all
    pairs ever seen); the deterministic merge unit test lives in
    tests/test_incremental_dedup.py. Returns the committed version."""
    cur = store.current_version(labels_table)
    hist_labels = store.read_version(labels_table) if cur is not None else None
    edges = new_pairs
    if hist_labels is not None:
        edges = edges.unionByName(
            hist_labels.select(
                F.col(id_col).alias("doc_a"),
                F.col("component_id").alias("doc_b"),
            )
        )
    comp = dedup_components(edges, "doc_a", "doc_b").select(
        F.col("node").alias(id_col), F.col("component").alias("component_id")
    )
    return store.write_version(comp, labels_table)


# ---------------------------------------------------------------------------
# Incremental FIRST-INTRODUCER novelty: per-doc fraction of shingles
# the doc introduced to the corpus, maintained across batches.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IncrementalNoveltyResult:
    scores: DataFrame  # (doc_id, n_shingles, n_introduced, introduced_frac)
    n_new: int
    index_version: int


def incremental_novelty(
    new_docs: DataFrame,
    store,
    index_table: str = "shingle_introducer",
    scores_table: str = "novelty_scores",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> IncrementalNoveltyResult:
    """Score each NEW document by the fraction of its distinct
    ``shingle_n``-gram shingles that IT introduced to the corpus — a
    doc near 1.0 carries genuinely new content at its position in the
    intake stream; a doc near 0.0 re-treads what earlier ids already
    said (the at-ingest curation signal q72's corpus-global
    uniqueness can't give, because q72 needs the WHOLE corpus before
    any doc can be scored).

    Semantics — the order-free "first introducer" rule: shingle ``g``
    is credited to the SMALLEST doc id that contains it, across the
    entire corpus ever seen. MIN is associative, so folding each
    batch's (shingle, min_doc) pairs into the persisted index with a
    min-merge yields EXACTLY the global assignment regardless of
    batching — the q103 dominated-rule argument with min-per-key in
    place of the pairwise drop — and q119's oracle simply replays the
    GLOBAL rule. Replay-idempotent by the same algebra: re-folding a
    committed batch cannot lower any min, and the score recomputation
    still finds the doc's own id as introducer wherever it was first.

    State and cost: the index is (shingle_hash, first_doc_id) — 16
    bytes per DISTINCT shingle ever seen, committed as O(batch)
    layered deltas with min-merge-on-read (read_union → min per hash;
    ``store.compact_layers`` folds the layers periodically). Per
    batch: one text pass over the batch (the only one), one
    O(batch-shingles) aggregate, and a LEFT-SEMI cut of the history
    index down to the batch's own hashes BEFORE any history shuffle —
    both the improved-minima delta and the scoring join only ever need
    batch-present hashes, so the min-merge groupBy's exchange is
    O(batch), not O(corpus-distinct-shingles) (the q103 band-bucket
    semi-join discipline; the flat-exchange test in
    tests/test_incremental_dedup.py measures it). History text is
    never rescanned; the index scan itself is columnar 16-byte rows.
    Scores are appended id-keyed (replay-safe sink)."""
    shingles = (
        new_docs.select(
            F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("g")
        )
        .select(id_col, portable_hash60(F.col("g")).alias("gh"))
        .distinct()
    )
    fresh_docs = store.unseen(
        new_docs.select(id_col).distinct(), scores_table, id_col
    )
    fresh_sh = shingles.join(fresh_docs, id_col, "left_semi").localCheckpoint(
        eager=True
    )
    n_new = fresh_docs.count()
    if n_new == 0:
        empty = new_docs.sparkSession.createDataFrame(
            [],
            f"{id_col} long, n_shingles long, n_introduced long, "
            "introduced_frac double",
        )
        cur = store.current_version(index_table)
        return IncrementalNoveltyResult(
            scores=empty, n_new=0, index_version=cur if cur is not None else 0
        )
    batch_min = fresh_sh.groupBy("gh").agg(F.min(id_col).alias("first_doc"))
    cur = store.current_version(index_table)
    # Resolve the modulus from the table's layout sidecar, never the
    # constant: prune filters and new partition values must use the
    # modulus the EXISTING layers were committed with.
    buckets = _persisted_buckets(store, index_table)
    if cur is not None:
        # Cut history to the batch's own hashes BEFORE the min-merge
        # groupBy: only batch-present hashes can affect the delta or
        # the scoring join, so the semi-join (batch side broadcast —
        # it is O(batch distinct shingles)) keeps the exchange O(batch)
        # while the full index may hold 10^11 rows at corpus scale.
        hist_src = store.read_union(index_table)
        if fresh_sh.count() <= 16 * buckets:
            # The index is laid out hive-partitioned by the hash
            # prefix ghp = gh mod buckets, so the SCAN itself (not
            # just the exchange) prunes to the batch's own prefixes —
            # O(index/buckets x touched prefixes) bytes read. The
            # prefix set is <= buckets values (driver-bounded collect
            # of an O(batch) aggregate) — but the collect is only
            # worth a job when the batch CAN leave prefixes untouched:
            # with uniform hashes, >> buckets·ln(buckets) distinct
            # shingles saturate every prefix (coupon collector), so a
            # large batch skips straight to the full scan it would
            # have read anyway. The prune pays on the shapes it exists
            # for — the single-document re-fold, the GDPR spot-check,
            # the trickle intake — and the shingle count is a cheap
            # scan of the already-checkpointed batch frame.
            prefixes = [
                int(r["p"])
                for r in fresh_sh.select(
                    F.pmod(F.col("gh"), F.lit(buckets)).alias("p")
                )
                .distinct()
                .collect()
            ]
            hist_src = hist_src.filter(F.col("ghp").isin(prefixes))
        # Pin the (O(batch-distinct-shingles)-row) history cut ONCE:
        # it feeds BOTH the improved-minima delta (the index write job)
        # and the scoring join (the scores job) — without the pin each
        # job re-ran the full index scan + semi-join + min-merge for
        # itself, doubling the per-fold index I/O.
        hist = (
            hist_src.join(F.broadcast(batch_min.select("gh")), "gh", "left_semi")
            .groupBy("gh")
            .agg(F.min("first_doc").alias("first_doc"))
            .localCheckpoint(eager=True)
        )
        # the delta only needs rows that IMPROVE or ADD a minimum;
        # folding the full batch_min would also be correct (min-merge),
        # but shipping only winners keeps layers tight.
        merged = (
            batch_min.alias("b")
            .join(hist.alias("h"), "gh", "left")
            .filter(
                F.col("h.first_doc").isNull()
                | (F.col("b.first_doc") < F.col("h.first_doc"))
            )
            .select("gh", F.col("b.first_doc").alias("first_doc"))
        )
        introducer = hist.unionByName(batch_min).groupBy("gh").agg(
            F.min("first_doc").alias("first_doc")
        )
    else:
        merged = batch_min
        introducer = batch_min
    scores = (
        fresh_sh.join(introducer, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_introduced"),
        )
    )
    scores = (
        fresh_docs.join(scores, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_introduced", F.lit(0))
            .cast("long")
            .alias("n_introduced"),
            F.round(
                F.col("n_introduced").cast("double")
                / F.nullif("n_shingles", F.lit(0)),
                4,
            ).alias("introduced_frac"),
        )
        .localCheckpoint(eager=True)
    )
    # Index delta FIRST (idempotent under replay: re-folding cannot
    # lower any committed min, and the replayed delta is empty because
    # nothing strictly improves), scores sink LAST. The scores table
    # doubles as the replay WATERMARK via the fresh_docs anti-join, so
    # the sink commit must be the final step: a crash before it makes
    # the whole batch replay (index re-fold converges by the min-merge
    # closure), whereas the old sink-first order made a crash between
    # the two appends skip the index delta forever — replay saw
    # n_new == 0 and returned before ever committing the minima
    # (tests/test_incremental_dedup.py crash-injection test).
    if cur is None and fresh_sh.count() == 0:
        # A first fold of docs all shorter than shingle_n has no delta:
        # committed, it would leave an index with no parquet file,
        # whose schema no later fold's read could infer. The scores
        # sink below still watermarks the batch.
        version = 0
    else:
        # One repartition by prefix (O(delta) — the improved-minima
        # rows only) so each fold writes at most one file per touched
        # ghp directory instead of files-per-task-per-bucket;
        # compact_layers preserves the layout.
        delta = merged.withColumn(
            "ghp", F.pmod(F.col("gh"), F.lit(buckets)).cast("int")
        ).repartition("ghp")
        if cur is None:
            store.write_layout_meta(
                index_table,
                {"bucket_col": "ghp", "hash_col": "gh", "buckets": buckets},
            )
        version = store.append_version(delta, index_table, partition_by=["ghp"])
    store.append_new(scores, scores_table, key=id_col)
    return IncrementalNoveltyResult(
        scores=scores, n_new=n_new, index_version=version
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten across the WHOLE dedup family in one call.
# ---------------------------------------------------------------------------
def duplicated_span_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated spans — the Spark-expressible
    form of suffix-array substring dedup (Lee et al. 2022): a true
    suffix array is a single-machine construction, so the distributed
    form fixes a span granularity ``k`` and works on k-token gram
    hashes. Every k-gram appearing in >= ``min_docs`` distinct docs
    marks its start position duplicated; per doc, overlapping
    duplicated grams merge into MAXIMAL spans by interval union
    (running-max-end gaps-and-islands). Returns, for each doc with at
    least one span: (id, n_tokens, n_dup_spans, dup_tokens, dup_frac)
    — the "cut these spans before training" sheet.

    Scale shape: lead-chained gram assembly on one id-exchange (the
    q83 winnowing window), one gram-hash aggregate + left-semi join
    back (positions, not text, cross that exchange — the q103
    history-cut discipline), then the island window and both per-doc
    aggregates reuse the id partitioning. Never all-pairs, never text
    past the hash."""
    hashed = _gram_positions(docs, id_col, text_col, k).filter("pos >= 0")
    dup = (
        hashed.groupBy("h")
        .agg(F.countDistinct("_id").alias("d"))
        .filter(F.col("d") >= min_docs)
        .select("h")
    )
    starts = hashed.join(dup, "h", "left_semi")
    return _span_report(starts, k).withColumnRenamed("_id", id_col)


def _gram_positions(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, pos, n_toks, h) for every k-gram start position — the
    positional inverted index both span operators share. Docs with
    fewer than ``k`` tokens emit ONE sentinel row (pos = -1, h NULL)
    so the incremental fold can watermark them; gram consumers filter
    ``pos >= 0``.

    Grams are assembled IN-ROW from the token array (``transform``
    over the valid start positions + ``slice``/``array_join``), so the
    whole computation lives in the scan stage: zero exchanges, zero
    sorts. The previous posexplode + window-``lead`` form paid a full
    shuffle + sort by ``_id`` per call — and this subtree appears
    twice in the one-shot report plan — for values that are a pure
    function of the row's own tokens."""
    base = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).withColumn("n_toks", F.size("_toks").cast("long"))
    grams = F.transform(
        F.sequence(F.lit(0), (F.col("n_toks") - k).cast("int")),
        lambda p: F.struct(
            p.cast("int").alias("pos"),
            portable_hash60(
                F.array_join(F.slice(F.col("_toks"), p + F.lit(1), k), " ")
            ).alias("h"),
        ),
    )
    real = (
        base.filter(F.col("n_toks") >= k)
        .select("_id", "n_toks", F.explode(grams).alias("g"))
        .select("_id", F.col("g.pos").alias("pos"), "n_toks", F.col("g.h").alias("h"))
    )
    short = base.filter(F.col("n_toks") < k).select(
        "_id",
        F.lit(-1).alias("pos"),
        "n_toks",
        F.lit(None).cast("long").alias("h"),
    )
    return real.unionByName(short)


def _span_report(starts: DataFrame, k: int) -> DataFrame:
    """Fold duplicated gram START positions (_id, pos, n_toks) into the
    per-doc maximal-span report via running-max-end gaps-and-islands.
    Both windows and both aggregates reuse one _id exchange."""
    from pyspark.sql import Window as W

    wd = W.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k - 1)).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    isl = starts.withColumn(
        "island",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        ).over(wd),
    )
    spans = isl.groupBy("_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
        F.max("n_toks").alias("nt"),
    )
    return (
        spans.groupBy("_id")
        .agg(
            F.max("nt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_tokens").cast("double") / F.col("n_tokens"), 4),
        )
    )


def _byid_table(positions_table: str) -> str:
    """Name of the _id-bucketed SECONDARY projection of a positional
    gram index (same rows, laid out for id-keyed fetches)."""
    return f"{positions_table}_byid"


def _ip_of(id_col: Column, buckets: int) -> Column:
    """Partition value of the byid projection: a uniform hash of the
    document id (xxhash64 — works for any id type, never null) mod
    the projection's committed bucket count."""
    return F.pmod(F.xxhash64(id_col), F.lit(buckets)).cast("int")


def _affected_positions(
    store,
    byid: str,
    ib: int,
    affected: DataFrame,
    n_affected: int,
    pos_cols: list[str],
) -> DataFrame:
    """Cut 2's HISTORY fetch: the affected docs' committed positions,
    read from the byid projection. When the affected set is small
    enough that its id-hash prefixes cannot saturate the directory
    tree (the Cut-1 heuristic: saturation needs ~buckets·ln(buckets)
    uniform ids), the scan PRUNES to those prefixes at the directory
    level — the single-doc re-fold / GDPR spot-check / trickle-intake
    shapes read a sliver of the index. Saturating folds read the full
    projection, the same rows an unpruned primary scan would read."""
    src = store.read(byid)
    if n_affected <= 16 * ib:
        prefixes = [
            int(r["p"])
            for r in affected.select(_ip_of(F.col("_id"), ib).alias("p"))
            .distinct()
            .collect()
        ]
        src = src.filter(F.col("ip").isin(prefixes))
    return src.select(*pos_cols).filter("pos >= 0").join(
        affected, "_id", "left_semi"
    )


def incremental_duplicated_spans(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_docs: int = 2,
    positions_table: str = "span_positions",
    reports_table: str = "span_reports",
    seen_table: str = "span_seen_docs",
) -> int:
    """Maintain :func:`duplicated_span_report` batch-by-batch — q144's
    suffix-array-shaped substring dedup moved to intake time. After
    every fold, ``reports_table`` equals the one-shot report over ALL
    documents ever seen, including the RETROACTIVE updates the span
    semantics force: when a new document re-uses a span some historical
    document carried alone, that old document's report changes too
    (its gram just crossed ``min_docs``), so duplication is charged to
    every copy the moment the second one arrives — not just to the
    late arrival. Returns the number of new documents folded.

    Equivalence argument (maintained ≡ global, by induction over
    folds): the global dup set only GROWS, and a gram's distinct-doc
    count only changes in a fold whose batch contains that gram (under
    the intake contract that each id arrives in exactly one batch, the
    per-batch distinct counts ADD). Hence the docs whose report can
    change at fold t are exactly (new docs) ∪ (historical docs holding
    a gram that crossed ``min_docs`` at t) — the operator recomputes
    precisely that affected set against the current global counts and
    merge-upserts it. Reports can gain spans but never lose them
    (monotonicity), so replacement-by-key is sufficient.

    Cost per fold: batch text is tokenized once (the only text pass
    ever; history text is never rescanned). The replay WATERMARK is
    the _id-keyed ``seen_table`` — one row per document ever folded —
    so the watermark read is O(docs-seen), not an O(index) distinct
    probe of the positional index (one row per token position;
    docs/PLAN_AUDIT.md named this term). The
    history side is touched through TWO semi-join cuts of the index
    (16-to-32-byte columnar rows), BOTH directory-pruned on small
    folds: Cut 1 to the batch's own gram hashes (which grams' counts
    could change — the hp-bucketed primary prunes to the batch's
    hash prefixes), Cut 2 to the affected docs' current positions
    and their grams' dup counts (the position fetch reads the
    _id-bucketed SECONDARY projection pruned to the affected ids'
    prefixes — closing the per-fold O(index) scan VERDICT r09 named —
    and the dup-count scan prunes the primary to the affected grams'
    hash prefixes). All exchanges are bounded by the corpus
    occurrences of the affected documents' grams, never by index
    size; on saturating folds every prune degrades to the full scan
    the fold would have read anyway.

    Layout: the index is committed hive-partitioned by
    hp = h mod buckets (modulus stamped in the table's layout sidecar
    before the first write and resolved from it ever after — see
    GH_BUCKETS), which is what :func:`passage_search` point queries
    prune their candidate scan by, PLUS the byid secondary projection
    (same rows, ip = xxhash64(_id) mod buckets, its own sidecar) that
    Cut 2 prunes by. Both are written from the first fold on.

    Crash-safety — reports FIRST, byid projection SECOND, primary
    positions THIRD, seen-watermark LAST, each commit idempotent, so
    every crash window replays to convergence:

    - crash before the report upsert: nothing durable, full replay.
    - crash after reports, before byid: replay recomputes
      byte-identical report rows (pure function of index ∪ batch;
      merge_upsert is idempotent) and commits the remaining three.
    - crash after byid, before primary: the batch's ids are NOT yet
      in the primary, so no later fold can reopen them (reopened
      derives from the PRIMARY's Cut-1 scan) — the orphaned byid
      rows are unreachable until this batch replays, which
      re-appends both projections (byid becomes a multiset for the
      batch; every reader is duplicate-robust, below). The byid
      commit must come FIRST of the two: the reverse order would
      let a fold of a DIFFERENT batch reopen this batch's docs off
      the primary and then fetch their positions from a byid that
      does not hold them yet — silently under-counted reports.
    - crash after primary positions, before seen: the replay's batch
      grams are now ALSO in the history scan, so the union view
      holds them twice — every consumer is duplicate-robust by
      construction (dup/crossed counts use countDistinct;
      :func:`_span_report`'s running-max-end islands absorb repeated
      rows), the recomputed reports are again byte-identical, and
      the re-appended position rows make both projections MULTISETS
      (readers: countDistinct/distinct/semi-joins throughout —
      duplicates cost storage in this one window, never
      correctness). Re-running the crossed cut may find nothing left
      to cross — harmless, because the pre-crash run already
      upserted those reopened docs' reports before the positions
      commit.
    - a partially visible seen append replays the missing suffix of
      the batch through the same idempotent commits.

    On the first fold the same windows hold with an empty history:
    until the seen table exists no doc is watermarked, so any crash
    replays the whole batch against whatever positions landed.

    The seen-watermark commit must be LAST: committing it earlier
    would open the window where a crash skips the positions commit
    forever — the bug class ADVICE r06 flagged in
    incremental_novelty."""
    pos_cols = ["_id", "pos", "n_toks", "h"]
    have_index = store.exists(positions_table)
    # Both projections resolve their modulus from their own sidecar
    # (the GH_BUCKETS discipline): a fold-1 crash can leave a sidecar,
    # or the byid projection, committed ahead of the rest of the fold,
    # and the replay must extend it at ITS committed modulus.
    buckets = _persisted_buckets(store, positions_table)
    hp_of = lambda h: F.pmod(F.coalesce(h, F.lit(0)), F.lit(buckets)).cast("int")
    byid = _byid_table(positions_table)
    ib = _persisted_buckets(store, byid)
    fresh = store.unseen(
        new_docs.select(F.col(id_col).alias("_id")).distinct(), seen_table, "_id"
    )
    bpos = (
        _gram_positions(
            new_docs.select(F.col(id_col).alias("_id"), text_col).join(
                fresh, "_id", "left_semi"
            ),
            "_id",
            text_col,
            k,
        )
        .select(*pos_cols)
        .localCheckpoint(eager=True)
    )
    n_new = bpos.select("_id").distinct().count()
    if n_new == 0:
        return 0
    bgrams = bpos.filter("pos >= 0")
    if have_index:
        hist = store.read(positions_table).select(*pos_cols).filter("pos >= 0")
        # Cut 1 — which counts changed: only batch-present grams. The
        # scan itself prunes to the batch's hash prefixes
        # (<= buckets values, collected from an O(batch)
        # aggregate — the incremental_novelty recipe). The collect is
        # only worth a job when the batch CAN leave prefixes untouched:
        # with uniform hashes, >> buckets·ln(buckets) distinct grams
        # saturate every prefix (coupon collector), so large batches
        # skip straight to the full scan they would have read anyway —
        # the prune exists for the single-doc re-fold / GDPR spot-check
        # / trickle-intake shapes, and the gram count is a cheap scan
        # of the already-checkpointed batch positions.
        bg = bgrams.select("h").distinct()
        hist_cut1 = hist
        if bgrams.count() <= 16 * buckets:
            prefixes = [
                int(r["p"])
                for r in bg.select(hp_of(F.col("h")).alias("p"))
                .distinct()
                .collect()
            ]
            hist_cut1 = (
                store.read(positions_table)
                .filter(F.col("hp").isin(prefixes))
                .select(*pos_cols)
                .filter("pos >= 0")
            )
        hist_b = hist_cut1.join(F.broadcast(bg), "h", "left_semi")
        crossed = (
            hist_b.groupBy("h")
            .agg(F.countDistinct("_id").alias("hc"))
            .join(
                bgrams.groupBy("h").agg(F.countDistinct("_id").alias("bc")),
                "h",
            )
            .filter(
                (F.col("hc") < min_docs) & (F.col("hc") + F.col("bc") >= min_docs)
            )
            .select("h")
        )
        reopened = (
            hist_b.join(F.broadcast(crossed), "h", "left_semi")
            .select("_id")
            .distinct()
        )
        affected = (
            fresh.unionByName(reopened)
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        affected = fresh
    # Cut 2 — current dup status of the affected docs' grams only:
    # the position fetch reads the byid projection pruned to the
    # affected ids' prefixes; the dup-count scan reads the primary
    # pruned to the affected grams' hash prefixes (both lossless,
    # both degrading to the full scan on saturating folds).
    if have_index:
        n_affected = affected.count()
        apos = _affected_positions(
            store, byid, ib, affected, n_affected, pos_cols
        ).unionByName(bgrams)
        hist_dup = hist
        if n_affected <= 16 * ib:
            # ag (the affected grams' distinct hashes) is evaluated
            # ONLY to derive the directory-prune prefixes on trickle
            # folds; the dup count below no longer semi-joins on it —
            # the final report semi-joins apos against dup anyway, so
            # restricting the count's input to ag changes nothing
            # (apos's grams ⊆ ag by definition) while re-evaluating
            # the whole apos subtree a second time inside the same
            # job. Saturating folds skip ag entirely.
            ag = apos.select("h").distinct()
            gprefixes = [
                int(r["p"])
                for r in ag.select(hp_of(F.col("h")).alias("p"))
                .distinct()
                .collect()
            ]
            if len(gprefixes) < buckets:
                hist_dup = (
                    store.read(positions_table)
                    .filter(F.col("hp").isin(gprefixes))
                    .select(*pos_cols)
                    .filter("pos >= 0")
                )
        dup_view = hist_dup.unionByName(bgrams)
    else:
        apos = bgrams
        dup_view = bgrams
    dup = (
        dup_view.groupBy("h")
        .agg(F.countDistinct("_id").alias("d"))
        .filter(F.col("d") >= min_docs)
        .select("h")
    )
    reports = (
        _span_report(apos.join(dup, "h", "left_semi"), k)
        .withColumnRenamed("_id", id_col)
        .localCheckpoint(eager=True)
    )
    store.merge_upsert(reports, reports_table, [id_col])
    # byid projection commit BEFORE the primary — the crash matrix in
    # the docstring: a primary-committed/byid-missing window would let
    # a later fold reopen this batch's docs and under-fetch their
    # positions; the reverse window leaves the byid rows unreachable
    # (reopened derives from the primary) until this batch replays.
    if not store.exists(byid):
        store.write_layout_meta(
            byid, {"bucket_col": "ip", "hash_col": "_id", "buckets": ib}
        )
    store.append(
        bpos.withColumn("ip", _ip_of(F.col("_id"), ib)).repartition("ip"),
        byid,
        partition_by=["ip"],
    )
    if not have_index:
        store.write_layout_meta(
            positions_table,
            {"bucket_col": "hp", "hash_col": "h", "buckets": buckets},
        )
    store.append(
        bpos.withColumn("hp", hp_of(F.col("h"))).repartition("hp"),
        positions_table,
        partition_by=["hp"],
    )
    store.append_new(fresh.select("_id"), seen_table, key="_id")
    return n_new


def forget_documents(
    store,
    ids: DataFrame,
    id_col: str = "doc_id",
    kept_table: str = "dedup_kept_docs",
    index_table: str = "minhash_sig_index",
    scores_table: str = "novelty_scores",
    introducer_table: str = "shingle_introducer",
    labels_table: str = "neardup_labels",
    chunk_table: str = "chunk_index",
    simhash_table: str = "simhash_fp_index",
    pii_table: str = "pii_flags",
    vacuum: bool = True,
) -> dict[str, int | None]:
    """Purge a set of document ids from EVERY table the dedup family
    maintains about them — the composed GDPR operation a corpus store
    actually needs ("forget these users' documents" touches the kept
    sink, the MinHash signature index, the novelty scores, the
    component labels, the chunk decomposition index, the SimHash
    fingerprint index, the intake PII flags, AND the introducer
    index's first_doc credits; forgetting from one table while the
    others still name the id is not forgetting). Tables that don't
    exist are skipped, so one call serves any subset of the family.

    Per table this is :meth:`Store.delete_keys` — affected-layer
    surgery on layered tables, partition-preserving rewrite on plain
    ones — keyed on ``doc_id`` except the introducer index, which is
    keyed on its ``first_doc`` credit column. Removing an introducer
    row deliberately makes the affected shingles creditable to a LATER
    introducer (novelty semantics shift for future batches); that is
    the compliant choice — retaining the minima would retain the id.
    The SimHash fingerprint index shares the MinHash posture exactly:
    purged ids fall out of the anti-join watermark, so a replayed
    batch naming a forgotten id re-processes it against the SURVIVOR
    index — convergent, and the only compliant option (retaining the
    fingerprint would retain an 8-byte digest of the text).

    With ``vacuum=True`` the purge completes physically: every
    versioned table is vacuumed to its current version, so the ids
    survive in NO parquet file on disk (the GDPR walk test pins this).
    Returns {table: new version or None} for the tables touched.

    The SPAN family (positional index / span reports / seen watermark
    / passage flags) needs its own retroactive-shrink semantics and is
    purged by :func:`forget_span_documents`; compose both calls for a
    full-estate forget.
    """
    ids = ids.select(id_col).distinct().localCheckpoint(eager=True)
    touched: dict[str, int | None] = {}
    for table, key in (
        (kept_table, id_col),
        (index_table, id_col),
        (scores_table, id_col),
        (labels_table, id_col),
        (chunk_table, id_col),
        (simhash_table, id_col),
        (pii_table, id_col),
        (introducer_table, "first_doc"),
    ):
        # plain tables carry a root _SUCCESS; versioned ones
        # only a _CURRENT pointer — a table is present under either
        if not (store.exists(table) or store.current_version(table) is not None):
            continue
        keys = ids if key == id_col else ids.select(F.col(id_col).alias(key))
        # ids is distinct + eagerly pinned above; the rename is a pure
        # projection over the pinned RDD — skip the per-table re-pin.
        touched[table] = store.delete_keys(table, keys, key, pinned=True)
        if vacuum and store.current_version(table) is not None:
            store.vacuum_versions(table, keep_last=1)
    return touched


# ---------------------------------------------------------------------------
# Intake-time benchmark decontamination: q66's n-gram-overlap check
# against a PERSISTED benchmark index, scored per batch at ingest.
# ---------------------------------------------------------------------------
def seed_benchmark_index(
    store,
    bench_docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 5,
    index_table: str = "decontam_bench",
) -> int:
    """Commit the benchmark's distinct shingle hashes as the
    decontamination index — run once per benchmark release (the
    held-out set is FIXED, which is what makes intake-time
    decontamination trivially incremental: each doc's verdict is a
    pure function of (doc, index), so batch-by-batch ≡ global q66).
    The index is tiny (benchmarks are small) and re-seeding is an
    idempotent overwrite via the versioned store."""
    gh = (
        bench_docs.select(
            F.explode(word_shingles(text_col, shingle_n)).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    return store.write_version(gh, index_table)


def incremental_decontamination(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    index_table: str = "decontam_bench",
    flags_table: str = "decontam_flags",
) -> DataFrame:
    """Score each NEW document's n-gram overlap against the persisted
    benchmark index — q66's contamination check moved to WHERE it
    belongs at 100 TB: intake time, per batch, instead of a global
    pass after the corpus is assembled. Returns the batch's flag rows
    (doc_id, n_overlap_ngrams, contaminated) and appends them id-keyed
    into ``flags_table``.

    Replay-safe with a SINGLE commit: the flags sink doubles as the
    watermark (keyed ``append_new``), and there is no second state
    table to get out of step with — the benchmark index is immutable
    between releases. Batch-by-batch ≡ global because each verdict
    depends only on (doc text, fixed index); the registered q123
    oracle is q66's, verbatim.

    Scale shape: one explode pass over the batch text (hashed 8-byte
    shingle keys — no n-gram strings on the wire), one join against
    the broadcast-size benchmark index, one O(batch) aggregate.
    History text is never touched."""
    bench = store.read_version(index_table)
    fresh = store.unseen(new_docs.select(id_col, text_col), flags_table, id_col)
    sh = fresh.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("g")
    ).select(id_col, F.xxhash64("g").alias("gh"))
    overlaps = (
        sh.join(F.broadcast(bench), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    flags = (
        fresh.select(id_col)
        .join(overlaps, id_col, "left")
        .select(
            id_col,
            F.coalesce("_n", F.lit(0)).cast("int").alias("n_overlap_ngrams"),
            (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"),
        )
        .localCheckpoint(eager=True)
    )
    store.append_new(flags, flags_table, key=id_col)
    return flags


# ---------------------------------------------------------------------------
# Chunk-level (boilerplate) dedup: content-defined chunk decomposition
# shared by the batch report (plans/corpus.py q127) and the maintained
# index (q128).
# ---------------------------------------------------------------------------
def content_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mod: int = 16,
) -> DataFrame:
    """Decompose documents into content-defined chunks (q93's FastCDC
    rule at word granularity: a boundary falls after any word whose
    portable hash ≡ 0 mod ``mod``), returning one row per chunk:
    ``(id_col, chunk_id, chunk_fp, n_tokens)`` with ``chunk_fp =
    md5(chunk text)``. Content-anchored boundaries are what make
    chunk fingerprints comparable ACROSS documents — an inserted
    sentence shifts only the chunks it touches, so shared boilerplate
    keeps identical fingerprints wherever it appears.

    Scale shape (the q83/q93 discipline): the token explode is
    map-side; ONE exchange (hash partition on ``id_col``) feeds the
    boundary prefix-sum window and the per-chunk fold, reusing the
    same sort. Output is O(tokens/mod) narrow rows — doc text never
    appears downstream, only 32-char fingerprints.
    """
    from pyspark.sql import Window as W

    toks = _parallelize_scan(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    flag = (F.pmod(portable_hash60("tok"), F.lit(mod)) == 0).cast("long")
    prev = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_id", F.coalesce(F.sum(flag).over(prev), F.lit(0)).cast("long")
    )
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chunk_fp"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


def boilerplate_report(
    chunks: DataFrame, id_col: str = "doc_id", min_docs: int = 2
) -> DataFrame:
    """Per-document boilerplate-removal report over a chunk
    decomposition (the CCNet/RefinedWeb "drop paragraphs repeated
    across the corpus" pass, re-expressed over content-defined chunks
    because this corpus has no newline structure): a chunk is
    boilerplate when its fingerprint occurs in ≥ ``min_docs`` DISTINCT
    documents. Returns ``(id_col, n_chunks, n_boiler, kept_tokens,
    removed_tokens, cleaned_fp)`` where ``cleaned_fp`` is the md5 of
    the kept chunk fingerprints joined in chunk order — the identity
    of the cleaned document without ever re-materializing its text
    (md5('') for a fully-boilerplate doc).

    Scale shape: one exchange on the 32-char fingerprint for the
    distinct-doc count, one shuffle join back (both sides are compact
    chunk rows — never text), one exchange on ``id_col`` for the
    per-doc fold. No window, no driver-side state.
    """
    counts = chunks.groupBy("chunk_fp").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    boiler = F.col("n_docs") >= min_docs
    kept_fp = F.when(~boiler, F.struct(F.col("chunk_id"), F.col("chunk_fp")))
    return (
        chunks.join(counts, "chunk_fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(boiler.cast("int")).cast("int").alias("n_boiler"),
            F.sum(F.when(boiler, F.lit(0)).otherwise(F.col("n_tokens")))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(F.when(boiler, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_fp)),
                        lambda s: s["chunk_fp"],
                    ),
                    " ",
                )
            ).alias("cleaned_fp"),
        )
    )


def incremental_chunk_index(
    new_docs: DataFrame,
    store,
    table: str = "chunk_index",
    id_col: str = "doc_id",
    text_col: str = "text",
    mod: int = 16,
) -> int:
    """Fold a batch's content-defined chunk decomposition into the
    persisted chunk index and return the number of NEW documents
    folded. The index holds ``(id, chunk_id, chunk_fp, n_tokens)`` —
    ~48 bytes per chunk, no text — so the boilerplate report
    (:func:`boilerplate_report` over ``store.read(table)``) and any
    other chunk-level analysis read compact rows, while raw document
    text is chunked exactly ONCE, on the batch that introduces it.

    Replay discipline: a document's chunks commit together in one
    id-keyed append (anti-join against the stored ids — the set-union
    idiom), so the fold is idempotent, needs no separate watermark,
    and has NO crash window at all. The decomposition is a pure
    per-document function, so maintained state ≡ the global
    decomposition regardless of batching — which is why q128's oracle
    is q127's, verbatim. Duplicate rows WITHIN a batch are dropped by
    id up front — without this the exploded tokens of the copies
    would merge into one corrupted chunk fold (the sibling operators'
    distinct-ids discipline).
    """
    chunks = content_chunks(
        new_docs.dropDuplicates([id_col]), id_col, text_col, mod
    )
    chunks = store.unseen(chunks, table, id_col).localCheckpoint(eager=True)
    n_new = chunks.select(id_col).distinct().count()
    if n_new:
        store.append(chunks, table)
    return n_new


# ---------------------------------------------------------------------------
# Incremental cluster-representative selection: q129's "keep the best
# member of every near-dup cluster" maintained at intake (q131).
# ---------------------------------------------------------------------------
def incremental_representatives(
    new_docs: DataFrame,
    store,
    quality_table: str = "doc_quality",
    index_table: str = "minhash_sig_index",
    labels_table: str = "neardup_labels",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Fold a batch into the maintained cluster-representative state
    and return the CURRENT per-doc report (doc_id, component_id,
    quality_score, rep_doc, kept) — which cluster every document ever
    seen belongs to and which member the cluster ships.

    Maintained ≡ global by composition: the label table equals global
    connected components over all LSH pairs ever seen
    (:func:`incremental_neardup_components`' star-compression
    closure), the quality sink is a pure per-document function
    appended id-keyed, and the report is a pure function of (labels,
    quality) — so the q131 oracle can replay one global pass.

    Write order: the quality sink commits FIRST (keyed append —
    idempotent under replay), the components fold LAST; the signature
    index inside the components fold is the batch watermark, so a
    crash anywhere between the two leaves the batch un-indexed and
    the replay re-runs both commits to convergence (the
    first-commit-idempotent / watermark-last discipline).

    Scale shape: per batch, one text pass (signatures + quality);
    selection at read adds ONE window exchange on component_id over
    (id, quality) rows — never text.
    """
    from ..functions.text import quality_score_raw

    quality = (
        new_docs.select(
            F.col(id_col),
            F.round(quality_score_raw(F.col(text_col)), 4).alias(
                "quality_score"
            ),
        )
        .dropDuplicates([id_col])
        .localCheckpoint(eager=True)
    )
    store.append_new(quality, quality_table, key=id_col)
    incremental_neardup_components(
        new_docs,
        store,
        index_table=index_table,
        labels_table=labels_table,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
    )
    return representatives_report(store, quality_table, labels_table, id_col)


def representatives_report(
    store,
    quality_table: str = "doc_quality",
    labels_table: str = "neardup_labels",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assemble the representative report from the persisted state:
    every doc in the quality sink, labeled by the maintained component
    table (its own id when never paired), keeping the highest-quality
    member per cluster (ties to the smallest id)."""
    from pyspark.sql import Window as W

    quality = store.read(quality_table)
    cur = store.current_version(labels_table)
    if cur is not None:
        labeled = quality.join(
            store.read_version(labels_table), id_col, "left"
        ).withColumn(
            "component_id",
            F.coalesce("component_id", F.col(id_col)).cast("long"),
        )
    else:
        labeled = quality.withColumn(
            "component_id", F.col(id_col).cast("long")
        )
    w = W.partitionBy("component_id").orderBy(
        F.col("quality_score").desc(), F.col(id_col).asc()
    )
    rep = F.first(id_col).over(w)
    return labeled.select(
        id_col,
        "component_id",
        "quality_score",
        rep.alias("rep_doc"),
        (F.col(id_col) == rep).cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# Incremental SPLIT-LEAKAGE monitor: q71's "near-dups crossing the
# train/val/test boundary" check moved to intake time (q132).
# ---------------------------------------------------------------------------
def incremental_split_leakage(
    new_docs: DataFrame,
    store,
    leakage_table: str = "split_leakage",
    index_table: str = "minhash_sig_index",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Flag, at ingest, every LSH near-dup pair whose two documents
    fall in DIFFERENT q56 hash splits — the leakage a held-out set
    must not have, caught when the offending document arrives instead
    of by a global post-hoc pass (q71's position). Returns the full
    maintained leakage report (doc_a, doc_b, split_a, split_b).

    Maintained ≡ global: each batch's qualifying pairs (within-batch
    AND vs-history, both (smaller, larger)-oriented under monotone
    ids) union across batches to exactly the global LSH pair set —
    the property q109's components oracle already certifies — and the
    split assignment is a pure function of the id, so filtering to
    boundary-crossing pairs commutes with the batching. The q132
    oracle replays one global pass.

    Write order: the leakage sink commits FIRST (pair-keyed append —
    idempotent under replay), the signature-index delta LAST (the
    batch watermark): a crash between them leaves the batch
    un-indexed and the replay re-derives the SAME pairs into a keyed
    no-op. Scale shape: one text pass per batch (the signatures);
    pairs are O(collisions); the split tags are in-row hash math.
    """
    ded = incremental_minhash_dedup(
        new_docs,
        store,
        index_table=index_table,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
        commit=False,
    )

    def split_of(side: str) -> Column:
        bucket = F.pmod(
            portable_hash60(F.col(side).cast("string")), F.lit(100)
        )
        return (
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test")
        )

    if ded.n_new:
        crossing = (
            ded.sim_pairs.select("doc_a", "doc_b")
            .withColumn("split_a", split_of("doc_a"))
            .withColumn("split_b", split_of("doc_b"))
            .filter(F.col("split_a") != F.col("split_b"))
            .withColumn("pair_key", F.concat_ws("_", "doc_a", "doc_b"))
            .dropDuplicates(["pair_key"])
            .localCheckpoint(eager=True)
        )
        store.append_new(crossing, leakage_table, key="pair_key")
        store.append_version(ded.index_delta, index_table)
    if store.exists(leakage_table):
        return store.read(leakage_table).select(
            "doc_a", "doc_b", "split_a", "split_b"
        )
    # empty report typed from the input's id column, not hardcoded
    return new_docs.limit(0).select(
        F.col(id_col).alias("doc_a"),
        F.col(id_col).alias("doc_b"),
        F.lit("").alias("split_a"),
        F.lit("").alias("split_b"),
    )


def passage_search(
    docs: DataFrame,
    passage: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    store=None,
    positions_table: str = "span_positions",
    seen_table: str = "span_seen_docs",
) -> DataFrame:
    """Token-aligned exact passage lookup — the point query a 100 TB
    corpus store answers for takedown requests and decontamination
    spot-checks ("find every document containing this paragraph").
    ``passage`` is a one-row (passage string) frame; returns
    (doc_id, pos) where pos is the 1-based char position of the
    space-padded passage inside the single-space-normalized text
    (engine-exact: both sides normalize with the same tokenizer and
    pad with spaces, so only WORD-ALIGNED occurrences match — the
    decontamination semantics, not raw substring).

    Scale shape: with a maintained q145 positional index (``store``),
    candidates come from a broadcast semi-join of the passage's own
    k-gram hashes against the index — a scan SLICE of 16-byte hash
    rows, never the corpus, PRUNED at the directory level to the
    needle's ~dozen hash prefixes (the index is hp-bucketed, see
    :func:`incremental_duplicated_spans`) — and the exact verify (one
    `locate`) runs on the candidate documents only; a token-aligned
    occurrence implies every one of its k-grams is in the index, so
    the prune is lossless FOR INDEXED DOCUMENTS.

    Coverage guard — the prune's precondition is that every doc in
    ``docs`` has been folded into the index; for a recall-critical
    takedown query, silently skipping unindexed docs (a batch racing
    an incomplete fold, a side-loaded table) would be a false
    negative. The operator therefore verifies coverage against the
    fold's seen-docs watermark and routes any UNINDEXED doc (every
    doc, while no seen table exists) through the full `locate`
    verify alongside the index-pruned candidates — recall never
    depends on index completeness, only speed does. Without an index
    (or a passage shorter than ``k`` tokens), every doc takes the
    full-verify path, which is the scan the oracle runs.
    """
    needle_doc = passage.select(
        F.lit(0).cast("long").alias(id_col),
        F.col("passage").alias(text_col),
    )
    needle_hashes = (
        _gram_positions(needle_doc, id_col, text_col, k)
        .filter("pos >= 0")
        .select("h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    candidates = docs
    if (
        store is not None
        and store.exists(positions_table)
        and store.exists(seen_table)
        and needle_hashes.limit(1).count() > 0
    ):
        buckets = _persisted_buckets(store, positions_table)
        prefixes = [
            int(r["p"])
            for r in needle_hashes.select(
                F.pmod(F.col("h"), F.lit(buckets)).alias("p")
            )
            .distinct()
            .collect()
        ]
        cand_ids = (
            store.read(positions_table)
            .filter(F.col("hp").isin(prefixes))
            .filter("pos >= 0")
            .join(F.broadcast(needle_hashes), "h", "left_semi")
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
        covered = store.read(seen_table).select(F.col("_id").alias(id_col))
        candidates = (
            docs.join(covered, id_col, "left_semi")
            .join(cand_ids, id_col, "left_semi")
            .unionByName(docs.join(covered, id_col, "left_anti"))
        )
    pad = lambda c: F.concat(F.lit(" "), F.concat_ws(" ", tokens(c)), F.lit(" "))
    return (
        candidates.crossJoin(
            F.broadcast(passage.select(pad(F.col("passage")).alias("_needle")))
        )
        .withColumn("_padded", pad(F.col(text_col)))
        .select(
            F.col(id_col),
            F.expr("CAST(locate(_needle, _padded) AS BIGINT)").alias("pos"),
        )
        .filter(F.col("pos") > 0)
    )


def containment_search(
    store,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    max_freq: int = 20,
    min_shared: int = 2,
    positions_table: str = "span_positions",
) -> DataFrame:
    """Whole-document containment attribution against the maintained
    span index — "which indexed documents share a large fraction of
    THIS document's k-grams" (plagiarism/attribution/licensing
    triage: :func:`passage_search` answers it for one short passage,
    this answers it for a whole probe document, q173's one-sided
    containment measure computed from the index instead of a corpus
    self-join).

    Semantics are POINT-IN-TIME — a pure function of (probes, index
    state at call time), which is what makes an exact oracle possible
    where a *maintained* containment fold would not be (the rare-gram
    cap depends on global frequencies that later batches change):
    containment(probe, doc) = |shared rare k-grams| / |probe's
    distinct k-grams|, where "rare" means the gram's current index
    doc-frequency is <= ``max_freq`` (ubiquitous grams are boilerplate
    and would otherwise fan a probe out to the whole corpus — q173's
    cap, applied on the read side). Returns (probe_id, doc_id,
    n_shared, containment) for pairs sharing >= ``min_shared`` rare
    grams, probe self-matches excluded.

    RECALL PRECONDITION — results cover INDEXED documents only: a
    corpus doc not yet folded into ``positions_table`` cannot appear
    as a match (the same exposure passage_search's coverage guard
    closes — but that guard's fallback is a full-text verify, and
    this operator NEVER reads corpus text, so no fallback exists).
    Callers needing completeness against a racing fold should read
    :func:`containment_coverage` alongside (the blind-spot report:
    how many corpus docs cannot yet match) and re-query after the
    fold commits.

    Scale shape (the q174 read recipe): one gram pass over the probe
    batch, one index scan PRUNED to the probes' hash prefixes
    (skipped past the coupon-collector saturation bound), postings cut to the probes' gram set with a broadcast
    semi-join BEFORE the distinct, frequencies counted on that slice
    only, and the pair exchange carries (probe, doc) hash hits — the
    corpus text is never read."""
    ph = (
        _gram_positions(probes, id_col, text_col, k)
        .filter("pos >= 0")
        .select(F.col("_id").alias("probe_id"), "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = ph.groupBy("probe_id").agg(F.count(F.lit(1)).alias("_np"))
    hot = ph.select("h").distinct()
    pos_scan = store.read(positions_table)
    buckets = _persisted_buckets(store, positions_table)
    if hot.count() <= 16 * buckets:
        prefixes = [
            int(r["p"])
            for r in hot.select(F.pmod(F.col("h"), F.lit(buckets)).alias("p"))
            .distinct()
            .collect()
        ]
        pos_scan = pos_scan.filter(F.col("hp").isin(prefixes))
    postings = (
        pos_scan.filter("pos >= 0")
        .join(F.broadcast(hot), "h", "left_semi")
        .select("h", "_id")
        .distinct()
    )
    rare = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") <= max_freq)
        .select("h")
    )
    return (
        ph.join(postings.join(rare, "h", "left_semi"), "h")
        .filter(F.col("probe_id") != F.col("_id"))
        .select("probe_id", F.col("_id").alias(id_col))
        .groupBy("probe_id", id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .join(sizes, "probe_id")
        .select(
            "probe_id",
            id_col,
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("_np"), 4).alias(
                "containment"
            ),
        )
    )


def containment_coverage(
    store,
    corpus: DataFrame,
    id_col: str = "doc_id",
    by: str | None = None,
    seen_table: str = "span_seen_docs",
) -> DataFrame:
    """The blind-spot companion to :func:`containment_search`
    (VERDICT r09 Next #6). Containment search covers INDEXED
    documents only and never reads corpus text, so a corpus doc not
    yet folded into the span index cannot appear as a match; this
    report tells an attribution/licensing caller HOW MANY such docs
    exist instead of leaving the exposure as a docstring
    precondition. Returns one row — or one row per ``by`` group —
    of (n_corpus, n_indexed, n_unindexed), computed against the
    span estate's seen-docs watermark (the q174 coverage guard's
    read: one row per doc ever folded, including sentinel-only short
    docs).

    Point-in-time like the search itself: a pure function of
    (corpus ids, seen table at call time), so the pair
    (search results, coverage) taken back-to-back is a consistent
    release artifact. Cost: O(corpus ids + docs seen) on id columns
    only — no text pass, no positional-index scan."""
    keys = [F.col(id_col).alias("_id")] + (
        [F.col(by)] if by is not None else []
    )
    ids = corpus.select(*keys).distinct()
    if store.exists(seen_table):
        seen = store.read(seen_table).select("_id").distinct()
        flagged = ids.join(seen.withColumn("_seen", F.lit(1)), "_id", "left")
    else:
        flagged = ids.withColumn("_seen", F.lit(None).cast("int"))
    aggs = [
        F.count(F.lit(1)).alias("n_corpus"),
        F.count("_seen").alias("n_indexed"),
        (F.count(F.lit(1)) - F.count("_seen")).alias("n_unindexed"),
    ]
    if by is not None:
        return flagged.groupBy(by).agg(*aggs)
    return flagged.agg(*aggs)


def passage_search_many(
    docs: DataFrame,
    passages: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    store=None,
    positions_table: str = "span_positions",
    seen_table: str = "span_seen_docs",
) -> DataFrame:
    """Batch takedown query — :func:`passage_search` for a WHOLE
    needle list in one pass: ``passages`` is (needle_id, passage);
    returns (doc_id, needle_id, pos) for every word-aligned
    occurrence, the same engine-exact normalize-pad-locate semantics.
    This is the RETRO half of the watchlist pair —
    :func:`incremental_passage_flags` checks arriving batches against
    a seeded list; this answers "which already-stored documents
    contain any of these N passages" without N separate queries.

    Scale shape: ONE gram pass over the needle list (tiny), one
    index scan PRUNED to the union of all needles' hash prefixes,
    one broadcast join producing candidate (doc, needle) pairs
    (lossless per needle — a token-aligned hit shares every one of
    its k-grams), then one `locate` per surviving pair. The same
    coverage guard as passage_search: docs absent from the fold's
    seen watermark (every doc, while no seen table exists) verify
    against EVERY needle via the full path, so recall never depends
    on index completeness.
    Needles shorter than ``k`` tokens are routed to the full path
    too (no gram can prune for them)."""
    needles = passages.select(
        F.col("needle_id").cast("long").alias("needle_id"),
        F.col("passage"),
    ).localCheckpoint(eager=True)
    ngrams = (
        _gram_positions(
            needles.select(
                F.col("needle_id").alias(id_col),
                F.col("passage").alias(text_col),
            ),
            id_col,
            text_col,
            k,
        )
        .filter("pos >= 0")
        .select(F.col("_id").alias("needle_id"), "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    short_needles = needles.join(ngrams, "needle_id", "left_anti")
    long_needles = needles.join(ngrams, "needle_id", "left_semi")
    pad = lambda c: F.concat(F.lit(" "), F.concat_ws(" ", tokens(c)), F.lit(" "))
    verify = lambda cand_docs, cand_needles: (
        cand_docs.join(F.broadcast(cand_needles), "needle_id")
        .select(
            F.col(id_col),
            "needle_id",
            F.expr("CAST(locate(_needle, _padded) AS BIGINT)").alias("pos"),
        )
        .filter(F.col("pos") > 0)
    )
    padded = lambda d: d.withColumn("_padded", pad(F.col(text_col)))
    padded_needles = needles.select("needle_id", pad(F.col("passage")).alias("_needle"))
    if (
        store is not None
        and store.exists(positions_table)
        and store.exists(seen_table)
        and ngrams.limit(1).count() > 0
    ):
        buckets = _persisted_buckets(store, positions_table)
        prefixes = [
            int(r["p"])
            for r in ngrams.select(F.pmod(F.col("h"), F.lit(buckets)).alias("p"))
            .distinct()
            .collect()
        ]
        cand_pairs = (
            store.read(positions_table)
            .filter(F.col("hp").isin(prefixes))
            .filter("pos >= 0")
            .join(F.broadcast(ngrams), "h")
            .select(F.col("_id").alias(id_col), "needle_id")
            .distinct()
        )
        covered = store.read(seen_table).select(F.col("_id").alias(id_col))
        covered_docs = padded(docs.join(covered, id_col, "left_semi"))
        uncovered_docs = padded(docs.join(covered, id_col, "left_anti"))
        indexed_hits = verify(
            covered_docs.join(cand_pairs, id_col).select(
                id_col, "needle_id", "_padded"
            ),
            padded_needles,
        )
        # uncovered docs verify against EVERY long needle; short
        # needles verify against EVERY doc (no gram prune exists)
        uncov_hits = verify(
            uncovered_docs.crossJoin(
                F.broadcast(long_needles.select("needle_id"))
            ).select(id_col, "needle_id", "_padded"),
            padded_needles,
        )
        short_hits = verify(
            padded(docs).crossJoin(
                F.broadcast(short_needles.select("needle_id"))
            ).select(id_col, "needle_id", "_padded"),
            padded_needles,
        )
        return indexed_hits.unionByName(uncov_hits).unionByName(short_hits)
    return verify(
        padded(docs)
        .crossJoin(F.broadcast(needles.select("needle_id")))
        .select(id_col, "needle_id", "_padded"),
        padded_needles,
    )


def forget_span_documents(
    store,
    ids: DataFrame,
    id_col: str = "doc_id",
    k: int = 6,
    min_docs: int = 2,
    positions_table: str = "span_positions",
    reports_table: str = "span_reports",
    seen_table: str = "span_seen_docs",
    flags_table: str = "passage_flags",
) -> dict[str, int]:
    """Right-to-be-forgotten for the SPAN family — the q145/q174/q176
    tables :func:`forget_documents` does not cover: purge the ids from
    the positional index, the span reports, the seen-docs watermark,
    and the passage-flag sink, INCLUDING the retroactive shrink span
    semantics force: removing a document may drop one of its grams
    below ``min_docs``, so every SURVIVING document sharing a
    forgotten gram gets its report recomputed against the
    survivor-only index (reports that lose every span are deleted —
    the maintained table equals the one-shot
    :func:`duplicated_span_report` over the survivors, the exact
    mirror of the fold's retroactive GROWTH). ``k``/``min_docs`` must
    match the fold's parameters.

    Blind-retry convergent commit order — recompute everything pinned
    FIRST, then mutate, survivors-upsert before any delete:

    1. pin (forgotten grams, holders, recomputed holder reports) while
       the positions index still holds the forgotten ids;
    2. ``merge_upsert`` the recomputed non-empty holder reports
       (idempotent);
    3. ``delete_keys`` report rows of (forgotten ids ∪ zero-span
       holders);
    4. ``delete_keys`` the positions index (layout-preserving — the
       hp-bucketed directories survive the rewrite), then its byid
       secondary projection (same layout-preserving class on the ip
       directories; primary first, so a blind retry after the primary
       delete degrades to pure deletes including this one);
    5. ``delete_keys`` the seen watermark and the flags sink.

    A crash anywhere replays: while step 4 has not run, the retry
    recomputes identical pinned state from the intact index (steps
    2-3 idempotent, step 2 restores any holder row a crashed step 3
    removed); after step 4 the forgotten grams resolve to an empty
    holder set and the retry degrades to re-running the pure deletes.
    Deliberately O(index) like every GDPR walk (the q121 class) — the
    scan cost of proving absence. Returns per-table deleted-row
    bookkeeping ({table: rows deleted or recomputed}).
    """
    ids = (
        ids.select(F.col(id_col).alias("_id")).distinct().localCheckpoint(eager=True)
    )
    out: dict[str, int] = {}
    pos_cols = ["_id", "pos", "n_toks", "h"]
    have_index = store.exists(positions_table)
    if have_index:
        hist = store.read(positions_table).select(*pos_cols)
        agrams = (
            hist.join(ids, "_id", "left_semi")
            .filter("pos >= 0")
            .select("h")
            .distinct()
            .localCheckpoint(eager=True)
        )
        kept_view = hist.join(ids, "_id", "left_anti").filter("pos >= 0")
        holders = (
            kept_view.join(agrams, "h", "left_semi")
            .select("_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        apos = kept_view.join(holders, "_id", "left_semi")
        ag = apos.select("h").distinct()
        dup = (
            kept_view.join(ag, "h", "left_semi")
            .groupBy("h")
            .agg(F.countDistinct("_id").alias("d"))
            .filter(F.col("d") >= min_docs)
            .select("h")
        )
        new_reports = (
            _span_report(apos.join(dup, "h", "left_semi"), k)
            .withColumnRenamed("_id", id_col)
            .localCheckpoint(eager=True)
        )
        zero = (
            holders.join(
                new_reports.select(F.col(id_col).alias("_id")),
                "_id",
                "left_anti",
            )
            .select(F.col("_id").alias(id_col))
            .localCheckpoint(eager=True)
        )
        if store.exists(reports_table):
            store.merge_upsert(new_reports, reports_table, [id_col])
            gone = zero.unionByName(
                ids.select(F.col("_id").alias(id_col))
            ).distinct()
            store.delete_keys(reports_table, gone, id_col)
            out[reports_table] = new_reports.count()
        store.delete_keys(positions_table, ids, "_id", pinned=True)
        out[positions_table] = agrams.count()
    elif store.exists(reports_table):
        # no index (already purged / never built): the ids may still
        # name report rows — delete them; no holder recompute is
        # possible or needed (their grams are gone from the index)
        store.delete_keys(
            reports_table,
            ids.select(F.col("_id").alias(id_col)),
            id_col,
            pinned=True,
        )
        out[reports_table] = 0
    # the byid secondary projection holds the same position rows —
    # purge it whenever it exists (AFTER the primary: once the primary
    # is gone a blind retry degrades to this pure delete; checked even
    # when the primary is already absent, covering a retry that
    # crashed between the two deletes)
    byid = _byid_table(positions_table)
    if store.exists(byid):
        store.delete_keys(byid, ids, "_id", pinned=True)
        out[byid] = 0
    if store.exists(seen_table):
        store.delete_keys(seen_table, ids, "_id", pinned=True)
        out[seen_table] = 0
    if store.exists(flags_table):
        store.delete_keys(
            flags_table,
            ids.select(F.col("_id").alias(id_col)),
            id_col,
            pinned=True,
        )
        out[flags_table] = 0
    return out


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    bands: int = 8,
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash Hamming distance — the
    pairing step q27's fingerprints exist for (Charikar/Manku et al.'s
    web-dedup design): band the ``bits``-bit fingerprint into
    ``bands`` equal slices and join only documents sharing a slice —
    by pigeonhole, any pair within ``max_hamming < bands`` bit flips
    shares at least one untouched band, so the blocking is LOSSLESS
    for the emitted distance range. Buckets over ``max_bucket`` docs
    are dropped as uninformative (the shingle_buckets frequency-cap
    discipline; templated corpora concentrate band values), bounding
    every bucket's pair fan-out.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b and
    hamming <= max_hamming. Scale shape: one vote aggregate per doc
    (the q27 plan), fingerprints pinned once, band memberships
    generated in-row, ONE equi-join keyed (band, val) against the
    <= bands·2^(bits/bands)-row bucket whitelist (broadcast), and the
    Hamming filter is two JVM intrinsics (XOR + bit_count) — raw text
    never reaches the pairing exchange, only 8-byte fingerprints."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the pigeonhole "
            "guarantee needs more bands than tolerated bit flips"
        )
    w = bits // bands
    mask = (1 << w) - 1
    fps = simhash(df, id_col, text_col, bits=bits).localCheckpoint(eager=True)
    memb = fps.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * w)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("m"),
    ).select(F.col(id_col), "simhash", "m.band", "m.val")
    ok = (
        memb.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "val")
    )
    m = memb.join(F.broadcast(ok), ["band", "val"], "left_semi")
    a = m.select(
        "band", "val", F.col(id_col).alias("doc_a"), F.col("simhash").alias("fa")
    )
    b = m.select(
        "band", "val", F.col(id_col).alias("doc_b"), F.col("simhash").alias("fb")
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa", "fb")
        .distinct()
        .filter(hamming <= max_hamming)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
    )


def _simhash_band_memberships(
    fps: DataFrame, id_col: str, bands: int, width: int
) -> DataFrame:
    """In-row (band, val) memberships of a (id, simhash) frame —
    shared by :func:`simhash_hamming_pairs`'s one-shot form and the
    incremental index fold. NULL fingerprints (token-less docs) carry
    no membership."""
    mask = (1 << width) - 1
    return (
        fps.filter(F.col("simhash").isNotNull())
        .select(
            F.col(id_col),
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col("simhash"), b * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("val"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("m"),
        )
        .select(F.col(id_col), "simhash", "m.band", "m.val")
    )


def incremental_simhash_dedup(
    new_docs: DataFrame,
    store,
    index_table: str = "simhash_fp_index",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    bands: int = 8,
    max_hamming: int = 3,
    commit: bool = True,
) -> IncrementalDedupResult:
    """Dedup a NEW batch against the full historical corpus by SimHash
    Hamming distance — the q175 pairing rule moved to intake, and the
    missing incremental member of the fuzzy family (MinHash q103,
    embeddings q110, binary q108). History lives as a fingerprint
    index of ONE int64 per document ever seen (8 bytes — even lighter
    than q103's ~16-int64 signatures); raw history text is never
    rescanned.

    Semantics — the order-free dominated rule in its purest form: a
    doc is dropped iff SOME smaller-id doc (indexed or earlier in this
    batch) is within ``max_hamming`` bit flips of its fingerprint.
    Hamming distance is a pure pair function of the two fingerprints,
    so batch-by-batch processing is EXACTLY equivalent to one global
    pass under monotone ids — with no cap caveat at all (q103's band
    buckets carry a candidate cap; here the banding is pigeonhole-
    LOSSLESS for max_hamming < bands and is used for candidate
    generation only, so no population-dependent rule ever enters the
    verdict; the one-shot q175 keeps its cap because it must emit
    every PAIR, while domination needs only a witness).

    Flood control without losing exactness: candidate a-sides collapse
    to DISTINCT (fingerprint, min-id) rows before pairing — domination
    by any doc of a fingerprint class ≡ domination by the class's
    smallest id, so a flood of identical docs costs ONE candidate row
    instead of a quadratic bucket fan-out.

    Scale shape: the index scan is projected in-row to band
    memberships (no exchange), cut to the batch's hot (band, val) set
    with a left-semi join BEFORE anything shuffles, and only the
    O(hits) survivors enter the min-id collapse and the pairing
    equi-join; within-batch work is the same shape over the batch.
    The commit is one O(batch) layered delta (store.append_version) —
    the index is its own replay watermark (already-indexed ids are
    filtered out up front, so a replayed batch keeps nothing and
    writes nothing). ``commit=False`` returns the delta instead, the
    dedup_stream sink-first hook.

    Reference anchor: the incremental-consumption contract
    (etl_pipeline.py:125-132); one-shot pairing q175, fingerprint q27.
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the pigeonhole "
            "candidate generation needs more bands than tolerated bit flips"
        )
    w = bits // bands
    new_ids = new_docs.select(id_col).distinct()
    current = store.current_version(index_table)
    hist = store.read_union(index_table) if current is not None else None
    fresh_ids = (
        new_ids.join(hist.select(id_col), id_col, "left_anti")
        if hist is not None
        else new_ids
    )
    fp_new = simhash(
        new_docs.join(fresh_ids, id_col, "left_semi"), id_col, text_col, bits
    )
    # Left join, not the fingerprint frame alone: token-less docs have
    # no fingerprint row but still need an index entry (NULL fp) or a
    # replay would re-emit them.
    fresh_fp = fresh_ids.join(fp_new, id_col, "left").localCheckpoint(
        eager=True
    )
    n_new = fresh_fp.count()
    if n_new == 0:
        return IncrementalDedupResult(
            kept=new_docs.limit(0),
            n_new=0,
            n_dup_vs_history=0,
            n_dup_within=0,
            index_version=current if current is not None else 0,
        )
    b_memb = _simhash_band_memberships(fresh_fp, id_col, bands, w)
    b_side = b_memb.select(
        "band", "val", F.col(id_col).alias("_id_b"), F.col("simhash").alias("_fb")
    )
    # Within-batch a-side: one row per distinct fingerprint, carrying
    # the class's smallest id (the flood collapse).
    a_batch = (
        fresh_fp.filter(F.col("simhash").isNotNull())
        .groupBy("simhash")
        .agg(F.min(id_col).alias("_id_a"))
    )
    a_batch_memb = _simhash_band_memberships(
        a_batch.select(F.col("_id_a").alias(id_col), "simhash"), id_col, bands, w
    ).select("band", "val", F.col(id_col).alias("_id_a"), F.col("simhash").alias("_fa"))
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    dom_pairs = (
        a_batch_memb.join(b_side, ["band", "val"])
        .filter((F.col("_id_a") < F.col("_id_b")) & (ham <= max_hamming))
        .select("_id_a", "_id_b")
        .distinct()
        .withColumn("_h", F.lit(0))
    )
    if hist is not None:
        hot = b_memb.select("band", "val").distinct()
        hist_memb = _simhash_band_memberships(hist, id_col, bands, w)
        # Cut history to buckets the batch touches BEFORE any exchange,
        # then collapse each bucket's fingerprint classes to min-id.
        a_hist = (
            hist_memb.join(hot, ["band", "val"], "left_semi")
            .groupBy("band", "val", "simhash")
            .agg(F.min(id_col).alias("_id_a"))
            .select("band", "val", "_id_a", F.col("simhash").alias("_fa"))
        )
        dom_pairs = dom_pairs.unionByName(
            a_hist.join(b_side, ["band", "val"])
            .filter((F.col("_id_a") < F.col("_id_b")) & (ham <= max_hamming))
            .select("_id_a", "_id_b")
            .distinct()
            .withColumn("_h", F.lit(1))
        )
    dropped = (
        dom_pairs.select(F.col("_id_b").alias(id_col), "_h")
        .groupBy(id_col)
        .agg(F.max("_h").alias("_h"))
        .localCheckpoint(eager=True)
    )
    tallies = dropped.agg(
        F.coalesce(F.sum("_h"), F.lit(0)).alias("nh"),
        F.count(F.lit(1)).alias("nd"),
    ).first()
    n_hist = int(tallies["nh"])
    n_within = int(tallies["nd"]) - n_hist
    kept = new_docs.join(fresh_ids, id_col, "left_semi").join(
        dropped.select(id_col), id_col, "left_anti"
    )
    index_delta = fresh_fp.select(id_col, "simhash")
    if commit:
        version = store.append_version(index_delta, index_table)
        return IncrementalDedupResult(
            kept=kept,
            n_new=n_new,
            n_dup_vs_history=n_hist,
            n_dup_within=n_within,
            index_version=version,
        )
    return IncrementalDedupResult(
        kept=kept,
        n_new=n_new,
        n_dup_vs_history=n_hist,
        n_dup_within=n_within,
        index_version=current if current is not None else 0,
        index_delta=index_delta,
    )


def seed_passage_watchlist(
    store,
    passages: DataFrame,
    k: int = 6,
    needles_table: str = "watch_needles",
    grams_table: str = "watch_grams",
) -> int:
    """Commit a passage WATCHLIST (takedown/contamination list) for
    intake-time matching: the needle strings snapshot plus their
    k-gram hashes (the candidate-prune index). Re-seeding is an
    idempotent overwrite via the versioned store — the q123
    seed_benchmark_index discipline; watchlists are small and FIXED
    between releases, which is what makes the per-batch check
    trivially incremental."""
    needles = passages.select(
        F.col("needle_id").cast("long").alias("needle_id"),
        F.col("passage"),
    ).localCheckpoint(eager=True)
    grams = (
        _gram_positions(
            needles.select("needle_id", F.col("passage").alias("text")),
            "needle_id",
            "text",
            k,
        )
        .filter("pos >= 0")
        .select(F.col("_id").alias("needle_id"), "h")
        .distinct()
    )
    store.write_version(needles, needles_table)
    return store.write_version(grams, grams_table)


def extend_passage_watchlist(
    store,
    new_passages: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    needles_table: str = "watch_needles",
    grams_table: str = "watch_grams",
    flags_table: str = "passage_flags",
    positions_table: str = "span_positions",
) -> int:
    """Grow a LIVE watchlist — the takedown-list lifecycle step the
    seed/intake pair alone cannot express: a needle added after docs
    were ingested would never be checked against them
    (:func:`incremental_passage_flags` checks each doc ONCE, under the
    watchlist in force at its arrival). This composes both halves:
    retro-flag the ALREADY-SEEN corpus against the NEW needles via the
    batch point query (:func:`passage_search_many` — pruned by the
    maintained positional index when the store has one), then re-seed
    the union snapshot so intake covers the new needles from now on.
    Returns the number of needles added.

    ``seen_docs`` is the caller's (id, text) frame for the corpus
    already past intake (the store keeps positions/hashes, never
    text). New needle_ids must not collide with live ones — raises
    BEFORE any commit otherwise (ids are the flag key's second half).

    Blind-retry convergent, retro FIRST / seed LAST: the retro flags
    append keyed on the (doc, needle) composite (idempotent) against
    the NEW needles passed in (not the store, so a crashed half-seed
    cannot hide them), then the needles and grams snapshots re-commit
    as idempotent overwrites of the union. A crash anywhere replays
    to convergence; intake keeps judging under the OLD watchlist
    until the final grams commit lands (the snapshot is the version
    boundary, exactly like a benchmark release in q123)."""
    needles = new_passages.select(
        F.col("needle_id").cast("long").alias("needle_id"),
        F.col("passage"),
    ).localCheckpoint(eager=True)
    n_new = needles.count()
    if n_new == 0:
        return 0
    have_list = store.current_version(needles_table) is not None
    if have_list:
        live = store.read_version(needles_table)
        # a VERBATIM re-submission (same id, same passage) is a retry,
        # not a collision — drop it and continue (blind-retry-safe
        # even after a fully completed extension); a live id carrying
        # a DIFFERENT passage is a genuine conflict and raises before
        # any commit (the flag key embeds the id)
        clash = (
            needles.alias("n")
            .join(live.alias("l"), "needle_id")
            .filter(F.col("n.passage") != F.col("l.passage"))
            .count()
        )
        if clash:
            raise ValueError(
                f"extend_passage_watchlist: {clash} live needle_id(s) "
                "re-used with a different passage — new needles must "
                "use fresh ids (the flag key embeds them)"
            )
        needles = needles.join(
            live.select("needle_id"), "needle_id", "left_anti"
        ).localCheckpoint(eager=True)
        n_new = needles.count()
        if n_new == 0:
            return 0
    # retro half: flag the already-seen corpus against the NEW needles
    hits = passage_search_many(
        seen_docs,
        needles,
        id_col,
        text_col,
        k=k,
        store=store,
        positions_table=positions_table,
    ).withColumn(
        "flag_key",
        F.concat_ws(":", F.col(id_col).cast("string"), F.col("needle_id")),
    )
    store.append_new(
        hits.select(id_col, "needle_id", "pos", "flag_key").localCheckpoint(
            eager=True
        ),
        flags_table,
        key="flag_key",
    )
    # seed half: re-commit the UNION snapshots (idempotent overwrite)
    all_needles = (
        store.read_version(needles_table).unionByName(needles)
        if have_list
        else needles
    )
    seed_passage_watchlist(
        store,
        all_needles,
        k=k,
        needles_table=needles_table,
        grams_table=grams_table,
    )
    return int(n_new)


def incremental_passage_flags(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    needles_table: str = "watch_needles",
    grams_table: str = "watch_grams",
    flags_table: str = "passage_flags",
    seen_table: str = "passage_seen",
) -> int:
    """Check each arriving batch against the seeded passage watchlist
    — q174 moved to intake time, the takedown-list production shape
    (the q123 decontamination pattern: the watchlist is FIXED between
    releases, so each verdict is a pure per-doc function of (doc,
    watchlist) and batch-by-batch ≡ global trivially). Per batch: ONE
    gram pass over the batch text (the only pass, ever), the
    watchlist gram hashes broadcast into the candidate cut (lossless
    — a token-aligned hit shares every one of its k-grams), then one
    `locate` verify per surviving (doc, needle) pair.

    Commit order: flags FIRST (idempotent — keyed on the composite
    (doc, needle) key, and recomputation is deterministic), the
    seen-docs watermark LAST, so every crash window replays to
    convergence. Returns the number of newly checked documents."""
    if store.current_version(grams_table) is None:
        raise ValueError(
            "incremental_passage_flags: no watchlist seeded — run "
            "seed_passage_watchlist first"
        )
    fresh = store.unseen(
        new_docs.select(id_col, text_col), seen_table, id_col
    ).localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new == 0:
        return 0
    watch = store.read_version(grams_table)
    bgrams = (
        _gram_positions(fresh, id_col, text_col, k)
        .filter("pos >= 0")
        .select(F.col("_id").alias(id_col), "h")
    )
    cand = (
        bgrams.join(F.broadcast(watch), "h")
        .select(id_col, "needle_id")
        .distinct()
    )
    pad = lambda c: F.concat(F.lit(" "), F.concat_ws(" ", tokens(c)), F.lit(" "))
    needles = store.read_version(needles_table).select(
        "needle_id", pad(F.col("passage")).alias("_needle")
    )
    flags = (
        cand.join(fresh, id_col)
        .join(F.broadcast(needles), "needle_id")
        .withColumn("_padded", pad(F.col(text_col)))
        .select(
            F.col(id_col),
            F.col("needle_id"),
            F.expr("CAST(locate(_needle, _padded) AS BIGINT)").alias("pos"),
        )
        .filter(F.col("pos") > 0)
        .withColumn(
            "flag_key",
            F.concat_ws(":", F.col(id_col).cast("string"), F.col("needle_id")),
        )
    )
    store.append_new(flags, flags_table, key="flag_key")
    store.append_new(fresh.select(id_col), seen_table, key=id_col)
    return int(n_new)
