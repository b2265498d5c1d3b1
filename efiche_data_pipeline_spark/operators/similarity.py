"""Embedding similarity search over ``array<float>`` columns.

Two strategies:

- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query set against the candidate corpus; one pass, no shuffle of the
  corpus, per-partition partial top-k via the row_number window on the
  query partition. The baseline and the correctness oracle.
- :func:`ivf_topk` — IVF-style approximate top-k: partition the corpus
  into Voronoi cells around centroid vectors, search only the query's
  cell. At 100 TB this turns a full scan per query into a 1/K-of-corpus
  scan; cells are co-partitioned by centroid id so the probe is a
  hash-join, not a cross-join.

All vector math is built-in higher-order functions in DOUBLE
(functions.vectors) — JVM-side, no Python serialization per row.

Reference analogue: the dormant pgvector ``VECTOR(768)`` column
(reference: sql/01_schema.sql:95) — declared for exactly this kind of
report-embedding similarity, never implemented there.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine, cosine_pre, dot, norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Returns (query_id, neighbor_id, sim, rank); sim rounded to 4
    decimals, ties broken by neighbor id (deterministic cutoff).
    """
    # Norms hoisted out of the query × corpus fan-out (cosine_pre):
    # bit-identical sims, one dot product per pair.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_n", norm("q_vec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_n", norm("c_vec"))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "c_vec", "q_n", "c_n"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (max
    cosine, ties to the lower cell_id). ``nprobe > 1`` is the
    multi-probe side: a query near a Voronoi boundary also searches the
    runner-up cells, the standard IVF recall lever.

    Zero-shuffle shape: the ``k`` centroids collapse to ONE row holding
    an array of (cell_id, vec, norm) structs, broadcast onto every
    corpus partition; top-``nprobe`` is computed per row with
    higher-order functions (transform → array_sort → slice → explode).
    The corpus — and in particular the embedding payload — never enters
    an exchange, which is what makes this viable at 768-dim × 100 TB
    (the earlier window-over-crossJoin formulation shuffled every
    vector k times)."""
    cents = centroids.select(
        F.struct(
            F.col("cell_id"),
            F.col(vec_col).cast("array<double>").alias("cent_vec"),
            norm(vec_col).alias("cent_norm"),
        ).alias("c")
    ).agg(F.collect_list("c").alias("_cents"))
    # Per-row candidate list, sorted by (sim desc, cell_id asc) via the
    # natural ascending struct order on (-sim, cell_id). The row's own
    # norm is hoisted to a column so it is aggregated ONCE per vector,
    # not once per centroid inside the transform lambda (k× less norm
    # arithmetic per row; bit-identical values).
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (
                        -dot(F.col(vec_col), c.getField("cent_vec"))
                        / (F.col("_vnorm") * c.getField("cent_norm"))
                    ).alias("neg_sim"),
                    c.getField("cell_id").alias("cell_id"),
                ),
            )
        ),
        1,
        nprobe,
    )
    return (
        corpus.withColumn("_vnorm", norm(vec_col))
        .join(F.broadcast(cents))
        .select(F.col(id_col), F.col(vec_col), F.explode(ranked).alias("_top"))
        .select(id_col, vec_col, F.col("_top.cell_id").alias("cell_id"))
    )


def train_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_limit: int = 10_000,
) -> DataFrame:
    """k-means-lite centroid training, all DataFrame ops.

    Seeds are the ``k`` corpus vectors with the smallest seeded hash of
    their id (deterministic, uniform — a cheap stand-in for k-means++
    that needs no driver-side loop), then ``iters`` rounds of
    assign → element-wise mean. Training runs on a hash-chosen sample
    of at most ``sample_limit`` vectors: centroid quality converges
    long before the full corpus is seen, so at 100 TB the training cost
    is constant while assignment stays a full single pass.

    Returns (cell_id, <vec_col>) with ``cell_id`` ∈ [1, k].
    """
    pool = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .orderBy(F.xxhash64(F.lit(42), F.col(id_col)))
        .limit(sample_limit)
    )
    cents = (
        pool.orderBy(F.xxhash64(F.lit(7), F.col(id_col)))
        .limit(k)
        .select(
            F.row_number().over(W.orderBy(id_col)).alias("cell_id"),
            F.col(vec_col),
        )
    )
    for _ in range(iters):
        assigned = assign_cells(pool, cents, id_col, vec_col)
        # Element-wise mean per cell: posexplode → groupBy (cell, pos)
        # avg → re-assemble sorted by position. Shuffles scalar rows of
        # the bounded training sample only.
        cents = (
            assigned.select("cell_id", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias(vec_col)
            )
        )
    return cents


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine ≥ threshold.

    Without ``centroids``: exact all-pairs via a self-join — the
    correctness baseline, O(n²), fixture-scale only (and the form the
    DuckDB oracle reproduces).

    With ``centroids`` (from :func:`train_centroids`): candidates are
    generated only within Voronoi cells — each vector is assigned to
    its ``nprobe`` nearest cells and pairs form inside a cell. Near
    -duplicates (cosine ≥ 0.9) lie close together, so cell-blocking
    keeps recall high while cutting candidates from n² to Σ|cell|²;
    multi-probing recovers pairs that straddle a Voronoi boundary.
    Recall vs the exact baseline is asserted in
    tests/test_similarity.py."""
    # Norms attach per vector BEFORE the pair fan-out (cosine_pre):
    # per-pair work is one dot product instead of dot + two norm
    # re-aggregations — bit-identical values, ~3x less pair arithmetic.
    if centroids is None:
        a = corpus.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        ).withColumn("na", norm("va"))
        b = corpus.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        ).withColumn("nb", norm("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        cells = assign_cells(corpus, centroids, id_col, vec_col, nprobe=nprobe)
        a = cells.select(
            "cell_id", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        ).withColumn("na", norm("va"))
        b = cells.select(
            "cell_id", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        ).withColumn("nb", norm("vb"))
        # multi-probe assigns a vector to several cells; the same pair
        # can meet in more than one — score in-task where the vectors
        # already sit, THEN dedup on the narrow (id_a, id_b, sim) rows.
        # sim is a pure function of the pair, so duplicates are
        # byte-identical and dedup-after ≡ dedup-before; the exchange
        # carries 24-byte rows instead of two embedding vectors.
        pairs = a.join(b, "cell_id").filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.select(
                "id_a",
                "id_b",
                F.round(cosine_pre("va", "vb", "na", "nb"), 4).alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_pre("va", "vb", "na", "nb"), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: probe only the query's ``nprobe``
    nearest Voronoi cells. ``centroids`` is (cell_id, vec) as produced
    by :func:`train_centroids`.

    Returns (query_id, neighbor_id, sim, rank). Recall < 1.0 by design;
    recall@k vs :func:`brute_force_topk` is asserted in
    tests/test_similarity.py.
    """
    cells = assign_cells(corpus, centroids, id_col, vec_col)
    q_cells = (
        assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "cell_id",
        )
        .withColumn("q_n", norm("q_vec"))
    )
    c_cells = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "cell_id",
    ).withColumn("c_n", norm("c_vec"))
    sims = (
        c_cells.join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "c_vec", "q_n", "c_n"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Incremental IVF index: frozen centroids + cell-partitioned vector
# store, so a growing corpus is searchable without ever rebuilding.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IvfAppendResult:
    n_new: int  # vectors actually added (replays add 0)
    n_cells_touched: int
    centroid_version: int


def ivf_index_append(
    new_vectors: DataFrame,
    store,
    centroids: DataFrame | None = None,
    index_table: str = "ivf_cells",
    centroid_table: str = "ivf_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_k: int = 16,
) -> IvfAppendResult:
    """Add a batch of vectors to a persisted IVF index.

    The FIRST call fixes the centroids — either the ``centroids``
    argument (pinned) or :func:`train_centroids` over the first batch
    — and commits them to the versioned store. Every later call
    assigns its batch to those FROZEN centroids (nprobe=1 broadcast,
    zero shuffle of the vectors) and appends id-keyed rows into the
    cell store, laid out as PARTITIONED-BY-cell parquet. Freezing is
    what makes incremental build ≡ one-shot build: assignment depends
    only on (vector, centroids), so the index after any sequence of
    appends equals the index built once over the union — pinned by
    tests/test_similarity.py against the registered one-shot q30.
    (Production IVF systems re-train only on drift, then re-assign in
    one batch job — that is `write_version` of new centroids plus one
    full pass, deliberately out of the hot path.)

    Replay-safe: already-indexed ids are cut up front
    (``store.unseen``), and a batch with nothing new leaves the store
    untouched.
    """
    if store.current_version(centroid_table) is not None:
        cents = store.read_version(centroid_table)
        cv = store.current_version(centroid_table)
    else:
        cents = (
            centroids
            if centroids is not None
            else train_centroids(new_vectors, k=train_k, id_col=id_col, vec_col=vec_col)
        )
        # Committing an EMPTY centroid set (empty/insufficient first
        # batch) would poison the index permanently: every later
        # append assigns against zero frozen cells and silently
        # indexes nothing. Fail loudly instead; the one count() runs
        # only on the very first call.
        if cents.count() == 0:
            raise ValueError(
                "ivf_index_append: first batch produced no centroids "
                "(empty batch?) — seed the index with a non-empty batch "
                "or pass pinned centroids"
            )
        cv = store.write_version(cents, centroid_table)
        cents = store.read_version(centroid_table)
    fresh = store.unseen(new_vectors.select(id_col, vec_col), index_table, id_col)
    assigned = assign_cells(fresh, cents, id_col, vec_col).localCheckpoint(
        eager=True
    )
    n_new = assigned.count()
    if n_new:
        store.append(assigned, index_table, partition_by=["cell_id"])
    n_cells = assigned.select("cell_id").distinct().count() if n_new else 0
    return IvfAppendResult(
        n_new=n_new, n_cells_touched=n_cells, centroid_version=cv
    )


def ivf_index_query(
    store,
    queries: DataFrame,
    index_table: str = "ivf_cells",
    centroid_table: str = "ivf_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k against the PERSISTED index. The
    query set's ``nprobe`` nearest cells are resolved first and pushed
    into the cell-store scan as a LITERAL ``cell_id IN (...)`` filter
    — because the store is partitioned by cell, the scan prunes at
    the DIRECTORY level and only the probed cells' files are ever
    opened (the on-disk realization of IVF's 1/K-of-corpus promise;
    the partition-pruning plan is pinned in tests/test_similarity.py).
    The probed-cell list is O(queries · nprobe) ids — the only
    driver-side materialization."""
    cents = store.read_version(centroid_table)
    q_cells = (
        assign_cells(queries, cents, id_col, vec_col, nprobe=nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "cell_id",
        )
        .withColumn("q_n", norm("q_vec"))
    )
    probed = sorted(
        {r["cell_id"] for r in q_cells.select("cell_id").distinct().collect()}
    )
    cells = store.read(index_table).filter(F.col("cell_id").isin(probed))
    sims = (
        cells.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            "cell_id",
        )
        .withColumn("c_n", norm("c_vec"))
        .join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "c_vec", "q_n", "c_n"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def quantized_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-SQ8: approximate cosine top-k where the CANDIDATE side is
    scored against int8-quantized vectors (q94's per-vector symmetric
    scheme: scale = max|x|, q_i = round(x_i·127/scale)) — the
    memory-bound ANN play. At 100 TB the cell store holds 1 byte per
    dimension plus one scale instead of 8 (4-8× less I/O per probed
    cell); queries stay full-precision, so the only error is the
    candidate quantization (recall@5 vs the float path is asserted in
    tests/test_similarity.py).

    Every step is deterministic — assignment on the ORIGINAL vectors
    (the build side sees them once, at ingest), quantize/dequantize in
    exact dyadic-safe arithmetic (q94's cross-engine discipline), sims
    in fixed index order — so the DuckDB oracle replays the whole
    chain bit-for-bit (q116): an approximate-and-compressed operator
    with an exact correctness gate.
    """
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    cells = assign_cells(c, centroids, id_col, vec_col)
    scale = F.array_max(F.transform(vec_col, F.abs))
    with_scale = cells.withColumn("_scale", scale)
    deq = F.when(
        F.col("_scale") > 0,
        F.transform(
            vec_col,
            lambda x: F.round(x * F.lit(127) / F.col("_scale"))
            .cast("int")  # the stored int8 payload
            .cast("double")
            * F.col("_scale")
            / F.lit(127),
        ),
    ).otherwise(F.transform(vec_col, lambda x: F.lit(0.0)))
    cand = with_scale.select(
        F.col(id_col).alias("neighbor_id"), deq.alias("_deq"), "cell_id"
    ).withColumn("_dn", norm("_deq"))
    q_cells = (
        assign_cells(
            queries.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            centroids,
            id_col,
            vec_col,
            nprobe=nprobe,
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "cell_id",
        )
        .withColumn("q_n", norm("q_vec"))
    )
    sims = (
        cand.join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "_deq", "q_n", "_dn"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def binary_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Binary-quantized cosine top-k: candidates are scored against
    their 1-bit SIGN quantization (the binary-embedding/sign-hash ANN
    tier — 1 bit per dimension, 32× less candidate I/O than float32
    and 8× less than SQ8, the compression used when even a byte per
    dimension doesn't fit). Queries stay full-precision, so
    cosine(q, sign(c)) is asymmetric-distance scoring: it preserves
    direction information up to the per-dimension sign and nothing
    else; recall vs the float path is asserted in
    tests/test_similarity.py, and a production stack reranks the
    top-k' survivors on the full vectors (exactly :func:`brute_force_
    topk` over the shortlist).

    Every step is deterministic — sign() per element, sims rounded,
    ties to the smaller neighbor id — so the q133 DuckDB oracle
    replays the whole chain bit-for-bit. Scale shape: the sign
    transform is in-row; the scan/probe dataflow is
    :func:`brute_force_topk`'s (broadcast queries, per-partition
    partial top-k — compose with the IVF cell routing for the
    1/K-of-corpus form exactly as q116 does for SQ8)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"), lambda x: F.signum(x)
        ).alias("_sgn"),
    ).withColumn("_sn", norm("_sgn"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_n", norm("q_vec"))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "_sgn", "q_n", "_sn"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def binary_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """The production two-stage form of :func:`binary_topk`: the 1-bit
    index produces a ``shortlist``-sized candidate set per query (the
    cheap 32×-compressed scan), then ONLY those candidates are
    re-scored on their full-precision vectors for the final top-k —
    the shortlist-rerank pattern every binary/PQ deployment uses
    (measured here: sign-only recall@5 ≈ 0.36 on the isotropic
    fixture; reranked at shortlist=50 ≈ 0.92).

    Scale shape: stage 1 is the binary scan (in-row sign transform +
    broadcast queries); stage 2 touches |queries| × shortlist rows —
    the (query, candidate) frame stays bounded and broadcasts into a
    single keyed join against the corpus, so full vectors are read
    for the shortlist only. Fully deterministic, so the q134 oracle
    replays both stages bit-for-bit."""
    short = binary_topk(
        corpus, queries, id_col, vec_col, k=shortlist
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    sims = cv.join(
        F.broadcast(short.join(qv, "query_id")), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine("q_vec", "c_vec"), 4).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _codebook_entries(
    codebook: DataFrame, id_col: str, vec_col: str
) -> list[list[float]]:
    """Collect the (bounded, <=256-entry) codebook to literal lists,
    code order = ascending ``id_col`` — the pinned-vectors discipline
    that keeps the PQ chain deterministic and SQL-replayable."""
    rows = sorted(
        codebook.select(id_col, vec_col).collect(), key=lambda r: r[id_col]
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _pq_reconstruction(entries: list[list[float]], m: int, vec: str):
    """In-row PQ encode-then-reconstruct of ``vec`` against literal
    codebook ``entries``: per subspace, the nearest entry's slice by
    L2 (ties to the lower code), concatenated back to full dimension.
    Zero exchanges — the whole chain is whole-stage-codegen column
    expressions (shared by :func:`pq_topk` and :func:`ivf_pq_topk`)."""
    dim = len(entries[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    recon_parts = []
    for s in range(m):
        cb_s = F.array(
            *[
                F.array(*[F.lit(v) for v in e[s * d : (s + 1) * d]])
                for e in entries
            ]
        )
        sub = F.slice(vec, s * d + 1, d)
        dists = F.transform(
            cb_s,
            lambda code: F.aggregate(
                F.zip_with(sub, code, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )
        # first index achieving the min = the LOWEST code on a tie
        code_idx = F.array_position(dists, F.array_min(dists))
        recon_parts.append(F.element_at(cb_s, code_idx.cast("int")))
    return F.flatten(F.array(*recon_parts))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 5,
) -> DataFrame:
    """Product-quantized cosine top-k: each candidate vector is split
    into ``m`` equal subvectors, each subvector replaced by its
    nearest codebook entry's slice (L2, ties to the lower code), and
    the query scored against the RECONSTRUCTION — asymmetric-distance
    PQ, the bottom rung of the compression ladder (here 8 subspaces ×
    16 codes = 4 bits per subspace, 4 bytes/vector: 64× smaller than
    float32, half of even the binary tier; recall degrades
    accordingly — the measured ladder on the isotropic fixture is
    float 1.0 → SQ8 ≈ 0.9 → binary ≈ 0.36 → PQ-4B ≈ 0.22 raw
    recall@5, each recoverable by shortlist-rerank).

    ``codebook`` supplies the K entries as ordinary vectors (rows
    ordered by ``id_col`` define code 0..K-1) — the same
    pinned-vectors discipline as q30/q116's centroids, which is what
    makes the whole chain deterministic and SQL-replayable
    (production trains per-subspace k-means; same mechanics).
    K is bounded (≤256 for byte codes), so the codebook collects to
    literals and BOTH the assignment and the reconstruction run
    in-row — zero extra shuffles over :func:`brute_force_topk`'s
    audited scan."""
    entries = _codebook_entries(codebook, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    cand = c.select(
        "neighbor_id", _pq_reconstruction(entries, m, "_v").alias("_rv")
    ).withColumn("_rn", norm("_rv"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_n", norm("q_vec"))
    sims = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pre("q_vec", "_rv", "q_n", "_rn"), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 20,
) -> DataFrame:
    """IVF-PQ with exact rerank — the production ANN composition
    (the FAISS ``IVFx,PQy`` index shape) assembled from the ladder's
    audited rungs: IVF cell pruning bounds WHICH vectors are touched
    (q30/q116's assign-and-probe), PQ codes bound the BYTES read per
    probed cell (q138's 4-bit-per-subspace reconstruction, 64× smaller
    than float32), and an exact-cosine rerank of the top ``shortlist``
    PQ candidates recovers the recall PQ alone gives up (the q134
    shortlist-rerank lever, measured there: binary 0.36 → reranked
    0.92 recall@5).

    At 100 TB: queries touch ``nprobe``/K of the corpus, read 4 bytes
    per dimension-eighth of it, and fetch FULL vectors only for
    ``shortlist`` rows per query — each stage shrinking the next
    stage's input, no stage rescanning the corpus.

    Every step is deterministic (pinned centroids + pinned codebook,
    ties to the lower id/code, 1e-4-rounded sims ordered with id
    tiebreaks), so the DuckDB oracle (q187) replays the full chain:
    assign → probe → PQ-score → shortlist cut → exact rerank,
    bit-for-bit. Returns (query_id, neighbor_id, sim, rank) with the
    EXACT cosine of the reranked top-k."""
    entries = _codebook_entries(codebook, id_col, vec_col)
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    cells = assign_cells(c, centroids, id_col, vec_col)
    cand = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _pq_reconstruction(entries, m, vec_col).alias("_rv"),
        "cell_id",
    )
    q_cells = (
        assign_cells(
            queries.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            centroids,
            id_col,
            vec_col,
            nprobe=nprobe,
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "cell_id",
        )
        .withColumn("q_n", norm("q_vec"))
    )
    pq_sims = (
        cand.withColumn("_rn", norm("_rv"))
        .withColumn("_vn", norm("_v"))
        .join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_v",
            "_vn",
            "q_vec",
            "q_n",
            F.round(cosine_pre("q_vec", "_rv", "q_n", "_rn"), 4).alias("_pq_sim"),
        )
    )
    ws = W.partitionBy("query_id").orderBy(
        F.desc("_pq_sim"), F.asc("neighbor_id")
    )
    short = pq_sims.withColumn("_srn", F.row_number().over(ws)).filter(
        F.col("_srn") <= shortlist
    )
    rerank = short.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_pre("q_vec", "_v", "q_n", "_vn"), 4).alias("sim"),
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _pq_codes(entries: list[list[float]], m: int, vec: str):
    """In-row PQ ENCODER: the array of per-subspace nearest-code
    indices (1-based, ties to the lower code) — the 4-bit-per-subspace
    payload a codes-only index stores instead of the float vector."""
    dim = len(entries[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    idxs = []
    for s in range(m):
        cb_s = F.array(
            *[
                F.array(*[F.lit(v) for v in e[s * d : (s + 1) * d]])
                for e in entries
            ]
        )
        sub = F.slice(vec, s * d + 1, d)
        dists = F.transform(
            cb_s,
            lambda code: F.aggregate(
                F.zip_with(sub, code, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )
        idxs.append(F.array_position(dists, F.array_min(dists)).cast("int"))
    return F.array(*idxs)


def build_ivf_pq_index(
    corpus: DataFrame,
    store,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    index_table: str = "ivfpq_cells",
    centroid_table: str = "ivfpq_centroids",
    codebook_table: str = "ivfpq_codebook",
) -> int:
    """Materialize (or append to) the codes-only IVF-PQ index: every
    vector stored as (cell_id, vec_id, codes) — ``m`` small ints
    instead of the float array, hive-partitioned by cell so the query
    path prunes at the directory level. Centroids AND codebook are
    PINNED: the first build commits them as versioned tables next to
    the index (codes are meaningless under any other codebook, so
    they travel together); later appends must pass ``None`` and
    encode against the pinned versions — passing new ones against a
    live index raises rather than silently desynchronizing the stored
    codes (re-quantization is a rebuild, the q120 retrain discipline).
    Idempotent on replay via the keyed ``append_new``; a pure replay
    bumps NO versions. Returns the number of vectors encoded.

    This is the 100 TB layout :func:`ivf_pq_topk` computes on the
    fly: at scale the encode happens ONCE at ingest and queries read
    4 bytes/vector-eighth from the probed cells only."""
    pinned = store.current_version(codebook_table) is not None
    if pinned and (centroids is not None or codebook is not None):
        raise ValueError(
            "ivf_pq index already pinned its centroids/codebook — append "
            "with centroids=None/codebook=None, or rebuild under a new "
            "table name to re-quantize"
        )
    if not pinned:
        if centroids is None or codebook is None:
            raise ValueError(
                "first build must supply centroids AND codebook"
            )
        store.write_version(
            centroids.select(
                F.col("cell_id"),
                F.col(vec_col).cast("array<double>").alias(vec_col),
            ),
            centroid_table,
        )
        store.write_version(
            codebook.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias(vec_col),
            ),
            codebook_table,
        )
    cents = store.read_version(centroid_table)
    entries = _codebook_entries(
        store.read_version(codebook_table), id_col, vec_col
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    assigned = assign_cells(c, cents, id_col, vec_col)
    coded = assigned.select(
        id_col, "cell_id", _pq_codes(entries, m, vec_col).alias("codes")
    ).localCheckpoint(eager=True)
    n = coded.count()
    store.append_new(coded, index_table, key=id_col, partition_by=["cell_id"])
    return n


def ivf_pq_index_query(
    store,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 20,
    index_table: str = "ivfpq_cells",
    centroid_table: str = "ivfpq_centroids",
    codebook_table: str = "ivfpq_codebook",
) -> DataFrame:
    """:func:`ivf_pq_topk` answered from the PERSISTED codes-only
    index — result-identical to the on-the-fly operator under the
    same parameters (same assignment, same codes, same ADC score,
    same shortlist cut, same exact rerank), which is what lets the
    q192 oracle be q187's SQL verbatim.

    Read shape: probed cells resolve to a LITERAL ``cell_id IN``
    filter (directory-level pruning on the hive layout — the
    ivf_index_query contract, plan-pinned); ADC reconstruction is an
    in-row ``element_at`` walk over the broadcast-literal codebook;
    only the per-query ``shortlist`` survivors join back to
    ``corpus`` for full-precision rerank — ONE broadcast-keyed pass
    over the corpus frame, never a corpus shuffle."""
    cents = store.read_version(centroid_table)
    entries = _codebook_entries(store.read_version(codebook_table), id_col, vec_col)
    K = len(entries)
    dim = len(entries[0])
    d = dim // m
    # flat literal: slice for (subspace s, code c) at position s*K + c
    flat = F.array(
        *[
            F.array(*[F.lit(v) for v in entries[c][s * d : (s + 1) * d]])
            for s in range(m)
            for c in range(K)
        ]
    )
    q_cells = (
        assign_cells(
            queries.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            cents,
            id_col,
            vec_col,
            nprobe=nprobe,
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "cell_id",
        )
        .withColumn("q_n", norm("q_vec"))
    )
    probed = sorted(
        {r["cell_id"] for r in q_cells.select("cell_id").distinct().collect()}
    )
    cells = store.read(index_table).filter(F.col("cell_id").isin(probed))
    recon = F.flatten(
        F.transform(
            "codes",
            lambda c, i: F.element_at(flat, (i * K + c).cast("int")),
        )
    )
    pq_sims = (
        cells.select(
            F.col(id_col).alias("neighbor_id"), recon.alias("_rv"), "cell_id"
        )
        .withColumn("_rn", norm("_rv"))
        .join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_vec",
            "q_n",
            F.round(cosine_pre("q_vec", "_rv", "q_n", "_rn"), 4).alias("_pq_sim"),
        )
    )
    ws = W.partitionBy("query_id").orderBy(F.desc("_pq_sim"), F.asc("neighbor_id"))
    short = pq_sims.withColumn("_srn", F.row_number().over(ws)).filter(
        F.col("_srn") <= shortlist
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_vn", norm("_v"))
    rerank = full.join(F.broadcast(short), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_pre("q_vec", "_v", "q_n", "_vn"), 4).alias("sim"),
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Incremental EMBEDDING near-dup dedup (the SemDeDup shape): drop a
# new vector if a smaller-id vector already in the corpus — or earlier
# in the same batch — is within cosine tau of it. The missing member
# of the incremental dedup family (text: operators/dedup.py q103;
# exact binary: operators/multimodal.py q108; vectors: this).
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IncrementalEmbeddingDedupResult:
    kept: DataFrame
    n_new: int  # fresh (never-indexed) vectors in this batch
    n_dup_vs_history: int  # fresh vectors dominated by an indexed one
    n_dup_within: int  # fresh vectors dominated only within the batch
    n_indexed_total: int  # vectors in the persisted cell index afterwards
    index_delta: DataFrame | None = None  # only with commit=False


def incremental_embedding_dedup(
    new_vectors: DataFrame,
    store,
    centroids: DataFrame | None = None,
    index_table: str = "semdedup_cells",
    centroid_table: str = "ivf_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.9,
    nprobe: int = 4,
    train_k: int = 16,
    commit: bool = True,
) -> IncrementalEmbeddingDedupResult:
    """Dedup a NEW batch of embeddings against the full historical
    corpus without rescanning it: history is consulted only through the
    persisted cell-partitioned vector index (the q104 IVF store layout)
    under FROZEN centroids.

    Semantics — the order-free dominated rule, cell-blocked: vector
    ``b`` is dropped iff some vector ``a`` with a smaller id satisfies
    ``round(cosine(a, b), 4) >= tau`` AND ``a``'s HOME cell (its single
    nearest centroid) is among ``b``'s ``nprobe`` nearest cells.
    Because centroids are frozen, home(a) and probe(b) are pure
    functions of the vectors — so the pair predicate is independent of
    batch boundaries, and batch-by-batch processing is EXACTLY
    equivalent to one global pass over the concatenated corpus (the
    q103 argument, with cell-blocking playing the role of band
    buckets). Oracle-checked by q110 against a DuckDB global replay;
    monotone ids across batches are the contract, as everywhere in the
    incremental family (reference: etl_pipeline.py:125-132 consumes
    strictly-new rows; the dormant ``VECTOR(768)`` column,
    sql/01_schema.sql:95, is the reference's declared-but-never-built
    intent this operator realizes).

    Like the text twin, the index retains EVERY fresh vector — kept
    and dropped — because domination is by any smaller-id vector, not
    only survivors (a flood of mutual near-dups must still collapse to
    its single smallest id in later batches).

    Scale shape: the batch is assigned to cells by broadcasting the
    ≤``train_k`` centroids (zero shuffle of vectors); history enters
    only through the probed cells — a literal ``cell_id IN (...)``
    filter on the cell-PARTITIONED store, i.e. directory-level pruning
    (the ivf_index_query path) — and the only joins are cell equi-joins
    with the O(batch) side broadcast under AQE. Commits are O(batch)
    appends of the unseen ids into partition directories.
    ``commit=False`` returns the home-cell assignment delta instead of
    writing it, so a crash-safe caller can order its sink write first
    (the dedup_stream discipline).

    Replay-safe: already-indexed ids are filtered out up front — a
    replayed batch keeps nothing and writes nothing."""
    if store.current_version(centroid_table) is not None:
        cents = store.read_version(centroid_table)
    else:
        cents = (
            centroids
            if centroids is not None
            else train_centroids(
                new_vectors, k=train_k, id_col=id_col, vec_col=vec_col
            )
        )
        if cents.count() == 0:
            raise ValueError(
                "incremental_embedding_dedup: first batch produced no "
                "centroids (empty batch?) — seed with a non-empty batch "
                "or pass pinned centroids"
            )
        store.write_version(cents, centroid_table)
        cents = store.read_version(centroid_table)
    have_index = store.exists(index_table)
    n_indexed = store.count(index_table) if have_index else 0
    fresh = store.unseen(new_vectors.select(id_col, vec_col), index_table, id_col)
    # Pin the fresh slice ONCE: home and probe assignments both derive
    # from it without re-running the index anti-join (the assignments
    # themselves are broadcast HOF projections — free to recompute).
    fresh = fresh.localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new == 0:
        return IncrementalEmbeddingDedupResult(
            kept=new_vectors.limit(0),
            n_new=0,
            n_dup_vs_history=0,
            n_dup_within=0,
            n_indexed_total=n_indexed,
        )
    home = assign_cells(fresh, cents, id_col, vec_col, nprobe=1)
    probe = assign_cells(fresh, cents, id_col, vec_col, nprobe=nprobe)
    # Norms are attached per VECTOR before any pair fan-out
    # (cosine_pre): the per-pair work drops to one dot product, and the
    # b-side norm is computed once and shipped inside the broadcast.
    b_side = probe.select(
        "cell_id", F.col(id_col).alias("_id_b"), F.col(vec_col).alias("_vb")
    ).withColumn("_nb", norm("_vb"))
    within = (
        home.select(
            "cell_id", F.col(id_col).alias("_id_a"), F.col(vec_col).alias("_va")
        )
        .withColumn("_na", norm("_va"))
        .join(b_side, "cell_id")
    )
    cand = within.select("_id_a", "_va", "_na", "_id_b", "_vb", "_nb").withColumn(
        "_h", F.lit(0)
    )
    if have_index:
        # O(distinct probed cells) ≤ train_k driver-side ids — the
        # literal filter that prunes the partitioned store's scan to
        # the probed directories (ivf_index_query's trick).
        probed = sorted(
            {r["cell_id"] for r in b_side.select("cell_id").distinct().collect()}
        )
        hist = store.read(index_table).filter(F.col("cell_id").isin(probed))
        cross = hist.select(
            "cell_id", F.col(id_col).alias("_id_a"), F.col(vec_col).alias("_va")
        ).withColumn("_na", norm("_va")).join(F.broadcast(b_side), "cell_id")
        cand = cand.unionByName(
            cross.select("_id_a", "_va", "_na", "_id_b", "_vb", "_nb").withColumn(
                "_h", F.lit(1)
            )
        )
    dropped = (
        cand.filter(F.col("_id_a") < F.col("_id_b"))
        # Score in-task where the vectors already sit; the groupBy max
        # below collapses multi-probe duplicate pairs by itself, so the
        # former dropDuplicates exchange — which shuffled BOTH embedding
        # vectors per candidate row just to dedup — is redundant: after
        # the filter only (_id_b, _h) ever crosses an exchange.
        .filter(F.round(cosine_pre("_va", "_vb", "_na", "_nb"), 4) >= tau)
        .groupBy(F.col("_id_b").alias(id_col))
        .agg(F.max("_h").alias("_h"))
        .localCheckpoint(eager=True)
    )
    tallies = dropped.agg(
        F.coalesce(F.sum("_h"), F.lit(0)).alias("nh"),
        F.count(F.lit(1)).alias("nd"),
    ).first()
    n_hist = int(tallies["nh"])
    n_within = int(tallies["nd"]) - n_hist
    kept = new_vectors.join(fresh.select(id_col), id_col, "left_semi").join(
        dropped.select(id_col), id_col, "left_anti"
    )
    if commit:
        store.append(home, index_table, partition_by=["cell_id"])
        return IncrementalEmbeddingDedupResult(
            kept=kept,
            n_new=n_new,
            n_dup_vs_history=n_hist,
            n_dup_within=n_within,
            n_indexed_total=n_indexed + n_new,
        )
    return IncrementalEmbeddingDedupResult(
        kept=kept,
        n_new=n_new,
        n_dup_vs_history=n_hist,
        n_dup_within=n_within,
        n_indexed_total=n_indexed,
        index_delta=home,
    )


def ivf_index_retrain(
    store,
    k: int = 16,
    index_table: str = "ivf_cells",
    centroid_table: str = "ivf_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    sample_limit: int = 10_000,
    centroids: DataFrame | None = None,
) -> int:
    """The out-of-hot-path centroid MIGRATION for a drifted index:
    train fresh centroids from the indexed vectors (bounded sample —
    :func:`train_centroids`), commit them as the next centroid
    version, and re-assign EVERY stored vector to the new cells in one
    batch job. Appends stay cheap forever (nprobe=1 against frozen
    centroids); this is the one deliberate O(index) pass, run on
    drift, never per batch.

    Re-read-then-overwrite of the same parquet path requires pinning
    the reassigned rows first (localCheckpoint) — the same self-
    overwrite discipline as Store.merge_upsert. At real scale prefer
    writing to a fresh table + pointer swap; the single-table form
    keeps the registered query surface simple and the semantics
    identical. Returns the new centroid version; time travel to the
    old version still replays the old assignment rule via
    ``read_version(centroid_table, old)``.

    ``centroids`` pins the new centroid set instead of training one —
    for deterministic tests/oracles and for externally-trained
    codebooks; the commit + full re-assign mechanics are identical.
    Under a :func:`ivf_index_maintain`-managed index, call maintain
    (whose drift gate triggers this) rather than this directly, so the
    assignment marker and reference profile stay in step.
    """
    vectors = store.read(index_table).select(id_col, vec_col)
    cents = centroids if centroids is not None else train_centroids(
        vectors,
        k=k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_limit=sample_limit,
    )
    version = store.write_version(cents, centroid_table)
    reassigned = assign_cells(
        vectors, store.read_version(centroid_table), id_col, vec_col
    ).localCheckpoint(eager=True)
    store.overwrite(reassigned, index_table, partition_by=["cell_id"])
    return version


# ---------------------------------------------------------------------------
# IVF lifecycle: drift-gated retrain (VERDICT r06 Next #5). q113
# computes the PSI alarm and ivf_index_retrain performs the migration;
# this operator CONNECTS them — one call per intake fold that appends,
# evaluates the gate, and (claimed, crash-convergent) retrains when it
# fires.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class IvfMaintainResult:
    append: IvfAppendResult
    psi: float | None  # None on the seeding fold / empty batch
    retrained: bool
    healed: bool  # True if a crashed migration was completed first
    centroid_version: int


def _ivf_cell_histogram(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str, cnt: str
) -> DataFrame:
    """(cell_id, <cnt>) histogram of ``vectors`` under frozen ``cents``
    — one broadcast assignment pass, one <=K-row aggregate."""
    return (
        assign_cells(vectors, cents, id_col, vec_col, nprobe=1)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias(cnt))
    )


def _ivf_rebaseline(
    store,
    index_table: str,
    centroid_table: str,
    profile_table: str,
    meta_table: str,
    id_col: str,
    vec_col: str,
) -> None:
    """Re-assign the FULL index to the CURRENT centroids (idempotent —
    assignment is a pure function of the vector), refresh the
    reference cell profile to the new regime, and finally commit the
    assignment marker. This exact order makes every crash window
    re-enter here and converge: the marker is the LAST write, so a
    crash anywhere before it leaves the marker stale and the next
    maintain call repeats the (idempotent) steps."""
    cents = store.read_version(centroid_table)
    reassigned = assign_cells(
        store.read(index_table).select(id_col, vec_col), cents, id_col, vec_col
    ).localCheckpoint(eager=True)
    store.overwrite(reassigned, index_table, partition_by=["cell_id"])
    _ivf_commit_profile_and_marker(
        store, index_table, centroid_table, profile_table, meta_table
    )


def _ivf_commit_profile_and_marker(
    store, index_table: str, centroid_table: str, profile_table: str,
    meta_table: str,
) -> None:
    """Refresh the reference profile to the full-index histogram of the
    current assignment, then commit the assignment marker LAST (the
    migration-complete commit point)."""
    profile = (
        store.read(index_table)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("c_ref"))
    )
    store.write_version(profile, profile_table)
    marker = profile.sparkSession.createDataFrame(
        [(store.current_version(centroid_table),)], "centroid_version int"
    )
    store.write_version(marker, meta_table)


def _ivf_marker_version(store, meta_table: str) -> int | None:
    if store.current_version(meta_table) is None:
        return None
    return store.read_version(meta_table).first()["centroid_version"]


def ivf_index_maintain(
    new_vectors: DataFrame,
    store,
    centroids: DataFrame | None = None,
    index_table: str = "ivf_cells",
    centroid_table: str = "ivf_centroids",
    profile_table: str = "ivf_cell_profile",
    meta_table: str = "ivf_assign_meta",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_k: int = 16,
    psi_threshold: float = 0.25,
    retrain_k: int | None = None,
    retrain_centroids: DataFrame | None = None,
    retrain_iters: int = 2,
    retrain_sample_limit: int = 10_000,
) -> IvfMaintainResult:
    """The IVF index LIFECYCLE as one per-fold call: heal any crashed
    migration, append the batch (:func:`ivf_index_append`), evaluate
    the cell-histogram PSI drift gate against the pinned reference
    profile, and — when the gate alarms — run the one deliberate
    O(index) migration (:func:`ivf_index_retrain`) and re-baseline.

    Gate semantics (q113's statistic, maintained): the reference
    profile is the SEEDING fold's cell histogram, committed as a
    versioned snapshot; each later fold's incoming batch is assigned
    under the frozen centroids (broadcast, zero vector shuffle) and its
    ≤K-row histogram is PSI-compared against the profile
    (operators/drift.py fixed-point fold). PSI > ``psi_threshold``
    triggers the retrain; afterwards the profile is refreshed to the
    post-retrain full-index histogram, so the gate measures drift
    against the NEW regime and a calm fold after a migration does not
    re-alarm.

    Crash convergence: the retrain path writes, in order, (1) the new
    centroid snapshot (CAS-claimed ``write_version`` — a racing writer
    raises), (2) the re-assigned cell store, (3) the refreshed
    profile, (4) the assignment MARKER (``meta_table``, recording the
    centroid version the index is assigned under). The marker is the
    single source of truth for "migration complete": any crash between
    (1) and (4) leaves marker ≠ current centroid version, and the next
    maintain call re-enters :func:`_ivf_rebaseline` — every step of
    which is idempotent (assignment is a pure function of the vector)
    — before touching the batch. Appends never interleave with a
    half-done migration.

    At 100 TB: the per-fold cost is the append's broadcast assignment
    plus two bounded aggregates (≤K-row histograms); the O(index)
    re-assign runs only when the gate fires — the drift signal is what
    SCHEDULES the expensive pass, never the fold itself.
    """
    healed = False
    cv = store.current_version(centroid_table)
    if (
        cv is not None
        and store.exists(index_table)
        and _ivf_marker_version(store, meta_table) != cv
    ):
        # a previous migration (or a direct ivf_index_retrain call)
        # crashed or bypassed the marker — complete it first
        _ivf_rebaseline(
            store, index_table, centroid_table, profile_table, meta_table,
            id_col, vec_col,
        )
        healed = True
    seeding = store.current_version(profile_table) is None
    appended = ivf_index_append(
        new_vectors,
        store,
        centroids=centroids,
        index_table=index_table,
        centroid_table=centroid_table,
        id_col=id_col,
        vec_col=vec_col,
        train_k=train_k,
    )
    cents = store.read_version(centroid_table)
    cur_hist = _ivf_cell_histogram(
        new_vectors.select(id_col, vec_col), cents, id_col, vec_col, "c_cur"
    ).localCheckpoint(eager=True)
    if seeding:
        # first fold defines the reference regime; marker pins the
        # seed centroids as the assignment version
        store.write_version(
            cur_hist.withColumnRenamed("c_cur", "c_ref"), profile_table
        )
        marker = new_vectors.sparkSession.createDataFrame(
            [(store.current_version(centroid_table),)], "centroid_version int"
        )
        store.write_version(marker, meta_table)
        return IvfMaintainResult(
            append=appended, psi=None, retrained=False, healed=healed,
            centroid_version=appended.centroid_version,
        )
    if cur_hist.limit(1).count() == 0:  # empty batch: nothing to gate
        return IvfMaintainResult(
            append=appended, psi=None, retrained=False, healed=healed,
            centroid_version=store.current_version(centroid_table),
        )
    per_bucket = (
        store.read_version(profile_table)
        .join(cur_hist, "cell_id", "full_outer")
        .select(
            F.lit("embedding_cell").alias("column_name"),
            F.col("cell_id").cast("string").alias("bucket"),
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
    )
    from .drift import psi_from_bucket_counts

    psi = float(psi_from_bucket_counts(per_bucket).first()["psi"])
    retrained = False
    if psi > psi_threshold:
        ivf_index_retrain(
            store,
            k=retrain_k if retrain_k is not None else train_k,
            index_table=index_table,
            centroid_table=centroid_table,
            id_col=id_col,
            vec_col=vec_col,
            iters=retrain_iters,
            sample_limit=retrain_sample_limit,
            centroids=retrain_centroids,
        )
        # retrain already re-assigned the store; commit the new-regime
        # profile and then the marker (same crash-convergent order as
        # the heal path — a crash before the marker re-enters
        # _ivf_rebaseline, whose re-assign is an idempotent no-op)
        _ivf_commit_profile_and_marker(
            store, index_table, centroid_table, profile_table, meta_table
        )
        retrained = True
    return IvfMaintainResult(
        append=appended,
        psi=psi,
        retrained=retrained,
        healed=healed,
        centroid_version=store.current_version(centroid_table),
    )


def forget_vectors(
    store,
    ids: DataFrame,
    id_col: str = "vec_id",
    index_table: str = "ivf_cells",
    kept_table: str = "embdedup_kept_vecs",
    semdedup_table: str = "semdedup_cells",
    semantic_flags_table: str = "semantic_decontam_flags",
    ivfpq_table: str = "ivfpq_cells",
    ivfpq_codebook_table: str = "ivfpq_codebook",
    profile_table: str = "ivf_cell_profile",
    vacuum: bool = True,
) -> dict[str, int | None]:
    """Right-to-be-forgotten for the VECTOR family — the text-side
    :func:`~..operators.dedup.forget_documents` for embeddings
    ("forget this user's embeddings" is THE delete use-case for a
    vector store): one call purges a vec-id set from the streaming
    kept sink, the IVF cell index, the SemDeDup cell index, and the
    semantic-decontamination flags sink and the IVF-PQ codes index (whose rows carry the vec id
    AND its nearest-benchmark score — derived data the id's owner is
    entitled to have erased; the benchmark index itself is NOT corpus
    data and is untouched — forgetting corpus vectors never rewrites
    the release's benchmark snapshot), then
    re-baselines the maintain gate's reference profile to the
    post-delete histogram so the next intake fold is judged against
    the corpus that actually remains (without it, a large deletion
    reads as drift and trips a pointless retrain).

    Deletions use :meth:`Store.delete_keys` — partition-preserving on
    the hive-partitioned cell stores, so ``ivf_index_query``'s
    directory-level pruning survives the purge. The assignment marker
    is untouched: deletion changes WHICH vectors are indexed, never
    the frozen assignment rule, so no re-assign is needed or run.
    With ``vacuum=True`` versioned tables are vacuumed to current and
    the purge is physical. Returns {table: new version or None}.

    PINNED-CODEBOOK EXCEPTION (the benchmark-snapshot note's twin):
    the IVF-PQ codebook (:func:`build_ivf_pq_index`) pins RAW corpus
    embeddings keyed by vec_id — deleting a codebook member's CODES
    from ``ivfpq_table`` does not erase the full-precision embedding
    the codebook itself carries, and rewriting the codebook would
    desynchronize every stored code. This function therefore RAISES
    when any requested id is a pinned codebook entry: honoring that
    forget requires a re-quantizing rebuild (build the IVF-PQ index
    under a fresh table name with a codebook sampled from the
    survivors, then drop the old one), after which the retry
    succeeds. The compliance auditor's vec_id sweep independently
    flags any codebook row that survives a forget.
    """
    ids = ids.select(id_col).distinct().localCheckpoint(eager=True)
    if store.current_version(ivfpq_codebook_table) is not None:
        pinned_hits = (
            store.read_version(ivfpq_codebook_table)
            .select(id_col)
            .join(ids, id_col, "left_semi")
            .count()
        )
        if pinned_hits:
            raise ValueError(
                f"{pinned_hits} requested id(s) are pinned entries of "
                f"{ivfpq_codebook_table}: their raw embeddings are part "
                "of the IVF-PQ codebook and cannot be erased by deleting "
                "codes. Re-quantize first — rebuild the IVF-PQ index "
                "under a fresh codebook sampled from the survivors — "
                "then retry the forget."
            )
    touched: dict[str, int | None] = {}
    for table in (
        kept_table,
        index_table,
        semdedup_table,
        semantic_flags_table,
        ivfpq_table,
    ):
        if not (
            store.exists(table) or store.current_version(table) is not None
        ):
            continue
        touched[table] = store.delete_keys(table, ids, id_col, pinned=True)
        if vacuum and store.current_version(table) is not None:
            store.vacuum_versions(table, keep_last=1)
    if (
        store.current_version(profile_table) is not None
        and store.exists(index_table)
    ):
        profile = (
            store.read(index_table)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("c_ref"))
            .localCheckpoint(eager=True)
        )
        touched[profile_table] = store.write_version(profile, profile_table)
        if vacuum:
            store.vacuum_versions(profile_table, keep_last=1)
    return touched


# ---------------------------------------------------------------------------
# Semantic (embedding-based) benchmark decontamination: the vector
# member of the decontamination family. q66/q123 catch VERBATIM
# overlap through n-gram shingles; paraphrased or lightly-rewritten
# eval material shares no 5-gram but still embeds next to its source,
# which is why modern pretraining hygiene (e.g. the phi/Llama eval-
# contamination reports) adds an embedding-similarity screen against
# the benchmark suite. The held-out set is FIXED between releases, so
# each vector's verdict is a pure function of (vector, benchmark) —
# the exact property that made q123 trivially incremental.
# ---------------------------------------------------------------------------
def semantic_decontamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
) -> DataFrame:
    """Flag every corpus vector whose max cosine similarity to ANY
    benchmark vector reaches ``tau``. Returns
    ``(id_col, max_bench_sim, contaminated)`` — one row per corpus
    vector; ``max_bench_sim`` is NULL (and ``contaminated`` false)
    when the benchmark set is empty.

    Engine-exact: each pair's cosine is rounded to 4 decimals BEFORE
    the max (the q47 discipline — round-then-compare is the operation
    DuckDB reproduces bit-identically), and max over a fixed set is
    order-free.

    Scale shape: eval suites are small (10^3–10^5 vectors), so the
    benchmark side BROADCASTS and the corpus is read exactly once —
    the fan-out from the nested-loop join collapses in-task via
    partial aggregation (each corpus row's candidate group is local),
    so the only exchange carries one (id, max) row per corpus vector.
    A benchmark too large to broadcast would reuse the SemDeDup
    cell-blocking instead (incremental_embedding_dedup's shape) at the
    cost of approximate recall; this operator keeps the exact
    semantics the oracle can replay."""
    # Norms hoisted out of the fan-out: the benchmark norm is computed
    # once per bench vector INSIDE the broadcast, the corpus norm once
    # per corpus row — each of the |corpus|×|bench| pairs then costs a
    # single dot product (bit-identical values, see cosine_pre).
    b = F.broadcast(
        bench.select(F.col(vec_col).alias("_bv")).withColumn("_bn", norm("_bv"))
    )
    sims = (
        corpus.select(id_col, vec_col)
        .withColumn("_cn", norm(vec_col))
        .crossJoin(b)
        .groupBy(id_col)
        .agg(
            F.max(F.round(cosine_pre(vec_col, "_bv", "_cn", "_bn"), 4)).alias(
                "_m"
            )
        )
    )
    return (
        corpus.select(id_col)
        .join(sims, id_col, "left")
        .select(
            id_col,
            F.col("_m").alias("max_bench_sim"),
            F.coalesce(F.col("_m") >= tau, F.lit(False)).alias("contaminated"),
        )
    )


def seed_semantic_benchmark(
    store,
    bench_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_table: str = "semantic_bench",
) -> int:
    """Commit the benchmark suite's embeddings as the semantic
    decontamination index — run once per benchmark release (the
    seed_benchmark_index twin for vectors). The index is tiny and
    re-seeding is an idempotent overwrite via the versioned store;
    the id rides along for auditability."""
    return store.write_version(
        bench_vectors.select(id_col, vec_col), index_table
    )


def incremental_semantic_decontamination(
    new_vectors: DataFrame,
    store,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
    index_table: str = "semantic_bench",
    flags_table: str = "semantic_decontam_flags",
) -> DataFrame:
    """Score each NEW batch of embeddings against the persisted
    benchmark index — :func:`semantic_decontamination` moved to where
    it belongs at 100 TB: intake time, per batch, instead of a global
    pass after the corpus is assembled (the q123 argument, verbatim:
    the benchmark is immutable between releases, so each verdict is a
    pure function of (vector, index) and batch-by-batch ≡ global).

    Replay-safe with a SINGLE commit: the flags sink doubles as the
    watermark (already-flagged ids are cut up front by
    ``store.unseen``) — there is no second state table to get out of
    step with, so there is NO crash window. Returns the batch's flag
    rows.

    Scale shape: one broadcast of the benchmark index per fold, one
    pass over the batch, one O(batch) append. History vectors
    are never touched."""
    bench = store.read_version(index_table)
    fresh = store.unseen(new_vectors.select(id_col, vec_col), flags_table, id_col)
    flags = semantic_decontamination(
        fresh, bench, id_col, vec_col, tau
    ).localCheckpoint(eager=True)
    store.append(flags, flags_table)
    return flags
