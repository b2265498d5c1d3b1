"""Similarity-search tests: exact correctness of brute-force top-k on a
hand-computable corpus, and IVF recall@k against brute force — on
clustered synthetic data (IVF's design case) and on the driver's
isotropic sf0.01 embeddings fixture (IVF's worst case, the
configuration q30 ships with).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
    train_centroids,
)
from efiche_data_pipeline_spark.sources.catalog import load_table

from .conftest import SF_DIR, crash_once


def test_brute_force_topk_exact_ordering(spark):
    """2-d corpus with analytically known cosine ordering against the
    single query (1, 0)."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.1]),   # cos ≈ 0.995
            (3, [1.0, 1.0]),   # cos ≈ 0.7071
            (4, [0.0, 1.0]),   # cos = 0
            (5, [-1.0, 0.1]),  # cos ≈ -0.995
        ],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 1)
    out = brute_force_topk(corpus, queries, "vec_id", "embedding", k=3).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(2, 1), (3, 2), (4, 3)]
    sims = {r.neighbor_id: r.sim for r in out}
    assert sims[2] == round(1.0 / math.sqrt(1.01), 4)
    assert sims[3] == round(1.0 / math.sqrt(2.0), 4)
    assert sims[4] == 0.0


@pytest.fixture(scope="module")
def clustered(spark):
    """20 well-separated clusters × 25 members in 8-d: cluster c lives
    on axis-pair (c%8, (c+3)%8) with small deterministic jitter."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    vid = 0
    for c in range(20):
        base = np.zeros(8)
        base[c % 8] = 1.0
        base[(c + 3) % 8] = 0.5 if c < 8 else -0.5
        for _ in range(25):
            v = base + rng.normal(0, 0.05, 8)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>"
    )


def test_ivf_recall_on_clustered_data(clustered):
    """On clustered data (IVF's design case) a small nprobe already
    recovers ≥0.9 of brute-force top-5."""
    queries = clustered.filter(F.col("vec_id") % 25 == 0)  # one per cluster
    bf = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(clustered, queries, k=5).collect()
    }
    cents = train_centroids(clustered, k=20, iters=2)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(clustered, queries, cents, k=5, nprobe=2).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.9, f"clustered-data recall {recall}"


def test_ivf_multiprobe_improves_recall(clustered):
    """nprobe is a monotone recall lever: more probed cells can only
    add candidates."""
    queries = clustered.filter(F.col("vec_id") % 125 == 0)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(clustered, queries, k=5).collect()
    }
    cents = train_centroids(clustered, k=20, iters=2)

    def recall(nprobe: int) -> float:
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(clustered, queries, cents, k=5, nprobe=nprobe).collect()
        }
        return len(bf & ivf) / len(bf)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.9


def test_cosine_neardup_blocked_recall(clustered):
    """Cell-blocked near-dup pairs recover ≥0.9 of the exact pairs on
    clustered data (near-dups are intra-cluster by construction), at a
    fraction of the n² candidate count."""
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(clustered, threshold=0.9).collect()
    }
    assert exact  # jittered cluster members are near-dups of each other
    cents = train_centroids(clustered, k=20, iters=2)
    blocked = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(
            clustered, threshold=0.9, centroids=cents, nprobe=2
        ).collect()
    }
    assert blocked <= exact  # blocking only removes candidates
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, f"blocked near-dup recall {recall}"


def test_ivf_recall_on_fixture_embeddings(spark):
    """The q30 shipping configuration (k=16, iters=3, nprobe=8) clears
    recall@5 ≥ 0.8 against brute force on the sf0.01 embeddings — the
    isotropic worst case, hence the large nprobe."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    cents = train_centroids(emb, k=16, iters=3)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, cents, k=5, nprobe=8).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.8, f"fixture recall@5 {recall}"


def test_incremental_ivf_equals_oneshot_and_replays_safely(spark, tmp_path):
    """Appending in two batches under frozen centroids must yield the
    EXACT q30 one-shot result; replaying a batch adds nothing; the
    centroid version never moves after the first append."""
    from efiche_data_pipeline_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_query,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store
    from efiche_data_pipeline_spark.plans.registry import QUERIES

    from .conftest import SMOKE_SF_DIR

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    split = (int(lo) + int(hi)) // 2
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    store = Store(spark, str(tmp_path / "ivf"))
    b1 = emb.filter(F.col("vec_id") <= split)
    r1 = ivf_index_append(b1, store, centroids=pinned)
    r2 = ivf_index_append(emb.filter(F.col("vec_id") > split), store)
    assert r1.n_new + r2.n_new == emb.count()
    assert r2.centroid_version == r1.centroid_version
    replay = ivf_index_append(b1, store)
    assert replay.n_new == 0
    assert store.read("ivf_cells").count() == emb.count()

    got = sorted(
        map(
            tuple,
            ivf_index_query(
                store, emb.filter(F.col("vec_id") < 10), k=5, nprobe=8
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, QUERIES["q30_knn_ivf"](spark, SMOKE_SF_DIR).collect())
    )
    assert got == want


def test_ivf_index_query_prunes_partitions(spark, tmp_path):
    """The probed cell_id IN (...) literal must reach the cell store
    as a PARTITION filter (directory-level pruning — the on-disk
    1/K-of-corpus promise), not a post-scan row filter."""
    from efiche_data_pipeline_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_query,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    from .conftest import SMOKE_SF_DIR

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    store = Store(spark, str(tmp_path / "ivf"))
    ivf_index_append(emb, store, centroids=pinned)
    df = ivf_index_query(store, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cell store is the only partitioned scan in the plan; its
    # FileScan must carry the probed cells as a PARTITION filter
    # (plan paths are truncated, so match the filter text itself)
    assert "PartitionFilters: [cell_id" in plan, plan


def test_ivf_index_retrain_migrates_and_queries_match_fresh_build(spark, tmp_path):
    """After retrain: centroid version bumps, every vector survives the
    migration, and querying the migrated index equals a from-scratch
    ivf_topk under the NEW centroids."""
    from efiche_data_pipeline_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_query,
        ivf_index_retrain,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    from .conftest import SMOKE_SF_DIR

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    store = Store(spark, str(tmp_path / "ivf"))
    r1 = ivf_index_append(emb, store, centroids=pinned)
    v2 = ivf_index_retrain(store, k=8)
    assert v2 > r1.centroid_version
    cells = store.read("ivf_cells")
    assert cells.count() == emb.count()
    assert cells.select("cell_id").distinct().count() <= 8
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        map(tuple, ivf_index_query(store, queries, k=5, nprobe=3).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_topk(
                emb,
                queries,
                store.read_version("ivf_centroids"),
                k=5,
                nprobe=3,
            ).collect(),
        )
    )
    assert got == want
    # post-retrain appends keep working against the NEW centroids
    assert ivf_index_append(emb, store).n_new == 0  # replay: all indexed


def test_ivf_empty_first_batch_rejected(spark, tmp_path):
    """An empty first batch must raise instead of committing EMPTY
    frozen centroids that would silently index nothing forever."""
    from efiche_data_pipeline_spark.operators.similarity import ivf_index_append
    from efiche_data_pipeline_spark.pipeline.store import Store

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    store = Store(spark, str(tmp_path / "ivf"))
    with pytest.raises(ValueError, match="no centroids"):
        ivf_index_append(empty, store)
    assert store.current_version("ivf_centroids") is None
    # but an empty batch AFTER a healthy seed is a clean no-op
    seeded = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    r1 = ivf_index_append(seeded, store, train_k=4)
    r2 = ivf_index_append(empty, store)
    assert r1.n_new == 20 and r2.n_new == 0
    assert r2.centroid_version == r1.centroid_version


# ---------------------------------------------------------------------------
# Incremental EMBEDDING near-dup dedup (SemDeDup shape) — the
# operator-level properties beyond the q110 oracle differential.
# ---------------------------------------------------------------------------
def _emb_centroids(clustered):
    """Pinned frozen centroids: one member per planted cluster."""
    return clustered.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25 + 1).cast("int").alias("cell_id"), "embedding"
    )


def _run_emb_dedup(spark, clustered, tmp_path, name, splits, tau=0.9, nprobe=2):
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / name))
    cents = _emb_centroids(clustered)
    kept = set()
    results = []
    for lo, hi in splits:
        r = incremental_embedding_dedup(
            clustered.filter(F.col("vec_id").between(lo, hi)).select(
                "vec_id", "embedding"
            ),
            store,
            centroids=cents,
            tau=tau,
            nprobe=nprobe,
        )
        kept |= {row["vec_id"] for row in r.kept.collect()}
        results.append(r)
    return kept, results, store


def test_incremental_embedding_two_batch_equals_oneshot(spark, clustered, tmp_path):
    """The dominated rule is order-free under frozen centroids: any
    batching of the corpus must keep exactly the one-shot run's
    survivors (the q103 merge-closure argument for vectors)."""
    one, _, _ = _run_emb_dedup(spark, clustered, tmp_path, "one", [(0, 499)])
    two, res2, _ = _run_emb_dedup(
        spark, clustered, tmp_path, "two", [(0, 249), (250, 499)]
    )
    three, _, _ = _run_emb_dedup(
        spark, clustered, tmp_path, "three", [(0, 99), (100, 399), (400, 499)]
    )
    assert one == two == three
    # planted shape: each cluster collapses toward its smallest ids,
    # and batch 2 sees real cross-history domination
    assert len(one) < 500
    assert res2[1].n_dup_vs_history > 0


def test_incremental_embedding_replay_noop(spark, clustered, tmp_path):
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )

    kept, res, store = _run_emb_dedup(
        spark, clustered, tmp_path, "rp", [(0, 249), (250, 499)]
    )
    n_before = res[-1].n_indexed_total
    replay = incremental_embedding_dedup(
        clustered.filter(F.col("vec_id") > 249).select("vec_id", "embedding"),
        store,
        tau=0.9,
        nprobe=2,
    )
    assert replay.n_new == 0 and replay.kept.count() == 0
    assert replay.n_indexed_total == n_before == 500


def test_incremental_embedding_dropped_still_dominates(spark, tmp_path):
    """v1 is dropped as a dup of v0; v2 (next batch) is near BOTH.
    The dominated rule drops v2 regardless of v1's fate — requires the
    index to retain dropped vectors."""
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    base = [1.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0]
    nearer = [0.998, 0.02, 0.0]
    far = [0.0, 1.0, 0.0]
    cents = None
    store = Store(spark, str(tmp_path / "dom"))
    pinned = spark.createDataFrame(
        [(1, base), (2, far)], "cell_id int, embedding array<double>"
    )
    b1 = spark.createDataFrame(
        [(0, base), (1, near)], "vec_id long, embedding array<double>"
    )
    b2 = spark.createDataFrame(
        [(2, nearer)], "vec_id long, embedding array<double>"
    )
    r1 = incremental_embedding_dedup(b1, store, centroids=pinned, tau=0.9)
    assert {r["vec_id"] for r in r1.kept.collect()} == {0}
    assert r1.n_dup_within == 1
    r2 = incremental_embedding_dedup(b2, store, tau=0.9)
    assert r2.kept.count() == 0 and r2.n_dup_vs_history == 1


def test_incremental_embedding_partition_invariant(spark, clustered, tmp_path):
    def run(nparts):
        from efiche_data_pipeline_spark.operators.similarity import (
            incremental_embedding_dedup,
        )
        from efiche_data_pipeline_spark.pipeline.store import Store

        store = Store(spark, str(tmp_path / f"p{nparts}"))
        cents = _emb_centroids(clustered)
        kept = set()
        for lo, hi in ((0, 249), (250, 499)):
            r = incremental_embedding_dedup(
                clustered.filter(F.col("vec_id").between(lo, hi))
                .select("vec_id", "embedding")
                .repartition(nparts),
                store,
                centroids=cents,
                tau=0.9,
                nprobe=2,
            )
            kept |= {row["vec_id"] for row in r.kept.collect()}
        return kept

    assert run(1) == run(8) == run(32)


def test_incremental_embedding_commit_false(spark, clustered, tmp_path):
    """commit=False leaves the cell index untouched and returns the
    home-cell delta — the dedup_stream write-order hook."""
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / "cf"))
    cents = _emb_centroids(clustered)
    b1 = clustered.filter(F.col("vec_id") <= 99).select("vec_id", "embedding")
    r = incremental_embedding_dedup(
        b1, store, centroids=cents, tau=0.9, commit=False
    )
    assert not store.exists("semdedup_cells")
    assert r.index_delta is not None
    assert r.index_delta.count() == 100  # kept AND dropped, with home cells
    assert set(r.index_delta.columns) == {"vec_id", "embedding", "cell_id"}
    # caller's order: sink, then index
    store.append_new(
        r.index_delta, "semdedup_cells", key="vec_id", partition_by=["cell_id"]
    )
    replay = incremental_embedding_dedup(b1, store, tau=0.9)
    assert replay.n_new == 0 and replay.kept.count() == 0


def test_incremental_embedding_empty_first_batch_rejected(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    store = Store(spark, str(tmp_path / "emp"))
    with pytest.raises(ValueError, match="no centroids"):
        incremental_embedding_dedup(empty, store)
    assert store.current_version("ivf_centroids") is None


def test_incremental_embedding_dedup_prunes_history_partitions(
    spark, tmp_path, monkeypatch
):
    """The probed cell_id IN (...) literal must reach the persisted
    vector index as a PARTITION filter — history files outside the
    batch's probed cells are never opened (the SemDeDup 1/K scan).
    The operator checkpoints its dropped-set internally, so the history
    scan never appears in the RETURNED frame's plan; capture the plan
    at the checkpoint boundary instead."""
    # Spark 4: the concrete classic DataFrame overrides the abstract
    # base's localCheckpoint — patch the class actually dispatched.
    import pyspark.sql.classic.dataframe as _dfmod

    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_embedding_dedup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    from .conftest import SMOKE_SF_DIR

    captured: list[str] = []
    orig = _dfmod.DataFrame.localCheckpoint

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        try:
            captured.append(
                self._jdf.queryExecution().executedPlan().toString()
            )
        except Exception:
            pass
        return out

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    pinned = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 1).alias("cell_id"), "embedding"
    )
    store = Store(spark, str(tmp_path / "sd"))
    incremental_embedding_dedup(
        emb.filter(F.col("vec_id") < 30), store, centroids=pinned, tau=0.35
    )
    monkeypatch.setattr(_dfmod.DataFrame, "localCheckpoint", spy)
    r = incremental_embedding_dedup(
        emb.filter(F.col("vec_id") >= 30), store, tau=0.35, nprobe=2
    )
    monkeypatch.undo()
    assert r.n_new > 0
    pruned = [p for p in captured if "PartitionFilters: [cell_id" in p]
    assert pruned, captured


def test_quantized_ivf_recall_vs_float_path(clustered, tmp_path):
    """IVF-SQ8 (int8 candidate vectors) must track the full-precision
    IVF path closely: same cells probed, recall@5 >= 0.9 on clustered
    data, and per-pair sim error bounded by the quantization step."""
    from efiche_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        quantized_ivf_topk,
    )

    cents = _emb_centroids(clustered)
    queries = clustered.filter(F.col("vec_id") % 25 == 0)
    full = ivf_topk(clustered, queries, cents, "vec_id", "embedding", k=5, nprobe=2)
    quant = quantized_ivf_topk(
        clustered, queries, cents, "vec_id", "embedding", k=5, nprobe=2
    )
    f = {}
    for r in full.collect():
        f.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    q = {}
    qsims = {}
    for r in quant.collect():
        q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        qsims[(r["query_id"], r["neighbor_id"])] = r["sim"]
    recalls = [
        len(f[k_] & q.get(k_, set())) / len(f[k_]) for k_ in f
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # sims of shared pairs differ by at most ~the int8 step (1/127
    # per element, amplified by normalization — generous 0.02 bound)
    fsims = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in full.collect()
    }
    shared = set(fsims) & set(qsims)
    assert shared
    assert max(abs(fsims[p] - qsims[p]) for p in shared) <= 0.02


# ---------------------------------------------------------------------------
# IVF lifecycle: drift-gated retrain (ivf_index_maintain).
# ---------------------------------------------------------------------------
def _one_per_cluster(clustered, clusters):
    """Pinned centroids: the first member vector of each listed
    cluster, cell_id = position in ``clusters`` + 1."""
    first = clustered.filter(
        (F.col("vec_id") % 25 == 0) & F.col("cluster").isin(list(clusters))
    )
    m = {c: i + 1 for i, c in enumerate(clusters)}
    mapping = F.create_map(
        *[F.lit(x) for kv in m.items() for x in kv]
    )
    return first.select(
        mapping[F.col("cluster")].cast("int").alias("cell_id"), "embedding"
    )


def _maintain_args(clustered):
    from efiche_data_pipeline_spark.operators.similarity import (
        ivf_index_maintain,
    )

    cents_a = _one_per_cluster(clustered, range(10))
    cents_b = _one_per_cluster(clustered, range(20))
    member = F.col("vec_id") % 25  # position within the cluster
    folds = {
        "seed": clustered.filter((F.col("cluster") < 10) & (member < 10)),
        "calm": clustered.filter(
            (F.col("cluster") < 10) & member.between(10, 17)
        ),
        "drift": clustered.filter((F.col("cluster") >= 10) & (member < 18)),
        "after": clustered.filter(member >= 18),  # proportional mix
    }
    return ivf_index_maintain, cents_a, cents_b, folds


def test_ivf_maintain_gate_fires_once_on_planted_drift(clustered, tmp_path):
    """Calm folds never retrain; the planted regime change (ten new
    clusters the reference profile has never seen) alarms and retrains
    exactly once; the fold AFTER the migration is calm again because
    the profile was re-baselined to the new regime."""
    from efiche_data_pipeline_spark.pipeline.store import Store

    maintain, cents_a, cents_b, folds = _maintain_args(clustered)
    store = Store(clustered.sparkSession, str(tmp_path / "life"))
    r_seed = maintain(folds["seed"], store, centroids=cents_a)
    assert r_seed.psi is None and not r_seed.retrained
    r_calm = maintain(folds["calm"], store)
    assert not r_calm.retrained and r_calm.psi is not None
    assert r_calm.psi <= 0.25, r_calm.psi
    r_drift = maintain(folds["drift"], store, retrain_centroids=cents_b)
    assert r_drift.retrained and r_drift.psi > 0.25, r_drift.psi
    r_after = maintain(folds["after"], store)
    assert not r_after.retrained and not r_after.healed
    assert r_after.psi <= 0.25, r_after.psi


def test_ivf_maintain_post_retrain_appends_equal_fresh_build(
    clustered, tmp_path
):
    """After the migration, the maintained index over (seed ∪ calm ∪
    drift ∪ after) must equal the one-shot assignment of the same
    vectors under the retrained centroids — incremental ≡ global
    through a regime change."""
    from efiche_data_pipeline_spark.operators.similarity import assign_cells
    from efiche_data_pipeline_spark.pipeline.store import Store

    maintain, cents_a, cents_b, folds = _maintain_args(clustered)
    store = Store(clustered.sparkSession, str(tmp_path / "eq"))
    maintain(folds["seed"], store, centroids=cents_a)
    maintain(folds["calm"], store)
    maintain(folds["drift"], store, retrain_centroids=cents_b)
    maintain(folds["after"], store)
    got = {
        r["vec_id"]: r["cell_id"]
        for r in store.read("ivf_cells").select("vec_id", "cell_id").collect()
    }
    want = {
        r["vec_id"]: r["cell_id"]
        for r in assign_cells(clustered, cents_b).select(
            "vec_id", "cell_id"
        ).collect()
    }
    assert got == want


def test_ivf_maintain_crash_windows_converge(clustered, tmp_path):
    """Crash (a) between the new-centroid commit and the index
    re-assign, and (b) after the re-assign but before the marker: both
    leave marker != current centroids, the next maintain call heals
    FIRST (re-assign is an idempotent pure function), and the final
    index equals the fresh build."""
    import pytest

    from efiche_data_pipeline_spark.operators.similarity import assign_cells
    from efiche_data_pipeline_spark.pipeline.store import Store

    maintain, cents_a, cents_b, folds = _maintain_args(clustered)
    spark = clustered.sparkSession

    for name, op, table, msg in (
        ("a", "overwrite", "ivf_cells", "injected crash before re-assign"),
        ("b", "write_version", "ivf_assign_meta", "injected crash before marker"),
    ):
        store = Store(spark, str(tmp_path / f"crash_{name}"))
        maintain(folds["seed"], store, centroids=cents_a)
        crash_once(store, op, table, msg)
        with pytest.raises(RuntimeError, match="injected crash"):
            maintain(folds["drift"], store, retrain_centroids=cents_b)
        # centroids point at the NEW regime, marker is stale
        assert store.read_version("ivf_centroids").count() == 20
        r = maintain(folds["after"], store)
        assert r.healed, name
        assert not r.retrained, (name, r.psi)  # healed baseline is calm
        got = {
            r_["vec_id"]: r_["cell_id"]
            for r_ in store.read("ivf_cells").collect()
        }
        indexed = (
            folds["seed"].unionByName(folds["drift"]).unionByName(folds["after"])
        )
        want = {
            r_["vec_id"]: r_["cell_id"]
            for r_ in assign_cells(indexed, cents_b).select(
                "vec_id", "cell_id"
            ).collect()
        }
        assert got == want, name


def test_forget_vectors_purges_and_rebaselines(clustered, tmp_path):
    """One forget_vectors call removes the ids from the cell index
    (partition layout intact — the query path's pruning survives) and
    re-baselines the maintain gate's reference profile, so a later
    calm fold neither heals nor alarms; after the built-in vacuum the
    ids survive in NO parquet file under the store."""
    import os

    import duckdb

    from efiche_data_pipeline_spark.operators.similarity import (
        forget_vectors,
        incremental_semantic_decontamination,
        ivf_index_query,
        seed_semantic_benchmark,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    maintain, cents_a, _cents_b, folds = _maintain_args(clustered)
    spark = clustered.sparkSession
    store = Store(spark, str(tmp_path / "fv"))
    maintain(folds["seed"], store, centroids=cents_a)
    maintain(folds["calm"], store)
    # semantic-decontamination estate: seed a benchmark, flag the
    # corpus — the flags sink names every vec id and must be purged too
    seed_semantic_benchmark(store, clustered.filter(F.col("vec_id") < 3))
    incremental_semantic_decontamination(clustered, store)
    # forget every vector of cluster 3 that is indexed so far
    gone = {
        r["vec_id"]
        for r in clustered.filter(F.col("cluster") == 3).collect()
    }
    touched = forget_vectors(
        store, spark.createDataFrame([(i,) for i in gone], "vec_id long")
    )
    assert "ivf_cells" in touched and "ivf_cell_profile" in touched
    assert "semantic_decontam_flags" in touched
    root = store.path("ivf_cells")
    parts = [d for d in os.listdir(root) if d.startswith("cell_id=")]
    assert parts  # layout preserved
    con = duckdb.connect()
    for walk_root, _, names in os.walk(store.path("")):
        for n in names:
            if n.endswith(".parquet") and (
                "ivf_cells" in walk_root
                or "semantic_decontam_flags" in walk_root
            ):
                f = os.path.join(walk_root, n)
                found = {
                    r[0]
                    for r in con.execute(
                        f"SELECT DISTINCT vec_id FROM read_parquet('{f}')"
                    ).fetchall()
                }
                assert not (found & gone), (f, sorted(found & gone))
    # the compliance sweep SEES the vector estates (vec_id is an
    # audited id column) and reports them clean post-forget
    from efiche_data_pipeline_spark.pipeline.compliance import audit_forgotten

    audit = {
        (r["table"], r["column"]): r["n_live_rows"]
        for r in audit_forgotten(store, sorted(gone)).collect()
    }
    assert ("ivf_cells", "vec_id") in audit
    assert ("semantic_decontam_flags", "vec_id") in audit
    assert all(n == 0 for n in audit.values()), audit
    # the query path still prunes partitions post-delete
    q = clustered.filter(F.col("vec_id") % 25 == 1).limit(3)
    res = ivf_index_query(store, q, k=3)
    res.collect()
    # a later fold matching the POST-DELETE corpus mix (clusters 0-9
    # minus the forgotten cluster 3) is calm: no heal, no spurious
    # deletion-as-drift alarm — the re-baselined profile IS the
    # remaining corpus, which is the point of the refresh
    calm_after = clustered.filter(
        (F.col("cluster") < 10)
        & (F.col("cluster") != 3)
        & (F.col("vec_id") % 25 >= 18)
    )
    r = maintain(calm_after, store)
    assert not r.healed
    assert not r.retrained and r.psi is not None and r.psi <= 0.25, r.psi


def test_binary_quantization_recall_and_rerank(spark):
    """The binary (sign) codec must rank far better than chance on
    the isotropic fixture, and the shortlist-rerank must recover most
    of the exact top-k — the two claims q133/q134 make (measured at
    build time: sign-only ≈ 0.36 mean recall@5 vs 0.01 random;
    reranked at shortlist=50 ≈ 0.92)."""
    from efiche_data_pipeline_spark.operators.similarity import (
        binary_rerank_topk,
        binary_topk,
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)

    def topsets(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topsets(brute_force_topk(emb, queries, k=5))
    raw = topsets(binary_topk(emb, queries, k=5))
    rr = topsets(binary_rerank_topk(emb, queries, k=5, shortlist=50))
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    raw_recall = mean(
        [len(exact[q] & raw[q]) / len(exact[q]) for q in exact]
    )
    rr_recall = mean([len(exact[q] & rr[q]) / len(exact[q]) for q in exact])
    assert raw_recall >= 0.2, raw_recall  # sign codec: >> 1% random
    assert rr_recall >= 0.8, rr_recall  # rerank recovers the ranking
    assert rr_recall >= raw_recall  # rerank can only help


def test_pq_recall_ladder(spark):
    """The quantization ladder must be monotone on the isotropic
    fixture: PQ-4-byte (the smallest representation) ranks worse than
    binary but still far above chance, and the shortlist-rerank
    recovers most of the exact set (measured at build time: raw 0.22,
    reranked at 50 ≈ 0.76; random ≈ 0.01)."""
    from efiche_data_pipeline_spark.operators.similarity import (
        binary_topk,
        brute_force_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    codebook = emb.filter(F.col("vec_id") < 16)

    def topsets(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    exact = topsets(brute_force_topk(emb, queries, k=5))
    pq = topsets(pq_topk(emb, queries, codebook, k=5))
    bi = topsets(binary_topk(emb, queries, k=5))
    pq_recall = mean([len(exact[q] & pq[q]) / len(exact[q]) for q in exact])
    bi_recall = mean([len(exact[q] & bi[q]) / len(exact[q]) for q in exact])
    assert pq_recall >= 0.1, pq_recall  # far above the ~1% random line
    assert bi_recall >= pq_recall  # more bits, better ranking


def test_ivf_pq_rerank_recovers_recall(spark):
    """IVF-PQ with exact rerank (q187) must beat raw flat PQ on
    recall@5 — the shortlist rerank recovers what the 4-byte codes
    give up — and its reranked sims must be EXACT cosines (every
    returned (query, neighbor) sim equals the brute-force value).
    nprobe=16 of 16 cells isolates the rerank effect from cell
    pruning; the registered q187 runs nprobe=8 of 16."""
    from efiche_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    codebook = emb.filter(F.col("vec_id") < 16)
    centroids = codebook.select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )

    def topsets(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    exact_df = brute_force_topk(emb, queries, k=5)
    exact = topsets(exact_df)
    pq = topsets(pq_topk(emb, queries, codebook, k=5))
    ivfpq_df = ivf_pq_topk(
        emb, queries, centroids, codebook, k=5, nprobe=16, shortlist=50
    )
    ivfpq = topsets(ivfpq_df)
    pq_recall = mean([len(exact[q] & pq[q]) / len(exact[q]) for q in exact])
    rr_recall = mean([len(exact[q] & ivfpq[q]) / len(exact[q]) for q in exact])
    assert rr_recall > pq_recall, (rr_recall, pq_recall)
    assert rr_recall >= 0.5, rr_recall
    # reranked sims are exact cosines: cross-check against brute force
    exact_sims = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in exact_df.collect()
    }
    for r in ivfpq_df.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert r["sim"] == exact_sims[key], (key, r["sim"], exact_sims[key])


# ---------------------------------------------------------------------------
# Semantic (embedding-based) benchmark decontamination
# ---------------------------------------------------------------------------
def test_semantic_decontamination_planted(spark):
    from efiche_data_pipeline_spark.operators.similarity import (
        semantic_decontamination,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: (r.max_bench_sim, r.contaminated)
        for r in semantic_decontamination(corpus, bench, tau=0.9).collect()
    }
    assert got[1] == (1.0, True)  # parallel (scale-invariant cosine)
    assert got[2] == (0.0, False)  # orthogonal
    assert got[3] == (0.8, False)  # cos 0.8 < 0.9
    # the threshold is inclusive on the ROUNDED similarity
    flips = {
        r.vec_id: r.contaminated
        for r in semantic_decontamination(corpus, bench, tau=0.8).collect()
    }
    assert flips == {1: True, 2: False, 3: True}


def test_semantic_decontamination_empty_benchmark(spark):
    from efiche_data_pipeline_spark.operators.similarity import (
        semantic_decontamination,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = semantic_decontamination(corpus, corpus.limit(0)).collect()
    assert len(rows) == 2
    assert all(r.max_bench_sim is None and r.contaminated is False for r in rows)


def test_incremental_semantic_decontamination_folds_equal_global(
    spark, tmp_path
):
    from efiche_data_pipeline_spark.operators.similarity import (
        incremental_semantic_decontamination,
        seed_semantic_benchmark,
        semantic_decontamination,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.pmod("vec_id", 20) == 0)
    intake = emb.filter(F.pmod("vec_id", 20) != 0)
    store = Store(spark, str(tmp_path / "semdecon"))
    seed_semantic_benchmark(store, bench)
    incremental_semantic_decontamination(
        intake.filter(F.col("vec_id") <= 250), store
    )
    incremental_semantic_decontamination(
        intake.filter(F.col("vec_id") > 250), store
    )
    tup = lambda r: (r["vec_id"], r["max_bench_sim"], r["contaminated"])
    got = sorted(map(tup, store.read("semantic_decontam_flags").collect()))
    want = sorted(map(tup, semantic_decontamination(intake, bench).collect()))
    assert got == want
    # replay is a pure no-op: the flags sink is its own watermark
    incremental_semantic_decontamination(intake, store)
    assert (
        sorted(map(tup, store.read("semantic_decontam_flags").collect()))
        == want
    )


def test_ivf_pq_index_matches_oneshot_and_prunes(spark, tmp_path):
    """The persisted codes-only IVF-PQ index answers queries
    RESULT-IDENTICALLY to the on-the-fly ivf_pq_topk under the same
    parameters (same assignment/codes/ADC/shortlist/rerank), and the
    probed-cell read prunes the cell store at the directory level
    (PartitionFilters on the hive layout — the 1/K-of-corpus promise
    on disk). Replayed builds are keyed no-ops."""
    import re

    from efiche_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_query,
        ivf_pq_topk,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    codebook = emb.filter(F.col("vec_id") < 16)
    centroids = codebook.select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    store = Store(spark, str(tmp_path / "ivfpq"))
    n = build_ivf_pq_index(emb, store, centroids, codebook, m=8)
    assert n == emb.count()
    got_df = ivf_pq_index_query(
        store, queries, emb, m=8, k=5, nprobe=8, shortlist=20
    )
    got_df.collect()
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    want = rows(
        ivf_pq_topk(
            emb, queries, centroids, codebook, k=5, nprobe=8, shortlist=20
        )
    )
    assert rows(got_df) == want and want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell_id#\d+ IN", plan), plan
    assert "SortMergeJoin" not in plan
    # replayed append: keyed append_new absorbs every row, and the
    # pinned codebook/centroid versions do NOT move on a pure replay
    before = store.read("ivfpq_cells").count()
    cb_v = store.current_version("ivfpq_codebook")
    build_ivf_pq_index(emb, store, m=8)
    assert store.read("ivfpq_cells").count() == before
    assert store.current_version("ivfpq_codebook") == cb_v
    # passing NEW centroids/codebook against a live index refuses —
    # silently re-encoding under a different codebook would desync
    # the stored codes
    import pytest

    with pytest.raises(ValueError, match="already pinned"):
        build_ivf_pq_index(emb, store, centroids, codebook, m=8)


def test_forget_vectors_refuses_pinned_codebook_members(spark, tmp_path):
    """GDPR honesty (ADVICE r09): the IVF-PQ codebook pins RAW corpus
    embeddings keyed by vec_id — forget_vectors REFUSES ids that are
    pinned codebook entries (deleting their codes cannot erase the
    pinned full-precision embedding; re-quantization is the
    documented path), while non-codebook ids keep forgetting
    normally with the codebook version untouched."""
    import pytest

    from efiche_data_pipeline_spark.operators.similarity import (
        build_ivf_pq_index,
        forget_vectors,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    codebook = emb.filter(F.col("vec_id") < 16)
    centroids = codebook.select(
        (F.col("vec_id") + 1).alias("cell_id"), F.col("embedding")
    )
    store = Store(spark, str(tmp_path / "fvcb"))
    build_ivf_pq_index(emb, store, centroids, codebook, m=8)
    with pytest.raises(ValueError, match="pinned entries"):
        forget_vectors(
            store, spark.createDataFrame([(3,), (400,)], "vec_id long")
        )
    # the refused call mutated nothing
    assert store.read("ivfpq_cells").filter("vec_id = 400").count() == 1
    cb_v = store.current_version("ivfpq_codebook")
    touched = forget_vectors(
        store, spark.createDataFrame([(400,)], "vec_id long")
    )
    assert "ivfpq_cells" in touched
    assert store.current_version("ivfpq_codebook") == cb_v
    assert store.read("ivfpq_cells").filter("vec_id = 400").count() == 0
