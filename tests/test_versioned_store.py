"""Versioned-table (time travel) tests for the Store: snapshot
isolation across writes, historical reads, rollback (and rollback of
the rollback), vacuum retention, and crash-orphan cleanup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.pipeline.store import Store


def _df(spark, n, tag):
    return spark.range(n).select(F.col("id"), F.lit(tag).alias("tag"))


@pytest.fixture()
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "vs"))


def _current_has_manifest(store, table):
    """The ``_CURRENT`` target, read from disk, carries ``_layers_v<N>``."""
    root = store.path(table)
    with open(os.path.join(root, "_CURRENT")) as f:
        cur = int(f.read())
    return os.path.exists(os.path.join(root, f"_layers_v{cur}"))


def test_versioned_write_read_and_time_travel(spark, store):
    v1 = store.write_version(_df(spark, 3, "a"), "t")
    assert _current_has_manifest(store, "t")
    v2 = store.write_version(_df(spark, 5, "b"), "t")
    assert _current_has_manifest(store, "t")
    assert (v1, v2) == (1, 2)
    assert store.current_version("t") == 2
    assert store.read_version("t").count() == 5  # current
    old = store.read_version("t", v1)
    assert old.count() == 3 and old.first().tag == "a"  # time travel


def test_every_commit_kind_points_current_at_a_manifest(spark, store):
    """One versioned format: whatever commits a version — a rewrite,
    an append, a delete, a compaction or a rollback — ``_CURRENT``
    names a version whose layer manifest exists."""
    commits = [
        lambda: store.write_version(_df(spark, 3, "a"), "t"),
        lambda: store.append_version(_df(spark, 2, "b"), "t"),
        lambda: store.delete_keys(
            "t", spark.createDataFrame([(1,)], "id long"), "id"
        ),
        lambda: store.delete_where("t", F.col("tag") == "b"),
        lambda: store.compact_layers("t"),
        lambda: store.rewrite_layers(_df(spark, 4, "c"), "t"),
        lambda: store.rollback("t", 1),
    ]
    for commit in commits:
        commit()
        assert _current_has_manifest(store, "t")
    assert store.current_version("t") == 1


def test_rollback_and_forward(spark, store):
    store.write_version(_df(spark, 3, "a"), "t")
    store.write_version(_df(spark, 5, "b"), "t")
    store.rollback("t", 1)
    assert store.read_version("t").count() == 3
    assert _current_has_manifest(store, "t")
    # the newer snapshot is still there: roll forward again
    store.rollback("t", 2)
    assert store.read_version("t").count() == 5
    assert _current_has_manifest(store, "t")
    with pytest.raises(FileNotFoundError):
        store.rollback("t", 99)


def test_write_after_rollback_never_reuses_committed_version(spark, store):
    """A write after rollback must allocate past every committed
    snapshot (max+1, not pointer+1) — pointer+1 would overwrite
    committed _v2 in place, destroying the history that rollback
    promises stays readable."""
    store.write_version(_df(spark, 3, "a"), "t")
    store.write_version(_df(spark, 5, "b"), "t")
    store.write_version(_df(spark, 7, "c"), "t")
    store.rollback("t", 1)
    v = store.write_version(_df(spark, 9, "d"), "t")
    assert v == 4  # not 2
    assert store.current_version("t") == 4
    # the rolled-back-over snapshots are intact, not clobbered:
    assert store.read_version("t", 2).count() == 5
    assert store.read_version("t", 3).count() == 7
    assert store.versions("t") == [1, 2, 3, 4]


def test_vacuum_keeps_recent_and_current(spark, store):
    for i, n in enumerate([2, 3, 4, 5], start=1):
        assert store.write_version(_df(spark, n, f"v{i}"), "t") == i
    dropped = store.vacuum_versions("t", keep_last=2)
    assert dropped == [1, 2]
    assert store.versions("t") == [3, 4]
    assert store.read_version("t").count() == 5  # current untouched


def test_vacuum_removes_crash_orphans(spark, store):
    store.write_version(_df(spark, 3, "a"), "t")
    # Simulate a crash mid-write: data directory without _SUCCESS and
    # the pointer never swapped.
    orphan = store._vdir("t", 2)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert store.current_version("t") == 1  # pointer untouched by crash
    store.vacuum_versions("t", keep_last=2)
    assert not os.path.exists(orphan)
    assert store.read_version("t").count() == 3


def test_versions_to_cdc_to_scd2_chain(spark, store):
    """The full change-management story end-to-end: two committed table
    versions -> snapshot_diff change feed -> SCD2 merge; the dimension's
    current slice must equal the new snapshot for surviving keys."""
    from efiche_data_pipeline_spark.pipeline.scd import (
        scd2_apply,
        scd2_init,
        snapshot_diff,
    )

    v1_data = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze")], "id long, tier string"
    )
    v2_data = spark.createDataFrame(
        [(1, "gold"), (2, "platinum"), (4, "silver")], "id long, tier string"
    )
    store.write_version(v1_data, "cust")
    store.write_version(v2_data, "cust")

    feed = snapshot_diff(
        store.read_version("cust", 1), store.read_version("cust", 2), "id", ["tier"]
    )
    dim = scd2_init(store.read_version("cust", 1), "id", ["tier"], "2024-01-01")
    upserts = feed.filter(F.col("op").isin("I", "U")).drop("op")
    dim2 = scd2_apply(dim, upserts, "id", ["tier"], "2024-02-01")

    current = {
        r.id: r.tier for r in dim2.filter(F.col("is_current")).collect()
    }
    # id 2 re-tiered, id 4 inserted, id 1 untouched; id 3 (deleted
    # upstream) stays current in the dimension -- SCD2 keeps history,
    # deletion policy is a separate close-out decision.
    assert current == {1: "gold", 2: "platinum", 3: "bronze", 4: "silver"}
    # and id 2's old tier is preserved as a closed version
    closed = dim2.filter(~F.col("is_current")).collect()
    assert [(r.id, r.tier) for r in closed] == [(2, "silver")]


def test_layered_append_version_union_and_rollback(spark, tmp_path):
    """append_version commits O(batch) deltas; read_union sees exactly
    the manifest's layer set — including after a rollback, when a
    post-rollback commit must NOT resurrect orphaned forward layers."""
    store = Store(spark, str(tmp_path / "s"))
    df = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    v1 = store.append_version(df(1, 2), "t")
    v2 = store.append_version(df(3), "t")
    assert v2 > v1
    assert {r["id"] for r in store.read_union("t").collect()} == {1, 2, 3}
    # time travel: version v1 is just its own layer
    assert {r["id"] for r in store.read_union("t", v1).collect()} == {1, 2}
    store.rollback("t", v1)
    assert {r["id"] for r in store.read_union("t").collect()} == {1, 2}
    v3 = store.append_version(df(9), "t")
    got = {r["id"] for r in store.read_union("t").collect()}
    assert got == {1, 2, 9}, "orphaned layer 2 (id=3) must stay invisible"
    assert v3 > v2


def test_layered_rollback_refuses_a_rewritten_layer(spark, tmp_path):
    """A delete rewrites each affected layer into a new committed v<N>
    directory, but only the last one gets a manifest and becomes a
    version. Rolling back onto another one would point the table at a
    single cleaned layer with no manifest for read_union to follow —
    rollback must refuse it and change nothing."""
    store = Store(spark, str(tmp_path / "s"))
    df = lambda lo: spark.createDataFrame([(i,) for i in range(lo, lo + 4)], "id long")
    for lo in (0, 4, 8):
        store.append_version(df(lo), "t")  # v1, v2, v3
    store.delete_keys("t", spark.createDataFrame([(1,), (5,)], "id long"), "id")
    assert store.current_version("t") == 5  # layers 1, 2 rewritten as v4, v5
    with pytest.raises(FileNotFoundError, match="no layer manifest"):
        store.rollback("t", 4)
    assert store.current_version("t") == 5
    assert {r["id"] for r in store.read_union("t").collect()} == set(range(12)) - {1, 5}
    store.rollback("t", 3)  # a real version still rolls back
    assert store.read_union("t").count() == 12


def test_compact_layers_preserves_union(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    df = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    store.append_version(df(1, 2), "t")
    store.append_version(df(3, 4), "t")
    before = {r["id"] for r in store.read_union("t").collect()}
    v = store.compact_layers("t")
    assert {r["id"] for r in store.read_union("t").collect()} == before
    assert store._layers("t", v) == [v]  # single directory afterwards
    store.append_version(df(5), "t")
    assert {r["id"] for r in store.read_union("t").collect()} == before | {5}


def test_incremental_dedup_survives_index_compaction(spark, tmp_path):
    """compact_layers on the dedup index is invisible to semantics:
    a post-compaction batch still dedups against pre-compaction
    history."""
    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from .test_incremental_dedup import _BASE, _OTHER, _docs

    store = Store(spark, str(tmp_path / "idx"))
    incremental_minhash_dedup(_docs(spark, [(0, _BASE)]), store)
    incremental_minhash_dedup(_docs(spark, [(1, _OTHER)]), store)
    store.compact_layers("minhash_sig_index")
    r3 = incremental_minhash_dedup(_docs(spark, [(2, _BASE + " x")]), store)
    assert r3.n_dup_vs_history == 1 and r3.kept.count() == 0


def test_vacuum_protects_manifest_referenced_layers(spark, tmp_path):
    """keep_last counts VERSIONS, but on a layered table a kept
    version's manifest may reference much older layer directories —
    vacuum must never delete those (read_union of the current version
    would break). After compact_layers the old layers lose their last
    reference and become reclaimable."""
    store = Store(spark, str(tmp_path / "s"))
    df = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id long")
    store.append_version(df(1), "t")
    store.append_version(df(2), "t")
    store.append_version(df(3), "t")
    dropped = store.vacuum_versions("t", keep_last=1)
    # v3's manifest references layers 1,2,3 -> nothing reclaimable yet
    assert dropped == []
    assert {r["id"] for r in store.read_union("t").collect()} == {1, 2, 3}
    store.compact_layers("t")
    dropped = store.vacuum_versions("t", keep_last=1)
    assert dropped == [1, 2, 3]
    assert {r["id"] for r in store.read_union("t").collect()} == {1, 2, 3}


def test_diff_versions_release_audit(spark, tmp_path):
    """diff_versions reports exactly the added/removed/changed keys
    between two snapshots (unchanged keys filtered out), comparing
    only the requested columns — a payload column outside
    compare_cols may differ without flagging the row."""
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path))
    v1 = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")],
        "k long, payload string, ignored string",
    )
    v2 = spark.createDataFrame(
        [(2, "b", "y"), (3, "CHANGED", "x"), (4, "d", "x")],
        "k long, payload string, ignored string",
    )
    a = store.write_version(v1, "rel")
    b = store.write_version(v2, "rel")
    got = {
        r["k"]: r["change"]
        for r in store.diff_versions("rel", a, b, "k", ["payload"]).collect()
    }
    # key 2's ignored column changed but payload didn't -> not flagged
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_diff_versions_null_shifts_are_changes(spark, tmp_path):
    """(NULL, 'web') -> ('web', NULL) must report 'changed' — the
    fingerprint encodes WHICH columns are NULL (to_json field names),
    not a NULL-skipping concatenation."""
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, None, "web")], "k long, a string, b string")
    v2 = spark.createDataFrame([(1, "web", None)], "k long, a string, b string")
    x = store.write_version(v1, "rel")
    y = store.write_version(v2, "rel")
    got = store.diff_versions("rel", x, y, "k", ["a", "b"]).collect()
    assert [(r["k"], r["change"]) for r in got] == [(1, "changed")]


def test_partitioned_layers_commit_guard_and_union(spark, tmp_path):
    """append_version(partition_by=...): the cross-layer layout guard
    raises on a mismatched commit (both directions), tolerates EMPTY
    delta layers between partitioned ones, and read_union returns the
    exact union with the partition column intact."""
    import pytest

    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / "pl"))
    rows = lambda lo, hi: spark.createDataFrame(
        [(i, i % 4) for i in range(lo, hi)], "k long, p int"
    )
    store.append_version(rows(0, 8), "t", partition_by=["p"])
    assert store._layout("t") == ["p"]
    # an EMPTY delta (no partition dirs on disk) must not flip the
    # detected layout for the commits after it
    store.append_version(rows(0, 0), "t", partition_by=["p"])
    store.append_version(rows(8, 12), "t", partition_by=["p"])
    got = sorted((r["k"], r["p"]) for r in store.read_union("t").collect())
    assert got == [(i, i % 4) for i in range(12)]
    # mismatch: unpartitioned commit onto a partitioned table
    with pytest.raises(ValueError, match="partitioning mismatch"):
        store.append_version(rows(12, 14), "t")
    # and the reverse on a fresh unpartitioned table
    store.append_version(rows(0, 4), "u")
    with pytest.raises(ValueError, match="partitioning mismatch"):
        store.append_version(rows(4, 8), "u", partition_by=["p"])
    # an empty UNPARTITIONED first layer still writes a 0-row parquet
    # file, so it PINS the flat layout (its schema is on disk and
    # read_union will scan it)
    store.append_version(rows(0, 0), "w")
    assert store._layout("w") == []
    with pytest.raises(ValueError, match="partitioning mismatch"):
        store.append_version(rows(0, 3), "w", partition_by=["p"])
    # an empty PARTITIONED first layer writes no files at all, so the
    # layout stays undetected until the first contentful commit
    store.append_version(rows(0, 0), "x", partition_by=["p"])
    assert store._layout("x") is None
    store.append_version(rows(0, 3), "x", partition_by=["p"])
    assert store._layout("x") == ["p"]
