"""Warehouse-build tests: scalable surrogate keys, fact denormalized
metrics vs first-principles recomputation, MV readback equivalence,
and overwrite idempotency (build twice ≡ build once)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.pipeline.generate import generate_operational
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.pipeline.warehouse import (
    assign_surrogate_key,
    build_warehouse,
    refresh_views,
)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    store = Store(spark, root)
    for name, df in generate_operational(spark, n_patients=300, seed=42).items():
        store.overwrite(df, name)
    stats = build_warehouse(store)
    return store, stats


def test_surrogate_keys_dense_and_ordered(spark):
    df = spark.range(10_000).select(F.format_string("k-%07d", F.col("id")).alias("nk"))
    keyed = assign_surrogate_key(df, "nk", "sk")
    got = keyed.agg(
        F.count(F.lit(1)), F.countDistinct("sk"), F.min("sk"), F.max("sk")
    ).first()
    assert tuple(got) == (10_000, 10_000, 1, 10_000)
    # assignment is identical across independent evaluations (the
    # failure mode of partition-id-based keying)
    again = assign_surrogate_key(df, "nk", "sk")
    assert keyed.exceptAll(again).count() == 0


def test_dim_counts_match_sources(wh):
    store, stats = wh
    assert stats["dim_patient"] == store.count("patients")
    assert stats["dim_facility"] == store.count("facilities")
    assert stats["dim_procedure"] == store.count("procedures")
    assert stats["dim_diagnosis"] == store.count("diagnosis_codes")
    assert stats["fact_encounters"] == store.count("encounters")
    assert stats["bridge_encounter_procedure"] == store.count("procedures")
    assert stats["bridge_encounter_diagnosis"] == store.count("diagnoses")


def test_dim_time_covers_all_encounter_dates(wh):
    store, _ = wh
    missing = store.read("encounters").join(
        store.read("dim_time"),
        F.col("encounter_date") == F.col("full_date"),
        "left_anti",
    )
    assert missing.count() == 0


def test_fact_denormalized_metrics(wh):
    """num_procedures / num_diagnoses / has_report must equal a
    first-principles recomputation from the operational tables
    (the reference's three correlated UPDATEs,
    populate_warehouse.py:158-185)."""
    store, _ = wh
    fact = store.read("fact_encounters")
    expected = (
        store.read("encounters")
        .join(
            store.read("procedures").groupBy("encounter_id").count().withColumnRenamed("count", "np"),
            "encounter_id",
            "left",
        )
        .join(
            store.read("diagnoses").groupBy("encounter_id").count().withColumnRenamed("count", "nd"),
            "encounter_id",
            "left",
        )
        .join(
            store.read("reports").select("encounter_id").distinct().withColumn("hr", F.lit(True)),
            "encounter_id",
            "left",
        )
        .select(
            "encounter_id",
            F.coalesce("np", F.lit(0)).cast("int").alias("np"),
            F.coalesce("nd", F.lit(0)).cast("int").alias("nd"),
            F.coalesce("hr", F.lit(False)).alias("hr"),
        )
    )
    joined = fact.join(expected, "encounter_id")
    bad = joined.filter(
        (F.col("num_procedures") != F.col("np"))
        | (F.col("num_diagnoses") != F.col("nd"))
        | (F.col("has_report") != F.col("hr"))
    )
    assert bad.count() == 0


def test_mv_monthly_matches_first_principles(wh):
    store, _ = wh
    mv = store.read("mv_monthly_encounters")
    expected = (
        store.read("fact_encounters")
        .withColumn("year", F.year("encounter_date"))
        .withColumn("month", F.month("encounter_date"))
        .groupBy("year", "month")
        .agg(
            F.countDistinct("encounter_id").alias("e"),
            F.sum("num_procedures").alias("tp"),
        )
    )
    j = mv.join(expected, ["year", "month"], "full")
    bad = j.filter(
        F.col("total_encounters").isNull()
        | (F.col("total_encounters") != F.col("e"))
        | (F.col("total_procedures") != F.col("tp"))
    )
    assert bad.count() == 0


def test_refresh_views_idempotent(wh):
    store, _ = wh
    before = {
        t: store.read(t).collect()
        for t in ("mv_monthly_encounters", "mv_procedure_volume")
    }
    refresh_views(store)
    for t, rows in before.items():
        after = store.read(t).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, rows))


def test_build_twice_identical(spark, tmp_path):
    store = Store(spark, str(tmp_path / "wh2"))
    for name, df in generate_operational(spark, n_patients=120, seed=5).items():
        store.overwrite(df, name)
    build_warehouse(store)
    fact1 = store.read("fact_encounters").collect()
    build_warehouse(store)
    fact2 = store.read("fact_encounters").collect()
    assert sorted(map(tuple, fact1)) == sorted(map(tuple, fact2))


def test_operational_frame_over_own_store_raises(spark, tmp_path):
    """build_warehouse's caller contract: an operational frame must not
    read this store's own tables (its copy-write would overwrite the
    files mid-read). It raises before the pool starts, and no file
    under the store changes."""
    from .test_store_seam import _listing

    store = Store(spark, str(tmp_path / "own"))
    for name, df in generate_operational(spark, n_patients=40, seed=3).items():
        store.overwrite(df, name)
    before = _listing(store.root)
    with pytest.raises(ValueError, match="'encounters'"):
        build_warehouse(store, operational={"encounters": store.read("encounters")})
    assert _listing(store.root) == before


def test_operational_contract_check_launches_no_job(spark, tmp_path):
    """The check lists ``inputFiles()`` without a Spark job: over every
    ``map_operational`` frame it launches no job. A trailing frame over
    the store's own files makes the call raise right after the check,
    so only the check is counted."""
    from efiche_data_pipeline_spark.pipeline.mapping import map_operational

    from .conftest import SF_DIR, jobs_launched

    store = Store(spark, str(tmp_path / "s"))
    store.overwrite(spark.range(3), "t")
    own = store.read("t")
    ops = map_operational(spark, SF_DIR)

    def build():
        with pytest.raises(ValueError, match="'zz_own'"):
            build_warehouse(store, operational={**ops, "zz_own": own})

    n, _ = jobs_launched(spark, build)
    assert n == 0
    assert sorted(os.listdir(store.root)) == ["t"]
