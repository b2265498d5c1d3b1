"""Regression pins for the physical-plan properties documented in
docs/PLAN_AUDIT.md for the round-1..3 operator rewrites. Each of these
was the RESULT of a deliberate redesign (exchange reuse instead of
recompute, pushed group limits instead of full sorts, bucketed global
ranking instead of single-partition windows); a refactor that silently
loses one would re-open a scale hazard long before any benchmark
notices at fixture size.
"""

from __future__ import annotations

import pytest

from efiche_data_pipeline_spark.plans.registry import QUERIES

from .conftest import SF_DIR, jobs_launched


def _executed(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q26_reuses_shingle_bucket_exchange(spark):
    """The bucket aggregate must feed the pair branch AND the size
    branch through ReusedExchange — not recompute the scan (the
    round-1 cache leak / round-2 redesign)."""
    plan = _executed("q26_jaccard_pairs", spark)
    assert "ReusedExchange" in plan


def test_q03_topk_pushes_window_group_limit(spark):
    """Per-group top-K must plan WindowGroupLimit (partial+final), so
    no group is fully sorted/materialized."""
    plan = _executed("q03_top_customers_per_segment", spark)
    assert "WindowGroupLimit" in plan


def test_q43_sample_is_take_ordered(spark):
    """Seeded exact-N sampling must plan TakeOrderedAndProject — a
    top-N without a global sort."""
    plan = _executed("q43_random_sample", spark)
    assert "TakeOrderedAndProject" in plan


def test_q99_weighted_sample_is_take_ordered(spark):
    plan = _executed("q99_weighted_exact_sample", spark)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        # bucketed global-ranking family: the ONLY allowed
        # single-partition window is the ≤buckets-row offsets frame,
        # never a window over the data itself (pinned by checking the
        # data-side window partitions on a real key).
        "q60_customer_revenue_deciles",
        "q64_sequence_packing",
        "q96_equidepth_price_histogram",
    ],
)
def test_bucketed_ranking_has_data_side_hash_window(spark, name):
    plan = _executed(name, spark)
    # the per-bucket data window must exist under a bucket-key hash
    # partitioning (ranking.py uses `_b`, packing.py `_pb`)
    assert "hashpartitioning(_b" in plan or "hashpartitioning(_pb" in plan


def test_q51_curation_single_dedup_exchange(spark):
    """The curation chain's only hash exchange is the md5 dedup key;
    the gates filter BELOW it (rejected docs never shuffle)."""
    plan = _executed("q51_curation_pipeline", spark)
    assert "WindowGroupLimit" in plan  # keep-first rn=1 pushed


def test_kmv_twins_use_bounded_sketch_plan(spark):
    """q101/q102 exist to REMOVE the exact profilers' multi-distinct
    Expand: the distinct estimate must ride the WindowGroupLimit-capped
    bottom-k sketch, and no Expand may reappear."""
    p101 = _executed("q101_orders_profile_kmv", spark)
    assert "WindowGroupLimit" in p101
    assert "Expand" not in p101
    p102 = _executed("q102_dataset_card_sketch", spark)
    assert "WindowGroupLimit" in p102
    assert "Expand" not in p102


def test_q127_chunks_decompose_once(spark):
    """The boilerplate report consumes the chunk decomposition on both
    sides of the fp-count join; the q127 pin (eager localCheckpoint)
    must keep the explode + chunk-assembly window OUT of the final
    plan — both branches read the pinned rows, the raw text is
    chunked exactly once."""
    plan = _executed("q127_boilerplate_removal", spark)
    assert "Generate" not in plan  # no re-explode of text
    assert "Scan parquet" not in plan  # both branches read the pin


def test_q130_prefix_sum_is_bucketed_and_pinned(spark):
    """q130's per-source running sum must ride the grouped two-level
    scheme: the data-side window partitions on (source, bucket) —
    never on source alone, which would funnel a whole source through
    one task — with the per-bucket offsets broadcast, and both
    branches reading the pinned narrow projection (no second
    tokenizing scan of the text column)."""
    plan = _executed("q130_token_budget_sample", spark)
    assert "hashpartitioning(source" in plan and "_pb" in plan
    assert "BroadcastHashJoin" in plan
    assert "Scan parquet" not in plan


def test_q175_hamming_pairs_broadcast_whitelist_no_text_on_wire(spark):
    """q175's bucket whitelist (<= bands·2^width rows) must broadcast
    into the membership cut, and the pairing join must run over the
    pinned 8-byte fingerprints — no re-scan of the text column below
    the pair exchange (the simhash vote aggregate happens once,
    behind the localCheckpoint pin)."""
    plan = _executed("q175_simhash_hamming_pairs", spark)
    assert "BroadcastHashJoin" in plan
    # both membership sides read the pinned fingerprint rows; the raw
    # parquet text scan must not appear under the pairing join
    assert "Scan parquet" not in plan


def test_passage_search_broadcasts_needle_and_prunes(spark, tmp_path):
    """q174's operator plan (inspected below the registered wrapper's
    result pin): the candidate cut must BROADCAST the (tiny) needle
    gram-hash set against the positional index, and the final verify
    must broadcast the one-row needle — never a sort-merge exchange
    keyed on the corpus for either needle side."""
    from pyspark.sql import functions as F

    from efiche_data_pipeline_spark.operators.dedup import (
        incremental_duplicated_spans,
        passage_search,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store
    from efiche_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store = Store(spark, str(tmp_path / "psplan"))
    incremental_duplicated_spans(docs, store, k=6)
    needle = (
        docs.orderBy("doc_id")
        .limit(1)
        .select(
            F.concat_ws(
                " ", F.slice(F.split(F.col("text"), r"\s+"), 1, 6)
            ).alias("passage")
        )
        .localCheckpoint(eager=True)
    )
    out = passage_search(docs, needle, k=6, store=store)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2  # gram-hash cut + id semi
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row needle cross
    assert "SortMergeJoin" not in plan
    # the candidate cut's index scan must PRUNE to the needle's hash
    # prefixes at the directory level (hp-bucketed layout, r09): the
    # PartitionFilters entry on the span_positions FileScan is the
    # 100 TB contract — without it every takedown query reads the
    # whole positional index
    assert Store._dir_partition_columns(store.path("span_positions")) == ["hp"]
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*hp#\d+", plan), plan


def test_containment_search_prunes_and_broadcasts(spark, tmp_path):
    """q188's read plan: the postings cut must BROADCAST the probe
    gram-hash set (never sort-merge on the corpus side) and the index
    scan must PRUNE to the probes' hash prefixes at the directory
    level — the same 100 TB contract as the passage-search point
    query, for the whole-document containment read."""
    import re

    from efiche_data_pipeline_spark.operators.dedup import (
        containment_search,
        incremental_duplicated_spans,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store
    from efiche_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store = Store(spark, str(tmp_path / "csplan"))
    incremental_duplicated_spans(docs, store, k=6)
    from pyspark.sql import functions as F

    out = containment_search(store, docs.filter(F.col("doc_id") % 97 == 0))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert Store._dir_partition_columns(store.path("span_positions")) == ["hp"]
    assert re.search(r"PartitionFilters: \[[^\]]*hp#\d+", plan), plan


def test_heavy_hitter_recount_broadcasts_candidates(spark):
    """q185/q189's pass-2 contract: the exact recount must reach the
    gram stream through a BROADCAST semi-join on the bounded
    candidate set — a sort-merge join there would shuffle the full
    gram stream, the exact thing the two-pass plan exists to avoid."""
    from efiche_data_pipeline_spark.operators.sketch import (
        heavy_hitter_ngrams,
        heavy_hitter_ngrams_by,
    )
    from efiche_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        heavy_hitter_ngrams(docs.select("text"), den=1000),
        heavy_hitter_ngrams_by(docs.select("source", "text"), "source"),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan, plan


# Job budgets: re-opening unchanged parquet costs 0 jobs. Every
# inferring ``spark.read.parquet`` launches a footer-scan job; the
# schema cache behind load_table and the Store reads skips it while
# the files are unchanged. A refactor that routes these reads around
# the cache brings that job back on every query of a session.


def test_reloading_fixture_table_launches_no_job(spark):
    from efiche_data_pipeline_spark.sources.catalog import load_table

    load_table(spark, SF_DIR, "lineitem")
    n, _ = jobs_launched(spark, lambda: load_table(spark, SF_DIR, "lineitem"))
    assert n == 0


def test_rereading_unchanged_store_table_launches_no_job(spark, tmp_path):
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / "store"))
    store.overwrite(spark.range(10).selectExpr("id", "id % 3 AS k"), "t")
    store.read("t")
    n, _ = jobs_launched(spark, lambda: store.read("t"))
    assert n == 0


# Set-union folds write the unseen tuples through one
# ``Store.append_new`` with no eager pin in front of it. The budgets
# are the measured first- and second-fold job counts; an eager
# ``localCheckpoint`` put back before the append costs one job more
# per fold (4 and 5).
def _fold_jobs(spark, fold, first, second):
    return [jobs_launched(spark, lambda b=b: fold(b))[0] for b in (first, second)]


def test_incremental_retention_job_budget(spark, tmp_path):
    from datetime import datetime as dt

    from efiche_data_pipeline_spark.operators.sketch import incremental_retention
    from efiche_data_pipeline_spark.pipeline.store import Store

    ev = spark.createDataFrame(
        [(i, i % 4, dt(2024, 1, 1 + 7 * (i % 3), 12, 0)) for i in range(12)],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    store = Store(spark, str(tmp_path / "s"))
    jobs = _fold_jobs(
        spark,
        lambda b: incremental_retention(b, store),
        ev.filter("event_id < 6"),
        ev.filter("event_id >= 6"),
    )
    assert jobs == [3, 4]


def test_incremental_source_overlap_job_budget(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_source_overlap,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = spark.createDataFrame(
        [(1, "a", "p q r s"), (2, "b", "p q r t"), (3, "a", "u v w x")],
        "doc_id long, source string, text string",
    )
    store = Store(spark, str(tmp_path / "s"))
    jobs = _fold_jobs(
        spark,
        lambda b: incremental_source_overlap(b, store, n=3),
        docs.filter("doc_id <= 2"),
        docs.filter("doc_id > 2"),
    )
    assert jobs == [3, 4]


def test_layered_delete_keys_job_budget(spark, tmp_path):
    """delete_keys on a two-layer table where one layer holds the key:
    one job pins the keys, the locate scan and the cleaned layer's
    write take the rest. The rewrite reads the affected layer and
    writes a freshly claimed directory, so it needs no pin of its own;
    putting one back costs one job more."""
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / "s"))
    store.append_version(spark.range(0, 4), "t")
    store.append_version(spark.range(4, 8), "t")
    store.read_union("t")
    keys = spark.createDataFrame([(5,)], "id long")
    n, v = jobs_launched(spark, lambda: store.delete_keys("t", keys, "id"))
    assert n == 8
    assert store._layers("t", v) == [1, 3]
    assert sorted(r["id"] for r in store.read_union("t").collect()) == [
        0, 1, 2, 3, 4, 6, 7
    ]
