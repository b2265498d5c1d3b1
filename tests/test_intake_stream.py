"""Full curation intake stream (streaming/intake.py): per micro-batch
decontaminate → dedup → card fold, each stage consulting history only
through its state. Pins stream ≡ one-shot global over every file
seen, checkpoint-restart equivalence, and convergence from an
injected crash between the stage commits."""

from __future__ import annotations

from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.dedup import (
    incremental_decontamination,
    incremental_minhash_dedup,
    seed_benchmark_index,
)
from efiche_data_pipeline_spark.operators.sketch import incremental_dataset_card
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.intake import run_intake_stream

_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the late afternoon sun"
)
_OTHER = (
    "completely unrelated content about distributed query engines "
    "shuffling partitioned columnar data across many executor nodes"
)
_THIRD = (
    "yet another entirely different document discussing gardening "
    "tips for tomatoes basil peppers and other summer vegetables"
)
_BENCH = (
    "held out benchmark question about the capital of france and "
    "its many famous museums along the river seine"
)
_FOURTH = (
    "fresh perspective on sourdough bread baking hydration ratios "
    "and the importance of a lively and regularly fed starter"
)


def _doc(doc_id, text, source="web"):
    return (doc_id, text, "en", source, len(text))


def _write_file(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _bench_docs(spark):
    return spark.createDataFrame([_doc(1000, _BENCH)], _SCHEMA)


def _global_state(spark, tmp_path, all_rows, name):
    """One-shot global run of the same chain on a fresh store:
    (kept ids, contaminated ids, card row as a dict)."""
    store = Store(spark, str(tmp_path / name))
    seed_benchmark_index(store, _bench_docs(spark))
    docs = spark.createDataFrame(all_rows, _SCHEMA)
    flags = incremental_decontamination(docs, store)
    contaminated = {
        r["doc_id"] for r in flags.collect() if r["contaminated"]
    }
    clean = docs.filter(~F.col("doc_id").isin(list(contaminated)))
    r = incremental_minhash_dedup(clean, store, threshold=0.5)
    kept = {row["doc_id"] for row in r.kept.collect()}
    card, _ = incremental_dataset_card(
        docs.filter(F.col("doc_id").isin(list(kept))), store
    )
    return kept, contaminated, card.first().asDict()


def _files(extra=False):
    f1 = [
        _doc(0, _BASE),
        _doc(1, _BENCH + " with an appended tail"),  # contaminated
        _doc(2, _OTHER, source="books"),
    ]
    f2 = [
        _doc(3, _BASE + " tail"),  # near-dup of kept doc 0 -> dropped
        _doc(4, _THIRD),
        _doc(5, "prefix words then " + _BENCH),  # contaminated
    ]
    f3 = [
        _doc(6, _OTHER + " appended"),  # near-dup of doc 2 -> dropped
        _doc(7, _FOURTH, source="books"),
    ]
    if not extra:
        return f1, f2, f3
    f4 = [
        _doc(8, _FOURTH + " with one more clause"),  # dup of 7 -> dropped
        _doc(9, "a genuinely new tiny note about fountain pen ink flow"),
    ]
    return f1, f2, f3, f4


def test_intake_stream_equals_global_and_restarts(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    seed_benchmark_index(store, _bench_docs(spark))
    f1, f2, f3 = _files()
    for f in (f1, f2, f3):
        _write_file(spark, src, f)
    r = run_intake_stream(spark, src, store, ckpt)
    g_kept, g_cont, g_card = _global_state(
        spark, tmp_path, f1 + f2 + f3, "g1"
    )
    kept = {row["doc_id"] for row in store.read("dedup_kept_docs").collect()}
    assert kept == g_kept
    flags = {
        row["doc_id"]
        for row in store.read("decontam_flags").collect()
        if row["contaminated"]
    }
    assert flags == g_cont == {1, 5}
    assert r.n_contaminated_total == 2
    assert r.n_kept_total == len(kept)
    assert r.card.first().asDict() == g_card
    # checkpoint restart: only the new file is consumed; dedup and
    # card still fold against the full history
    (f4,) = _files(extra=True)[3:]
    _write_file(spark, src, f4)
    r2 = run_intake_stream(spark, src, store, ckpt)
    g_kept2, _, g_card2 = _global_state(
        spark, tmp_path, f1 + f2 + f3 + f4, "g2"
    )
    kept2 = {row["doc_id"] for row in store.read("dedup_kept_docs").collect()}
    assert kept2 == g_kept2
    assert r2.card.first().asDict() == g_card2
    assert r2.n_batches >= 1


def test_intake_stream_crash_between_stage_commits_converges(spark, tmp_path):
    """Simulated crash after the kept-sink append but before the index
    commit AND the card fold (the widest window): a fresh stream run
    re-processes the file, the keyed flags/sink appends are no-ops,
    the index completes, and the card receives exactly the rows it
    missed through the kept-sink read-back."""
    src = str(tmp_path / "src")
    store = Store(spark, str(tmp_path / "store"))
    seed_benchmark_index(store, _bench_docs(spark))
    f1, f2, f3 = _files()
    for f in (f1, f2, f3):
        _write_file(spark, src, f)
    # manual partial "run" of file 1 that crashes mid-chain
    docs1 = spark.createDataFrame(f1, _SCHEMA)
    incremental_decontamination(docs1, store)
    contaminated = (
        store.read("decontam_flags").filter("contaminated").select("doc_id")
    )
    clean1 = docs1.join(contaminated, "doc_id", "left_anti")
    res = incremental_minhash_dedup(clean1, store, threshold=0.5, commit=False)
    store.append_new(res.kept.select("doc_id"), "dedup_kept_docs", key="doc_id")
    # crash here: index delta never committed, card never folded
    r = run_intake_stream(spark, src, store, str(tmp_path / "ckpt2"))
    g_kept, g_cont, g_card = _global_state(
        spark, tmp_path, f1 + f2 + f3, "g3"
    )
    kept = {row["doc_id"] for row in store.read("dedup_kept_docs").collect()}
    assert kept == g_kept
    assert store.count("dedup_kept_docs") == len(kept)  # no double insert
    assert r.n_contaminated_total == len(g_cont)
    assert r.card.first().asDict() == g_card


def test_all_contaminated_first_file_does_not_poison_the_stream(
    spark, tmp_path
):
    """A first file whose documents are all contaminated keeps nothing,
    so no kept sink exists yet: the card stage must skip instead of
    reading the missing sink, or the batch fails on every rerun."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    seed_benchmark_index(store, _bench_docs(spark))
    _write_file(spark, src, [_doc(1, _BENCH + " with an appended tail")])
    r1 = run_intake_stream(spark, src, store, ckpt)
    assert r1.n_batches == 1
    assert r1.n_contaminated_total == 1
    assert r1.n_kept_total == 0 and r1.card is None
    _write_file(spark, src, [_doc(2, _OTHER, source="books")])
    r2 = run_intake_stream(spark, src, store, ckpt)
    assert r2.n_batches == 1
    kept = {row["doc_id"] for row in store.read("dedup_kept_docs").collect()}
    assert kept == {2}
    assert r2.card is not None
