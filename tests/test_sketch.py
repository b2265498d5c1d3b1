"""KMV distinct-count sketch tests (operators/sketch.py): exact below
k, statistically sane above k, and the bounded-state plan shape
(partial WindowGroupLimit before the shuffle — the sketch's
mergeability, executed by Catalyst)."""

from __future__ import annotations

from pyspark.sql import functions as F

from efiche_data_pipeline_spark.operators.sketch import kmv_distinct

from .conftest import crash_once


def _est(spark, n_distinct, k):
    df = spark.range(n_distinct * 3).select(
        F.lit("g").alias("g"),
        (F.col("id") % n_distinct).cast("string").alias("v"),  # 3x dupes
    )
    return kmv_distinct(df, ["g"], "v", k=k).collect()[0].kmv_estimate


def test_kmv_exact_below_k(spark):
    assert _est(spark, 40, k=64) == 40


def test_kmv_estimates_above_k(spark):
    got = _est(spark, 5000, k=256)
    # stderr ≈ 1/sqrt(k-2) ≈ 6.3%; 4σ bound keeps this deterministic
    # in practice (the hash is fixed, so this is a fixed number — the
    # bound documents the accuracy contract, not flakiness).
    assert abs(got - 5000) / 5000 < 0.25, got


def test_kmv_plan_bounds_shuffle(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("g"), F.col("id").cast("string").alias("v")
    )
    plan = (
        kmv_distinct(df, ["g"], "v", k=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Partial WindowGroupLimit = map-side k-truncation per group.
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]


def test_kmv_partition_independent(spark):
    """The estimate must not depend on physical partitioning — the
    mergeability property that makes a bottom-k sketch a sketch."""
    df = spark.range(20_000).select(
        (F.col("id") % 5).alias("g"), (F.col("id") % 3_000).cast("string").alias("v")
    )
    a = sorted(map(tuple, kmv_distinct(df, ["g"], "v", k=64).collect()))
    b = sorted(
        map(tuple, kmv_distinct(df.repartition(17), ["g"], "v", k=64).collect())
    )
    c = sorted(
        map(tuple, kmv_distinct(df.coalesce(1), ["g"], "v", k=64).collect())
    )
    assert a == b == c


def test_q101_estimates_bounded_vs_exact_q87(spark):
    """The KMV scale-twin's per-column distinct estimates must stay
    within the sketch's error envelope of the exact q87 profile
    (k=64 -> SE ~ 12.7%; 3-sigma bound 40%), and be EXACT for columns
    with fewer than k distinct values."""
    from efiche_data_pipeline_spark.plans.corpus import (
        _PROFILE_KMV_K,
        q87_orders_profile,
        q101_orders_profile_kmv,
    )
    from .conftest import SF_DIR

    exact = {
        r["column_name"]: r["n_distinct"]
        for r in q87_orders_profile(spark, SF_DIR).collect()
    }
    est = {
        r["column_name"]: r["n_distinct_est"]
        for r in q101_orders_profile_kmv(spark, SF_DIR).collect()
    }
    assert set(est) == set(exact)
    for col, n in exact.items():
        if n < _PROFILE_KMV_K:
            assert est[col] == n, (col, est[col], n)
        else:
            assert abs(est[col] - n) <= 0.4 * n, (col, est[col], n)


def test_q102_estimates_bounded_vs_exact_q100(spark):
    from efiche_data_pipeline_spark.plans.corpus import (
        _PROFILE_KMV_K,
        q100_dataset_card,
        q102_dataset_card_sketch,
    )
    from .conftest import SF_DIR

    exact = q100_dataset_card(spark, SF_DIR).first()
    est = q102_dataset_card_sketch(spark, SF_DIR).first()
    # exact aggregates are shared verbatim
    for c in (
        "n_docs",
        "total_tokens",
        "total_chars",
        "min_doc_tokens",
        "max_doc_tokens",
        "chars_per_token",
    ):
        assert est[c] == exact[c]
    for est_col, exact_col in (
        ("n_unique_texts_est", "n_unique_texts"),
        ("n_sources_est", "n_sources"),
        ("n_langs_est", "n_langs"),
    ):
        n = exact[exact_col]
        if n < _PROFILE_KMV_K:
            assert est[est_col] == n, (est_col, est[est_col], n)
        else:
            assert abs(est[est_col] - n) <= 0.4 * n, (est_col, est[est_col], n)


def test_incremental_kmv_equals_direct_and_replays(spark, tmp_path):
    """Per-batch sketch folding must equal the from-scratch global
    sketch (bottom-k closure), and a replayed batch changes nothing."""
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_kmv,
        kmv_bottom,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = spark.createDataFrame(
        [(i, f"g{i % 3}", f"v{i % 177}") for i in range(600)],
        "k long, g string, v string",
    )
    store = Store(spark, str(tmp_path / "s"))
    for lo, hi in ((0, 199), (200, 399), (400, 599)):
        est, _ = incremental_kmv(
            rows.filter(F.col("k").between(lo, hi)), store, ["g"], "v", k=32
        )
    got = {r["g"]: r["kmv_estimate"] for r in est.collect()}
    # direct global sketch, same k
    direct_bottom = kmv_bottom(rows, ["g"], "v", k=32)
    from efiche_data_pipeline_spark.operators.sketch import HASH_SPACE

    direct = {
        r["g"]: r["kmv_estimate"]
        for r in direct_bottom.groupBy("g")
        .agg(
            F.when(F.count(F.lit(1)) < 32, F.count(F.lit(1)).cast("double"))
            .otherwise(F.round(F.lit(31) * F.lit(HASH_SPACE) / F.max("_h"), 0))
            .cast("long")
            .alias("kmv_estimate")
        )
        .collect()
    }
    assert got == direct
    replay, _ = incremental_kmv(
        rows.filter(F.col("k").between(200, 399)), store, ["g"], "v", k=32
    )
    assert {r["g"]: r["kmv_estimate"] for r in replay.collect()} == direct


def test_incremental_kmv_partition_independent(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import incremental_kmv
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = spark.createDataFrame(
        [(i, f"g{i % 2}", f"v{i % 311}") for i in range(700)],
        "k long, g string, v string",
    )

    def run(nparts):
        store = Store(spark, str(tmp_path / f"s{nparts}"))
        for lo, hi in ((0, 349), (350, 699)):
            est, _ = incremental_kmv(
                rows.filter(F.col("k").between(lo, hi)).repartition(nparts),
                store, ["g"], "v", k=32,
            )
        return sorted(map(tuple, est.collect()))

    assert run(1) == run(8) == run(32)


# ---------------------------------------------------------------------------
# Incremental dataset card (q114).
# ---------------------------------------------------------------------------
def _card_docs(spark, n=40):
    rows = [
        (
            i,
            f"document body {'x' * (i % 7)} number {i % 11} tail",
            f"src{i % 3}",
            ("en", "es", "de")[i % 3],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )


def test_incremental_card_equals_oneshot_and_replays(spark, tmp_path):
    """Any batching of the corpus yields the SAME card as one shot
    (associative scalars + KMV closure), and a replayed batch changes
    nothing."""
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_dataset_card,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = _card_docs(spark)
    one_store = Store(spark, str(tmp_path / "one"))
    card_one, _ = incremental_dataset_card(docs, one_store, k=8)
    expected = card_one.collect()[0].asDict()

    store = Store(spark, str(tmp_path / "three"))
    for lo, hi in ((0, 9), (10, 24), (25, 39)):
        card, v = incremental_dataset_card(
            docs.filter(F.col("doc_id").between(lo, hi)), store, k=8
        )
    assert card.collect()[0].asDict() == expected
    # replay of the last batch: version and card unchanged
    card2, v2 = incremental_dataset_card(
        docs.filter(F.col("doc_id").between(25, 39)), store, k=8
    )
    assert v2 == v
    assert card2.collect()[0].asDict() == expected


def test_incremental_card_crash_between_sketch_and_scalars_converges(
    spark, tmp_path
):
    """Injected crash AFTER the sketch fold but BEFORE the scalar
    (watermark) commit: the retry re-folds the sketch (idempotent
    set-union) and completes the scalars — the card converges to the
    crash-free value."""
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_dataset_card,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = _card_docs(spark)

    store = Store(spark, str(tmp_path / "crash"))
    incremental_dataset_card(docs.filter(F.col("doc_id") <= 19), store, k=8)
    crash_once(
        store, "write_version", "card_scalars", "injected crash before scalar commit"
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_dataset_card(docs.filter(F.col("doc_id") > 19), store, k=8)
    card, _ = incremental_dataset_card(
        docs.filter(F.col("doc_id") > 19), store, k=8
    )
    one_store = Store(spark, str(tmp_path / "one"))
    card_one, _ = incremental_dataset_card(docs, one_store, k=8)
    assert card.collect()[0].asDict() == card_one.collect()[0].asDict()


def test_incremental_card_empty_first_batch_rejected(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_dataset_card,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    import pytest

    store = Store(spark, str(tmp_path / "emp"))
    empty = _card_docs(spark).limit(0)
    with pytest.raises(ValueError, match="empty first"):
        incremental_dataset_card(empty, store, k=8)


def test_embedding_cell_drift_detects_planted_shift(spark):
    """q113's composition (frozen-centroid cell histogram → PSI): a
    current slice drawn from a DIFFERENT cluster than the reference
    must alarm (PSI > 0.25), while an identically-distributed slice
    stays calm (< 0.1)."""
    from efiche_data_pipeline_spark.operators.drift import (
        psi_from_bucket_counts,
    )
    from efiche_data_pipeline_spark.operators.similarity import assign_cells

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "cell_id int, embedding array<double>"
    )

    def psi_of(rows):
        emb = spark.createDataFrame(
            rows, "vec_id long, side string, embedding array<double>"
        )
        cells = assign_cells(
            emb.select("vec_id", "embedding"), cents, "vec_id", "embedding"
        ).join(emb.select("vec_id", "side"), "vec_id")
        pb = (
            cells.select(
                F.lit("embedding_cell").alias("column_name"),
                F.col("cell_id").cast("string").alias("bucket"),
                "side",
            )
            .groupBy("column_name", "bucket")
            .agg(
                F.sum((F.col("side") == "ref").cast("long")).alias("c_ref"),
                F.sum((F.col("side") == "cur").cast("long")).alias("c_cur"),
            )
        )
        return psi_from_bucket_counts(pb).collect()[0]["psi"]

    axis0 = lambda i: [1.0, 0.01 * (i % 5)]
    axis1 = lambda i: [0.01 * (i % 5), 1.0]
    calm = [(i, "ref", axis0(i)) for i in range(40)] + [
        (100 + i, "cur", axis0(i)) for i in range(40)
    ]
    shifted = [(i, "ref", axis0(i)) for i in range(40)] + [
        (100 + i, "cur", axis1(i)) for i in range(40)
    ]
    assert psi_of(calm) < 0.1
    assert psi_of(shifted) > 0.25


# ---------------------------------------------------------------------------
# Incremental hash-sample quantiles (q118).
# ---------------------------------------------------------------------------
def _orders(spark, n=900):
    # value pattern: deterministic, skewed-ish across 3 groups
    return spark.createDataFrame(
        [
            (i, ("A", "B", "C")[i % 3], float((i * 37) % 1000) + 0.25)
            for i in range(n)
        ],
        "k long, g string, v double",
    )


def test_incremental_quantiles_equal_direct_and_replay(spark, tmp_path):
    """Bottom-k-by-key-hash closure: any batching folds to EXACTLY the
    global sample, hence identical quantile picks; replays are
    set-union no-ops on the sample (version bumps, values frozen)."""
    from efiche_data_pipeline_spark.operators.sketch import (
        hash_sample_bottom,
        incremental_quantiles,
        sample_quantiles,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = _orders(spark)
    direct = {
        r["g"]: (r["n_sample"], r["p50"], r["p90"], r["p99"])
        for r in sample_quantiles(
            hash_sample_bottom(rows, ["g"], "k", "v", k=64), ["g"]
        ).collect()
    }
    store = Store(spark, str(tmp_path / "inc"))
    for lo, hi in ((0, 299), (300, 599), (600, 899)):
        est, v = incremental_quantiles(
            rows.filter(F.col("k").between(lo, hi)), store, ["g"], "k", "v", k=64
        )
    got = {
        r["g"]: (r["n_sample"], r["p50"], r["p90"], r["p99"])
        for r in est.collect()
    }
    assert got == direct
    est2, v2 = incremental_quantiles(
        rows.filter(F.col("k") >= 600), store, ["g"], "k", "v", k=64
    )
    assert {
        r["g"]: (r["n_sample"], r["p50"], r["p90"], r["p99"])
        for r in est2.collect()
    } == direct


def test_sample_quantiles_error_bounded_vs_exact(spark, tmp_path):
    """Uniform-sample quantile accuracy: with k=256 of n=900 the
    estimated p50/p90 must sit within 0.08 rank-fraction of the exact
    population quantile (DKW-style bound, generous margin)."""
    from efiche_data_pipeline_spark.operators.sketch import (
        hash_sample_bottom,
        sample_quantiles,
    )

    rows = _orders(spark).filter(F.col("g") == "A")
    est = sample_quantiles(
        hash_sample_bottom(rows, ["g"], "k", "v", k=256), ["g"]
    ).collect()[0]
    vals = sorted(r["v"] for r in rows.collect())
    n = len(vals)
    for p, got in ((0.5, est["p50"]), (0.9, est["p90"])):
        # exact rank-fraction of the estimated value in the population
        import bisect

        frac = bisect.bisect_right(vals, got) / n
        assert abs(frac - p) <= 0.08, (p, got, frac)


def test_incremental_quantiles_partition_invariant(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_quantiles,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = _orders(spark, 300)

    def run(nparts):
        store = Store(spark, str(tmp_path / f"p{nparts}"))
        for lo, hi in ((0, 149), (150, 299)):
            est, _ = incremental_quantiles(
                rows.filter(F.col("k").between(lo, hi)).repartition(nparts),
                store,
                ["g"],
                "k",
                "v",
                k=32,
            )
        return {
            r["g"]: (r["p50"], r["p90"], r["p99"]) for r in est.collect()
        }

    assert run(1) == run(8) == run(32)


# ---------------------------------------------------------------------------
# Incremental TF-IDF (q122): maintained df/top-k state across batches.
# ---------------------------------------------------------------------------
_TF_TERMS = ("join", "vector", "stream")


def _tf_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tf_corpus(spark):
    rows = [
        (0, "join the vector stream join join"),
        (1, "vector vector stream"),
        (2, "nothing relevant here"),
        (3, "stream stream stream join"),
        (4, "join vector"),
        (5, "one more join mention"),
    ]
    return _tf_docs(spark, rows), rows


def _py_tfidf(rows, terms, k=10):
    import math

    n = len(rows)
    tf = {
        (t, d): txt.split().count(t)
        for d, txt in rows
        for t in terms
        if txt.split().count(t) > 0
    }
    df = {}
    for (t, _d) in tf:
        df[t] = df.get(t, 0) + 1
    out = {}
    for t in terms:
        hits = sorted(
            ((d, c) for (tt, d), c in tf.items() if tt == t),
            key=lambda x: (-x[1], x[0]),
        )[:k]
        for d, c in hits:
            out[(t, d)] = (c, round(c * math.log((n + 1) / (df[t] + 1)), 6))
    return out


def test_incremental_tfidf_equals_global_and_replays(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import incremental_tfidf
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs, rows = _tf_corpus(spark)
    store = Store(spark, str(tmp_path / "tfidf"))
    for lo, hi in ((0, 1), (2, 3), (4, 5)):
        out, _v = incremental_tfidf(
            docs.filter(F.col("doc_id").between(lo, hi)), store, _TF_TERMS
        )
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["tfidf"]) for r in out.collect()
    }
    assert got == _py_tfidf(rows, _TF_TERMS)
    # replay: watermark cuts the batch, state versions unchanged
    v_stats = store.current_version("tfidf_stats")
    v_topk = store.current_version("tfidf_topk")
    out2, v2 = incremental_tfidf(
        docs.filter(F.col("doc_id").between(4, 5)), store, _TF_TERMS
    )
    assert v2 == v_stats
    assert store.current_version("tfidf_topk") == v_topk
    got2 = {
        (r["term"], r["doc_id"]): (r["tf"], r["tfidf"]) for r in out2.collect()
    }
    assert got2 == got


def test_incremental_tfidf_topk_closure_evicts_correctly(spark, tmp_path):
    """More hits than k: the maintained top-k must equal the global
    top-k even when later batches evict earlier candidates."""
    from efiche_data_pipeline_spark.operators.sketch import incremental_tfidf
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = [(i, " ".join(["join"] * (1 + (i * 7) % 5))) for i in range(12)]
    docs = _tf_docs(spark, rows)
    store = Store(spark, str(tmp_path / "evict"))
    for lo, hi in ((0, 5), (6, 11)):
        out, _ = incremental_tfidf(
            docs.filter(F.col("doc_id").between(lo, hi)),
            store,
            ("join",),
            k=3,
        )
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["tfidf"]) for r in out.collect()
    }
    assert got == _py_tfidf(rows, ("join",), k=3)


def test_incremental_tfidf_crash_between_commits_converges(spark, tmp_path):
    """Crash after the (idempotent) top-k commit but before the stats
    snapshot: the watermark — which travels WITH the df sums in one
    atomic write — is unmoved, so the retried batch re-merges the
    top-k (no-op) and completes the stats without double-counting any
    df."""
    import pytest

    from efiche_data_pipeline_spark.operators.sketch import incremental_tfidf
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs, rows = _tf_corpus(spark)
    store = Store(spark, str(tmp_path / "crash"))
    incremental_tfidf(docs.filter(F.col("doc_id") <= 2), store, _TF_TERMS)
    crash_once(
        store, "write_version", "tfidf_stats", "injected crash before stats commit"
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_tfidf(docs.filter(F.col("doc_id") > 2), store, _TF_TERMS)
    out, _ = incremental_tfidf(docs.filter(F.col("doc_id") > 2), store, _TF_TERMS)
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["tfidf"]) for r in out.collect()
    }
    assert got == _py_tfidf(rows, _TF_TERMS)
    # df was not double-counted by the replay
    dfs = {
        r["term"]: r["df"]
        for r in store.read_version("tfidf_stats").collect()
    }
    assert dfs == {"join": 4, "vector": 3, "stream": 3}


# ---------------------------------------------------------------------------
# Incremental OHLC bars (q124).
# ---------------------------------------------------------------------------
def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, event_type string, value double"
    )


def _ohlc_rows():
    from datetime import datetime as dt

    # two 15-min bars, one type; equal-timestamp tie inside bar 1
    return [
        (0, dt(2024, 1, 1, 10, 1), "click", 5.0),
        (1, dt(2024, 1, 1, 10, 4), "click", 9.0),
        (2, dt(2024, 1, 1, 10, 4), "click", 2.0),   # same ts as id 1
        (3, dt(2024, 1, 1, 10, 14), "click", 7.0),
        (4, dt(2024, 1, 1, 10, 20), "click", 3.0),
        (5, dt(2024, 1, 1, 10, 25), "click", 8.0),
    ]


def test_incremental_ohlc_equals_global_and_replays(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import incremental_ohlc
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = _ohlc_rows()
    ev = _ev(spark, rows)
    # global: one fold over everything
    g_store = Store(spark, str(tmp_path / "g"))
    g_out, _ = incremental_ohlc(ev, g_store)
    want = {
        (r["bar_start"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"],
            r["volume"],
        )
        for r in g_out.collect()
    }
    # the tie at 10:04 resolves by event_id: open of bar 1 is id 0's 5.0
    b1 = [v for k, v in want.items() if "10:00" in k[0]][0]
    assert b1 == (5.0, 9.0, 2.0, 7.0, 4, 23.0)
    # incremental: split MID-BAR so partial bars must merge
    store = Store(spark, str(tmp_path / "i"))
    for lo, hi in ((0, 1), (2, 4), (5, 5)):
        out, _ = incremental_ohlc(
            ev.filter(F.col("event_id").between(lo, hi)), store
        )
    got = {
        (r["bar_start"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"],
            r["volume"],
        )
        for r in out.collect()
    }
    assert got == want
    # replay: watermark cuts everything, version unchanged
    v = store.current_version("ohlc_bars")
    out2, v2 = incremental_ohlc(ev, store)
    assert v2 == v
    assert {
        (r["bar_start"], r["event_type"]) for r in out2.collect()
    } == set(want)


def test_incremental_ohlc_merge_prefers_order_key_not_value(spark, tmp_path):
    """A later batch carrying an EARLIER-keyed event in the same bar
    must take over the open — the merge picks by (ts, id) order key,
    never by which batch arrived first. (Requires ids monotone overall
    but ts order differing within the bar.)"""
    from datetime import datetime as dt

    from efiche_data_pipeline_spark.operators.sketch import incremental_ohlc
    from efiche_data_pipeline_spark.pipeline.store import Store

    store = Store(spark, str(tmp_path / "ok"))
    b1 = _ev(spark, [(0, dt(2024, 1, 1, 10, 5), "click", 4.0)])
    b2 = _ev(spark, [(1, dt(2024, 1, 1, 10, 2), "click", 6.0)])
    incremental_ohlc(b1, store)
    out, _ = incremental_ohlc(b2, store)
    r = out.first()
    assert r["open"] == 6.0 and r["close"] == 4.0  # keyed by ts, not batch
    assert r["n_events"] == 2 and r["volume"] == 10.0


# ---------------------------------------------------------------------------
# Incremental per-source rollup (q125).
# ---------------------------------------------------------------------------
def test_incremental_source_rollup_equals_global_replays_and_survives_crash(
    spark, tmp_path
):
    """Split-by-batch rollup equals the one-fold global; replay is cut
    by the watermark; a crash between the set-union commits and the
    scalar snapshot replays to convergence (no double-counted sums,
    no duplicated fp rows)."""
    import pytest

    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_source_rollup,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    text = lambda i: " ".join(
        ["the", "a", "of"][: 1 + i % 3] + [f"w{j}" for j in range(5 + i % 7)]
    )
    rows = [
        (i, text(i), "en" if i % 3 else "de", "web" if i % 2 else "books")
        for i in range(24)
    ] + [(24, text(4), "en", "books")]  # exact dup of doc 4 (books too)
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def snap(df):
        return {r["source"]: tuple(r)[1:] for r in df.collect()}

    g_store = Store(spark, str(tmp_path / "g"))
    g_out, _ = incremental_source_rollup(docs, g_store)
    want = snap(g_out)
    assert any(r[1] > 0 for r in want.values())  # the planted dup counted

    store = Store(spark, str(tmp_path / "i"))
    for lo, hi in ((0, 9), (10, 17), (18, 24)):
        out, _ = incremental_source_rollup(
            docs.filter(F.col("doc_id").between(lo, hi)), store
        )
    assert snap(out) == want
    # replay: watermark cuts everything
    v = store.current_version("rollup_scalars")
    out2, v2 = incremental_source_rollup(docs, store)
    assert v2 == v and snap(out2) == want

    cstore = Store(spark, str(tmp_path / "c"))
    incremental_source_rollup(docs.filter(F.col("doc_id") <= 9), cstore)
    crash_once(
        cstore, "write_version", "rollup_scalars", "injected crash before scalar commit"
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_source_rollup(docs.filter(F.col("doc_id") > 9), cstore)
    out3, _ = incremental_source_rollup(docs.filter(F.col("doc_id") > 9), cstore)
    assert snap(out3) == want


def test_incremental_retention_equals_global_and_replays(spark, tmp_path):
    """Fold-split retention equals the one-shot report; replaying a
    committed batch appends nothing (set union — the single-commit,
    no-watermark member of the family)."""
    from datetime import datetime as dt

    from efiche_data_pipeline_spark.operators.sketch import (
        incremental_retention,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    rows = []
    eid = 0
    # users 0-5 active week 0; 0-2 return week 1; 0 returns week 2
    for week, users in ((0, range(6)), (1, range(3)), (2, range(1))):
        for u in users:
            rows.append((eid, u, dt(2024, 1, 1 + 7 * week, 12, 0)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    snap = lambda df: {r["week"]: tuple(r)[1:] for r in df.collect()}
    g = Store(spark, str(tmp_path / "g"))
    want = snap(incremental_retention(ev, g))
    weeks = sorted(want)
    assert want[weeks[0]][:2] == (6, 3) and want[weeks[1]][:2] == (3, 1)
    store = Store(spark, str(tmp_path / "i"))
    for lo, hi in ((0, 4), (5, 7), (8, 9)):
        out = incremental_retention(
            ev.filter(F.col("event_id").between(lo, hi)), store
        )
    assert snap(out) == want
    n = store.read("retention_user_weeks").count()
    out2 = incremental_retention(ev, store)  # full replay
    assert store.read("retention_user_weeks").count() == n
    assert snap(out2) == want


# ---------------------------------------------------------------------------
# Heavy-hitter n-grams (q185/q186): the MG candidate pass must EVICT
# under pressure (k far below the distinct-gram count) and the
# two-pass output must still be exactly the true heavy hitters, for
# any partitioning — the no-false-negative guarantee the operator is
# built on. The driver fixture never stresses eviction (916 distinct
# bigrams < k), so these tests do.
# ---------------------------------------------------------------------------
def _hh_docs(spark, n_tail=400):
    # 2 hot bigrams ("hot pepper" via repeats, "cold stone") buried in
    # a long unique tail: each tail doc contributes 2 distinct grams
    # seen nowhere else.
    rows = [(0, " ".join(["hot pepper"] * 60)), (1, " ".join(["cold stone"] * 40))]
    rows += [(2 + i, f"tail{i}a tail{i}b tail{i}c") for i in range(n_tail)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_heavy_hitters_exact_under_eviction(spark):
    from efiche_data_pipeline_spark.functions.text import word_ngrams
    from efiche_data_pipeline_spark.operators.sketch import heavy_hitter_ngrams

    docs = _hh_docs(spark)
    den, k = 20, 25  # threshold N/20; 25 counters vs ~800 distinct grams
    truth = {
        (r["gram"], r["n_occurrences"])
        for r in (
            docs.select(F.explode(word_ngrams("text", 2)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .collect()
        )
    }
    n_total = sum(c for _, c in truth)
    want = {(g, c) for g, c in truth if c * den >= n_total}
    assert 1 <= len(want) <= 4  # the fixture's hot grams, not the tail
    for parts in (1, 7):
        got = {
            (r["gram"], r["n_occurrences"])
            for r in heavy_hitter_ngrams(
                docs.repartition(parts), "text", n=2, den=den, k=k
            ).collect()
        }
        assert got == want, (parts, got, want)


def test_heavy_hitters_k_guard(spark):
    import pytest

    from efiche_data_pipeline_spark.operators.sketch import heavy_hitter_ngrams

    with pytest.raises(ValueError, match="k=10 < den=20"):
        heavy_hitter_ngrams(_hh_docs(spark, 2), "text", den=20, k=10)


def test_incremental_ngram_hh_equals_oneshot_and_replays(spark, tmp_path):
    from efiche_data_pipeline_spark.operators.sketch import (
        heavy_hitter_ngrams,
        incremental_ngram_counts,
        ngram_heavy_hitters,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = _hh_docs(spark, n_tail=60)
    store = Store(spark, str(tmp_path / "hh"))
    b1 = docs.filter(F.col("doc_id") < 30)
    b2 = docs.filter(F.col("doc_id") >= 30)
    assert incremental_ngram_counts(b1, store) == 30
    assert incremental_ngram_counts(b2, store) == 32
    den = 20
    want = {
        (r["gram"], r["n_occurrences"])
        for r in heavy_hitter_ngrams(docs, "text", den=den).collect()
    }
    got = {
        (r["gram"], r["n_occurrences"])
        for r in ngram_heavy_hitters(store, den=den).collect()
    }
    assert got == want and want
    # blind replay of batch 1: watermark absorbs it, state unchanged
    layers = store.read_union("ngram_counts").count()
    assert incremental_ngram_counts(b1, store) == 0
    assert store.read_union("ngram_counts").count() == layers


def test_forget_ngram_documents_survivor_exact(spark, tmp_path):
    """Forgetting docs from the ngram count estate equals never having
    folded them: HH read matches the survivor one-shot exactly; a
    blind retry subtracts nothing (marker ledger); an id above the
    fold watermark raises before any mutation."""
    import pytest

    from efiche_data_pipeline_spark.operators.sketch import (
        forget_ngram_documents,
        heavy_hitter_ngrams,
        incremental_ngram_counts,
        ngram_heavy_hitters,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = _hh_docs(spark, n_tail=40)
    store = Store(spark, str(tmp_path / "fng"))
    incremental_ngram_counts(docs.filter(F.col("doc_id") < 20), store)
    incremental_ngram_counts(docs.filter(F.col("doc_id") >= 20), store)
    # forget doc 0 (the dominant "hot pepper" doc) and one tail doc
    gone = docs.filter(F.col("doc_id").isin([0, 5]))
    assert forget_ngram_documents(store, gone) == 2
    den = 20
    survivors = docs.filter(~F.col("doc_id").isin([0, 5]))
    want = {
        (r["gram"], r["n_occurrences"])
        for r in heavy_hitter_ngrams(survivors, "text", den=den).collect()
    }
    got = {
        (r["gram"], r["n_occurrences"])
        for r in ngram_heavy_hitters(store, den=den).collect()
    }
    assert got == want and want
    # survivor semantics flipped the heavy-hitter set: "hot pepper"
    # (119 of doc 0's occurrences) is gone from it
    assert not any(g == "hot pepper" for g, _ in got)
    # blind retry: ledger absorbs it, no new layer, result unchanged
    layers = store.read_union("ngram_counts").count()
    assert forget_ngram_documents(store, gone) == 0
    assert store.read_union("ngram_counts").count() == layers
    # never-folded id: refuse before mutation
    ghost = spark.createDataFrame(
        [(10_000, "ghost words here")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="exceed the fold watermark"):
        forget_ngram_documents(store, ghost)
    assert store.read_union("ngram_counts").count() == layers


def test_grouped_heavy_hitters_exact_under_eviction(spark):
    """Per-group MG must hold the per-group guarantee under eviction:
    each group's hot grams survive, no cross-group leakage, grams
    heavy in one source but absent in another stay per-source. Truth
    from a plain grouped count; output partition-independent."""
    from efiche_data_pipeline_spark.functions.text import word_ngrams
    from efiche_data_pipeline_spark.operators.sketch import (
        heavy_hitter_ngrams_by,
    )

    rows = [(0, "a", " ".join(["hot pepper"] * 50))]
    rows += [(1, "b", " ".join(["cold stone"] * 50))]
    rows += [(2 + i, "a", f"atail{i}x atail{i}y atail{i}z") for i in range(150)]
    rows += [(200 + i, "b", f"btail{i}x btail{i}y btail{i}z") for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    den, k = 20, 25
    truth = {}
    for r in (
        docs.select("source", F.explode(word_ngrams("text", 2)).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ):
        truth[(r["source"], r["gram"])] = r["c"]
    tot = {}
    for (s, _), c in truth.items():
        tot[s] = tot.get(s, 0) + c
    want = {(s, g, c) for (s, g), c in truth.items() if c * den >= tot[s]}
    assert {s for s, _, _ in want} == {"a", "b"}
    for parts in (1, 5):
        got = {
            (r["source"], r["gram"], r["n_occurrences"])
            for r in heavy_hitter_ngrams_by(
                docs.repartition(parts), "source", den=den, k=k
            ).collect()
        }
        assert got == want, (parts, got ^ want)


def test_grouped_heavy_hitters_typing_contract(spark):
    """ADVICE r09: a NON-STRING group column must work (the operator
    casts it to string explicitly, so the Arrow summary schema is
    self-enforcing) and a NULL group must FAIL FAST instead of being
    silently dropped by the per-batch pandas groupby."""
    import pytest

    from efiche_data_pipeline_spark.operators.sketch import (
        heavy_hitter_ngrams_by,
    )

    docs = spark.createDataFrame(
        [(1, 7, " ".join(["hot pepper"] * 30)),
         (2, 8, " ".join(["cold stone"] * 30))],
        "doc_id long, src int, text string",
    )
    got = {
        (r["src"], r["gram"])
        for r in heavy_hitter_ngrams_by(docs, "src", den=5).collect()
    }
    # int groups round-trip as their string form, per-group exact
    assert ("7", "hot pepper") in got and ("8", "cold stone") in got
    assert heavy_hitter_ngrams_by(docs, "src", den=5).schema["src"].dataType.simpleString() == "string"
    withnull = docs.unionByName(
        spark.createDataFrame(
            [(3, None, "x y z")], "doc_id long, src int, text string"
        )
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        heavy_hitter_ngrams_by(withnull, "src", den=5)


def test_ngram_estate_survives_compaction(spark, tmp_path):
    """compact_layers on the ngram count table preserves every read
    the estate exposes: the HH result, the fold watermark (a new
    batch folds exactly once afterwards), and the forget ledger (a
    retry after compaction is still a no-op)."""
    from efiche_data_pipeline_spark.operators.sketch import (
        forget_ngram_documents,
        incremental_ngram_counts,
        ngram_heavy_hitters,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store

    docs = _hh_docs(spark, n_tail=30)
    store = Store(spark, str(tmp_path / "cmp"))
    incremental_ngram_counts(docs.filter(F.col("doc_id") < 16), store)
    incremental_ngram_counts(
        docs.filter((F.col("doc_id") >= 16) & (F.col("doc_id") < 28)), store
    )
    gone = docs.filter(F.col("doc_id") == 0)
    assert forget_ngram_documents(store, gone) == 1
    before = sorted(
        tuple(r) for r in ngram_heavy_hitters(store, den=1).collect()
    )
    store.compact_layers("ngram_counts")
    store.vacuum_versions("ngram_counts", keep_last=1)
    assert (
        sorted(tuple(r) for r in ngram_heavy_hitters(store, den=1).collect())
        == before
    )
    # forget retry is still ledgered (markers survive compaction)
    assert forget_ngram_documents(store, gone) == 0
    # the watermark survived: only the genuinely-new docs fold
    assert incremental_ngram_counts(docs.filter(F.col("doc_id") < 32), store) == 4
