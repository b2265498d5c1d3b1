"""The schema cache behind ``sources.parquet.read_parquet``: a read of
unchanged files skips Spark's footer-scan (schema-inference) job and
returns exactly what an inferring read returns; any change to the
file set infers again."""

from __future__ import annotations

import os
import sys
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.sources import parquet as pq_read
from efiche_data_pipeline_spark.sources.catalog import load_table
from efiche_data_pipeline_spark.sources.parquet import read_parquet

from .conftest import SF_DIR, jobs_launched


@pytest.fixture
def cache(monkeypatch):
    """A private, empty cache per test (the module one is process-wide)."""
    fresh: OrderedDict = OrderedDict()
    monkeypatch.setattr(pq_read, "_cache", fresh)
    return fresh


def _rows(df):
    return sorted(df.collect(), key=repr)


def _assert_same(cached, inferred):
    assert cached.schema == inferred.schema
    assert cached.columns == inferred.columns
    assert _rows(cached) == _rows(inferred)


def _write(spark, path, sql, mode="overwrite", partition_by=None):
    w = spark.sql(sql).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _assert_cached_read_matches(spark, inferred, *paths, **options):
    """First read infers (>= 1 job); the second launches none and
    equals a plain inferring read."""
    first, _ = jobs_launched(spark, lambda: read_parquet(spark, *paths, **options))
    assert first >= 1
    n, cached = jobs_launched(spark, lambda: read_parquet(spark, *paths, **options))
    assert n == 0
    _assert_same(cached, inferred())


def test_second_read_of_unchanged_path_launches_no_job(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, CAST(id AS STRING) AS s FROM range(10)")
    first, _ = jobs_launched(spark, lambda: read_parquet(spark, p))
    again, df = jobs_launched(spark, lambda: read_parquet(spark, p))
    assert first >= 1 and again == 0
    assert df.count() == 10


def test_cached_single_file_and_directory_match_inferred(spark, cache, tmp_path):
    d = str(tmp_path / "d")
    _write(
        spark, d,
        "SELECT id, id * 2.5 AS x, DATE'2024-01-01' + CAST(id AS INT) AS day "
        "FROM range(20)",
    )
    f = next(
        os.path.join(d, x) for x in sorted(os.listdir(d)) if x.endswith(".parquet")
    )
    _assert_cached_read_matches(spark, lambda: spark.read.parquet(f), f)
    _assert_cached_read_matches(spark, lambda: spark.read.parquet(d), d)
    _assert_cached_read_matches(spark, lambda: spark.read.parquet(d), "file://" + d)


def test_cached_partitioned_and_base_path_reads_match_inferred(spark, cache, tmp_path):
    p = str(tmp_path / "hive")
    _write(
        spark, p, "SELECT id, id % 3 AS k, CAST(id AS STRING) AS s FROM range(30)",
        partition_by=["k"],
    )
    _assert_cached_read_matches(spark, lambda: spark.read.parquet(p), p)
    one = os.path.join(p, "k=1")
    _assert_cached_read_matches(
        spark,
        lambda: spark.read.option("basePath", p).parquet(one),
        one,
        basePath=p,
    )


def test_cached_layered_read_union_matches_inferred(spark, cache, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    for lo in (0, 10, 20):
        store.append_version(
            spark.range(lo, lo + 10).selectExpr("id", "id * 3 AS v"), "layers"
        )
    cur = store.current_version("layers")
    dirs = [store._vdir("layers", x) for x in store._layers("layers", cur)]
    assert len(dirs) == 3
    first, _ = jobs_launched(spark, lambda: store.read_union("layers"))
    assert first >= 1
    n, cached = jobs_launched(spark, lambda: store.read_union("layers"))
    assert n == 0
    _assert_same(cached, spark.read.parquet(*dirs))
    assert cached.count() == 30


def test_cached_events_fixture_matches_inferred(spark):
    load_table(spark, SF_DIR, "events")
    n, cached = jobs_launched(spark, lambda: load_table(spark, SF_DIR, "events"))
    assert n == 0
    inferred = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    assert dict(cached.dtypes)["ts"] == "timestamp_ntz"
    _assert_same(cached, inferred)


def _miss_then_hit(spark, path):
    n, df = jobs_launched(spark, lambda: read_parquet(spark, path))
    assert n >= 1, "changed files must be re-inferred"
    _assert_same(df, spark.read.parquet(path))
    again, _ = jobs_launched(spark, lambda: read_parquet(spark, path))
    assert again == 0
    return df


def test_cache_misses_after_overwrite_with_new_column(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    read_parquet(spark, p)
    _write(spark, p, "SELECT id, id + 1 AS extra FROM range(5)")
    assert _miss_then_hit(spark, p).columns == ["id", "extra"]


def test_cache_misses_after_append_of_new_file(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    read_parquet(spark, p)
    _write(spark, p, "SELECT id FROM range(5, 9)", mode="append")
    assert _miss_then_hit(spark, p).count() == 9


def test_cache_misses_after_new_partition_value(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, id % 2 AS k FROM range(6)", partition_by=["k"])
    assert dict(read_parquet(spark, p).dtypes)["k"] == "int"
    # a non-numeric partition value widens the inferred column type
    _write(
        spark, p, "SELECT id, 'x' AS k FROM range(2)", mode="append",
        partition_by=["k"],
    )
    assert dict(_miss_then_hit(spark, p).dtypes)["k"] == "string"


def test_cache_misses_after_deleted_file(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(8)")
    _write(spark, p, "SELECT id FROM range(8, 10)", mode="append")
    read_parquet(spark, p)
    part = next(x for x in sorted(os.listdir(p)) if x.endswith(".parquet"))
    os.remove(os.path.join(p, part))
    _miss_then_hit(spark, p)


def test_cache_misses_after_schema_conf_change(spark, cache, tmp_path):
    """A schema inferred under one reader conf is not reused under
    another: plain binary columns read as strings under
    ``binaryAsString``."""
    f = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), f)
    assert dict(read_parquet(spark, f).dtypes)["b"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        n, df = jobs_launched(spark, lambda: read_parquet(spark, f))
        assert n >= 1 and dict(df.dtypes)["b"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(read_parquet(spark, f).dtypes)["b"] == "binary"


def test_missing_and_empty_paths_read_plainly_and_are_not_cached(spark, cache, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(empty))
    assert not cache


def test_cache_stays_at_its_fixed_size(spark, cache, tmp_path, monkeypatch):
    monkeypatch.setattr(pq_read, "CACHE_SIZE", 3)
    paths = []
    for i in range(5):
        f = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), f)
        paths.append(f)
        read_parquet(spark, f)
        assert len(cache) <= 3
    assert len(cache) == 3
    # the most recent paths hit; the least recently used were evicted
    n, df = jobs_launched(spark, lambda: read_parquet(spark, paths[-1]))
    assert n == 0 and df.columns == ["c4"]
    n, df = jobs_launched(spark, lambda: read_parquet(spark, paths[0]))
    assert n >= 1 and df.columns == ["c0"]
    assert len(cache) == 3


def test_concurrent_reads_return_the_right_schema(spark, cache, tmp_path, monkeypatch):
    """More threads than cores, more paths than cache slots, and a
    short switch interval: hits, misses and evictions interleave, and
    every read still gets its own path's schema."""
    monkeypatch.setattr(pq_read, "CACHE_SIZE", 3)
    paths = {}
    for i in range(6):
        f = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i], "shared": [str(i)]}), f)
        paths[f] = [f"c{i}", "shared"]
    work = [f for _ in range(5) for f in paths]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * os.cpu_count()) as pool:
            futures = [
                (f, pool.submit(lambda f=f: read_parquet(spark, f).columns))
                for f in work
            ]
            got = [(f, fut.result(timeout=120)) for f, fut in futures]
    finally:
        sys.setswitchinterval(interval)
    for f, cols in got:
        assert cols == paths[f]
    assert len(cache) == 3
