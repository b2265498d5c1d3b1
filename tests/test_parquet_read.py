"""The two ways ``sources.parquet.read_parquet`` skips Spark's
schema-inference job, each returning exactly what an inferring read
returns: the fingerprinted schema cache (a read of unchanged files),
and the Spark schema in the parquet footers (a first read of files
Spark wrote). Any change to the file set misses the cache; any file
set the footers cannot vouch for is inferred by Spark."""

from __future__ import annotations

import os
import shutil
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


@pytest.fixture
def no_footer(monkeypatch):
    """Every cache miss infers with Spark: the footer read is patched
    out, so the cache tests count the job a miss costs."""
    monkeypatch.setattr(pq_read, "_footer_schema", lambda *a: None)


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


def test_second_read_of_unchanged_path_launches_no_job(spark, cache, no_footer, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, CAST(id AS STRING) AS s FROM range(10)")
    first, _ = jobs_launched(spark, lambda: read_parquet(spark, p))
    again, df = jobs_launched(spark, lambda: read_parquet(spark, p))
    assert first >= 1 and again == 0
    assert df.count() == 10


def test_cached_single_file_and_directory_match_inferred(
    spark, cache, no_footer, tmp_path
):
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


def test_cached_partitioned_and_base_path_reads_match_inferred(
    spark, cache, no_footer, tmp_path
):
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


def test_cached_layered_read_union_matches_inferred(spark, cache, no_footer, tmp_path):
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


def test_cache_misses_after_overwrite_with_new_column(spark, cache, no_footer, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    read_parquet(spark, p)
    _write(spark, p, "SELECT id, id + 1 AS extra FROM range(5)")
    assert _miss_then_hit(spark, p).columns == ["id", "extra"]


def test_cache_misses_after_append_of_new_file(spark, cache, no_footer, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    read_parquet(spark, p)
    _write(spark, p, "SELECT id FROM range(5, 9)", mode="append")
    assert _miss_then_hit(spark, p).count() == 9


def test_cache_misses_after_new_partition_value(spark, cache, no_footer, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, id % 2 AS k FROM range(6)", partition_by=["k"])
    assert dict(read_parquet(spark, p).dtypes)["k"] == "int"
    # a non-numeric partition value widens the inferred column type
    _write(
        spark, p, "SELECT id, 'x' AS k FROM range(2)", mode="append",
        partition_by=["k"],
    )
    assert dict(_miss_then_hit(spark, p).dtypes)["k"] == "string"


def test_cache_misses_after_deleted_file(spark, cache, no_footer, tmp_path):
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


# The footer path: a first read of Spark-written files takes the
# schema Spark stored in their footers and launches no job.


def _assert_footer_read_matches(spark, *paths, **options):
    """A first read launches no job and equals a plain inferring read;
    the next read of the same files hits the cache."""
    n, df = jobs_launched(spark, lambda: read_parquet(spark, *paths, **options))
    assert n == 0
    _assert_same(df, spark.read.options(**options).parquet(*paths))
    again, _ = jobs_launched(spark, lambda: read_parquet(spark, *paths, **options))
    assert again == 0
    return df


def test_footer_read_of_every_type_matches_inferred(spark, cache, tmp_path):
    from pyspark.sql import types as T

    nested = str(tmp_path / "nested")
    _write(
        spark, nested,
        "SELECT id, named_struct('a', id, 'b', array(id, id + 1)) AS st, "
        "map(CAST(id AS STRING), named_struct('x', id)) AS m, "
        "array(named_struct('y', CAST(id AS STRING))) AS arr, "
        "CAST(id * 1.5 AS DECIMAL(38,6)) AS dec, "
        "DATE'2024-01-01' + CAST(id AS INT) AS day, "
        "TIMESTAMP'2024-01-01 01:02:03' + make_interval(0, 0, 0, 0, id) AS ts, "
        "TIMESTAMP_NTZ'2024-01-01 01:02:03' AS ts_ntz, "
        "CAST(CAST(id AS STRING) AS BINARY) AS bin FROM range(6)",
    )
    df = _assert_footer_read_matches(spark, nested)
    assert dict(df.dtypes)["ts_ntz"] == "timestamp_ntz"

    strict = str(tmp_path / "strict")
    schema = T.StructType([
        T.StructField("k", T.LongType(), False, {"comment": "key"}),
        T.StructField("tags", T.ArrayType(T.StringType(), False), False),
        T.StructField("v", T.MapType(T.StringType(), T.LongType(), False), True),
    ])
    spark.createDataFrame([(1, ["a"], {"x": 1})], schema).write.parquet(strict)
    df = _assert_footer_read_matches(spark, strict)
    assert df.schema["k"].metadata == {"comment": "key"}

    parts = str(tmp_path / "parts")
    _write(
        spark, parts,
        "SELECT id, id % 3 AS big, CAST(id % 2 AS STRING) AS num, "
        "DATE'2024-01-01' + CAST(id % 2 AS INT) AS day FROM range(12)",
        partition_by=["big", "num"],
    )
    df = _assert_footer_read_matches(spark, parts)
    # bigint and numeric-string partition values both read back as int
    assert dict(df.dtypes)["big"] == "int" and dict(df.dtypes)["num"] == "int"

    dates = str(tmp_path / "dates")
    _write(
        spark, dates,
        "SELECT id, DATE'2024-01-01' + CAST(id % 2 AS INT) AS day FROM range(6)",
        partition_by=["day"],
    )
    _assert_footer_read_matches(spark, dates)


def test_footer_read_after_overwrite_with_new_column(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    read_parquet(spark, p)
    _write(spark, p, "SELECT id, id + 1 AS extra FROM range(5)")
    assert _assert_footer_read_matches(spark, p).columns == ["id", "extra"]


def test_footer_read_after_append_new_partition_and_deleted_file(
    spark, cache, tmp_path
):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, id % 2 AS k FROM range(6)", partition_by=["k"])
    read_parquet(spark, p)
    _write(
        spark, p, "SELECT id, id % 2 AS k FROM range(6, 9)", mode="append",
        partition_by=["k"],
    )
    assert _assert_footer_read_matches(spark, p).count() == 9
    _write(
        spark, p, "SELECT id, 'x' AS k FROM range(2)", mode="append",
        partition_by=["k"],
    )
    assert dict(_assert_footer_read_matches(spark, p).dtypes)["k"] == "string"
    shutil.rmtree(os.path.join(p, "k=x"))
    part = next(
        os.path.join(p, "k=0", x)
        for x in sorted(os.listdir(os.path.join(p, "k=0")))
        if x.endswith(".parquet")
    )
    os.remove(part)
    assert dict(_assert_footer_read_matches(spark, p).dtypes)["k"] == "int"


def test_footer_read_of_a_copied_store(spark, cache, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    store.overwrite(spark.range(10).selectExpr("id", "id % 3 AS k"), "t", ["k"])
    store.read("t")
    copy = str(tmp_path / "copy")
    shutil.copytree(store.root, copy)
    n, df = jobs_launched(spark, lambda: Store(spark, copy).read("t"))
    assert n == 0
    _assert_same(df, spark.read.parquet(os.path.join(copy, "t")))


def test_footer_read_of_layered_union_and_base_path(spark, cache, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    for lo in (0, 10, 20):
        store.append_version(
            spark.range(lo, lo + 10).selectExpr("id", "id * 3 AS v"), "layers"
        )
    cur = store.current_version("layers")
    dirs = [store._vdir("layers", x) for x in store._layers("layers", cur)]
    n, df = jobs_launched(spark, lambda: store.read_union("layers"))
    assert n == 0
    _assert_same(df, spark.read.parquet(*dirs))
    assert df.count() == 30

    for lo in (0, 10):
        store.append_version(
            spark.range(lo, lo + 10).selectExpr("id", "id % 4 AS g"), "hive", ["g"]
        )
    n, df = jobs_launched(spark, lambda: store.read_union("hive"))
    assert n == 0
    assert sorted(r["id"] for r in df.collect()) == list(range(20))

    p = str(tmp_path / "base")
    _write(spark, p, "SELECT id, id % 3 AS k FROM range(9)", partition_by=["k"])
    _assert_footer_read_matches(spark, os.path.join(p, "k=1"), basePath=p)


# Fallbacks: a file set the footers cannot vouch for is inferred by
# Spark (at least one job), with the same result as a plain read.


def _assert_inferred(spark, *paths, **options):
    n, df = jobs_launched(spark, lambda: read_parquet(spark, *paths, **options))
    assert n >= 1
    _assert_same(df, spark.read.options(**options).parquet(*paths))
    return df


def test_pyarrow_written_file_is_inferred(spark, cache, tmp_path):
    f = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", None]}), f)
    _assert_inferred(spark, f)


def test_files_that_disagree_are_inferred(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    _write(spark, p, "SELECT id, id + 1 AS extra FROM range(5, 8)", mode="append")
    _assert_inferred(spark, p)


def test_summary_metadata_file_is_inferred(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id, CAST(id AS STRING) AS s FROM range(5)")
    part = next(x for x in sorted(os.listdir(p)) if x.endswith(".parquet"))
    shutil.copy(os.path.join(p, part), os.path.join(p, "_metadata"))
    _assert_inferred(spark, p)


def test_merge_schema_option_and_conf_are_inferred(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    _assert_inferred(spark, p, mergeSchema="true")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        _assert_inferred(spark, p)
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_non_parquet_file_raises_as_a_plain_read(spark, cache, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, "SELECT id FROM range(5)")
    with open(os.path.join(p, "junk.txt"), "w") as f:
        f.write("not parquet")

    def error(read):
        with pytest.raises(Exception) as e:
            read().collect()
        return type(e.value)

    assert error(lambda: read_parquet(spark, p)) is error(
        lambda: spark.read.parquet(p)
    )
