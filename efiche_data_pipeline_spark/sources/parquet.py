"""Parquet reads that skip Spark's schema-inference job.

Every ``spark.read.parquet`` call without a schema launches one Spark
job that scans parquet footers to infer the schema (Spark runs
``mergeSchemasInParallel`` even for a single file). The pipeline
writes and then reads at every stage, and a read-heavy session opens
the same unchanged tables again and again, so that job is fixed cost
on almost every read. :func:`read_parquet` skips it in two ways; in
both, the read passes a schema to ``spark.read.schema(...)`` and Spark
still lists the files and infers partition columns from directory
names, so the DataFrame always sees the current data.

1. **A fingerprinted schema cache.** The ``StructType`` of each read is
   remembered per (application, paths, reader options, schema-relevant
   SQL confs), next to a fingerprint of every file under the paths:
   relative name, size, ``mtime_ns`` and inode, from a local-filesystem
   walk. When the fingerprint still matches, the remembered schema is
   reused. Any change to the file set (an overwrite, an appended part
   file, a new partition directory, a deleted file) misses.
2. **The Spark schema in the footers.** On a miss, the data files'
   footers are read in-process with pyarrow. Spark stores the schema
   it wrote under ``org.apache.spark.sql.parquet.row.metadata``, and
   with ``mergeSchema`` off its own inference reads one footer and
   takes exactly that JSON, made nullable
   (``ParquetFileFormat.readSchemaFromFooter``). So when every data
   file carries the key and the files agree up to nullability, that
   schema is the one Spark would infer. Files from other writers
   (pyarrow, DuckDB) lack the key and are inferred by Spark, as are
   files that disagree, directories with ``_metadata`` or
   ``_common_metadata`` summaries, reads with any option but
   ``basePath``, ``mergeSchema`` on, and any footer that cannot be
   read or parsed (so a corrupt file raises Spark's own error).

Only schemas are cached, never DataFrames: a reused relation would
make self-joins ambiguous and keep a stale file index. Paths that are
not local (a scheme other than ``file:``), that are missing, or that
hold no files are read normally and never cached.
"""

from __future__ import annotations

import json
import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CACHE_SIZE = 256

# Session confs that change what parquet schema inference returns; a
# schema inferred under one setting must not be reused under another.
_SCHEMA_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# Footer key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_lock = threading.Lock()
_cache: OrderedDict[tuple, tuple[tuple, T.StructType]] = OrderedDict()


class _Uncacheable(Exception):
    """A path the fingerprint cannot vouch for."""


def _local_path(path: str) -> str:
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):
            path = path[2:]
    elif ":" in path.split("/", 1)[0]:
        raise _Uncacheable(path)
    if not path:
        raise _Uncacheable(path)
    return os.path.abspath(path)


def _fingerprint(paths: tuple[str, ...]) -> tuple:
    """(relative name, size, mtime_ns, inode) of every file under each
    path. Raises ``OSError`` for a missing path and ``_Uncacheable``
    for a path with no files or with a symlinked directory (a walk
    that does not descend into it could miss a change)."""
    out = []
    for p in paths:
        root = _local_path(p)
        st = os.stat(root)
        if not stat.S_ISDIR(st.st_mode):
            out.append((p, ((".", st.st_size, st.st_mtime_ns, st.st_ino),)))
            continue
        files = []
        for d, dirs, names in os.walk(root):
            if any(os.path.islink(os.path.join(d, x)) for x in dirs):
                raise _Uncacheable(p)
            for name in names:
                f = os.path.join(d, name)
                st = os.stat(f)
                files.append(
                    (os.path.relpath(f, root), st.st_size, st.st_mtime_ns, st.st_ino)
                )
        if not files:
            raise _Uncacheable(p)
        out.append((p, tuple(sorted(files))))
    return tuple(out)


def _skipped(name: str) -> bool:
    """Names Spark's file listing leaves out, files and directories
    alike (``HadoopFSUtils.shouldFilterOutPathName``)."""
    return name.startswith((".", "_")) or name.endswith("._COPYING_")


def _data_files(fingerprint: tuple) -> list[str] | None:
    """The files Spark reads as data under the fingerprinted paths, or
    None where its listing might disagree with this one: a parquet
    summary file, or a ``_``-prefixed partition directory (kept by
    Spark's listing, unlike every other ``_`` name)."""
    out = []
    for p, files in fingerprint:
        root = _local_path(p)
        for rel, *_ in files:
            if rel == ".":
                names = [os.path.basename(root)]
            else:
                names = rel.split(os.sep)
            if any(
                n.startswith(("_metadata", "_common_metadata"))
                or (n.startswith("_") and "=" in n)
                for n in names
            ):
                return None
            if not any(_skipped(n) for n in names):
                out.append(root if rel == "." else os.path.join(root, rel))
    return out


def _nullable(t):
    """A JSON data type with every field, array element and map value
    nullable, as Spark's ``asNullable`` makes a relation's schema."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {
            **t,
            "fields": [
                {**f, "nullable": True, "type": _nullable(f["type"])}
                for f in t["fields"]
            ],
        }
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _nullable(t["keyType"]),
            "valueType": _nullable(t["valueType"]),
        }
    if t["type"] == "udt":
        raise ValueError("user-defined type")
    return t


def _footer_schema(
    spark: SparkSession, options: dict, fingerprint: tuple
) -> T.StructType | None:
    """The data schema Spark's inference would return for the
    fingerprinted files, read from their footers without a job; None
    when Spark has to infer it (see the module docstring)."""
    if set(options) - {"basePath"}:
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    files = _data_files(fingerprint)
    if not files:
        return None
    import pyarrow.parquet as pq

    schema = None
    try:
        for f in files:
            meta = pq.read_metadata(f).metadata or {}
            if _SPARK_SCHEMA_KEY not in meta:
                return None
            got = _nullable(json.loads(meta[_SPARK_SCHEMA_KEY]))
            if schema is None:
                schema = got
            elif got != schema:
                return None
        out = T.StructType.fromJson(schema)
    except Exception:
        return None
    # A schema PySpark would not hand back to the JVM as it found it.
    if out.jsonValue() != schema:
        return None
    # A data column that shares its name with a partition directory
    # key takes the directory's type from a passed schema but not from
    # inference.
    columns = {n.lower() for n in out.fieldNames()}
    for f in files:
        for part in os.path.dirname(f).split(os.sep):
            if "=" in part and unquote(part.split("=", 1)[0]).lower() in columns:
                return None
    return out


def read_parquet(spark: SparkSession, *paths: str, **options: str) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)``, without the
    schema-inference job when the files are unchanged since an earlier
    read in this application or carry the schema Spark wrote."""

    def reader():
        return spark.read.options(**options) if options else spark.read

    try:
        if not paths:
            raise _Uncacheable()
        key = (
            spark.sparkContext.applicationId,
            paths,
            tuple(sorted(options.items())),
            tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
        )
        before = _fingerprint(paths)
    except (OSError, _Uncacheable):
        return reader().parquet(*paths)
    with _lock:
        hit = _cache.get(key)
        if hit is not None and hit[0] == before:
            _cache.move_to_end(key)
        else:
            hit = None
    if hit is not None:
        return reader().schema(hit[1]).parquet(*paths)
    footer = _footer_schema(spark, options, before)
    if footer is not None:
        df = reader().schema(footer).parquet(*paths)
    else:
        df = reader().parquet(*paths)
    # Cache only what provably described these exact files: a writer
    # that changed them while their footers were read leaves a schema
    # that may match neither file set.
    try:
        after = _fingerprint(paths)
    except (OSError, _Uncacheable):
        after = None
    if after != before:
        return df if footer is None else reader().parquet(*paths)
    with _lock:
        _cache[key] = (before, df.schema)
        _cache.move_to_end(key)
        while len(_cache) > CACHE_SIZE:
            _cache.popitem(last=False)
    return df
