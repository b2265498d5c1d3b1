"""Parquet reads that skip schema inference for unchanged files.

Every ``spark.read.parquet`` call without a schema launches one Spark
job that scans parquet footers to infer the schema (Spark runs
``mergeSchemasInParallel`` even for a single file). A read-heavy
session opens the same unchanged tables again and again, so that job
is pure fixed cost after the first read.

:func:`read_parquet` remembers the inferred ``StructType`` per
(application, paths, reader options, schema-relevant SQL confs), next
to a fingerprint of every file under the paths: relative name, size,
``mtime_ns`` and inode, from a local-filesystem walk. When the
fingerprint still matches, the read passes the remembered schema to
``spark.read.schema(...)``: Spark still lists the files, so the
DataFrame always sees the current data; only the footer-scan job is
skipped. Any change to the file set (an overwrite, an appended part
file, a new partition directory, a deleted file) changes the
fingerprint, and the next read infers again.

Only schemas are cached, never DataFrames: a reused relation would
make self-joins ambiguous and keep a stale file index. Paths that are
not local (a scheme other than ``file:``), that are missing, or that
hold no files are read normally and never cached.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

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


def read_parquet(spark: SparkSession, *paths: str, **options: str) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)``, without the
    schema-inference job when the files are unchanged since an earlier
    read in this application."""
    reader = spark.read.options(**options) if options else spark.read
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
        return reader.parquet(*paths)
    with _lock:
        hit = _cache.get(key)
        if hit is not None and hit[0] == before:
            _cache.move_to_end(key)
        else:
            hit = None
    if hit is not None:
        return reader.schema(hit[1]).parquet(*paths)
    df = reader.parquet(*paths)
    # Cache only what provably described these exact files: a writer
    # that changed them while Spark read the footers leaves a schema
    # that may match neither file set.
    try:
        after = _fingerprint(paths)
    except (OSError, _Uncacheable):
        return df
    if after == before:
        with _lock:
            _cache[key] = (before, df.schema)
            _cache.move_to_end(key)
            while len(_cache) > CACHE_SIZE:
                _cache.popitem(last=False)
    return df
