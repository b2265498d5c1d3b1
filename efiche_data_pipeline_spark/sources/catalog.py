"""Parquet table catalog for the deterministic test fixtures.

The driver materializes a TPC-H-ish star schema plus event/text/vector
tables under ``/root/testdata/sf*/`` (see TESTDATA.md / FIXTURES.md §B).
Every table is a parquet scan, so Catalyst gets predicate pushdown,
column pruning, and vectorized scans for free — the replacement for
the reference's 30 B-tree indexes (reference: sql/01_schema.sql:19-134,
sql/03_warehouse.sql:15-143). Reads go through
:func:`sources.parquet.read_parquet`. The fixtures are written by
pyarrow and DuckDB, so their footers carry no Spark schema: the first
read of a table infers its schema with one footer-scan job, and a
later read of the same, unchanged files in the same application
reuses that schema and skips the job (the files are still listed, so
the data is always current).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parquet import read_parquet

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Table name -> parquet file stem. Dims first (broadcast side), facts after.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar scan; the schema comes from the
    parquet footers, inferred once per unchanged file set."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_nanos(df, "ts")
    return df


def _normalize_nanos(df: DataFrame, col: str) -> DataFrame:
    """The events fixture stores ``ts`` as parquet TIMESTAMP(NANOS).
    Spark 4.1 reads it directly as ``TIMESTAMP_NTZ`` (micro precision,
    nanos floored) — which is exactly the timezone-naive semantics the
    DuckDB oracle uses, so NTZ is kept as-is for the batch/query
    surface. Older Sparks surface a nanosecond long under
    ``spark.sql.legacy.parquet.nanosAsLong``; that legacy path is
    floored (not truncated toward zero) to micros so pre-epoch nanos
    agree with DuckDB's nanos→micros read. Event-time streaming ops
    need TIMESTAMP (LTZ) instead — see
    streaming.incremental.ensure_event_time."""
    if isinstance(df.schema[col].dataType, T.LongType):
        df = df.withColumn(
            col, F.timestamp_micros(F.floor(F.col(col) / F.lit(1000)).cast("long"))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL API
    surface — same Catalyst plans as the DataFrame API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
