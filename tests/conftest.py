"""Shared fixtures: one local SparkSession per test session, a DuckDB
connection with the fixture tables registered as views (mirroring the
driver's oracle environment), and the differential comparator."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from efiche_data_pipeline_spark.session import get_spark
from efiche_data_pipeline_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="efiche-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def jobs_launched(spark, fn):
    """(jobs ``fn()`` launched, its result). Job ids are dense from 0,
    so the count is the move of the newest id in the status store's
    ``jobsList`` (sorted by id; newest first in Spark 4). The listener
    bus is drained first so every job submitted so far is in the
    store."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        if jobs.isEmpty():
            return -1
        return max(jobs.head().jobId(), jobs.last().jobId())

    before = newest()
    out = fn()
    return newest() - before, out


def crash_once(store, op: str, table: str, msg: str) -> None:
    """Arm ``store``'s fault seam (``Store._fault``): the next ``op``
    on ``table`` raises ``RuntimeError(msg)`` before it touches any
    file, and the seam disarms. ``op`` is a Store write/delete method
    name, or ``"<delete op>:commit"`` for a layered delete's commit."""

    def fault(fired_op: str, fired_table: str) -> None:
        if (fired_op, fired_table) == (op, table):
            del store._fault
            raise RuntimeError(msg)

    store._fault = fault


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style normalization: columns sorted by name, rows sorted
    by all columns, index dropped."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    """Exact differential check (the driver hashes values, so anything
    short of exact equality would fail there too)."""
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ao = av.astype(float)
            bo = bv.astype(float)
            both_nan = ao.isna() & bo.isna()
            eq = (ao == bo) | both_nan
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
        if not bool(eq.all()):
            bad = (~eq).idxmax()
            raise AssertionError(
                f"{name}: column {col!r} differs at row {bad}: "
                f"spark={av[bad]!r} oracle={bv[bad]!r}"
            )
    # Final gate: the EXACT comparison the driver performs — a
    # type-sensitive hash of the CSV rendering (int64 123 vs DuckDB
    # HUGEINT→float64 123.0 must fail here even though the per-column
    # float-tolerant check above passes; the r03 q64 incident). A
    # mismatch at this point with all values equal means dtype drift:
    # CAST the oracle column to the Spark output type.
    acsv, bcsv = a.to_csv(index=False), b.to_csv(index=False)
    if acsv != bcsv:
        for la, lb in zip(acsv.splitlines(), bcsv.splitlines()):
            if la != lb:
                break
        raise AssertionError(
            f"{name}: values equal but driver-hash rendering differs "
            f"(dtype drift — spark dtypes {dict(a.dtypes.astype(str))} vs "
            f"oracle {dict(b.dtypes.astype(str))}); first diff line: "
            f"spark={la!r} oracle={lb!r}"
        )


def pytest_collection_modifyitems(config, items):
    """Tier the suite (VERDICT r12 Next #1): node ids listed in
    tests/slow_tests.txt — the crash matrices, stream-restart sims,
    property sweeps, and measured-cost tests whose call time was >= 8 s
    on a full --durations=0 run — are auto-marked `slow`, which
    pytest.ini deselects by default so the verify driver's
    `pytest tests/ -x -q` (oracle parity + contract tests) completes
    inside its budget. `pytest -m slow` runs the heavy tier."""
    listing = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(listing) as f:
            slow_ids = {
                ln.strip() for ln in f
                if ln.strip() and not ln.startswith("#")
            }
    except FileNotFoundError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if not nodeid.startswith("tests/"):
            nodeid = "tests/" + nodeid
        # a listed function puts every one of its parametrizations
        # in the tier
        if nodeid.split("[", 1)[0] in slow_ids:
            item.add_marker(pytest.mark.slow)
