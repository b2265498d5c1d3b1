"""Write-side CORRECTNESS queries: run the REAL warehouse builder
(pipeline/warehouse.py) over the fixture tables mapped onto the
operational schema (pipeline/mapping.py), write every dim / fact /
bridge / MV table to parquet, then READ THE MV TABLES BACK and return
them. The DuckDB oracles recompute the same aggregates from the raw
fixture tables — so a hash match proves the whole write side
(dim builds K2, fact build K3/J7/J8, bridges, MV refresh M1-M4, and
the parquet round-trip itself) end-to-end.

The warehouse is built once per (session, sf_dir) and shared by the
three readback queries; the build happens inside the first query's
call, which is exactly what "materialize then query the MV" means in
the reference (populate_warehouse.py → run_analytics.py).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.mapping import SQL_AGE_GROUP, SQL_MODALITY, map_operational
from ..pipeline.store import Store
from ..pipeline.warehouse import build_warehouse

ORACLES: dict[str, str] = {}

_BUILT: dict[str, Store] = {}


def warehouse_store(spark: SparkSession, sf_dir: str) -> Store:
    store = _BUILT.get(sf_dir)
    if store is None:
        # A session cache, not scoped to one query: the directory lives
        # until the process exits.
        root = tempfile.mkdtemp(prefix="efiche_wh_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        store = Store(spark, root)
        # The operational writes join build_warehouse's dependency
        # graph: each dim build starts the moment its source table
        # lands instead of after ALL operational writes finish.
        build_warehouse(store, stats=False, operational=map_operational(spark, sf_dir))
        _BUILT[sf_dir] = store
    return store


# ---------------------------------------------------------------------------
# Q36 — mv_monthly_encounters, materialized and read back (M1/M4 + K3/J7).
# ---------------------------------------------------------------------------
def q36_wh_monthly_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return warehouse_store(spark, sf_dir).read("mv_monthly_encounters")


ORACLES["q36_wh_monthly_encounters"] = """
WITH np AS (
    SELECT l_orderkey, CAST(COUNT(*) AS INTEGER) AS num_procedures
    FROM lineitem GROUP BY 1
),
fact AS (
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           COALESCE(np.num_procedures, 0) AS num_procedures
    FROM orders o LEFT JOIN np ON o.o_orderkey = np.l_orderkey
)
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST(month(o_orderdate) AS INTEGER) AS month,
       monthname(o_orderdate) AS month_name,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS total_encounters,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS unique_patients,
       ROUND(AVG(CAST(num_procedures AS DOUBLE)), 4) AS avg_procedures_per_encounter,
       CAST(SUM(num_procedures) AS BIGINT) AS total_procedures
FROM fact
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q37 — mv_procedure_volume, materialized and read back (M3 + bridges).
# ---------------------------------------------------------------------------
def q37_wh_procedure_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return warehouse_store(spark, sf_dir).read("mv_procedure_volume")


ORACLES["q37_wh_procedure_volume"] = f"""
SELECT {SQL_MODALITY} AS modality,
       CAST(COUNT(*) AS BIGINT) AS procedure_count,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS unique_patients,
       CAST(COUNT(DISTINCT c.c_nationkey) AS BIGINT) AS facilities_performed
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q38 — mv_diagnosis_by_age_group, materialized and read back (M2).
# ---------------------------------------------------------------------------
def q38_wh_diagnosis_by_age_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return warehouse_store(spark, sf_dir).read("mv_diagnosis_by_age_group")


ORACLES["q38_wh_diagnosis_by_age_group"] = f"""
SELECT {SQL_AGE_GROUP} AS age_group,
       p.p_brand AS code,
       p.p_type AS description,
       CAST(COUNT(*) AS BIGINT) AS diagnosis_count,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS unique_patients
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2, 3
"""


QUERIES = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q") and name[1:3].isdigit() and callable(fn)
}
