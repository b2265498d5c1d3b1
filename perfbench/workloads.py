"""The two benchmark workloads.

Each workload has a ``setup(root)`` that builds its inputs and
prebuilt state into a fresh directory, a ``run_pass(root, tracer)``
that runs one timed pass against the package's public entry points
and writes only under ``root``, and a ``check(result)`` that verifies
the pass's outputs outside the timed region and returns the names of
the operations that were wrong.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen

# Input sizes. Every pass is bound by Spark's per-job fixed cost at
# these volumes, so the sizes are set by the run budget, not the data.
ANALYTICS_SF = 0.01  # 1,500 customers, 15,000 orders, ~60,000 lineitems
ETL_PATIENTS = 1000
ETL_STAGING_ROWS = 1000
ETL_BATCH_LIMIT = ETL_STAGING_ROWS  # one micro-batch takes every staged row
STREAM_DOCS = 600
STREAM_FILES = 1  # one file, so one micro-batch


@dataclass
class Op:
    name: str
    seconds: float
    error: str | None = None
    output: object = None


@dataclass
class PassResult:
    wall_s: float
    ops: list[Op]
    store_root: str
    latencies: list[float] = field(default_factory=list)  # op_p50_s samples
    extra: dict = field(default_factory=dict)


def _timed(ops: list[Op], name: str, fn):
    """Run one operation; a raised error is a failed operation."""
    t0 = time.perf_counter()
    try:
        out = fn()
        ops.append(Op(name, time.perf_counter() - t0, output=out))
        return out
    except Exception as exc:  # noqa: BLE001 - counted in fail_ratio
        ops.append(Op(name, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"[:300]))
        return None


def _step(ops: list[Op], tracer, name: str, fn):
    with tracer.span(f"pipeline.{name}", "pipeline"):
        return _timed(ops, name, fn)


def value_hash(pdf: pd.DataFrame) -> str:
    """The oracle comparison rule of ``tools/driver_sim.py``: sorted
    columns, sorted rows, type-sensitive CSV rendering."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:16]


_MV_ORACLES = {
    "mv_monthly_encounters": """
        WITH np AS (SELECT encounter_id, COUNT(*) AS n FROM procedures GROUP BY 1),
        fact AS (
            SELECT e.encounter_id, e.patient_id, e.encounter_date,
                   COALESCE(np.n, 0) AS num_procedures
            FROM encounters e
            JOIN patients p ON e.patient_id = p.patient_id
            LEFT JOIN np ON e.encounter_id = np.encounter_id
            WHERE e.encounter_date IS NOT NULL)
        SELECT year(encounter_date) AS year, month(encounter_date) AS month,
               monthname(encounter_date) AS month_name,
               COUNT(DISTINCT encounter_id) AS total_encounters,
               COUNT(DISTINCT patient_id) AS unique_patients,
               ROUND(AVG(num_procedures), 4) AS avg_procedures_per_encounter,
               SUM(num_procedures) AS total_procedures
        FROM fact GROUP BY 1, 2, 3""",
    "mv_procedure_volume": """
        SELECT pr.modality, COUNT(*) AS procedure_count,
               COUNT(DISTINCT e.patient_id) AS unique_patients,
               COUNT(DISTINCT f.facility_id) AS facilities_performed
        FROM procedures pr
        JOIN encounters e ON pr.encounter_id = e.encounter_id
        JOIN patients p ON e.patient_id = p.patient_id
        LEFT JOIN facilities f ON e.facility_id = f.facility_id
        WHERE e.encounter_date IS NOT NULL
        GROUP BY 1""",
    "mv_diagnosis_by_age_group": """
        SELECT CASE WHEN p.age BETWEEN 18 AND 30 THEN '18-30'
                    WHEN p.age BETWEEN 31 AND 50 THEN '31-50'
                    WHEN p.age BETWEEN 51 AND 70 THEN '51-70'
                    WHEN p.age > 70 THEN '71+' ELSE 'Unknown' END AS age_group,
               dc.code, dc.description, COUNT(*) AS diagnosis_count,
               COUNT(DISTINCT p.patient_id) AS unique_patients
        FROM diagnoses d
        JOIN encounters e ON d.encounter_id = e.encounter_id
        JOIN patients p ON e.patient_id = p.patient_id
        JOIN diagnosis_codes dc ON d.code_id = dc.code_id
        WHERE e.encounter_date IS NOT NULL
        GROUP BY 1, 2, 3""",
}
_OPERATIONAL = (
    "facilities", "diagnosis_codes", "patients", "encounters",
    "procedures", "diagnoses", "reports",
)


def _rows(pdf: pd.DataFrame, columns: list[str]) -> list[tuple]:
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return int(v)
        if isinstance(v, (np.floating, float)):
            return float(v)
        return v

    rows = [tuple(norm(v) for v in r) for r in pdf[columns].itertuples(index=False)]
    return sorted(rows, key=repr)


def _same_rows(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                if va is None or vb is None or not math.isclose(va, vb, abs_tol=1.5e-4):
                    return False
            elif va != vb:
                return False
    return True


class Analytics:
    """Read path: the 23 ``plans.relational`` queries and the 8
    ``pipeline.report`` sections over a warehouse that set-up builds."""

    name = "analytics"

    def __init__(self, spark, seed: int):
        from efiche_data_pipeline_spark.pipeline import report
        from efiche_data_pipeline_spark.plans import relational

        self.spark, self.seed = spark, seed
        self.queries = relational.QUERIES
        self.oracles = relational.ORACLES
        self.sections = {fn.__name__: fn for _, fn in report.SECTIONS}
        # A fixed order: in a partly warm JVM an operation's latency
        # depends on its position in the pass.
        self.order = sorted(self.queries) + sorted(self.sections)
        self._expected: dict[str, str] = {}

    def setup(self, root: str) -> None:
        from efiche_data_pipeline_spark.pipeline.mapping import map_operational
        from efiche_data_pipeline_spark.pipeline.store import Store
        from efiche_data_pipeline_spark.pipeline.warehouse import build_warehouse

        self.data_dir = os.path.join(root, "tables")
        datagen.write_tpch(self.data_dir, self.seed, ANALYTICS_SF)
        self.store = Store(self.spark, os.path.join(root, "warehouse"))
        build_warehouse(
            self.store, stats=False, operational=map_operational(self.spark, self.data_dir)
        )

    def run_pass(self, root: str, tracer) -> PassResult:
        ops: list[Op] = []
        t0 = time.perf_counter()
        for name in self.order:
            if name in self.queries:
                _timed(ops, name, lambda n=name: self._query(n, tracer))
            else:
                def section(n=name):
                    with tracer.span(f"report.section.{n}", "report"):
                        return self.sections[n](self.store).toPandas()

                _timed(ops, name, section)
        wall = time.perf_counter() - t0
        return PassResult(wall, ops, self.store.root, [op.seconds for op in ops])

    def _query(self, name: str, tracer) -> pd.DataFrame:
        with tracer.span("plans.build", "plans"):
            df = self.queries[name](self.spark, self.data_dir)
        with tracer.span("plans.exec", "plans"):
            return df.toPandas()

    def check(self, result: PassResult) -> list[str]:
        if not self._expected:
            con = duckdb.connect()
            for t in datagen.TPCH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t + '.parquet')}'"
                )
            for name in self.queries:
                self._expected[name] = value_hash(con.execute(self.oracles[name]).fetchdf())
            con.close()
            # the sections read this warehouse: its MVs must match too
            self._warehouse_ok = _mvs_match(self.store, self.store.root)
        bad = [] if self._warehouse_ok else ["warehouse"]
        for op in result.ops:
            if op.error is not None:
                bad.append(op.name)
            elif op.name in self.queries:
                if value_hash(op.output) != self._expected[op.name]:
                    bad.append(op.name)
            else:
                # sections have no oracle: non-empty and identical in
                # every pass of the run
                h = value_hash(op.output)
                if len(op.output) == 0 or self._expected.setdefault(op.name, h) != h:
                    bad.append(op.name)
        return bad


def _mvs_match(store, operational_dir: str) -> bool:
    """The warehouse's MV readbacks equal DuckDB over the operational
    parquet it was built from. Integers and strings match exactly;
    floats within the MVs' 4-digit rounding."""
    con = duckdb.connect()
    for t in _OPERATIONAL:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(operational_dir, t)}/*.parquet')"
        )
    try:
        for mv, sql in _MV_ORACLES.items():
            got = store.read(mv).toPandas()
            want = con.execute(sql).fetchdf()
            cols = list(got.columns)
            if sorted(cols) != sorted(want.columns) or not _same_rows(
                _rows(got, cols), _rows(want, cols)
            ):
                return False
        return True
    finally:
        con.close()


class Intake:
    """Write path: staging rows in a micro-batch into the operational
    Store behind the contract gate and on into the warehouse, then the
    document intake stream and one forget call."""

    name = "intake"

    def __init__(self, spark, seed: int):
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self.spark, self.seed = spark, seed
        self.queries = []
        # Keep every StreamingQuery the pass starts: its progress
        # reports give the per-micro-batch latency.
        start = DataStreamWriter.start

        def recording_start(writer, *args, **kwargs):
            q = start(writer, *args, **kwargs)
            self.queries.append(q)
            return q

        DataStreamWriter.start = recording_start

    def setup(self, root: str) -> None:
        from efiche_data_pipeline_spark.operators.dedup import seed_benchmark_index
        from efiche_data_pipeline_spark.pipeline.generate import (
            gen_staging,
            generate_operational,
        )
        from efiche_data_pipeline_spark.pipeline.store import Store

        # operational base Store and raw staging rows
        self.etl_base = os.path.join(root, "etl_base")
        etl = Store(self.spark, self.etl_base)
        for name, df in generate_operational(
            self.spark, n_patients=ETL_PATIENTS, seed=self.seed
        ).items():
            etl.overwrite(df, name)
        self.staging_raw = os.path.join(root, "staging_raw")
        gen_staging(self.spark, n=ETL_STAGING_ROWS, seed=self.seed).write.parquet(
            self.staging_raw
        )

        # document files, samples and the seeded decontamination index
        docs = datagen.make_documents(self.seed, STREAM_DOCS)
        rng = np.random.default_rng(self.seed + 1)
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        # Contiguous id ranges at seeded cut points, arriving in id
        # order: a duplicate always arrives after its original, so the
        # stream keeps the same representative as the one-shot chain.
        cuts = np.sort(rng.choice(np.arange(1, STREAM_DOCS), STREAM_FILES - 1, replace=False))
        t_file = time.time() - STREAM_FILES
        for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, STREAM_DOCS])):
            path = os.path.join(self.src, f"f{i}.parquet")
            pq.write_table(docs.slice(lo, hi - lo), path)
            os.utime(path, (t_file + i, t_file + i))  # the stream reads files by mtime
        ids = np.arange(STREAM_DOCS)
        self.bench_ids = ids[rng.random(STREAM_DOCS) < 1 / 97]
        self.forget_ids = ids[rng.random(STREAM_DOCS) < 1 / 17]
        self.docs_file = os.path.join(root, "docs.parquet")
        pq.write_table(docs, self.docs_file)
        self.forget_file = os.path.join(root, "forget.parquet")
        pq.write_table(docs.select(["doc_id"]).take(self.forget_ids), self.forget_file)
        self.curation_base = os.path.join(root, "curation_base")
        seed_benchmark_index(Store(self.spark, self.curation_base), self._bench_docs())
        # The oracle for the stream, computed here because it also warms
        # the operator code the pass runs.
        self.global_kept = self._global_chain(os.path.join(root, "global"))

    def _bench_docs(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.docs_file).filter(
            F.col("doc_id").isin([int(i) for i in self.bench_ids])
        )

    def run_pass(self, root: str, tracer) -> PassResult:
        from efiche_data_pipeline_spark.operators.dedup import forget_documents
        from efiche_data_pipeline_spark.pipeline.ingest import (
            load_to_staging,
            process_staging_to_production,
        )
        from efiche_data_pipeline_spark.pipeline.run import (
            promote_ingested,
            verify_contracts,
        )
        from efiche_data_pipeline_spark.pipeline.store import Store
        from efiche_data_pipeline_spark.pipeline.warehouse import build_warehouse
        from efiche_data_pipeline_spark.streaming.intake import run_intake_stream

        stores = os.path.join(root, "stores")
        etl_root, cur_root = os.path.join(stores, "etl"), os.path.join(stores, "curation")
        shutil.copytree(self.etl_base, etl_root)
        shutil.copytree(self.curation_base, cur_root)
        etl, cur = Store(self.spark, etl_root), Store(self.spark, cur_root)
        raw = self.spark.read.parquet(self.staging_raw)
        forget = self.spark.read.parquet(self.forget_file)
        ckpt = os.path.join(root, "checkpoint")
        n_queries = len(self.queries)
        ops: list[Op] = []

        t0 = time.perf_counter()
        _step(ops, tracer, "load_to_staging", lambda: load_to_staging(etl, raw))
        consumed = _step(
            ops, tracer, "ingest_batch",
            lambda: process_staging_to_production(etl, batch_limit=ETL_BATCH_LIMIT, seed=self.seed),
        )
        _step(ops, tracer, "promote_ingested", lambda: promote_ingested(etl))
        _step(ops, tracer, "verify_contracts", lambda: verify_contracts(etl))
        _step(ops, tracer, "build_warehouse", lambda: build_warehouse(etl, stats=False))
        report = _timed(
            ops, "intake_stream", lambda: run_intake_stream(self.spark, self.src, cur, ckpt)
        )
        _timed(ops, "forget_documents", lambda: forget_documents(cur, forget))
        wall = time.perf_counter() - t0

        progress = [
            p for q in self.queries[n_queries:] for p in q.recentProgress if p.numInputRows > 0
        ]
        # one operation is a pipeline step, a stream micro-batch or the forget
        latencies = [op.seconds for op in ops if op.name != "intake_stream"]
        latencies += [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        return PassResult(
            wall, ops, stores, latencies,
            {
                "progress": progress,
                "n_batches": report.n_batches if report else 0,
                "consumed": consumed,
            },
        )

    def check(self, result: PassResult) -> list[str]:
        from efiche_data_pipeline_spark.pipeline.store import Store

        bad = [op.name for op in result.ops if op.error is not None]
        if bad:
            return bad
        if not self._ingest_ok(result):
            bad.append("ingest_batch")
        etl = os.path.join(result.store_root, "etl")
        if not _mvs_match(Store(self.spark, etl), etl):
            bad.append("build_warehouse")
        bad += self._curation_bad(result)
        return bad

    def _ingest_ok(self, result: PassResult) -> bool:
        """Every distinct staged image became one staging row, one
        marker, one encounter, procedure and report, and was promoted
        once into the operational tables. Counted with DuckDB over the
        Stores' parquet directories, which these tables only append to."""
        etl = os.path.join(result.store_root, "etl")
        con = duckdb.connect()

        def rows(source: str) -> int:
            return con.execute(f"SELECT COUNT(*) FROM {source}").fetchone()[0]

        def table(root: str, t: str) -> str:
            return f"read_parquet('{os.path.join(root, t)}/*.parquet')"

        try:
            n = rows(f"(SELECT DISTINCT image_id FROM read_parquet('{self.staging_raw}/*.parquet'))")
            return (
                result.extra["consumed"] == n
                and all(
                    rows(table(etl, t)) == n
                    for t in ("staging", "staging_markers", "encounters_raw",
                              "procedures_raw", "reports_raw")
                )
                and all(
                    rows(table(etl, t)) == rows(table(self.etl_base, t)) + n
                    for t in ("encounters", "procedures", "reports")
                )
            )
        except duckdb.Error:
            return False
        finally:
            con.close()

    def _curation_bad(self, result: PassResult) -> list[str]:
        from efiche_data_pipeline_spark.pipeline.store import Store

        bad = []
        store = Store(self.spark, os.path.join(result.store_root, "curation"))
        forgotten = {int(i) for i in self.forget_ids}
        kept = {r.doc_id for r in store.read("dedup_kept_docs").select("doc_id").collect()}
        if kept != self.global_kept - forgotten or result.extra["n_batches"] != STREAM_FILES:
            bad.append("intake_stream")
        index = store.read_union("minhash_sig_index").select("doc_id").collect()
        if forgotten & (kept | {r.doc_id for r in index}):
            bad.append("forget_documents")
        return bad

    def _global_chain(self, root: str) -> set[int]:
        """The one-shot chain over every document: the kept set the
        stream must reproduce (tests/test_intake_stream.py)."""
        from pyspark.sql import functions as F

        from efiche_data_pipeline_spark.operators.dedup import (
            incremental_decontamination,
            incremental_minhash_dedup,
            seed_benchmark_index,
        )
        from efiche_data_pipeline_spark.pipeline.store import Store

        store = Store(self.spark, root)
        seed_benchmark_index(store, self._bench_docs())
        docs = self.spark.read.parquet(self.docs_file)
        flags = incremental_decontamination(docs, store)
        dirty = [r.doc_id for r in flags.collect() if r.contaminated]
        clean = docs.filter(~F.col("doc_id").isin(dirty))
        res = incremental_minhash_dedup(clean, store, threshold=0.5)
        return {r.doc_id for r in res.kept.collect()}


WORKLOADS = {w.name: w for w in (Analytics, Intake)}
