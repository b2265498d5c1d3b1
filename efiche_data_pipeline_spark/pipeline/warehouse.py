"""Star-schema warehouse builder + materialized-view refresh — the
Spark re-design of the reference's transform stage (reference:
src/populate_warehouse.py:15-236, DDL sql/03_warehouse.sql:1-166).

Design decisions vs the reference:

- **Idempotency by overwrite.** The reference's dims are
  ``INSERT … SELECT … ON CONFLICT DO NOTHING`` (K2,
  populate_warehouse.py:61-125); here every dim/fact/bridge/MV build
  is a full deterministic recompute written with overwrite mode —
  rerunning the build is bit-identical, which is *stronger*
  idempotency than conflict-skipping and is the natural Spark batch
  contract.
- **Denormalized fact metrics in one pass.** The reference inserts the
  fact rows and then runs three correlated-subquery UPDATEs
  (num_procedures / num_diagnoses / has_report,
  populate_warehouse.py:158-185). Correlated per-row subqueries become
  pre-aggregated child counts joined in (J7) and a left-semi-derived
  boolean (J8) — the fact is written once, complete.
- **Scalable surrogate keys.** SERIAL (sql/03_warehouse.sql:6,77)
  implies a single sequence; a global ``row_number()`` window in Spark
  would funnel every row through one partition. `assign_surrogate_key`
  gives dense, deterministic int64 keys with only a range-partitioned
  sort: rank the *partition boundaries* (tiny frame), broadcast the
  per-partition offsets back, and number rows within each partition
  independently.
- **Broadcast star joins.** Dims are broadcast into the fact build;
  at 100 TB the fact-side tables never shuffle for the dim lookups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .store import Store


def age_group(age: Column) -> Column:
    """P3 age bucketing (reference: populate_warehouse.py:68-74)."""
    return (
        F.when(age.between(18, 30), "18-30")
        .when(age.between(31, 50), "31-50")
        .when(age.between(51, 70), "51-70")
        .when(age > 70, "71+")
        .otherwise("Unknown")
    )


def assign_surrogate_key(
    df: DataFrame, natural_key: str, key_name: str, buckets: int | None = None
) -> DataFrame:
    """Dense deterministic 1-based int64 surrogate keys without a
    global single-partition sort.

    Rows are bucketed by a *value-derived* hash of the natural key
    (never by physical partition id — ``spark_partition_id`` after a
    range repartition is NOT stable across separate evaluations of the
    same frame, because boundary sampling reruns per evaluation).
    Bucket counts (a tiny aggregate) become cumulative offsets via a
    window over the |buckets|-row frame, broadcast back, and rows are
    numbered within each bucket independently. Keys are dense 1..n,
    unique, and identical across runs; their order follows
    (hash-bucket, natural_key), not global natural order — surrogate
    keys carry no semantics, so only determinism matters."""
    b = buckets or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    with_b = df.withColumn("_b", F.pmod(F.xxhash64(F.col(natural_key)), F.lit(b)))
    offsets = (
        with_b.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_offset")
    )
    rn = F.row_number().over(Window.partitionBy("_b").orderBy(natural_key))
    return (
        with_b.join(F.broadcast(offsets), "_b")
        .withColumn(key_name, (F.col("_offset") + rn).cast("long"))
        .drop("_b", "_offset")
    )


# ---------------------------------------------------------------------------
# Dimensions (K2; reference: populate_warehouse.py:15-129)
# ---------------------------------------------------------------------------

def build_dim_time(encounters: DataFrame) -> DataFrame:
    """Date dimension spanning the encounter dates ±30 days — derived
    from the data instead of the reference's now()-anchored loop
    (populate_warehouse.py:15-54), so the build is deterministic.
    One row → sequence(explode) of days; all date parts are built-in
    expressions (P4/P5)."""
    span = encounters.agg(
        F.date_sub(F.min("encounter_date"), 30).alias("lo"),
        F.date_add(F.max("encounter_date"), 30).alias("hi"),
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("full_date")
    )
    d = F.col("full_date")
    dow = F.weekday(d) + 1  # 1=Monday … 7=Sunday (reference :35)
    return days.select(
        F.date_format(d, "yyyyMMdd").cast("int").alias("date_key"),
        d,
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        F.month(d).alias("month"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.weekofyear(d).alias("week"),
        F.dayofmonth(d).alias("day_of_month"),
        dow.alias("day_of_week"),
        F.date_format(d, "EEEE").alias("day_name"),
        dow.isin(6, 7).alias("is_weekend"),
    )


def build_dim_patient(patients: DataFrame) -> DataFrame:
    return assign_surrogate_key(
        patients.select(
            "patient_id", "age", "sex", "location", age_group(F.col("age")).alias("age_group")
        ),
        "patient_id",
        "patient_key",
    )


def build_dim_facility(facilities: DataFrame) -> DataFrame:
    return assign_surrogate_key(
        facilities.select("facility_id", "facility_name", "facility_type", "location"),
        "facility_id",
        "facility_key",
    )


def build_dim_procedure(procedures: DataFrame) -> DataFrame:
    return assign_surrogate_key(
        procedures.select("procedure_id", "procedure_name", "modality", "projection"),
        "procedure_id",
        "procedure_key",
    )


def build_dim_diagnosis(diagnosis_codes: DataFrame) -> DataFrame:
    return assign_surrogate_key(
        diagnosis_codes.select("code_id", "code", "description", "code_system"),
        "code_id",
        "diagnosis_key",
    )


# ---------------------------------------------------------------------------
# Fact (K3/J7/J8; reference: populate_warehouse.py:131-188)
# ---------------------------------------------------------------------------

def build_fact_encounters(
    encounters: DataFrame,
    procedures: DataFrame,
    diagnoses: DataFrame,
    reports: DataFrame,
    dim_patient: DataFrame,
    dim_facility: DataFrame,
    dim_time: DataFrame,
) -> DataFrame:
    """Fact build in one dataflow: dim-key lookups (inner patient,
    LEFT facility — reference :148-150), then the three correlated
    UPDATEs (:158-185) as pre-aggregated joins:

    - num_procedures / num_diagnoses: child groupBy(encounter_id).count
      left-joined, coalesced to 0 (J7);
    - has_report: distinct report encounter ids left-joined to a
      boolean (J8 — semi-join semantics kept as a flag column).
    """
    n_proc = procedures.groupBy("encounter_id").agg(F.count(F.lit(1)).alias("num_procedures"))
    n_diag = diagnoses.groupBy("encounter_id").agg(F.count(F.lit(1)).alias("num_diagnoses"))
    has_rep = reports.select("encounter_id").distinct().withColumn("has_report", F.lit(True))

    # dim_patient scales with the patient population (unbounded at
    # 100 TB) — no broadcast hint; AQE converts to broadcast-hash at
    # small SFs and shuffles on the key when it outgrows the threshold.
    # dim_facility and dim_time are bounded (facilities, days) and stay
    # explicitly broadcast.
    fact = (
        encounters.join(dim_patient.select("patient_id", "patient_key"), "patient_id")
        .join(
            F.broadcast(dim_facility.select("facility_id", "facility_key")),
            "facility_id",
            "left",
        )
        .join(
            F.broadcast(dim_time.select("full_date", "date_key")),
            encounters["encounter_date"] == F.col("full_date"),
        )
        .join(n_proc, "encounter_id", "left")
        .join(n_diag, "encounter_id", "left")
        .join(has_rep, "encounter_id", "left")
        .select(
            "encounter_id",
            "patient_key",
            "facility_key",
            "date_key",
            "encounter_date",
            "encounter_type",
            F.coalesce("num_procedures", F.lit(0)).cast("int").alias("num_procedures"),
            F.coalesce("num_diagnoses", F.lit(0)).cast("int").alias("num_diagnoses"),
            F.coalesce("has_report", F.lit(False)).alias("has_report"),
        )
    )
    return assign_surrogate_key(fact, "encounter_id", "encounter_key")


# ---------------------------------------------------------------------------
# Bridges (reference: populate_warehouse.py:190-227)
# ---------------------------------------------------------------------------

def build_bridge_procedure(
    procedures: DataFrame, fact: DataFrame, dim_procedure: DataFrame
) -> DataFrame:
    # dim_procedure is per-procedure (scales with the fact side) — no
    # broadcast hint.
    return (
        procedures.join(fact.select("encounter_id", "encounter_key"), "encounter_id")
        .join(dim_procedure.select("procedure_id", "procedure_key"), "procedure_id")
        .select("encounter_key", "procedure_key", "procedure_date")
    )


def build_bridge_diagnosis(
    diagnoses: DataFrame, fact: DataFrame, dim_diagnosis: DataFrame
) -> DataFrame:
    # dim_diagnosis is a bounded code list and stays broadcast.
    return (
        diagnoses.join(fact.select("encounter_id", "encounter_key"), "encounter_id")
        .join(F.broadcast(dim_diagnosis.select("code_id", "diagnosis_key")), "code_id")
        .select("encounter_key", "diagnosis_key", "is_primary", "diagnosis_date")
    )


def build_bridges(
    procedures: DataFrame,
    diagnoses: DataFrame,
    fact: DataFrame,
    dim_procedure: DataFrame,
    dim_diagnosis: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    return (
        build_bridge_procedure(procedures, fact, dim_procedure),
        build_bridge_diagnosis(diagnoses, fact, dim_diagnosis),
    )


# ---------------------------------------------------------------------------
# Materialized views (M1-M4; reference: sql/03_warehouse.sql:112-166)
# ---------------------------------------------------------------------------

def mv_monthly_encounters(fact: DataFrame, dim_time: DataFrame) -> DataFrame:
    """M1 (sql/03_warehouse.sql:112-124)."""
    return (
        fact.join(F.broadcast(dim_time.select("date_key", "year", "month", "month_name")), "date_key")
        .groupBy("year", "month", "month_name")
        .agg(
            F.countDistinct("encounter_id").alias("total_encounters"),
            F.countDistinct("patient_key").alias("unique_patients"),
            F.round(F.avg("num_procedures"), 4).alias("avg_procedures_per_encounter"),
            F.sum("num_procedures").alias("total_procedures"),
        )
    )


def mv_diagnosis_by_age_group(
    bed: DataFrame, fact: DataFrame, dim_patient: DataFrame, dim_diagnosis: DataFrame
) -> DataFrame:
    """M2 (sql/03_warehouse.sql:129-141)."""
    return (
        bed.join(fact.select("encounter_key", "patient_key"), "encounter_key")
        .join(dim_patient.select("patient_key", "age_group"), "patient_key")
        .join(
            F.broadcast(dim_diagnosis.select("diagnosis_key", "code", "description")),
            "diagnosis_key",
        )
        .groupBy("age_group", "code", "description")
        .agg(
            F.count(F.lit(1)).alias("diagnosis_count"),
            F.countDistinct("patient_key").alias("unique_patients"),
        )
    )


def mv_procedure_volume(
    bep: DataFrame, fact: DataFrame, dim_procedure: DataFrame
) -> DataFrame:
    """M3 (sql/03_warehouse.sql:146-156)."""
    return (
        bep.join(fact.select("encounter_key", "patient_key", "facility_key"), "encounter_key")
        .join(F.broadcast(dim_procedure.select("procedure_key", "modality")), "procedure_key")
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("procedure_count"),
            F.countDistinct("patient_key").alias("unique_patients"),
            F.countDistinct("facility_key").alias("facilities_performed"),
        )
    )


def refresh_views(store: Store, skip: tuple[str, ...] = ()) -> None:
    """M4: full recompute + overwrite of the three MV tables
    (reference: sql/03_warehouse.sql:159-166,
    populate_warehouse.py:229-236). ``skip`` names MVs already
    refreshed by the caller (load_fact_incremental refreshes the
    monthly MV incrementally and skips it here; build_warehouse
    schedules MVs inside its own dependency graph instead)."""
    from concurrent.futures import ThreadPoolExecutor

    fact = store.read("fact_encounters")
    mvs = {
        "mv_monthly_encounters": lambda: mv_monthly_encounters(
            fact, store.read("dim_time")
        ),
        "mv_diagnosis_by_age_group": lambda: mv_diagnosis_by_age_group(
            store.read("bridge_encounter_diagnosis"),
            fact,
            store.read("dim_patient"),
            store.read("dim_diagnosis"),
        ),
        "mv_procedure_volume": lambda: mv_procedure_volume(
            store.read("bridge_encounter_procedure"), fact, store.read("dim_procedure")
        ),
    }
    for name in skip:
        mvs.pop(name, None)
    with ThreadPoolExecutor(max_workers=len(mvs)) as pool:
        futures = [
            pool.submit(lambda n=name, f=fn: store.overwrite(f(), n))
            for name, fn in mvs.items()
        ]
        for f in futures:
            f.result()


def refresh_mv_monthly_incremental(store: Store, changed: DataFrame) -> int:
    """Continuous-aggregate refresh: recompute ``mv_monthly_encounters``
    ONLY for the (year, month) groups touched by ``changed`` (a frame
    with an ``encounter_date`` column — e.g. the freshly promoted
    ingest batch) and merge them in keyed on (year, month).

    At 100 TB this is the difference between re-aggregating the whole
    fact history on every ingest tick (M4's full recompute) and
    touching a handful of months: the fact scan is partition-pruned by
    ``enc_year`` before the month filter, and the MV write replaces
    only the affected rows (Store.merge_upsert). Returns the number of
    month groups refreshed.
    """
    months = (
        changed.select(
            F.year("encounter_date").alias("year"),
            F.month("encounter_date").alias("month"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # consumed twice + tiny
    )
    n_months = months.count()
    if n_months == 0:
        return 0
    fact = store.read("fact_encounters")
    affected = fact.join(
        F.broadcast(months),
        (fact["enc_year"] == months["year"])  # partition-pruned scan
        & (F.month(fact["encounter_date"]) == months["month"]),
        "left_semi",
    )
    fresh = mv_monthly_encounters(affected, store.read("dim_time"))
    store.merge_upsert(fresh, "mv_monthly_encounters", keys=["year", "month"])
    return n_months


def load_fact_incremental(
    store: Store,
    encounters_batch: DataFrame,
    procedures_batch: DataFrame,
    diagnoses_batch: DataFrame,
    reports_batch: DataFrame,
) -> dict[str, int]:
    """Incremental fact load: merge one ingest batch into an already
    built warehouse WITHOUT a full rebuild — the K3 path at 100 TB,
    where "reload the fact table" is not an option.

    Per batch, this touches only what the batch touches:

    1. ``dim_time`` — append any days the batch introduces (anti-join
       on date_key; the dim is derived, so extension is pure compute);
    2. ``dim_patient`` — append patients not yet in the dim, surrogate
       keys offset past the current max (dense overall);
    3. ``dim_procedure`` — per-procedure rows (this dim scales with
       the fact side), appended with offset keys like patients;
    4. ``fact_encounters`` — encounters already loaded are dropped
       (left-anti on encounter_id ⇒ replaying a batch is a no-op, the
       idempotency contract K1); survivors get keys offset past the
       current max and are merged via DYNAMIC PARTITION OVERWRITE:
       only the year-partitions the batch lands in are rewritten
       (existing rows of those years union new rows; other years are
       never read or written);
    5. bridges — rows derived from the *surviving* fact rows only,
       appended;
    6. MVs — the monthly MV refreshes incrementally (only touched
       months, refresh_mv_monthly_incremental); the two global-group
       MVs (modality / age-group spaces are bounded) recompute fully.

    Child-table frames must be the batch's children (same ingest
    slice), and the operational ``patients`` table must already
    include the batch's patients (ingest appends them first).
    dim_facility / dim_diagnosis are assumed covering (bounded
    facility/code catalogs — extend with ``Store.append_new`` upstream
    if not). Returns per-step row counts.
    """
    existing_fact = store.read("fact_encounters")

    # 1. extend dim_time to cover the batch's date span.
    new_days = build_dim_time(encounters_batch)
    store.append_new(new_days, "dim_time", "date_key")

    # 2. append new patients with offset surrogate keys.
    dim_patient = store.read("dim_patient")
    new_patients = (
        store.read("patients")
        .join(encounters_batch.select("patient_id").distinct(), "patient_id", "left_semi")
        .join(dim_patient.select("patient_id"), "patient_id", "left_anti")
    )
    patient_base = dim_patient.agg(F.max("patient_key")).collect()[0][0] or 0
    new_dim_patient = build_dim_patient(new_patients).withColumn(
        "patient_key", (F.col("patient_key") + F.lit(patient_base)).cast("long")
    )
    n_new_patients = new_dim_patient.count()
    if n_new_patients:
        store.append(new_dim_patient, "dim_patient")

    # 3. append new per-procedure dim rows with offset keys.
    dim_procedure = store.read("dim_procedure")
    new_procs = procedures_batch.join(
        dim_procedure.select("procedure_id"), "procedure_id", "left_anti"
    )
    proc_base = dim_procedure.agg(F.max("procedure_key")).collect()[0][0] or 0
    new_dim_procedure = build_dim_procedure(new_procs).withColumn(
        "procedure_key", (F.col("procedure_key") + F.lit(proc_base)).cast("long")
    )
    if new_dim_procedure.count():
        store.append(new_dim_procedure, "dim_procedure")

    # 4. fact rows for not-yet-loaded encounters, keys offset past max.
    fresh_encounters = encounters_batch.join(
        existing_fact.select("encounter_id"), "encounter_id", "left_anti"
    ).localCheckpoint(eager=True)  # consumed by fact build + MV refresh
    fact_base = existing_fact.agg(F.max("encounter_key")).collect()[0][0] or 0
    # Pinned: consumed by the partition write, the bridge build (which
    # must see the same keys AFTER the fact files are replaced), and
    # the count.
    new_fact = (
        build_fact_encounters(
            fresh_encounters,
            procedures_batch,
            diagnoses_batch,
            reports_batch,
            store.read("dim_patient"),
            store.read("dim_facility"),
            store.read("dim_time"),
        )
        .withColumn(
            "encounter_key", (F.col("encounter_key") + F.lit(fact_base)).cast("long")
        )
        .withColumn("enc_year", F.year("encounter_date"))
        .localCheckpoint(eager=True)
    )

    years = [r[0] for r in new_fact.select("enc_year").distinct().collect()]
    n_new_fact = new_fact.count()
    if n_new_fact:
        # Full new content of ONLY the touched year partitions, pinned
        # because it reads the files the write will replace.
        merged = (
            existing_fact.filter(F.col("enc_year").isin(years))  # partition-pruned
            .unionByName(new_fact)
            .localCheckpoint(eager=True)
        )
        store.overwrite_partitions(merged, "fact_encounters", partition_by=["enc_year"])

    # 5. bridge rows for the surviving fact rows only.
    if n_new_fact:
        bep, bed = build_bridges(
            procedures_batch,
            diagnoses_batch,
            new_fact,
            store.read("dim_procedure"),
            store.read("dim_diagnosis"),
        )
        store.append(bep, "bridge_encounter_procedure")
        store.append(bed, "bridge_encounter_diagnosis")

    # 6. MVs: incremental for the monthly continuous aggregate, full
    # recompute for the two bounded-group MVs.
    n_months = refresh_mv_monthly_incremental(store, fresh_encounters)
    refresh_views(store, skip=("mv_monthly_encounters",))

    return {
        "new_patients": n_new_patients,
        "new_fact_rows": n_new_fact,
        "touched_years": len(years) if n_new_fact else 0,
        "refreshed_months": n_months,
    }


def build_warehouse(
    store: Store,
    stats: bool = True,
    operational: dict[str, DataFrame] | None = None,
) -> dict[str, int]:
    """Full warehouse population (reference: populate_warehouse.py:
    255-297): operational layer → dims → fact → bridges → MVs, run as
    ONE dependency graph instead of four sequential phase barriers.
    Every table is a task that starts the moment the tables it reads
    are written: dim_patient right after ``patients`` lands (while
    other operational writes still run), the fact when its four source
    tables + three dims are in, each bridge-dependent MV the instant
    its bridge commits. Phase barriers made every stage wait for its
    slowest sibling — measured 9.5 s → ~6.5 s at sf0.1/local[32] with
    identical outputs (writes stay read-after-write: each consumer
    reads the parquet its producer committed, the pattern that holds
    when tasks run on different executors against shared storage).

    ``operational`` (name → DataFrame) folds the operational-layer
    writes into the graph; when omitted, those tables must already be
    in the store. Writes are overwrite-mode (idempotent); the fact is
    partitioned by encounter year for partition pruning on the
    dominant time-filtered access path. With ``stats=True`` returns
    per-table row counts (reference: get_warehouse_stats, :238-253) —
    11 extra count jobs; pass ``stats=False`` when the caller only
    needs the tables (e.g. an MV readback query path).

    Caller contract for ``operational``: its frames must not be
    lineage over this store's own table paths (for example
    ``store.read("encounters")``). Downstream builds plan against
    those source frames from t=0 with no ordering edge on the
    operational copy-writes, so a frame that reads the path its own
    copy-write overwrites would read it mid-write. Pass frames built
    from an independent source (a generator, another store, staging
    files), or write the operational tables first and omit
    ``operational``. The contract is checked before any write: a frame
    whose ``inputFiles()`` (a file listing in this process, no job) lie under
    the store root raises ``ValueError``."""
    import os
    from concurrent.futures import Future, ThreadPoolExecutor
    from urllib.parse import unquote, urlparse

    own = os.path.join(os.path.abspath(store.root), "")
    for name, df in (operational or {}).items():
        inside = [
            f for f in df.inputFiles() if unquote(urlparse(f).path).startswith(own)
        ]
        if inside:
            raise ValueError(
                f"build_warehouse: operational frame {name!r} reads this "
                f"store's own files ({inside[0]}); its copy-write would "
                "overwrite them mid-read — write the operational tables "
                "first and omit operational"
            )

    done: dict[str, Future] = {}
    # The pre-published operational source frames (see below). Every
    # other table is read back from the store by its consumer: a read
    # right after a write takes the schema Spark wrote from the parquet
    # footers (sources/parquet.py), so it launches no inference job.
    published: dict[str, DataFrame] = {}

    def _get(name: str) -> DataFrame:
        return published[name] if name in published else store.read(name)

    def _submit(
        pool: ThreadPoolExecutor,
        name: str,
        deps: tuple[str, ...],
        builder,
        **write_kw,
    ):
        """Register table ``name``: wait for ``deps`` (tables created
        earlier in the graph), build, write. Threads only block and
        submit; Spark's scheduler runs the actual jobs."""

        def task():
            for d in deps:
                done[d].result()
            store.overwrite(builder(), name, **write_kw)

        done[name] = pool.submit(task)

    # 18 tasks max, each may block on deps — size the pool past that
    # so a blocked task never starves the task it waits on.
    with ThreadPoolExecutor(max_workers=24) as pool:
        if operational is not None:
            # The operational writes are pure copies of the provided
            # source frames — consumers may read the SOURCE lineage
            # directly (same bytes, same shared storage) instead of
            # waiting for the copy to commit. Publishing the frame up
            # front takes all 7 operational writes OFF the critical
            # path: the dim builds start at t=0 and the copies land in
            # parallel with the real dataflow (guide §2.6, overlap
            # independent jobs; measured ~-1 s at sf0.1/local[32]).
            for name, df in operational.items():
                published[name] = df
                _submit(pool, name, (), lambda d=df: d)

        # Operational tables are pre-published above, so downstream
        # builds never wait for their write — only genuinely computed
        # tables (dims/fact) are ordering edges.
        _submit(
            pool, "dim_time", (),
            lambda: build_dim_time(_get("encounters")),
        )
        _submit(
            pool, "dim_patient", (),
            lambda: build_dim_patient(_get("patients")),
        )
        _submit(
            pool, "dim_facility", (),
            lambda: build_dim_facility(_get("facilities")),
        )
        _submit(
            pool, "dim_procedure", (),
            lambda: build_dim_procedure(_get("procedures")),
        )
        _submit(
            pool, "dim_diagnosis", (),
            lambda: build_dim_diagnosis(_get("diagnosis_codes")),
        )

        _submit(
            pool, "fact_encounters",
            ("dim_patient", "dim_facility", "dim_time"),
            lambda: build_fact_encounters(
                _get("encounters"),
                _get("procedures"),
                _get("diagnoses"),
                _get("reports"),
                _get("dim_patient"),
                _get("dim_facility"),
                _get("dim_time"),
            ).withColumn("enc_year", F.year("encounter_date")),
            partition_by=["enc_year"],
        )

        # Each bridge task builds ONLY its own frame (the split
        # builders read exactly the tables the task declares as deps —
        # the old shared _bridges() closure evaluated BOTH sides, so
        # the diagnosis task touched dim_procedure it never depended
        # on: a latent read-mid-write race that surfaced the moment
        # task timing shifted). Its dependent MV consumes the SAME
        # lineage concurrently with the write rather than waiting to
        # read the committed bridge back — the bridge join is
        # evaluated twice (independent Spark jobs), which trades a
        # cheap recompute for taking both off the critical path. At
        # true 100 TB bridge sizes, flip the MV deps to the bridge
        # table and _get it — a one-line change back to read-committed.
        def _bep():
            return build_bridge_procedure(
                _get("procedures"), _get("fact_encounters"), _get("dim_procedure")
            )

        def _bed():
            return build_bridge_diagnosis(
                _get("diagnoses"), _get("fact_encounters"), _get("dim_diagnosis")
            )

        _submit(
            pool, "bridge_encounter_procedure",
            ("fact_encounters", "dim_procedure"),
            _bep,
        )
        _submit(
            pool, "bridge_encounter_diagnosis",
            ("fact_encounters", "dim_diagnosis"),
            _bed,
        )

        _submit(
            pool, "mv_monthly_encounters", ("fact_encounters", "dim_time"),
            lambda: mv_monthly_encounters(_get("fact_encounters"), _get("dim_time")),
        )
        _submit(
            pool, "mv_diagnosis_by_age_group",
            ("fact_encounters", "dim_patient", "dim_diagnosis"),
            lambda: mv_diagnosis_by_age_group(
                _bed(),
                _get("fact_encounters"),
                _get("dim_patient"),
                _get("dim_diagnosis"),
            ),
        )
        _submit(
            pool, "mv_procedure_volume",
            ("fact_encounters", "dim_procedure"),
            lambda: mv_procedure_volume(
                _bep(),
                _get("fact_encounters"),
                _get("dim_procedure"),
            ),
        )

        for f in done.values():
            f.result()

    if not stats:
        return {}
    return {
        t: store.count(t)
        for t in (
            "dim_patient", "dim_facility", "dim_procedure", "dim_diagnosis", "dim_time",
            "fact_encounters", "bridge_encounter_procedure", "bridge_encounter_diagnosis",
            "mv_monthly_encounters", "mv_diagnosis_by_age_group", "mv_procedure_volume",
        )
    }
