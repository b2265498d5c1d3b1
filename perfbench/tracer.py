"""Span tracer for the traced benchmark run.

The tracer lives only in the benchmark process: :func:`install`
monkeypatches the public functions of each package module (in the
style of ``tools/profile_actions.py``); no program file changes.

Each wrapped call becomes a span with a name, layer, start, end,
parent span and thread, kept in memory until the run ends. Every span
runs under its own Spark job group, so after the pass each job is
attributed to the innermost span that launched it, and the per-stage
figures come from Spark's status store (``lastStageAttempt``).

Parents cross threads in two places the package uses: tasks submitted
to a ``ThreadPoolExecutor`` (``build_warehouse``, ``refresh_views``)
and ``foreachBatch`` callbacks, which run on the stream's thread.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import os
import pkgutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

PACKAGE = "efiche_data_pipeline_spark"
GROUP_PROP = "spark.jobGroup.id"

# Layer -> modules whose public functions become spans of that layer.
LAYER_MODULES = {
    "sources": ["sources.catalog"],
    "operators": ["operators"],  # every module of the package
    "warehouse": ["pipeline.warehouse"],
    "ingest": ["pipeline.ingest"],
    "quality": ["pipeline.quality"],
    "report": ["pipeline.report"],
    "streaming": ["streaming"],
}
STORE_READS = ("read", "read_union", "read_version", "read_merged", "count")
STORE_WRITES = (
    "overwrite", "overwrite_partitions", "append", "append_new",
    "merge_upsert", "overwrite_sorted", "compact", "append_evolved",
    "write_version", "append_version", "compact_layers", "rewrite_layers",
    "rollback",
)
STORE_DELETES = ("delete_keys", "delete_where", "vacuum_versions")
ACTIONS = ("collect", "toPandas", "count", "first", "take", "head", "toLocalIterator")


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    thread: str


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object, bool]] = []
        self.spans: list[Span] = []
        self.probes: list[tuple[str, float]] = []  # (kind, seconds)
        self.groups: dict[str, int] = {}  # job group -> span id

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        return self._local.__dict__.setdefault("stack", [])

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    @contextlib.contextmanager
    def _group(self, group: str | None):
        prev = self._sc.getLocalProperty(GROUP_PROP)
        self._sc.setLocalProperty(GROUP_PROP, group)
        try:
            yield
        finally:
            self._sc.setLocalProperty(GROUP_PROP, prev)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.current()
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        self.groups[group] = sid
        stack = self._stack()
        with self._group(group):
            stack.append(sid)
            start = time.perf_counter()
            try:
                yield
            finally:
                end = time.perf_counter()
                stack.pop()
                self.spans.append(Span(
                    sid, name, layer, start, end, parent,
                    threading.current_thread().name,
                ))

    @contextlib.contextmanager
    def adopt(self, parent: int | None):
        """Run a task on another thread as a child of ``parent``."""
        prev = getattr(self._local, "inherited", None)
        self._local.inherited = parent
        try:
            with self._group(f"perfbench-{parent}" if parent else None):
                yield
        finally:
            self._local.inherited = prev

    # -- wrappers ------------------------------------------------------
    def _spanned(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _probed(self, fn, kind: str):
        """Count and time a call without making it a span; nested
        calls of the same kind (``first`` -> ``head`` -> ``take``)
        count once."""

        @functools.wraps(fn)
        def probed(*args, **kwargs):
            if getattr(self._local, kind, False):
                return fn(*args, **kwargs)
            setattr(self._local, kind, True)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self._local, kind, False)
                self.probes.append((kind, time.perf_counter() - t0))

        return probed

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr), attr in vars(owner)))
        setattr(owner, attr, new)

    def _replace_everywhere(self, orig, new) -> None:
        """Rebind every package-level reference to ``orig`` — modules
        import functions by name (``from ..sources.catalog import
        load_table``), so patching the defining module alone misses
        them."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patch(mod, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def install(self) -> None:
        for layer, names in LAYER_MODULES.items():
            for mod in _modules(names):
                for fname, fn in list(vars(mod).items()):
                    if (
                        fname.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                        or inspect.isgeneratorfunction(fn)
                    ):
                        continue
                    self._replace_everywhere(
                        fn, self._spanned(fn, f"{layer}.{fname}", layer)
                    )

        from efiche_data_pipeline_spark.pipeline.store import Store

        for kind, methods in (
            ("read", STORE_READS), ("write", STORE_WRITES), ("delete", STORE_DELETES)
        ):
            for m in methods:
                self._patch(
                    Store, m, self._spanned(getattr(Store, m), f"store.{kind}.{m}", "store")
                )

        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # Spark < 4
            from pyspark.sql import DataFrame
        for m in ACTIONS:
            self._patch(DataFrame, m, self._probed(getattr(DataFrame, m), "actions"))
        self._patch(
            DataFrame, "localCheckpoint",
            self._probed(DataFrame.localCheckpoint, "pins"),
        )

        tracer = self
        submit = ThreadPoolExecutor.submit

        def traced_submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            if parent is None:
                return submit(pool, fn, *args, **kwargs)

            def adopted(*a, **kw):
                with tracer.adopt(parent):
                    return fn(*a, **kw)

            return submit(pool, adopted, *args, **kwargs)

        self._patch(ThreadPoolExecutor, "submit", traced_submit)

        from pyspark.sql.streaming.readwriter import DataStreamWriter

        foreach_batch = DataStreamWriter.foreachBatch

        def traced_foreach_batch(writer, func):
            parent = tracer.current()

            def batch(df, batch_id):
                with tracer.adopt(parent), tracer.span("streaming.batch", "streaming"):
                    return func(df, batch_id)

            return foreach_batch(writer, batch)

        self._patch(DataStreamWriter, "foreachBatch", traced_foreach_batch)


def _modules(names: list[str]):
    for name in names:
        mod = importlib.import_module(f"{PACKAGE}.{name}")
        yield mod
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                yield importlib.import_module(f"{mod.__name__}.{info.name}")


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the union of the children's intervals."""
    covered, edge = 0.0, span.start
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, edge), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            edge = hi
    return max(span.end - span.start - covered, 0.0)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, edge = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, edge)
        if hi > lo:
            total += hi - lo
            edge = hi
    return total


def dir_stats(root: str, since: float = 0.0) -> tuple[int, int]:
    """(parquet files modified at or after ``since``, total bytes)
    under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if n.endswith(".parquet") and st.st_mtime >= since:
                files += 1
            size += st.st_size
    return files, size


def layer_metrics(tr: Tracer, jobs, stages, traced, cores: int, overhead_s: float,
                  pins_held: int) -> dict[str, tuple[float, str]]:
    """Per-layer figures of one traced pass. A layer's ``jobs`` (and
    its Spark figures) count every job launched while a span of that
    layer was open on the job's span chain; ``self_s`` is exclusive."""
    spans = {s.id: s for s in tr.spans}
    children: dict[int, list[Span]] = {}
    for s in spans.values():
        if s.parent in spans:
            children.setdefault(s.parent, []).append(s)

    def chain(sid):
        while sid in spans:
            yield spans[sid]
            sid = spans[sid].parent

    def outermost(layer: str, prefix: str = "") -> list[Span]:
        return [
            s for s in spans.values()
            if s.layer == layer and s.name.startswith(prefix)
            and not (s.parent in spans and spans[s.parent].layer == layer)
        ]

    def self_s(layer: str) -> float:
        return sum(self_time(s, children.get(s.id, [])) for s in spans.values() if s.layer == layer)

    # Each stage's figures belong to the first job that ran it; a later
    # job listing it (or a stage that never ran) counts as skipped.
    claimed: set[int] = set()
    job_stages: dict[int, list] = {}
    skipped = 0
    for j in jobs:
        ran = [sid for sid in j.stage_ids if not stages[sid].skipped and sid not in claimed]
        claimed.update(ran)
        skipped += len(j.stage_ids) - len(ran)
        job_stages[j.id] = [stages[sid] for sid in ran]

    job_layers: dict[int, set[str]] = {}
    unattributed = 0
    for j in jobs:
        sid = tr.groups.get(j.group)
        if sid is None:
            unattributed += 1
        job_layers[j.id] = {s.layer for s in chain(sid)}

    def spark_sum(attr: str, layer: str | None = None) -> float:
        return sum(
            getattr(st, attr)
            for j in jobs
            if layer is None or layer in job_layers[j.id]
            for st in job_stages[j.id]
        )

    def jobs_in(layer: str) -> int:
        return sum(layer in job_layers[j.id] for j in jobs)

    def dur(ss: list[Span]) -> float:
        return sum(s.end - s.start for s in ss)

    busy = union_seconds([(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs])
    exec_run = spark_sum("run_s")
    progress = traced.extra.get("progress", [])
    probes = {kind: [sec for k, sec in tr.probes if k == kind] for kind in ("actions", "pins")}
    store_files, _ = dir_stats(traced.store_root, traced.extra["start_epoch"])
    m = {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(claimed), "count"),
        "spark.stages_skipped": (skipped, "count"),
        "spark.tasks": (spark_sum("tasks"), "count"),
        "spark.exec_run_s": (exec_run, "s"),
        "spark.exec_cpu_s": (spark_sum("cpu_s"), "s"),
        "spark.gc_s": (spark_sum("gc_s"), "s"),
        "spark.shuffle_read_mb": (spark_sum("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (spark_sum("shuffle_write_mb"), "MB"),
        "spark.spill_mb": (spark_sum("spill_mb"), "MB"),
        "spark.slot_util": (exec_run / (traced.wall_s * cores), "ratio"),
        "driver.no_job_s": (max(traced.wall_s - busy, 0.0), "s"),
        "sources.calls": (len([s for s in spans.values() if s.layer == "sources"]), "count"),
        "sources.busy_s": (dur(outermost("sources")), "s"),
        "sources.input_mb": (spark_sum("input_mb"), "MB"),
        "sources.input_rows": (spark_sum("input_rows"), "count"),
        "plans.calls": (len([s for s in spans.values() if s.name == "plans.build"]), "count"),
        "plans.build_s": (dur([s for s in spans.values() if s.name == "plans.build"]), "s"),
        "plans.exec_s": (dur([s for s in spans.values() if s.name == "plans.exec"]), "s"),
        "plans.jobs": (jobs_in("plans"), "count"),
        "operators.calls": (len([s for s in spans.values() if s.layer == "operators"]), "count"),
        "operators.self_s": (self_s("operators"), "s"),
        "operators.jobs": (jobs_in("operators"), "count"),
        "operators.exec_cpu_s": (spark_sum("cpu_s", "operators"), "s"),
        "operators.shuffle_mb": (
            spark_sum("shuffle_read_mb", "operators") + spark_sum("shuffle_write_mb", "operators"),
            "MB",
        ),
    }
    for kind in ("read", "write", "delete"):
        m[f"store.{kind}_calls"] = (
            len([s for s in spans.values() if s.name.startswith(f"store.{kind}.")]), "count"
        )
    for kind in ("read", "write", "delete"):
        m[f"store.{kind}_s"] = (dur(outermost("store", f"store.{kind}.")), "s")
    m.update({
        "store.jobs": (jobs_in("store"), "count"),
        "store.files_written": (store_files, "count"),
        "store.mb_written": (spark_sum("output_mb", "store"), "MB"),
        "warehouse.self_s": (self_s("warehouse"), "s"),
        "warehouse.jobs": (jobs_in("warehouse"), "count"),
        "ingest.batches": (
            len([s for s in spans.values() if s.name == "ingest.process_staging_to_production"]),
            "count",
        ),
        "ingest.self_s": (self_s("ingest"), "s"),
        "ingest.jobs": (jobs_in("ingest"), "count"),
        "quality.self_s": (self_s("quality"), "s"),
        "report.self_s": (self_s("report"), "s"),
        "report.jobs": (jobs_in("report"), "count"),
        "streaming.batches": (len(progress), "count"),
        "streaming.batch_s": (sum(p.durationMs["triggerExecution"] for p in progress) / 1e3, "s"),
        "streaming.add_batch_s": (sum(p.durationMs.get("addBatch", 0) for p in progress) / 1e3, "s"),
        "streaming.wal_commit_s": (
            sum(p.durationMs.get("walCommit", 0) for p in progress) / 1e3, "s"
        ),
        "streaming.input_rows": (sum(p.numInputRows for p in progress), "count"),
        "pins.created": (len(probes["pins"]), "count"),
        "pins.held_after": (pins_held, "count"),
        "actions.collects": (len(probes["actions"]), "count"),
        "actions.collect_s": (sum(probes["actions"]), "s"),
        "trace.spans": (len(spans), "count"),
        "trace.unattributed_jobs": (unattributed, "count"),
        "trace.overhead_s": (overhead_s, "s"),
    })
    return m
