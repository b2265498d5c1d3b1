"""Parquet table store: the pipeline's persistence layer.

A `Store` is a root directory with one parquet table per subdirectory
— the Spark replacement for the reference's PostgreSQL schema
(reference: sql/01_schema.sql, sql/03_warehouse.sql). Writes are
whole-job atomic (Spark commits task output via a rename protocol), so
the reference's per-500-row commit batching (etl_pipeline.py:106-107,
193-195) has no equivalent here by design: K4 "batched commit" is the
streaming `foreachBatch` path in streaming/incremental.py.

Append-with-dedup (the ON CONFLICT DO NOTHING analogue, K1/K2) is
``Store.append_new``: ``Store.unseen`` (a left anti-join against the
stored keys) then append; full idempotent rebuilds use overwrite mode.

Versioned tables have one format (the Delta Lake add-file log reduced
to one writer): every commit writes one new ``v<N>`` layer directory
and a ``_layers_v<N>`` manifest naming the layers version N unions
over, then swaps the ``_CURRENT`` pointer. ``write_version`` commits a
one-layer manifest (a full rewrite), ``append_version`` extends the
current one (an append), and ``read_union`` reads any version.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet import read_parquet


class ConcurrentWriteError(RuntimeError):
    """Raised when a second writer races a versioned commit on the same
    table. The Store's versioned API is single-writer by contract; this
    error is the contract ENFORCED — the loser raises before touching
    any layer, manifest, or pointer, so the winner's commit is never
    clobbered. A claim file left behind by a CRASHED writer also lands
    here; ``vacuum_versions`` clears stale claims."""


class Store:
    """A root directory of parquet tables (see the module docstring).

    "Already stored?" is one read, ``unseen(df, table, key)``: the rows
    of ``df`` whose key is absent from a plain table, with an absent
    table holding nothing. ``append_new`` is ``append`` of ``unseen``;
    callers slice with ``unseen`` when they compute on the fresh rows
    before writing, and call ``append_new`` when they only write.

    Fault seam: every public write or delete method — ``overwrite``,
    ``overwrite_partitions``, ``append``, ``append_new``,
    ``merge_upsert``, ``overwrite_sorted``, ``compact``,
    ``append_evolved``, ``write_version``, ``append_version``,
    ``compact_layers``, ``rewrite_layers``, ``rollback``,
    ``delete_keys``, ``delete_where``, ``vacuum_versions`` — first calls
    ``self._fault(op, table)`` with its own name as ``op``, before any
    I/O. Methods that delegate (``append_new`` → ``append``,
    ``merge_upsert`` → ``overwrite``, ``compact_layers`` →
    ``rewrite_layers`` → ``write_version``, ...) fire again under the
    callee's name. A versioned ``delete_keys``/``delete_where`` also fires
    ``"<op>:commit"`` after its layer rewrites, just before it claims
    the slot for its manifest + pointer commit. The class method is a
    no-op; crash tests arm one instance by assigning an instance
    attribute (``tests/conftest.py:crash_once``), so a crash window is
    named by ``(op, table)`` and never re-types a method signature."""

    def __init__(self, spark: SparkSession, root: str, audit: bool = False):
        import threading

        self.spark = spark
        self.root = root
        self.audit = audit
        # Table writes from concurrent threads target distinct paths
        # and are safe; the audit log is one shared append target, so
        # its writes serialize (concurrent appends to one parquet path
        # share a _temporary staging dir and can clobber each other).
        self._audit_lock = threading.Lock()

    def _fault(self, op: str, table: str) -> None:
        """Fault-injection seam (see the class docstring): a no-op."""

    @staticmethod
    def _write(
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        **options,
    ) -> None:
        """The one parquet writer: ``df`` to ``path``, hive-partitioned
        when ``partition_by`` is set."""
        w = df.write.mode(mode).options(**options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def _log(self, table: str, operation: str) -> None:
        """Append one row to the append-only ``audit_log`` table — the
        Spark form of the reference's audit_log (reference:
        sql/01_schema.sql:122-131, declared there but never written).
        Operation-level only; row-level before/after images live in the
        separate ``audit_row_images`` table (:meth:`_log_row_images`),
        keeping each audit table's schema fixed."""
        if not self.audit or table == "audit_log":
            return
        from pyspark.sql import functions as F

        row = self.spark.createDataFrame(
            [(table, operation)], "table_name string, operation string"
        ).select(
            F.expr("uuid()").alias("audit_id"),
            "table_name",
            "operation",
            F.to_json(F.struct(F.lit(self.path(table)).alias("path"))).alias("details"),
            F.current_timestamp().alias("changed_at"),
        )
        with self._audit_lock:
            row.write.mode("append").parquet(self.path("audit_log"))

    def _log_row_images(
        self,
        table: str,
        operation: str,
        keys: list[str],
        old: DataFrame | None,
        new: DataFrame,
    ) -> None:
        """Row-level before/after capture — the reference's
        ``old_values/new_values JSONB`` columns (reference:
        sql/01_schema.sql:129-130), populated here for keyed merges:
        one row per affected key with both images as JSON strings
        (``old_values`` NULL for inserts). Cost is O(changed rows) and
        fully distributed; gated behind ``audit`` like the op log."""
        if not self.audit or table in ("audit_log", "audit_row_images"):
            return
        from pyspark.sql import functions as F

        n = new.select(
            *keys, F.to_json(F.struct(*new.columns)).alias("new_values")
        )
        if old is not None:
            o = old.select(
                *keys, F.to_json(F.struct(*old.columns)).alias("old_values")
            )
            img = n.join(o, keys, "left")
        else:
            img = n.withColumn("old_values", F.lit(None).cast("string"))
        img = img.select(
            F.expr("uuid()").alias("audit_id"),
            F.lit(table).alias("table_name"),
            F.lit(operation).alias("operation"),
            F.to_json(F.struct(*keys)).alias("row_key"),
            "old_values",
            "new_values",
            F.current_timestamp().alias("changed_at"),
        )
        # Pin before the caller overwrites the files the old side reads.
        img = img.localCheckpoint(eager=True)
        with self._audit_lock:
            img.write.mode("append").parquet(self.path("audit_row_images"))

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        # _SUCCESS marker distinguishes a committed write from a
        # partially-created directory.
        return os.path.exists(os.path.join(self.path(table), "_SUCCESS"))

    def read(self, table: str) -> DataFrame:
        self._recover_compact(table)
        return read_parquet(self.spark, self.path(table))

    # -- layout metadata ------------------------------------------------
    # A small JSON sidecar (`<table>/_LAYOUT.json`) recording layout
    # parameters the directory structure alone cannot carry — above
    # all the HASH-BUCKET MODULUS of a bucketed index (partition
    # column `ghp`/`hp` = hash mod N): the partition directories show
    # the column NAME but not N, and a reader pruning with the wrong
    # modulus silently reads the wrong slice instead of failing.
    # Writers stamp it at bucketed-commit time; readers resolve their
    # prune modulus from it (see operators/dedup.py). `overwrite` and
    # `compact` preserve it across their directory truncation/swap;
    # versioned tables keep root files intact by construction.
    def _layout_file(self, table: str) -> str:
        return os.path.join(self.path(table), "_LAYOUT.json")

    def write_layout_meta(self, table: str, meta: dict) -> None:
        import json

        os.makedirs(self.path(table), exist_ok=True)
        tmp = self._layout_file(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._layout_file(table))

    def read_layout_meta(self, table: str) -> dict | None:
        import json

        try:
            with open(self._layout_file(table)) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        self._fault("overwrite", table)
        # Spark's static overwrite truncates the directory — carry the
        # layout sidecar across (it describes the layout the caller is
        # re-creating).
        meta = self.read_layout_meta(table)
        self._write(df, self.path(table), partition_by)
        if meta is not None:
            self.write_layout_meta(table, meta)
        self._log(table, "overwrite")

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, leave every other partition untouched — the
        parquet-native ``INSERT OVERWRITE … PARTITION`` / Delta
        ``replaceWhere``. At scale this is how an incremental fact load
        touches 2 year-partitions of a 10-year table without rewriting
        (or even listing) the other 8. The caller must supply the FULL
        intended content of each touched partition; if the new content
        derives from reading those same partitions, pin it
        (``localCheckpoint``) before calling."""
        self._fault("overwrite_partitions", table)
        self._write(
            df, self.path(table), partition_by, partitionOverwriteMode="dynamic"
        )
        self._log(table, "overwrite_partitions")

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        self._fault("append", table)
        self._write(df, self.path(table), partition_by, mode="append")
        self._log(table, "append")

    def unseen(self, df: DataFrame, table: str, key: str | list[str]) -> DataFrame:
        """The rows of ``df`` whose ``key`` (one column or a composite)
        is absent from the plain ``table`` — a left-anti join whose
        stored side reads only the key columns. A table with no commit
        holds nothing: ``df`` comes back as it is and no job runs."""
        if not self.exists(table):
            return df
        keys = [key] if isinstance(key, str) else list(key)
        return df.join(self.read(table).select(*keys), keys, "left_anti")

    def append_new(
        self,
        df: DataFrame,
        table: str,
        key: str | list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Append only the :meth:`unseen` rows of ``df`` — the
        reference's ``INSERT … ON CONFLICT (key) DO NOTHING``
        (reference: etl_pipeline.py:93-98). ``df`` must be key-unique
        already (dropDuplicates upstream). ``partition_by`` lays new
        files under partition directories (readers with a matching
        literal filter then prune at the directory level)."""
        self._fault("append_new", table)
        self.append(self.unseen(df, table, key), table, partition_by)

    def merge_upsert(self, updates: DataFrame, table: str, keys: list[str]) -> None:
        """Keyed merge: rows matching on ``keys`` are replaced by their
        update, unmatched updates are inserted — ``MERGE WHEN MATCHED
        THEN UPDATE / WHEN NOT MATCHED THEN INSERT`` for plain parquet
        (delete-by-key + insert). ``updates`` must be key-unique.
        Idempotent: re-merging the same updates is a no-op. Used by the
        streaming foreachBatch sink (streaming/incremental.py), where
        idempotent batch replay is the exactly-once-ish contract."""
        self._fault("merge_upsert", table)
        if self.exists(table):
            existing = self.read(table)
            keep = existing.join(updates.select(*keys), keys, "left_anti")
            # Pin before overwriting the files the plan reads from.
            merged = keep.unionByName(updates).localCheckpoint(eager=True)
            replaced = existing.join(updates.select(*keys), keys, "left_semi")
            self._log_row_images(table, "merge_upsert", keys, replaced, updates)
        else:
            merged = updates
            self._log_row_images(table, "merge_upsert", keys, None, updates)
        self.overwrite(merged, table)

    def count(self, table: str) -> int:
        return self.read(table).count() if self.exists(table) else 0

    def overwrite_sorted(
        self, df: DataFrame, table: str, sort_by: list[str], partitions: int | None = None
    ) -> None:
        """Overwrite with rows range-clustered on ``sort_by``: a
        repartitionByRange + sortWithinPartitions before the write, so
        every output file covers a narrow ``sort_by`` interval and its
        parquet row-group min/max statistics become selective. At scale
        this is the data-skipping half of partitioning: range filters on
        the sort key skip whole files/row-groups without any partition
        directories (the poor man's Z-order for the 1-key case)."""
        self._fault("overwrite_sorted", table)
        n = partitions or df.sparkSession.sparkContext.defaultParallelism
        clustered = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
        self.overwrite(clustered, table)

    def compact(self, table: str, target_files: int) -> int:
        """Rewrite ``table`` into ``target_files`` files and return the
        new file count. Small-file compaction is routine maintenance at
        scale: streaming/incremental appends accumulate per-batch files
        whose open/footer overhead eventually dominates scan time.
        ``coalesce`` (no shuffle) merges read-splits in-task; content is
        unchanged as a multiset. The rewrite goes through a temp
        directory + a two-rename swap (final→``_precompact``, tmp→final,
        then delete the old copy), so the path holds a COMPLETE table at
        every instant except the sub-microsecond window between the two
        renames — and a crash inside that window leaves the old table
        intact under ``_precompact_<table>``, which the next ``compact``
        (or ``read``, via the recovery below) restores. Contrast the
        naive rmtree-then-rename, whose crash window leaves NO table at
        the path (tests/test_store_mgmt.py pins every intermediate
        state).

        PARTITIONED tables are compacted per partition: the hive-style
        ``col=value`` layout is auto-detected from the directory names
        and preserved, and ``target_files`` CAPS the file count within
        each partition (salted shuffle key; exactly 1 file per
        partition at target_files=1). Without this, compacting
        a cell-partitioned store (the IVF/SemDeDup index) would
        silently flatten the directories and destroy the readers'
        partition pruning — the layout IS the index."""
        import shutil

        self._fault("compact", table)
        self._recover_compact(table)
        final = self.path(table)
        part_cols = self._dir_partition_columns(final)
        tmp = self.path(f"_compact_{table}")
        self._write(
            self._cap_files(self.read(table), part_cols, target_files),
            tmp,
            part_cols,
        )
        meta = self.read_layout_meta(table)
        old = self.path(f"_precompact_{table}")
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old)
        if meta is not None:
            self.write_layout_meta(table, meta)
        self._log(table, "compact")
        return sum(
            1
            for _root, _dirs, files in os.walk(final)
            for f in files
            if f.endswith(".parquet")
        )

    @staticmethod
    def _cap_files(
        df: DataFrame, part_cols: list[str], target_files: int
    ) -> DataFrame:
        """``df`` shuffled so a write of it makes at most
        ``target_files`` files — per hive partition when ``part_cols``
        is set. The shuffle key is (partition cols, row-hash %
        target_files), so each partition's rows land in at most
        ``target_files`` write tasks (exactly 1 when target_files=1;
        salt values can share a task, so it is a cap, not an exact
        count) and partitionBy re-creates the layout. Unpartitioned
        frames just coalesce (no shuffle)."""
        if not part_cols:
            return df.coalesce(target_files)
        from pyspark.sql import functions as F

        data_cols = [c for c in df.columns if c not in part_cols]
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in data_cols] or [F.lit(0)]),
            F.lit(target_files),
        )
        return df.repartition(*[F.col(c) for c in part_cols], salt)

    @staticmethod
    def _dir_partition_columns(d: str) -> list[str]:
        """Detect a hive-partitioned layout under directory ``d`` from
        the first level of ``col=value`` directory names (possibly
        nested for multi-column partitioning)."""
        cols: list[str] = []
        while True:
            subs = [
                s
                for s in os.listdir(d)
                if "=" in s and os.path.isdir(os.path.join(d, s))
            ]
            if not subs:
                return cols
            cols.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])

    def _recover_compact(self, table: str) -> None:
        """Heal a crash inside :meth:`compact`'s swap: if the table path
        is missing but ``_precompact_<table>`` survives, the crash hit
        between the two renames — rename the old copy back. If both
        exist, the crash hit after the second rename (new table live);
        the leftover old copy is just deleted."""
        import shutil

        final = self.path(table)
        old = self.path(f"_precompact_{table}")
        if not os.path.exists(old):
            return
        if os.path.exists(final):
            shutil.rmtree(old)
        else:
            os.rename(old, final)

    def append_evolved(self, df: DataFrame, table: str) -> None:
        """Append a frame whose schema is a SUPERSET of the stored
        table's (new columns allowed; existing columns must keep their
        types). Readers opt into the merged view with
        ``read_merged``; old rows surface NULL for the new columns —
        the parquet-native form of ``ALTER TABLE ADD COLUMN`` (the
        reference evolves its schema with ALTER statements,
        sql/01_schema.sql)."""
        self._fault("append_evolved", table)
        if self.exists(table):
            existing = set(self.read(table).columns)
            missing = existing - set(df.columns)
            if missing:
                raise ValueError(
                    f"append_evolved to {table}: frame is missing stored "
                    f"columns {sorted(missing)} — only ADDing columns is "
                    "schema evolution; dropping requires a rewrite"
                )
        self.append(df, table)

    def read_merged(self, table: str) -> DataFrame:
        """Read with parquet schema merging (union of every file's
        schema; files predating a column yield NULLs for it)."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path(table))

    # ------------------------------------------------------------------
    # Versioned tables — parquet-native time travel, one format.
    #
    # Layout: <table>/v<N>/ holds one immutable layer; the small file
    # <table>/_layers_v<N> (the manifest) lists the layers version N
    # unions over; <table>/_CURRENT names the live version. A commit
    # claims slot N, writes layer v<N> fully, writes its manifest, then
    # swaps the pointer by atomic rename — readers see the old or the
    # new version, never a partial one, and a crash before the swap
    # leaves an invisible orphan that vacuum reclaims. A full rewrite
    # (``write_version``) commits the manifest ``[N]``; an append
    # (``append_version``) commits the current manifest plus ``N``, so
    # its write cost is O(batch), not O(table). Rollback and time travel
    # work the same for both, because each version's manifest pins its
    # exact layer set. (No leading underscore on layer dirs: Spark's
    # hidden-path convention would make every read_union log a spurious
    # "All paths were ignored" warning for the explicitly-passed
    # directory; a versioned table's ROOT is never read directly, so
    # hiddenness buys nothing.) This is the core mechanism of table
    # formats (the Delta add-file log, Iceberg metadata pointers)
    # reduced to the single-writer case the Store already assumes.
    # ------------------------------------------------------------------

    def _vdir(self, table: str, version: int) -> str:
        return os.path.join(self.path(table), f"v{version}")

    def _current_file(self, table: str) -> str:
        return os.path.join(self.path(table), "_CURRENT")

    def _manifest_file(self, table: str, version: int) -> str:
        return os.path.join(self.path(table), f"_layers_v{version}")

    def _layers(self, table: str, version: int) -> list[int]:
        with open(self._manifest_file(table, version)) as f:
            return [int(x) for x in f.read().split() if x]

    def _claim_file(self, table: str, version: int) -> str:
        return os.path.join(self.path(table), f"_claim_v{version}")

    def _claim_next_version(self, table: str) -> int:
        """Atomically CLAIM the next version slot — the compare-and-swap
        that turns the single-writer contract from hoped-for into
        enforced. The claim is an O_CREAT|O_EXCL marker file: two
        writers that both computed the same next slot race the create,
        exactly one wins, the loser raises :class:`ConcurrentWriteError`
        BEFORE writing any data. A stale claim (crashed writer: marker
        exists, slot never committed) also raises — ``vacuum_versions``
        clears it. After claiming, the slot is re-checked against a
        committed ``_SUCCESS`` to close the stale-read race (a writer
        that computed its slot before another's commit+claim-release
        must not overwrite the committed directory). The caller removes
        the claim in a ``finally`` once its commit completes or fails
        cleanly."""
        committed = self.versions(table)
        nxt = max(committed, default=0) + 1
        os.makedirs(self.path(table), exist_ok=True)
        try:
            fd = os.open(
                self._claim_file(table, nxt),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{table}: version slot v{nxt} is already claimed — "
                "another writer is committing concurrently, or a crashed "
                "writer left a stale claim (vacuum_versions clears it)"
            ) from None
        if os.path.exists(os.path.join(self._vdir(table, nxt), "_SUCCESS")):
            os.remove(self._claim_file(table, nxt))
            raise ConcurrentWriteError(
                f"{table}: version v{nxt} was committed by a concurrent "
                "writer between slot computation and claim"
            )
        return nxt

    def _release_claim(self, table: str, version: int) -> None:
        try:
            os.remove(self._claim_file(table, version))
        except FileNotFoundError:
            pass

    @contextlib.contextmanager
    def _claimed(self, table: str):
        """Hold the next version slot (:meth:`_claim_next_version`) for
        the ``with`` body; the claim is released however it exits."""
        nxt = self._claim_next_version(table)
        try:
            yield nxt
        finally:
            self._release_claim(table, nxt)

    def _publish(self, table: str, version: int, layers: list[int]) -> None:
        """The commit point: write ``version``'s layer manifest, then
        swap the ``_CURRENT`` pointer to ``version``. Both go through an
        atomic rename, so readers see the old or the new version, never
        a partial one, and a rollback may re-publish a live manifest."""
        for path, text in (
            (self._manifest_file(table, version), " ".join(map(str, layers))),
            (self._current_file(table), str(version)),
        ):
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, path)

    def layer_count(self, table: str) -> int:
        """Number of layers the current version unions over (0 for an
        uncommitted table). The public compaction-trigger accessor —
        callers (streaming/dedup_stream.py) size ``compact_every``
        against this instead of reaching into the manifest internals."""
        cur = self.current_version(table)
        return 0 if cur is None else len(self._layers(table, cur))

    def current_version(self, table: str) -> int | None:
        try:
            with open(self._current_file(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def versions(self, table: str) -> list[int]:
        """Committed layer directories not yet vacuumed: every version
        (at or below the pointer, or forward history a rollback left),
        plus the layers a delete rewrote."""
        root = self.path(table)
        if not os.path.isdir(root):
            return []
        found = sorted(
            int(d[1:])
            for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
            and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        )
        return found

    def write_version(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> int:
        """Commit ``df`` as the whole of ``table``'s next version — one
        layer, so over a table of many layers it replaces every one —
        and return its version number. Older versions stay readable via
        ``read_union(table, version)`` until vacuumed. ``partition_by``
        lays the layer out hive-partitioned; the layout may differ from
        the replaced layers'.

        The next version is max(committed) + 1, NOT pointer + 1: after
        ``rollback('t', 1)`` with committed v2/v3 still on disk,
        pointer+1 would overwrite committed v2 in place — destroying
        history rollback promises stays readable — and leave a stale
        v3 ranked newest by ``versions()``. Allocating past every
        committed layer means a post-rollback write becomes v4 and
        the rolled-back-over versions remain intact (orphaned forward
        history; vacuum reclaims it)."""
        self._fault("write_version", table)
        with self._claimed(table) as nxt:
            self._write(df, self._vdir(table, nxt), partition_by)
            self._publish(table, nxt, [nxt])
        self._log(table, f"write_version:{nxt}")
        return nxt

    def rollback(self, table: str, version: int) -> None:
        """Point the table back at an older version (the newer versions
        remain until vacuumed — rollback of the rollback is possible).
        The target must carry a layer manifest: a delete rewrites each
        affected layer into a new committed directory, but only the last
        one becomes a version — the others each hold one cleaned layer,
        not the table."""
        self._fault("rollback", table)
        if not os.path.exists(self._manifest_file(table, version)):
            raise FileNotFoundError(
                f"{table}: v{version} is not a committed version (it has "
                "no layer manifest)"
            )
        self._publish(table, version, self._layers(table, version))
        self._log(table, f"rollback:{version}")

    def diff_versions(
        self,
        table: str,
        v_from: int,
        v_to: int,
        key: str,
        compare_cols: list[str],
    ) -> "DataFrame":
        """Release audit between two still-vacuumed-in versions: one
        row per key that was ``added``, ``removed``, or ``changed``
        between ``v_from`` and ``v_to`` (unchanged keys are filtered
        out — at corpus scale the diff is the small output, the
        versions are the big inputs). "Changed" compares an md5
        fingerprint of ``compare_cols`` (rendered as strings, unit-
        separator-joined), so wide payload columns are never carried
        through the join — each side ships (key, 32-char fp) only.
        The fingerprint renders via ``to_json(struct(...))`` — field
        NAMES disambiguate which columns are NULL, so (NULL, 'web')
        and ('web', NULL) can never hash identically the way a
        NULL-skipping concat would.

        Scale shape: two version scans pruned to key+compare columns,
        one full-outer hash join on the key. This is the time-travel
        dividend of the versioned store: the question "what changed in
        this corpus release" needs no extra bookkeeping at write time.
        """
        from pyspark.sql import functions as F

        fp = F.md5(
            F.to_json(F.struct(*[F.col(c) for c in compare_cols]))
        )
        a = self.read_union(table, v_from).select(
            F.col(key), fp.alias("_fp_a")
        )
        b = self.read_union(table, v_to).select(
            F.col(key), fp.alias("_fp_b")
        )
        return (
            a.join(b, key, "full_outer")
            .withColumn(
                "change",
                F.when(F.col("_fp_a").isNull(), "added")
                .when(F.col("_fp_b").isNull(), "removed")
                .when(F.col("_fp_a") != F.col("_fp_b"), "changed")
                .otherwise("unchanged"),
            )
            .filter(F.col("change") != "unchanged")
            .select(key, "change")
        )

    def vacuum_versions(self, table: str, keep_last: int = 2) -> list[int]:
        """Delete all but the newest ``keep_last`` versions (never the
        current one); returns the dropped versions. Also removes
        uncommitted (crash-orphaned) v<N> directories.

        A kept version's MANIFEST pins every layer it unions over, so
        all layers referenced by a kept manifest are protected too —
        vacuuming after :meth:`compact_layers` (or any
        :meth:`write_version`) is what actually reclaims old layers
        (the new manifest references only its own layer).

        Also clears STALE CLAIM markers (a writer that crashed between
        claiming a version slot and committing it leaves the marker
        behind, blocking that slot with :class:`ConcurrentWriteError`
        for every later writer) — only run vacuum while no writer is in
        flight, per the single-writer contract."""
        import shutil

        self._fault("vacuum_versions", table)
        cur = self.current_version(table)
        committed = self.versions(table)
        keep = set(committed[-keep_last:]) | ({cur} if cur is not None else set())
        for v in list(keep):
            if os.path.exists(self._manifest_file(table, v)):
                keep |= set(self._layers(table, v))
        dropped = []
        root = self.path(table)
        for d in os.listdir(root):
            if d.startswith("_claim_v") and d[8:].isdigit():
                if int(d[8:]) not in committed:  # stale (crashed) claim
                    os.remove(os.path.join(root, d))
                continue
            if not (d.startswith("v") and d[1:].isdigit()):
                continue
            v = int(d[1:])
            committed_dir = os.path.exists(os.path.join(root, d, "_SUCCESS"))
            if v not in keep or not committed_dir:
                shutil.rmtree(os.path.join(root, d))
                if os.path.exists(self._manifest_file(table, v)):
                    os.remove(self._manifest_file(table, v))
                if committed_dir:
                    dropped.append(v)
        self._log(table, f"vacuum_versions:keep{keep_last}")
        return sorted(dropped)

    def append_version(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> int:
        """Commit ``df`` as the next DELTA layer of ``table``; readers
        (:meth:`read_union`) see the union of the committed layers.
        Write cost is O(df), independent of the accumulated size.

        ``partition_by`` lays the layer out hive-partitioned
        (``col=value`` directories), so :meth:`read_union` readers
        filtering on those columns prune whole directories of EVERY
        layer — the bucketed-index layout the incremental dedup folds
        use (partition by a hash prefix, read only the batch's
        prefixes). All layers of one version must agree on the layout
        (enforced here); delete/compact rewrites preserve it, and only
        a :meth:`write_version` may change it."""
        self._fault("append_version", table)
        with self._claimed(table) as nxt:
            # Re-read the base AFTER the claim: the claim is the
            # serialization point, so the manifest this commit extends
            # is guaranteed to be the latest.
            cur = self.current_version(table)
            base = self._layers(table, cur) if cur is not None else []
            have = self._layout(table)
            if have is not None and have != list(partition_by or []):
                raise ValueError(
                    f"{table}: layer partitioning mismatch — existing "
                    f"layers use {have or 'no partitioning'}, this "
                    f"commit asked for {list(partition_by or []) or 'none'}; "
                    "read_union cannot mix layouts in one table"
                )
            self._write(df, self._vdir(table, nxt), partition_by)
            self._publish(table, nxt, base + [nxt])
        self._log(table, f"append_version:{nxt}")
        return nxt

    def _layout(self, table: str) -> list[str] | None:
        """Hive partition columns of a versioned table, detected from the
        first layer of the current manifest that has parquet content:
        ``[]`` for an unpartitioned layout, ``None`` when no layer has
        content (or the table is absent) — an EMPTY delta layer writes
        no partition dirs and must not be mistaken for an unpartitioned
        layout. :meth:`append_version` enforces that all layers agree."""
        cur = self.current_version(table)
        if cur is None:
            return None
        for x in self._layers(table, cur):
            d = self._vdir(table, x)
            cols = self._dir_partition_columns(d)
            if cols:
                return cols
            if any(f.endswith(".parquet") for f in os.listdir(d)):
                return []
        return None

    def read_union(self, table: str, version: int | None = None) -> DataFrame:
        """Read a versioned table at ``version`` (current by default):
        the union of exactly the layers its manifest pins — orphaned
        forward history after a rollback is invisible, and a version
        committed by :meth:`write_version` is its one layer."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"{table}: no committed versions")
        dirs = [self._vdir(table, x) for x in self._layers(table, v)]
        # Hive-partitioned layers cannot share one multi-root relation
        # (Spark raises CONFLICTING_DIRECTORY_STRUCTURES): read each
        # layer with ITS OWN basePath and union — partition-pruning
        # filters push into every branch, so the bucketed readers
        # still skip untouched ghp/cell directories per layer. Empty
        # layers (no parquet content) are skipped: alone they cannot
        # infer a schema.
        if any(self._dir_partition_columns(d) for d in dirs):
            live = [
                d
                for d in dirs
                if any(
                    f.endswith(".parquet")
                    for _r, _dd, fs in os.walk(d)
                    for f in fs
                )
            ]
            dfs = [
                read_parquet(self.spark, d, basePath=d)
                for d in (live or dirs)
            ]
            out = dfs[0]
            for x in dfs[1:]:
                out = out.unionByName(x)
            return out
        return read_parquet(self.spark, *dirs)

    # The older name of read_union; perfbench/tracer.py patches Store
    # methods by name and still lists it.
    read_version = read_union

    def delete_keys(
        self, table: str, keys: DataFrame, key_col: str, pinned: bool = False
    ) -> int | None:
        """Delete every row whose ``key_col`` appears in ``keys`` — the
        right-to-be-forgotten primitive a 100 TB corpus must support
        (the reference would run ``DELETE FROM`` and let PostgreSQL
        handle it; a parquet store has to rewrite files). Dispatches on
        the table's kind:

        - **versioned**: rewrites ONLY the layers
          that actually contain affected keys — located with one
          union scan tagged by ``input_file_name`` — as new layer
          directories, then commits a new version whose manifest swaps
          the rewritten layers in. Unaffected layers (at scale: almost
          all of them) are not read twice, not rewritten, and stay
          byte-identical on disk. Returns the new version, or the
          current one if no layer was affected (idempotent replay:
          nothing is committed).
        - **plain**: in-place overwrite with a localCheckpoint pin,
          preserving any hive-partitioned (``col=value``) layout —
          deleting a user's vectors from the cell-partitioned IVF
          index must not flatten the directories its readers prune by.

        Deletion COMPLETES at vacuum, exactly like Delta/Iceberg:
        older versions still time-travel to the pre-delete data until
        ``vacuum_versions`` drops their manifests and layers — run it
        (with a retention of 0-1) to make the purge physical; the
        GDPR test walks every surviving parquet file to prove the keys
        are gone.

        ``pinned=True`` declares that ``keys`` is ALREADY an eagerly
        checkpointed frame (duplicates are harmless — locate/clean are
        semi/anti joins — the pin only exists so the keys subtree is
        not recomputed per affected layer): callers purging one key set
        from many tables (:func:`operators.dedup.forget_documents`)
        skip one re-pin job per table."""
        from pyspark.sql import functions as F

        self._fault("delete_keys", table)
        if not pinned:
            keys = keys.select(key_col).distinct().localCheckpoint(eager=True)
        locate = lambda df: df.join(F.broadcast(keys), key_col, "left_semi")
        clean = lambda df: df.join(F.broadcast(keys), key_col, "left_anti")
        return self._delete_rows(table, locate, clean, "delete_keys")

    def delete_where(self, table: str, condition) -> int | None:
        """Predicate form of :meth:`delete_keys` — the RETENTION
        primitive (``DELETE WHERE ts < cutoff``). Same mechanics:
        versioned tables rewrite only layers containing matching rows;
        physical purge completes at vacuum. ``condition`` is a Column
        predicate; rows where it is TRUE are deleted."""
        self._fault("delete_where", table)
        locate = lambda df: df.filter(condition)
        # ~condition keeps NULL-predicate rows? NO: filter drops rows
        # where the predicate is NULL, which would silently delete
        # them — coalesce pins NULL to "not matched", so only rows the
        # predicate POSITIVELY matches are removed.
        from pyspark.sql import functions as F

        keep = ~F.coalesce(condition, F.lit(False))
        clean = lambda df: df.filter(keep)
        return self._delete_rows(table, locate, clean, "delete_where")

    def _delete_rows(self, table, locate, clean, op: str) -> int | None:
        """Shared engine for the two delete forms. ``locate(df)``
        returns the rows to delete (for affected-layer discovery);
        ``clean(df)`` returns the rows to keep."""
        from pyspark.sql import functions as F

        cur = self.current_version(table)
        if cur is not None:
            # Anchor the layer tag to the LAST /v<digits>/ path segment
            # (greedy .* prefix): the first-match form mis-tagged every
            # row when the store ROOT itself contained a v<digits>
            # segment (e.g. /data/v2/store), silently leaving deleted
            # keys on disk.
            tagged = self.read_union(table).withColumn(
                "_layer",
                F.regexp_extract(F.input_file_name(), r".*/v(\d+)/", 1).cast("int"),
            )
            affected = sorted(
                r["_layer"]
                for r in locate(tagged).select("_layer").distinct().collect()
            )
            if not affected:
                return cur
            replacement: dict[int, int] = {}
            for layer in affected:
                with self._claimed(table) as nxt:
                    # Preserve the layer's hive layout through the
                    # rewrite: flattening it would break every reader
                    # whose partition-pruning filter IS the index
                    # (the bucketed dedup/novelty folds). No pin: the
                    # cleaned layer reads ``src`` and writes a freshly
                    # claimed directory, so it overwrites nothing it reads.
                    src = self._vdir(table, layer)
                    self._write(
                        clean(read_parquet(self.spark, src)),
                        self._vdir(table, nxt),
                        self._dir_partition_columns(src),
                    )
                    replacement[layer] = nxt
            # The manifest + pointer commit runs under its OWN held
            # claim on the next free slot — the CAS serialization every
            # other versioned commit gets. Without it, an append_version
            # landing between the last layer rewrite and the pointer
            # swap would commit a manifest this delete then points away
            # from, dropping the appended layer. The barrier claim makes
            # the racing appender raise instead; and the manifest is
            # rebuilt from the LATEST committed version under the claim,
            # so an append that landed before the barrier is preserved
            # (its layer carries through with the replacements applied).
            self._fault(f"{op}:commit", table)
            with self._claimed(table):
                latest = self.current_version(table)
                new_layers = [
                    replacement.get(x, x) for x in self._layers(table, latest)
                ]
                commit = replacement[affected[-1]]  # last rewritten dir
                self._publish(table, commit, new_layers)
            self._log(table, f"{op}:{commit}")
            return commit
        # Plain tables: preserve a hive-partitioned layout through the
        # rewrite — "forget this user's embeddings" against the
        # cell-partitioned IVF index must not flatten the directories
        # the readers' partition pruning depends on (the same trap
        # compact() guards against).
        part_cols = self._dir_partition_columns(self.path(table))
        remaining = clean(self.read(table)).localCheckpoint(eager=True)
        self.overwrite(remaining, table, partition_by=part_cols or None)
        self._log(table, op)
        return None

    def compact_layers(self, table: str, target_files: int | None = None) -> int:
        """Rewrite the current union as ONE new layer (the OPTIMIZE /
        checkpoint step): subsequent reads scan a single directory and
        older layers become vacuumable once no kept manifest references
        them. Returns the new version.

        ``target_files`` coalesces the rewrite to that many files; the
        default (None) auto-sizes to ceil(union bytes / 128 MB), floor
        one — without a target the compacted layer inherits one file
        per read split, and for many-small-layer tables (the streaming
        intake's shape, where ``openCostInBytes`` makes every tiny
        file its own split) the file count would NOT drop even though
        the layer count does. Auto-sizing keeps files near the scan's
        preferred partition size at any scale; the measured sawtooth
        test (tests/test_dedup_stream.py) pins that compaction
        actually resets the per-fold listing cost."""
        self._fault("compact_layers", table)
        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"{table}: no committed versions")
        if target_files is None:
            total = 0
            for layer in self._layers(table, cur):
                # walk: partitioned layers nest files under col=value dirs
                for root, _dirs, files in os.walk(self._vdir(table, layer)):
                    total += sum(
                        os.path.getsize(os.path.join(root, f))
                        for f in files
                        if f.endswith(".parquet")
                    )
            target_files = max(1, -(-total // (128 << 20)))
        # Per-partition compaction PRESERVES the directory layout
        # readers prune by; no pin here: rewrite_layers pins.
        pcols = self._layout(table) or []
        merged = self._cap_files(self.read_union(table), pcols, target_files)
        return self.rewrite_layers(merged, table, partition_by=pcols or None)

    def rewrite_layers(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> int:
        """Pin ``df``, then commit it with :meth:`write_version` as the
        one layer of ``table``'s next version, replacing every layer —
        :meth:`compact_layers`' commit step, exposed for content-changing
        rewrites; the new layer may carry a partitioning (and columns)
        the old layers didn't. Same single-writer contract as
        compact_layers: a concurrent append_version racing this rewrite
        serializes on the claim, but an append whose content was read
        BEFORE the rewrite began is superseded — run rewrites off the
        hot path. Old layers stay time-travelable until
        ``vacuum_versions``."""
        self._fault("rewrite_layers", table)
        return self.write_version(df.localCheckpoint(eager=True), table, partition_by)
