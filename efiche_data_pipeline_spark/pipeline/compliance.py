"""Compliance audit: PROVE a forget completed.

`forget_documents` / `forget_span_documents` / `forget_gate_documents`
/ `forget_vocab_documents` (and the streaming composition) each purge
their own estate; an auditor's question is the other direction —
"show me NO table still names these ids". :func:`audit_forgotten`
answers it by sweeping EVERY table in the store (discovered from the
root, not from a hardcoded family list — a new estate added later is
audited automatically) and counting live rows whose id-bearing
columns match the requested ids. The output is the audit sheet
itself: one row per (table, column) scanned, with the match count —
zeros are the proof, non-zeros the work list.

Live vs historical: the sweep reads each table's CURRENT view (plain
read / versioned union). Versioned tables may still
time-travel to pre-forget data until ``vacuum_versions`` runs — the
``n_versions`` column reports how many committed versions a table
retains, so the sheet also shows where a physical purge is still
pending (the family forgets vacuum by default; 1 retained version =
nothing older to travel to).

Scale: one column-pruned scan per table restricted to its id-bearing
columns, with the (small, request-list-sized) id set as a literal IN
filter — pushed to the parquet scans. Driver-side loop over the
TABLE LIST only (bounded by the store's table count, never by data).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# column names the engine's estates use for document identity; callers
# auditing custom schemas pass their own
DEFAULT_ID_COLUMNS = (
    "doc_id",
    "_id",
    "first_doc",
    "doc_a",
    "doc_b",
    "node",
    "batch_max_id",
    # the vector estates (IVF cells, SemDeDup cells, semantic flags,
    # IVF-PQ codes) key on vec_id — without it the auditor's sweep
    # would report those tables clean while rows survive
    "vec_id",
)


def _tables(store) -> list[str]:
    out = []
    root = store.root
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if not os.path.isdir(d) or name.startswith(("_", ".")):
            continue
        if (
            store.exists(name)
            or store.current_version(name) is not None
        ):
            out.append(name)
    return out


def _current_view(store, table: str) -> DataFrame | None:
    if store.current_version(table) is not None:
        return store.read_union(table)
    if store.exists(table):
        return store.read(table)
    return None


def audit_forgotten(
    store,
    ids: list[int],
    id_columns: tuple[str, ...] = DEFAULT_ID_COLUMNS,
) -> DataFrame:
    """Sweep every table in ``store`` for live rows naming ``ids``.

    Returns one row per (table, id-bearing column) scanned:
    ``(table, column, n_live_rows, n_versions)`` — ``n_live_rows`` is
    the match count in the table's current view (0 everywhere = the
    forget is complete at the logical level), ``n_versions`` the
    retained version count (1 for plain tables and vacuumed versioned
    ones; >1 means older versions can still time-travel to pre-forget
    data until ``vacuum_versions``).

    ``batch_max_id`` matches are reported but EXPECTED for count-table
    estates: the freq/cnt=0 ``(forgotten)`` marker rows deliberately
    carry the forgotten id as their retry ledger — they contain no
    document content and never reach any sum (the family-forget
    design); an auditor reads those rows as "forget recorded", not
    "data retained"."""
    wanted = sorted({int(i) for i in ids})
    spark = store.spark
    rows: list[tuple[str, str, int, int]] = []
    for table in _tables(store):
        df = _current_view(store, table)
        if df is None:
            continue
        n_versions = max(1, len(store.versions(table)))
        cols = [c for c in df.columns if c in id_columns]
        if not cols:
            continue
        counts = df.agg(
            *[
                F.sum(
                    F.when(F.col(c).isin(wanted), 1).otherwise(0)
                )
                .cast("long")
                .alias(c)
                for c in cols
            ]
        ).first()
        for c in cols:
            rows.append((table, c, int(counts[c] or 0), n_versions))
    return spark.createDataFrame(
        rows,
        "table string, column string, n_live_rows long, n_versions long",
    )
