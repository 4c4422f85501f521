"""Schema history journal + schema-epoch-aligned batch splitting.

Reference semantics (SURVEY §1.2):
- SchemaHistory.record(source, position, ddl, TableChanges, ts) journals
  every schema change keyed by source offset so a restarted connector can
  rebuild the exact schema at any past offset
  (core/relational/history/SchemaHistory.java:34,158-167, file impl
  debezium-storage-file/.../FileSchemaHistory.java, comparator
  HistoryRecordComparator.java:33-37).
- TableChanges are typed CREATE/ALTER/DROP with rename carried as ALTER +
  previousId (core/relational/history/TableChanges.java:49,92,208-211).
- The sink flushes its buffer when a record's schema differs from the
  buffered one (ReducedRecordBuffer.java:46-51) — in micro-batch form: a
  batch spanning a schema change must be SPLIT at the change offset so each
  MERGE sees exactly one schema (SURVEY §4(b), the part Catalyst does not
  do for us).

The journal is JSONL with atomic appends; entries are (offset, changes,
ts_ms). ``epoch_at(offset)`` rebuilds the epoch for any replay position —
the recovery path on restart.
"""

from __future__ import annotations

import time


class SchemaHistory:
    """Offset-keyed journal of schema changes for one table.

    The durable home is pluggable (``sparkcdc.storage.HistoryStore`` —
    file / memory / lake-table backends, the debezium-storage seam); a
    plain path keeps the original file-journal behavior."""

    def __init__(self, path_or_store):
        from .storage import FileHistoryStore, HistoryStore

        if isinstance(path_or_store, HistoryStore):
            self.store = path_or_store
        else:
            self.store = FileHistoryStore(path_or_store)

    def record(
        self, offset: int, changes: list[dict], base_epoch: int | None = None,
        ddl: str | None = None,
    ) -> None:
        """Journal a schema change effective for events at >= offset.

        ``base_epoch`` = the table epoch observed just before applying the
        change (write-ahead intent): recovery re-applies exactly the
        entries whose target epoch (base+1) the table never reached.
        ``ddl``: the statement text ``changes`` was parsed from, so a
        restarted replay recognizes that statement as applied."""
        entry = {"offset": offset, "changes": changes,
                 "base_epoch": base_epoch, "ts_ms": int(time.time() * 1000)}
        if ddl is not None:
            entry["ddl"] = ddl
        self.store.append(entry)

    def entries(self) -> list[dict]:
        out = self.store.load()
        # HistoryRecordComparator semantics: replay in position order
        out.sort(key=lambda e: e["offset"])
        return out

    def epoch_at(self, offset: int) -> int:
        """Schema epoch in force for an event at ``offset`` (epoch 0 = the
        creation schema; each journaled change increments it)."""
        return sum(1 for e in self.entries() if e["offset"] <= offset)

    def boundaries(self) -> list[tuple[int, list[dict]]]:
        return [(e["offset"], e["changes"]) for e in self.entries()]


def split_at_boundaries(
    lo: int, hi: int, boundaries: list[tuple[int, list[dict]]]
) -> list[tuple[int, int, list[dict] | None]]:
    """Cut the offset range [lo, hi) at every schema-change offset.

    Returns sub-ranges ``(lo', hi', changes_to_apply_before)`` in order;
    ``changes_to_apply_before`` is the evolution to run before applying
    that sub-range (None for the first unless a boundary == lo).
    The engine merges each sub-range separately so every MERGE sees one
    schema (the micro-batch form of flush-on-schema-change). Several
    changes at one offset yield empty sub-ranges ``(off, off, ch)`` in
    their given order (the sort is by offset only, and stable), so each
    applies in turn, at ``lo`` as mid-batch.
    """
    cuts = sorted(
        ((off, ch) for off, ch in boundaries if lo <= off < hi),
        key=lambda c: c[0],
    )
    out: list[tuple[int, int, list[dict] | None]] = []
    cur, changes = lo, None
    for off, ch in cuts:
        if off > cur or changes is not None:
            out.append((cur, off, changes))
        cur, changes = off, ch
    out.append((cur, hi, changes))
    return out
