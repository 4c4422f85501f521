"""Per-partition offset vectors + set algebra (SURVEY §2.6 / north rule
"resumable from per-partition offset checkpoints").

Reference: Debezium's resume position is per-source-partition — binlog
(file, pos, row) per server, GTID *sets* with interval algebra
(binlog/gtid/GtidSet.java:27,52 — ``subtract``, ``isContainedWithin``),
Kafka per-partition offsets; history recovery compares positions
field-wise (HistoryRecordComparator.java:33-37). The Spark form: an
``OffsetVector`` maps partition id → next offset to read, with the same
algebra:

- ``contains`` (GtidSet.isContainedWithin): every partition's progress in
  ``other`` is ≤ ours — the "already seen" test that makes read-only
  incremental-snapshot watermark checks pure arithmetic (S12);
- ``subtract`` (GtidSet.subtract): the per-partition work remaining —
  what a restarted consumer must re-read;
- ``merge``: pointwise max — combining progress from parallel appliers.

Driver-side Python on tiny dicts (one entry per source partition);
never a DataFrame op.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class OffsetVector:
    """partition id → next offset to read (exclusive high-water mark)."""

    parts: dict[int, int] = field(default_factory=dict)

    @staticmethod
    def from_summary(d: dict) -> "OffsetVector":
        return OffsetVector({int(k): int(v) for k, v in (d or {}).items()})

    def to_summary(self) -> dict:
        return {str(k): v for k, v in sorted(self.parts.items())}

    def next_for(self, part: int) -> int:
        return self.parts.get(part, 0)

    def contains(self, other: "OffsetVector") -> bool:
        """True iff every position in ``other`` has been reached here
        (GtidSet.isContainedWithin semantics)."""
        return all(self.next_for(p) >= n for p, n in other.parts.items())

    def subtract(self, other: "OffsetVector") -> "OffsetVector":
        """Per-partition work in ``self`` not yet covered by ``other``:
        partitions where our high-water exceeds theirs, carrying THEIR
        resume point (GtidSet.subtract semantics — 'what remains')."""
        out = {
            p: other.next_for(p)
            for p, n in self.parts.items()
            if n > other.next_for(p)
        }
        return OffsetVector(out)

    def merge(self, other: "OffsetVector") -> "OffsetVector":
        """Pointwise max — combine progress of parallel appliers."""
        keys = set(self.parts) | set(other.parts)
        return OffsetVector(
            {p: max(self.next_for(p), other.next_for(p)) for p in keys}
        )

    def advance(self, part: int, next_offset: int) -> "OffsetVector":
        """Monotone per-partition advance (never regresses)."""
        cur = self.next_for(part)
        if next_offset <= cur:
            return self
        return OffsetVector({**self.parts, part: next_offset})


def batch_offsets(env_df) -> dict | None:
    """The offsets of an envelope batch from ONE query: a per-partition
    min/max of ``offset`` (``groupBy(part_id)``), collected as ≤ #source-
    partitions rows. Returns the lineage the engine commits — ``lo``,
    ``next`` (exclusive) and the per-partition high-water ``parts`` — or
    None when the batch is empty (zero rows)."""
    from pyspark.sql import functions as F

    rows = env_df.groupBy("part_id").agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi")
    ).collect()
    if not rows:
        return None
    parts = OffsetVector({int(r["part_id"]): int(r["hi"]) + 1 for r in rows})
    return {"lo": min(int(r["lo"]) for r in rows),
            "next": max(parts.parts.values()),
            "parts": parts.to_summary()}
