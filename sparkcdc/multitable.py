"""Multi-table capture: one envelope stream → many sink tables.

The reference's connector captures every included table of a database and
routes each change to its own topic/sink table (table include/exclude at
RelationalDatabaseConnectorConfig.java:267-355, per-table key/value schemas
via TableSchemaBuilder, per-topic sinks in JdbcChangeEventSink). The Spark
form: a ``MultiTableEngine`` owns one ``CdcEngine`` per captured table and
applies each micro-batch to all of them as ONE job set
(:func:`~sparkcdc.engine.apply_batch_set`): the batch is flattened once
with a table index column, reduced once keyed by (table, key), and written
once partitioned by (table, bucket); each table's slice is then renamed
into its own commit dir and committed with its own fence and offsets. So
the Spark jobs per batch do not grow with the number of tables.

Heterogeneous row schemas are supported by letting each table's envelopes
carry their own before/after struct: tables group by (row schema, key),
and each group gets its own reduce and write. The splitter takes a dict of
streams OR one stream of a shared schema plus regex include/exclude
filters.
"""

from __future__ import annotations

import copy
import re
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import CdcEngine, EngineConfig, apply_batch_set
from .lake import LakeTable
from .sinkconfig import resolve_message_key


class MultiTableEngine:
    """Capture pipeline over a set of tables.

    ``tables``: dict of fully-qualified table name (``db.table``) →
    LakeTable. ``include``/``exclude``: regex lists applied to the
    qualified name (entire-identifier match, Selectors.java semantics) —
    tables filtered out are dropped from the stream even if present in
    ``tables``.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, LakeTable],
        config: EngineConfig | None = None,
        include: list[str] | None = None,
        exclude: list[str] | None = None,
        message_key_columns: str | None = None,
    ):
        self.spark = spark
        self.include = include
        self.exclude = exclude
        if message_key_columns is not None:
            # message.key.columns (Key.java CustomKeyMapper): the record key
            # IS the sink table's merge key here, so an override must agree
            # with the key the table was created with — validated fail-fast
            # like the reference's Field validators, instead of silently
            # merging on a different key than the one the user configured.
            for name, t in tables.items():
                if not self.captures(name):
                    continue
                want = resolve_message_key(
                    name, message_key_columns, t.manifest().key_cols
                )
                have = t.manifest().key_cols
                if want != have:
                    raise ValueError(
                        f"message.key.columns resolves {name!r} to key {want} "
                        f"but its sink table is keyed {have}; create the "
                        f"table with key_cols={want} (see resolve_message_key)"
                    )
        self.engines: dict[str, CdcEngine] = {
            name: CdcEngine(spark, t, self._cfg_for(name, config))
            for name, t in tables.items()
            if self.captures(name)
        }

    @staticmethod
    def _cfg_for(name: str, config: EngineConfig | None) -> EngineConfig:
        # distinct writer per table: fences are per (writer, table)
        return replace(config or EngineConfig(), writer=f"engine:{name}")

    def captures(self, name: str) -> bool:
        if self.include is not None:
            return any(re.fullmatch(p, name) for p in self.include)
        if self.exclude is not None:
            return not any(re.fullmatch(p, name) for p in self.exclude)
        return True

    def run_snapshot(
        self, sources: dict[str, DataFrame]
    ) -> dict[str, dict]:
        """Initial consistent snapshot of every captured table (S3 — the
        reference snapshots tables on a thread pool sized by
        ``snapshot.max.threads``,
        RelationalSnapshotChangeEventSource.java:471-578; here each
        table's snapshot is itself a distributed Spark job, so tables run
        sequentially while each table's ROWS parallelize across the
        cluster — the right inversion of that design at scale).

        ``sources``: qualified table name → the pinned source DataFrame
        to snapshot. Names not captured (include/exclude filtered, or not
        configured) are skipped, same as :meth:`apply_batch` slices.
        Progress lands in each table's metrics log with the global
        (tables_total, tables_completed) position — the MXBean
        TotalTableCount/RemainingTableCount shape — so
        ``metrics.snapshot_progress()`` on the last-snapshotted table
        reads completed == total and ``cli.py metrics`` can dashboard
        the phase table-by-table."""
        names = sorted(n for n in sources if n in self.engines)
        out: dict[str, dict] = {}
        for i, name in enumerate(names):
            out[name] = self.engines[name].run_snapshot(
                sources[name],
                tables_total=len(names), tables_completed=i + 1,
            )
        return out

    def derived(self, writer_suffix: str) -> "MultiTableEngine":
        """A view over the same sink tables whose fences live in a
        suffixed writer namespace: :meth:`CdcEngine.derived` per table,
        so every pluggable seam of each engine is inherited."""
        clone = copy.copy(self)
        clone.engines = {name: eng.derived(writer_suffix)
                         for name, eng in self.engines.items()}
        return clone

    def apply_batch(
        self, env: DataFrame, batch_id: int | None,
        offsets: dict | None = None, kind: str = "replay",
    ) -> dict[str, dict]:
        """Apply one envelope micro-batch, routed by ``source.table``, to
        every captured table.

        ``batch_id=None`` → each engine uses its own next id; an explicit
        id is applied to every engine (and fenced per engine). ``offsets``
        is shared: every table's checkpoint advances over the whole slice
        of the LOG, including tables the slice never touched — a restart
        must not re-read offsets any engine already covered."""
        return self._split_apply(env, self.engines, batch_id, offsets, kind)

    def _split_apply(
        self, env: DataFrame, engines: dict[str, CdcEngine],
        batch_id: int | None, offsets: dict | None, kind: str,
    ) -> dict[str, dict]:
        """The one ``source.table`` splitter: one job set for all of
        ``engines`` (:func:`~sparkcdc.engine.apply_batch_set`, routed by
        the qualified table name). The batch is persisted here unless the
        caller already did, so the (possibly expensive) upstream is
        computed once for every pass over it."""
        qualified = F.concat_ws(".", F.col("source.db"), F.col("source.table"))
        owned = not env.is_cached
        if owned:
            env = env.persist()
        try:
            res = apply_batch_set(
                [(name, eng, batch_id if batch_id is not None
                  else eng.committed_batch() + 1)
                 for name, eng in engines.items()],
                env, route=qualified, kind=kind, offsets=offsets,
            )
            return dict(zip(engines, res))
        finally:
            if owned:
                env.unpersist()

    def replay(
        self,
        total_events: int,
        envelopes_for,
        batch_size: int = 1_000_000,
    ) -> dict:
        """Replay a shared offset space into all captured tables. Resume
        point = min over tables' committed offsets; tables already past a
        batch's offset range skip it entirely (their checkpoints never
        regress), so only the tables that fell behind re-apply."""
        start = min(
            (e.committed_offset() for e in self.engines.values()), default=0
        )
        stats = {"batches": 0, "events": 0}
        lo = start
        while lo < total_events:
            hi = min(lo + batch_size, total_events)
            behind = {
                name: eng for name, eng in self.engines.items()
                if eng.committed_offset() < hi
            }
            if behind:
                self._split_apply(envelopes_for(lo, hi), behind, None,
                                  {"lo": lo, "next": hi}, "replay")
                stats["batches"] += 1
                stats["events"] += hi - lo
            lo = hi
        return stats

    def state(self, name: str) -> DataFrame:
        return self.engines[name].table.read()
