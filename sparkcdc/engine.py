"""CdcEngine — the orchestrator: snapshot phase -> micro-batched replay ->
reduce -> MERGE -> offset commit + metrics, resumable from checkpoint.

This is the Spark re-expression of the reference's engine loop
(ChangeEventSourceCoordinator.java:185 executeChangeEventSources ->
doSnapshot :276-297 -> streamEvents :313-335, delivery + offset commit at
EmbeddedEngine.java:885-902). The bounded queue / poll design
(ChangeEventQueue.java:62-105) becomes the micro-batch boundary; the async
SMT worker pool (AsyncEmbeddedEngine.java:1191) becomes Catalyst whole-stage
codegen. Exactly-once = idempotent MERGE + batch-id fencing in the table
manifest (the reference itself is at-least-once with idempotent sinks,
SURVEY §2.9 — same recipe, with the fence made explicit).
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import apply as apply_mod
from .envelope import REPO_KEY, REPO_ROW_FIELDS, cdc_events, snapshot_events
from .lake import (CommitConflict, LakeTable, Manifest, MergeCommit,
                   merge_tables)
from .metrics import MetricsLog
from .sink import TableSink
from .notifications import NotificationLog
from .schema_history import SchemaHistory, split_at_boundaries
from .signals import SignalProcessor

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class EngineConfig:
    """cf. CommonConnectorConfig.java:569-572 defaults (max.batch.size=2048,
    max.queue.size=8192) — micro-batch size plays both roles here, scaled up
    because a vectorized batch is cheap."""

    batch_size: int = 1_000_000
    n_parts: int = 8
    n_keys: int = 1000
    seed: int = 42
    hot_key_permille: int = 0
    salt_buckets: int = 0  # >0 => two-level reduce for hot keys
    #: "auto" | "fat" | "narrow" | "narrow_cached" | "refetch" — per-key
    #: LWW reduce shape (apply.reduce_last_write_wins). narrow shuffles
    #: only (key, offset) and wins when rows are wide; narrow_cached
    #: additionally persists the flattened batch so the semi-join probe
    #: side doesn't recompute the source (the right choice for
    #: expensive/external sources). refetch is the two-phase plan for
    #: offset-addressable (seekable) sources — a Kafka consumer can seek,
    #: a log store can re-read, the generator is closed-form: phase 1
    #: reduces a (key, offset)-ONLY projection (column pruning means the
    #: payload is never computed/fetched), phase 2 re-fetches just the
    #: winning offsets' full records. Payload work drops from O(batch) to
    #: O(keys) — the same idea as the reference's ReselectColumnsPost-
    #: Processor re-querying the source for payloads it needs.
    #:
    #: "auto" (default) picks by source shape + row width — the matrix
    #: (measured in BASELINE.md: at 2 KB rows fat loses 3.3× to refetch;
    #: fat's SortAggregate payload shuffle is intrinsic):
    #:
    #:   seekable source (refetch accessor), replay   -> refetch
    #:   snapshot / incremental-snapshot batches      -> fat (rows are
    #:       already unique per key; payload must reach buckets anyway)
    #:   non-seekable replay, row width <= 512 B      -> fat
    #:   non-seekable replay, wide or UNKNOWN width   -> narrow_cached
    reduce_strategy: str = "auto"
    #: estimated serialized bytes per change row, for the auto matrix.
    #: None = unknown: internal generator sources estimate from
    #: content_chars; external sources fall back to narrow_cached.
    estimated_row_bytes: int | None = None
    content_chars: int = 64
    #: initial | initial_only | always | when_needed | no_data | never |
    #: recovery | configuration_based | custom
    #: (BinlogConnectorConfig.java:126-181)
    snapshot_mode: str = "initial"
    #: snapshot.mode=configuration_based knobs
    #: (snapshot.mode.configuration.based.snapshot.{data,schema}):
    #: independently choose whether data is snapshotted and whether the
    #: schema history is rebuilt on start
    snapshot_config_data: bool = False
    snapshot_config_schema: bool = False
    #: snapshot.mode=custom: the Snapshotter-SPI analog — a callable
    #: ``(engine, done_before) -> {"data": bool, "stream": bool}``
    #: deciding per start whether to snapshot and whether to stream
    #: (io.debezium.spi.snapshot.Snapshotter shouldSnapshotData/
    #: shouldStream)
    custom_snapshotter: Callable[["CdcEngine", bool], dict] | None = None
    #: snapshot.select.statement.overrides analog
    #: (RelationalDatabaseConnectorConfig — per-table custom snapshot
    #: SELECT): map of sink-table name -> SQL over the snapshot source,
    #: which is registered as the temp view ``src`` (and under the table
    #: name). Lets the initial snapshot read a subset / projection of the
    #: source (e.g. skip soft-deleted rows) exactly like the reference's
    #: per-table override statement. Filters push into the source scan.
    snapshot_select_overrides: dict[str, str] = field(default_factory=dict)
    transforms: list[Transform] = field(default_factory=list)
    writer: str = "engine"
    #: "mor" | "cow" — sink commit mode (K1/K2). ``mor`` (merge-on-read,
    #: the default): each batch commits O(batch) delta bytes and deltas are
    #: folded down by bucket-aligned compaction once a bucket accumulates
    #: ``compact_max_deltas`` of them; ``cow``: every merge leaves pure
    #: base files (compact-in-commit). Both read back identically.
    commit_mode: str = "mor"
    #: compact a bucket when it holds this many outstanding delta files
    #: (bounds read amplification AND disk growth; the replay hot path
    #: then costs amortized O(batch + state/compact_max_deltas) per batch)
    compact_max_deltas: int = 8
    #: route malformed events (bad op, missing key) to a _dlq table instead
    #: of failing the batch (K8, cf. debezium-sink dlq/ErrorReporter.java)
    dlq_enabled: bool = False
    #: emit BEGIN/END transaction markers per micro-batch into the <meta>/tx
    #: table (A3, provide.transaction.metadata;
    #: core/pipeline/txmetadata/TransactionMonitor.java:31-117)
    provide_transaction_metadata: bool = False
    #: engine-wired ReselectColumnsPostProcessor (T15 as a post-processor,
    #: core/processors/reselect/ReselectColumnsPostProcessor.java:51):
    #: columns whose unavailable-value markers (TOAST/LOB placeholders) are
    #: refilled from the sink's own current state before the merge — one
    #: lookup join per batch against the affected rows, not per-record
    #: point queries
    reselect_unavailable_columns: list[str] = field(default_factory=list)
    #: honor op='t' TRUNCATE events by clearing table state at the truncate
    #: offset (K4, truncate.enabled; JdbcChangeEventSink flush-ordering:
    #: truncate flushes everything before continuing)
    truncate_enabled: bool = False
    #: keep only the last N table versions, GC'ing older data files after
    #: each commit (copy-on-write otherwise retains one full table copy per
    #: micro-batch — untenable over a 10^10-event replay). 0 = never expire.
    expire_keep_last: int = 8
    #: optimistic-concurrency loser policy: when another writer commits the
    #: version first (CommitConflict), re-read the manifest and retry the
    #: merge on top of the winner, up to this many times with exponential
    #: backoff (reference: jdbc-sink/JdbcChangeEventSink.java:181-213
    #: retries flushes with backoff). 0 = fail fast.
    commit_retries: int = 3
    commit_retry_backoff_sec: float = 0.05
    #: skipped.operations analog (CommonConnectorConfig — comma list of
    #: envelope ops to drop before transforms: any of c,u,d,t; "none"
    #: disables). The reference DEFAULTS to "t" (truncates not emitted);
    #: here the default is "none" because the sink implements truncate
    #: replay (K4) and dropping truncates silently would change existing
    #: pipelines' semantics — opt in with "t" to match the reference's
    #: default posture. Ops are dropped pre-transform, exactly where the
    #: connector-side filter sits (before SMTs see the stream).
    skipped_operations: str = "none"
    #: "auto" | "on" — AQE policy while executing the merge. The fat and
    #: refetch replay plans contain NO join (partial agg → one exchange →
    #: write), so AQE's per-stage materialization + driver re-planning is
    #: pure serial overhead there (measured: −6-8% throughput, worse at
    #: high parallelism); "auto" turns AQE off for exactly those batches
    #: and leaves it ON whenever the plan has a join AQE helps (narrow's
    #: winners semi-join broadcast, reselect's lookup join, skew joins).
    merge_adaptive: str = "auto"
    #: overlap batch N+1's driver-side source-plan construction with
    #: batch N's execution (one-slot prepare thread). Plan building is
    #: the measured serial per-batch cost (~0.27 s: py4j round-trips +
    #: Catalyst analysis) that caps scaling efficiency at large batch
    #: counts — envelope DataFrames are independent of sink state, so
    #: building the next one during the current merge is free overlap.
    #: Applied only to the engine's own closed-form generator; custom
    #: ``envelopes_for`` callables are not assumed thread-safe.
    prefetch_source_plans: bool = True


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: TableSink,
        config: EngineConfig | None = None,
        signal_processor: SignalProcessor | None = None,
        history_store=None,
        offset_store=None,
    ):
        # the engine is typed against the TableSink PROTOCOL (sink.py):
        # LakeTable is the production impl; MemoryTableSink proves the
        # engine has no hidden LakeTable dependency (test_sink_protocol)
        self.spark = spark
        self.table = table
        self.cfg = config or EngineConfig()
        self.metrics = MetricsLog(os.path.join(table.meta_dir, "metrics.jsonl"))
        # durable homes for restart state are pluggable (sparkcdc.storage,
        # the debezium-storage seam): the history journal defaults to a
        # file next to the table; an external offset store is an advisory
        # post-commit MIRROR — the authoritative offsets stay in the
        # sink's commit summary, atomic with the data (storage.py doc)
        self.schema_history = SchemaHistory(
            history_store
            or os.path.join(table.meta_dir, "schema_history.jsonl")
        )
        self.offset_store = offset_store
        self.notifications = NotificationLog(
            os.path.join(table.meta_dir, "notifications.jsonl")
        )
        self.signals = signal_processor
        #: optional FileSchemaRegistry: when set, every schema epoch's
        #: envelope Avro schema is registered (and compatibility-gated)
        #: under subject "<table>-value" — the registry leg of the
        #: Avro-converter deployment (see sparkcdc.schema_registry)
        self.schema_registry = None

    def derived(self, writer_suffix: str) -> "CdcEngine":
        """An engine over the same table whose fences live in the writer
        namespace ``<writer><writer_suffix>``, so a streaming run's batch
        ids (Spark's checkpointed ids) never collide with this engine's
        batch ``replay`` ids. It inherits EVERY pluggable seam: a clone
        that journaled schema changes to a default file store while the
        caller configured another would strand the journal where restart
        recovery never looks, and a missing offset mirror breaks the
        sink-migration resume contract."""
        eng = CdcEngine(
            self.spark, self.table,
            config=replace(self.cfg,
                           writer=f"{self.cfg.writer}{writer_suffix}"),
            signal_processor=self.signals,
            history_store=self.schema_history.store,
            offset_store=self.offset_store,
        )
        eng.schema_registry = self.schema_registry
        return eng

    # -- checkpoint state -----------------------------------------------------

    def committed_offset(self) -> int:
        """Resume point: next global offset to read (K6/K7). Stored in the
        table manifest summary so the offset commit and the data commit are
        the same atomic pointer flip. An external ``offset_store`` mirror
        is consulted ONLY when the sink carries no committed offsets at
        all (sink migration: state copied without its commit summary)."""
        offs = self.table.manifest().summary.get("offsets")
        # `not offs` (absent OR empty): an offset-less first commit (e.g.
        # a snapshot batch) records {} — that still carries no resume
        # point, so the mirror stays authoritative for migration
        if not offs and self.offset_store is not None:
            mirror = self.offset_store.load()
            if mirror:
                return int(mirror.get("next", 0))
        return int((offs or {}).get("next", 0))

    def committed_batch(self) -> int:
        return int(
            self.table.manifest().summary.get("last_batch", {}).get(self.cfg.writer, -1)
        )

    def committed_partition_offsets(self):
        """Per-partition resume vector (north rule: per-partition offset
        checkpoints; GtidSet/Kafka-offsets analog — see offsets.py)."""
        from .offsets import OffsetVector

        return OffsetVector.from_summary(
            self.table.manifest().summary.get("offsets", {}).get("parts", {})
        )

    # -- phases ---------------------------------------------------------------

    def run(
        self,
        total_events: int,
        source_df: DataFrame | None = None,
        envelopes_for: Callable[[int, int], DataFrame] | None = None,
        schema_changes: list[tuple[int, list[dict]]] | None = None,
    ) -> dict:
        """The coordinator (ChangeEventSourceCoordinator.executeChangeEventSources
        :185 → doSnapshot :276 → streamEvents :313), honoring snapshot_mode
        (S4, BinlogConnectorConfig.java:126-181):

        - ``initial`` / ``when_needed``: snapshot once if the table has no
          committed progress, then stream
        - ``initial_only``: snapshot, never stream
        - ``always``: snapshot on every start, then stream
        - ``no_data`` (schema_only) / ``never``: stream only
        - ``recovery``: rebuild a lost/corrupt schema-history journal from
          the table manifest (field-id diff of consecutive epochs), then
          stream — no data is re-read (the reference's
          snapshot.mode=recovery)
        - ``configuration_based``: data/schema phases chosen independently
          by ``snapshot_config_data`` / ``snapshot_config_schema``
          (snapshot.mode.configuration.based.snapshot.*)
        - ``custom``: ``custom_snapshotter(engine, done_before)`` decides
          ``{"data": ..., "stream": ...}`` per start (the Snapshotter SPI)
        """
        mode = self.cfg.snapshot_mode
        done_before = self.committed_batch() >= 0
        out: dict = {"snapshot": None}
        wants_stream = True
        if mode == "recovery":
            out["recovered_entries"] = self.recover_schema_history()
        if mode == "configuration_based" and self.cfg.snapshot_config_schema:
            out["recovered_entries"] = self.recover_schema_history()
        wants_snapshot = (
            mode == "always"
            or (mode in ("initial", "initial_only", "when_needed") and not done_before)
        )
        if mode == "configuration_based":
            wants_snapshot = self.cfg.snapshot_config_data and not done_before
        elif mode == "custom":
            if self.cfg.custom_snapshotter is None:
                raise ValueError("snapshot_mode=custom requires custom_snapshotter")
            decision = self.cfg.custom_snapshotter(self, done_before)
            wants_snapshot = bool(decision.get("data"))
            wants_stream = bool(decision.get("stream", True))
        if wants_snapshot:
            if source_df is None:
                raise ValueError(f"snapshot_mode={mode} requires source_df")
            out["snapshot"] = self.run_snapshot(source_df)
        if mode == "initial_only" or not wants_stream:
            return out
        out["replay"] = self.replay(
            total_events, envelopes_for=envelopes_for, schema_changes=schema_changes
        )
        return out

    def run_snapshot(
        self, source_df: DataFrame, *,
        tables_total: int = 1, tables_completed: int = 1,
    ) -> dict:
        """Initial consistent snapshot (S1): read the pinned source state,
        wrap as op='r' envelopes, apply as batch 0.

        ``snapshot_select_overrides`` (snapshot.select.statement.overrides)
        replaces the read for THIS table with a custom SELECT over the
        source, registered as temp view ``src`` / the table name.

        ``tables_total`` / ``tables_completed`` position this table inside
        a multi-table snapshot for the progress metrics (the reference's
        SnapshotChangeEventSourceMetricsMXBean TotalTableCount /
        RemainingTableCount); rows scanned are observed on the envelope
        plan itself (``DataFrame.observe`` — no extra scan job)."""
        override = self.cfg.snapshot_select_overrides.get(self.table.name)
        if override:
            source_df.createOrReplaceTempView("src")
            source_df.createOrReplaceTempView(self.table.name)
            source_df = self.spark.sql(override)
        m = self.table.manifest()
        # snapshot the columns the source actually has; columns added by
        # later evolution fill with their defaults in the apply path
        row_cols = [f.name for f in m.fields if f.name in source_df.columns]
        missing_keys = [k for k in m.key_cols if k not in source_df.columns]
        if missing_keys:
            raise ValueError(f"snapshot source lacks key columns {missing_keys}")
        env = snapshot_events(
            source_df, row_cols=row_cols, key_cols=m.key_cols,
            n_parts=self.cfg.n_parts, table_name=self.table.name,
            mark_boundaries=True,  # FIRST/LAST completion markers
        )
        # committed_batch()+1 so an `always`-mode re-snapshot isn't fenced
        self.notifications.notify("Initial Snapshot", "STARTED")
        self._register_schema()  # baseline (v1) subject registration
        from pyspark.sql import Observation

        obs = Observation()
        env = env.observe(obs, F.count(F.lit(1)).alias("rows_scanned"))
        res = self._apply_batch(
            env, batch_id=self.committed_batch() + 1, kind="snapshot"
        )
        if not res.get("skipped"):
            # obs.get blocks until the first action over env completes —
            # safe here because an unfenced _apply_batch always runs one
            self.metrics.record(
                kind="snapshot_progress", table=self.table.name,
                rows_scanned=int(obs.get["rows_scanned"]),
                tables_total=tables_total,
                tables_completed=tables_completed,
            )
        self.notifications.notify(
            "Initial Snapshot", "COMPLETED", version=res.get("version")
        )
        return res

    def replay(
        self,
        total_events: int,
        envelopes_for: Callable[[int, int], DataFrame] | None = None,
        schema_changes: list[tuple[int, list[dict]]] | None = None,
        envelopes_for_ids: Callable[[DataFrame], DataFrame] | None = None,
    ) -> dict:
        """Replay events [committed, total_events) in micro-batches.

        ``envelopes_for(lo, hi)`` yields the envelope DataFrame for a global
        offset slice; defaults to the deterministic generator. Restart-safe:
        picks up from the committed offset, and a re-applied batch is fenced.

        ``schema_changes`` = [(offset, evolve-changes), ...]: the schema in
        force from that offset on. A micro-batch spanning a change offset is
        SPLIT there (flush-on-schema-change, ReducedRecordBuffer.java:46-51)
        so every MERGE sees exactly one schema; each applied change is
        journaled to the schema history for recovery. On resume, changes at
        offsets <= the committed offset are skipped (already applied —
        epoch is rebuilt from the journaled history).
        """
        cfg = self.cfg
        builtin_source = envelopes_for is None
        if envelopes_for is None:
            from .envelope import cdc_events_over_ids

            envelopes_for = lambda lo, hi: cdc_events(  # noqa: E731
                self.spark, hi - lo, start=lo, n_keys=cfg.n_keys,
                n_parts=cfg.n_parts, seed=cfg.seed,
                hot_key_permille=cfg.hot_key_permille,
                content_chars=cfg.content_chars,
            )
            if envelopes_for_ids is None:
                # the generator is trivially offset-addressable (closed
                # form) — enables the two-phase "refetch" reduce
                envelopes_for_ids = lambda ids: cdc_events_over_ids(  # noqa: E731
                    ids, n_keys=cfg.n_keys, n_parts=cfg.n_parts,
                    seed=cfg.seed, hot_key_permille=cfg.hot_key_permille,
                    content_chars=cfg.content_chars,
                )
        start = self.committed_offset()
        batch_id = self.committed_batch() + 1
        self._catch_up_schema_journal()
        # a change the journal already holds was applied before a restart;
        # match each journaled entry to ONE change (not to its offset), so
        # the rest of an offset's changes still apply after a crash
        # between them
        journal = [e for e in self.schema_history.entries()
                   if e["offset"] >= start]
        boundaries = []
        for off, ch in schema_changes or []:
            if off < start:
                continue
            hit = next((e for e in journal if _journaled_as(e, off, ch)),
                       None)
            if hit is None:
                boundaries.append((off, ch))
            else:
                journal.remove(hit)
        stats = {"batches": 0, "events": 0, "wall_sec": 0.0}
        # flat slice plan, precomputed so the prefetcher can look one
        # slice ahead (batch grid and schema boundaries are both known
        # up front; O(total/batch_size) tuples, tiny even at 10^10)
        plan: list[tuple[int, int, int, object]] = []
        lo = start
        while lo < total_events:
            hi = min(lo + cfg.batch_size, total_events)
            for sub_lo, sub_hi, changes in split_at_boundaries(lo, hi, boundaries):
                plan.append((lo, sub_lo, sub_hi, changes))
            lo = hi
        # one-slot prepare thread (see EngineConfig.prefetch_source_plans):
        # builds slice N+1's envelope DataFrame while slice N's Spark jobs
        # run. Envelope construction touches only the SparkSession (thread-
        # safe driver API) and the immutable generator config — never sink
        # state — so overlap cannot observe a half-applied batch.
        prefetch = None
        if builtin_source and cfg.prefetch_source_plans and len(plan) > 1:
            from concurrent.futures import ThreadPoolExecutor

            prefetch = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="sparkcdc-prefetch"
            )
        pending: tuple[tuple[int, int], object] | None = None
        cur_outer = -1
        try:
            for i, (outer_lo, sub_lo, sub_hi, changes) in enumerate(plan):
                if outer_lo != cur_outer:
                    cur_outer = outer_lo
                    if self.signals is not None:
                        self.signals.process()
                        if self.signals.state.paused:
                            self.notifications.notify(
                                "Streaming", "PAUSED", offset=outer_lo)
                            break  # pause: stop consuming; resume re-enters
                ddl = changes if isinstance(changes, str) else None
                if changes:
                    if ddl is not None:
                        # DDL-string schema capture: parse the statement(s)
                        # against the current catalog into TableChanges-
                        # style evolutions (ddl.py; the reference's
                        # binlog-DDL → SchemaHistory → sink-ALTER path).
                        # Per-statement tolerance: a binlog carries EVERY
                        # table's DDL plus noise (CREATE INDEX / SET / ...)
                        # — other tables' statements are dropped before
                        # clause resolution and each unsupported statement
                        # journals-and-skips individually, so a valid ALTER
                        # for the captured table is never lost to an
                        # unrelated statement (cf. the reference's one
                        # HistoryRecord per statement).
                        from .ddl import parse_ddl_tolerant

                        cur = {
                            f.name: f.type
                            for f in self.table.manifest().fields
                        }
                        parsed, skipped = parse_ddl_tolerant(
                            ddl, current_types=cur,
                            only_table=self.table.name,
                        )
                        for stmt, err in skipped:
                            self.notifications.notify(
                                "Schema", "DDL_SKIPPED",
                                ddl=stmt[:200], error=err,
                            )
                        changes = [
                            c
                            for tc in parsed
                            if tc.type == "ALTER"
                            and self._ddl_targets_this_table(tc.table)
                            for c in tc.changes
                        ]
                    if changes:
                        # registry gate FIRST, on the PROSPECTIVE schema:
                        # a compatibility rejection must leave no durable
                        # state (no journal entry, no evolved epoch) —
                        # otherwise the rejected epoch is already live on
                        # restart and the replay skips the boundary,
                        # applying events under a schema the registry
                        # never admitted (the reference's converter
                        # rejects before any sink-side change)
                        from .lake import apply_schema_changes

                        m = self.table.manifest()
                        prospective, _ = apply_schema_changes(
                            m.fields, m.key_cols, changes
                        )
                        self._register_schema(fields=prospective)
                        # then journal (write-ahead): a crash between the
                        # two remaining steps is repaired by
                        # _catch_up_schema_journal on the next replay; the
                        # reverse order would re-apply the evolve and
                        # corrupt the schema (duplicate column)
                        self.schema_history.record(
                            sub_lo, changes,
                            base_epoch=m.epoch, ddl=ddl,
                        )
                        self.table.evolve(changes)
                if sub_hi <= sub_lo:
                    continue
                if pending is not None and pending[0] == (sub_lo, sub_hi):
                    env = pending[1].result()
                else:
                    env = envelopes_for(sub_lo, sub_hi)
                pending = None
                if prefetch is not None and i + 1 < len(plan):
                    nxt = plan[i + 1]
                    if nxt[2] > nxt[1]:
                        pending = (
                            (nxt[1], nxt[2]),
                            prefetch.submit(envelopes_for, nxt[1], nxt[2]),
                        )
                r = self._apply_batch(
                    env, batch_id=batch_id, kind="replay",
                    offsets={"lo": sub_lo, "next": sub_hi},
                    refetch_ids=envelopes_for_ids,
                    # the generator's event time is closed-form in the
                    # offset (envelope.cdc_events_over_ids: base + id), so
                    # the batch's source high-watermark is known for free
                    source_ts_ms=(
                        1_700_000_000_000 + sub_hi - 1
                        if builtin_source else None
                    ),
                )
                stats["batches"] += 1
                stats["events"] += sub_hi - sub_lo
                stats["wall_sec"] += r["wall_sec"]
                batch_id += 1
        finally:
            if prefetch is not None:
                prefetch.shutdown(wait=False, cancel_futures=True)
        stats["events_per_sec"] = (
            stats["events"] / stats["wall_sec"] if stats["wall_sec"] else 0.0
        )
        return stats

    def recover_schema_history(self) -> int:
        """Rebuild a lost schema-history journal from the manifest
        (snapshot.mode=recovery): consecutive epochs are diffed by FIELD ID
        into add/rename/widen/drop entries, journaled at the committed
        offset (the schema in force applies from the resume point on).
        ``base_epoch=None`` marks them as reconstructed — the write-ahead
        catch-up must not re-apply them. No-op if a journal exists."""
        if self.schema_history.entries():
            return 0
        m = self.table.manifest()
        resume = self.committed_offset()
        n = 0
        for ep in range(1, m.epoch + 1):
            old = {f.id: f for f in m.epochs[str(ep - 1)]}
            new = {f.id: f for f in m.epochs[str(ep)]}
            changes: list[dict] = []
            for fid, f in new.items():
                if fid not in old:
                    ch = {"action": "add", "name": f.name, "type": f.type}
                    if f.default is not None:
                        ch["default"] = f.default
                    changes.append(ch)
                    continue
                o = old[fid]
                if o.name != f.name:
                    changes.append(
                        {"action": "rename", "from": o.name, "to": f.name}
                    )
                if o.type != f.type:
                    changes.append(
                        {"action": "widen", "name": f.name, "type": f.type}
                    )
            for fid, o in old.items():
                if fid not in new:
                    changes.append({"action": "drop", "name": o.name})
            self.schema_history.record(resume, changes, base_epoch=None)
            n += 1
        return n

    def _ddl_targets_this_table(self, ddl_table: str) -> bool:
        """An ALTER addresses this sink iff its (possibly db-qualified)
        table identifier's last component matches the captured table."""
        return ddl_table.split(".")[-1] == self.table.name

    def _catch_up_schema_journal(self) -> None:
        """Repair the crash window of the write-ahead schema journal: an
        entry whose target epoch (base_epoch+1) the manifest never reached
        was journaled but its evolve did not commit — apply it now. Robust
        to manual table.evolve calls interleaved with journaled ones (the
        base epoch is captured at journal time)."""
        epoch = self.table.manifest().epoch
        for e in self.schema_history.entries():
            base = e.get("base_epoch")
            if base is not None and base >= epoch:
                self.table.evolve(e["changes"])
                epoch = self.table.manifest().epoch

    def _register_schema(self, fields=None) -> None:
        """Register an epoch's envelope Avro schema under
        ``<table>-value`` when a schema registry is attached — the
        registry's compatibility gate then fails the replay BEFORE an
        incompatible epoch's events are applied, the Avro-converter
        deployment's behavior. ``fields`` overrides the manifest's
        current epoch with a PROSPECTIVE field list so the gate runs
        before any durable state (journal entry / evolved manifest)
        exists; a rejection then leaves nothing to repair on restart."""
        if self.schema_registry is None:
            return
        from .lake import type_of
        from .transforms.avro import envelope_avro_schema

        flds = fields if fields is not None else self.table.manifest().fields
        row_fields = [(f.name, type_of(f.type)) for f in flds]
        self.schema_registry.register(
            f"{self.table.name}-value", envelope_avro_schema(row_fields)
        )

    def _writer_tag(self) -> str:
        """Filesystem-safe writer name for side-table paths."""
        return re.sub(r"[^A-Za-z0-9_.-]", "_", self.cfg.writer)

    # -- dead-letter queue (K8) --------------------------------------------------

    def _quarantine_malformed(self, env: DataFrame, batch_id: int) -> DataFrame:
        """Split off malformed events (unknown op; data event missing its
        key columns) into ``<meta>/dlq/batch-N`` parquet and return the
        clean stream. Reference: debezium-sink/.../dlq/ErrorReporter.java —
        per-record reroute instead of failing the pipeline."""
        key_cols = self.table.manifest().key_cols
        key_src = [
            F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")) for k in key_cols
        ]
        # NULL-safe: op IS NULL must classify as bad=true, not bad=NULL
        # (a NULL predicate would drop the event from BOTH filters)
        bad = (
            F.col("op").isNull()
            | (~F.col("op").isin("r", "c", "u", "d", "t", "m"))
            | (
                F.col("op").isin("r", "c", "u", "d")
                & ~F.col("tombstone")
                & sum(
                    (k.isNull().cast("int") for k in key_src), F.lit(0)
                ).cast("boolean")
            )
        )
        quarantined = env.filter(bad)
        # writer-scoped dir: batch replay and streaming each have their own
        # batch-id sequence — a bare batch-N path would let one overwrite
        # the other's quarantined events
        dlq_dir = os.path.join(
            self.table.meta_dir, "dlq",
            f"batch-{self._writer_tag()}-{batch_id}",
        )
        # empty-check via a cheap limit probe rather than count() of the stream
        if quarantined.limit(1).count() > 0:
            quarantined.withColumn(
                "__dlq_batch", F.lit(batch_id)
            ).write.mode("overwrite").parquet(dlq_dir)
        return env.filter(~bad)

    def dlq(self) -> DataFrame | None:
        """Read the quarantine table (None if nothing was quarantined)."""
        root = os.path.join(self.table.meta_dir, "dlq")
        if not os.path.isdir(root) or not os.listdir(root):
            return None
        return self.spark.read.parquet(os.path.join(root, "*"))

    def tx_log(self) -> DataFrame | None:
        """Read the transaction-marker table (the reference's
        ``<topic>.transaction`` stream analog); None if tx metadata was
        never enabled."""
        root = os.path.join(self.table.meta_dir, "tx")
        if not os.path.isdir(root) or not os.listdir(root):
            return None
        return self.spark.read.parquet(os.path.join(root, "*"))

    # -- incremental snapshot (S9-S13) -------------------------------------------

    def run_incremental_snapshot(
        self,
        source_df: DataFrame,
        window_lo: int,
        window_hi: int,
        stream_window: DataFrame | None = None,
        chunk_size: int | None = None,
        max_chunks: int | None = None,
        additional_condition: str | None = None,
        surrogate_key: str | None = None,
        chunk_mode: str = "keyset",
    ) -> dict:
        """Ad-hoc backfill concurrent with streaming (the execute-snapshot
        signal action): merge every source row whose key did NOT see a
        change event inside [window_lo, window_hi). Sparse by construction →
        pruned merge scope.

        ``additional_condition`` is the signal's ``additional-conditions``
        filter (AdditionalCondition.java:24, injected into the snapshot
        query by AbstractChunkQueryBuilder): a SQL predicate over the
        source's columns restricting WHICH rows are backfilled. Applied
        before chunking/dedup, so Catalyst pushes it into the source scan
        — the distributed analog of the reference appending it to the
        chunk SELECT's WHERE clause.

        ``surrogate_key`` (ExecuteSnapshot.java:117 ``surrogate-key``)
        names a single unique column to paginate chunks over INSTEAD of
        the primary key — the reference's escape hatch for tables whose
        PK is composite/expensive to range-scan. Dedup against the stream
        window still uses the real key columns. A mid-backfill chunk-key
        switch restarts the backfill (progress records which key it was
        taken under).

        ``chunk_mode`` picks the chunking strategy (the scale matrix):

        - ``"keyset"`` (default, the reference's strategy): each chunk is
          ``WHERE key > last ORDER BY key LIMIT n``. Right when the source
          is key-clustered (Iceberg sort order / PK-indexed): the keyset
          predicate pushes into the scan and min/max stats prune to
          O(chunk) per chunk. On an UNSORTED source it degrades to a full
          scan + top-K per chunk — O(N·chunks).
        - ``"range"``: ONE ``repartitionByRange`` pass stages the backfill
          partitioned by chunk id (snapshot.stage_range_chunks); each
          chunk commit is then a partition-pruned read of one directory.
          O(N) total regardless of source ordering, at the price of one
          shuffle and 1× staged bytes on disk (deleted on completion).

        With ``chunk_size`` set, the backfill is CHUNKED AND RESUMABLE
        (round-2 verdict 'missing #1'; reference:
        AbstractIncrementalSnapshotChangeEventSource.java:107-199, chunk
        progress persisted inside offsets via
        SignalBasedIncrementalSnapshotContext): the source is read in
        PK-ordered keyset-paginated chunks, and each chunk's commit carries
        ``incr_snapshot = {window, last_key, done}`` in the manifest
        summary — atomically with the chunk's data. A backfill that dies at
        90% resumes at the checkpointed chunk, not chunk 0. ``max_chunks``
        bounds one call (pacing against a live stream; also how the
        kill-and-resume path is tested).
        """
        from . import snapshot as snap_mod
        from .envelope import snapshot_events

        m = self.table.manifest()
        if additional_condition:
            source_df = source_df.filter(additional_condition)
        # mirror run_snapshot: a backfill source captured before an 'add' or
        # 'rename' evolution lacks the new column names — snapshot only the
        # columns it has (the reconcile/defaults path fills the rest), and
        # validate the key columns exist
        row_cols = [f.name for f in m.fields if f.name in source_df.columns]
        missing_keys = [k for k in m.key_cols if k not in source_df.columns]
        if missing_keys:
            raise ValueError(f"backfill source lacks key columns {missing_keys}")
        if stream_window is None:
            stream_window = cdc_events(
                self.spark, window_hi - window_lo, start=window_lo,
                n_keys=self.cfg.n_keys, n_parts=self.cfg.n_parts,
                seed=self.cfg.seed,
                hot_key_permille=self.cfg.hot_key_permille,
                content_chars=self.cfg.content_chars,
            )
        if chunk_size is not None:
            if chunk_mode == "range":
                return self._run_range_backfill(
                    source_df, stream_window, m, row_cols,
                    window_lo=window_lo, window_hi=window_hi,
                    chunk_size=chunk_size, max_chunks=max_chunks,
                    surrogate_key=surrogate_key,
                )
            return self._run_chunked_backfill(
                source_df, stream_window, m, row_cols,
                window_lo=window_lo, window_hi=window_hi,
                chunk_size=chunk_size, max_chunks=max_chunks,
                surrogate_key=surrogate_key,
            )
        deduped = snap_mod.dedup_chunk_against_window(
            source_df, stream_window, m.key_cols
        )
        env = snapshot_events(
            deduped, row_cols=row_cols, key_cols=m.key_cols,
            n_parts=self.cfg.n_parts,
            snapshot_marker="incremental",  # SnapshotRecord.INCREMENTAL
        )
        batch_id = self.committed_batch() + 1
        self.notifications.notify(
            "Incremental Snapshot", "STARTED",
            window_lo=window_lo, window_hi=window_hi,
        )
        # one-shot backfill: commit copy-on-write so the touched buckets
        # are compacted in the same commit (sparse batches only touch the
        # buckets their keys hash to — the delta write prunes for free)
        res = self._apply_batch(
            env, batch_id=batch_id, kind="incremental_snapshot",
            offsets=None, mode="cow",
        )
        self.notifications.notify(
            "Incremental Snapshot", "COMPLETED", version=res.get("version")
        )
        return res

    def _run_chunked_backfill(
        self, source_df: DataFrame, stream_window: DataFrame, m, row_cols,
        *, window_lo: int, window_hi: int, chunk_size: int,
        max_chunks: int | None, surrogate_key: str | None = None,
    ) -> dict:
        """Keyset-paginated backfill loop with per-chunk checkpointing.

        Scale contract: each chunk is ``WHERE key > last ORDER BY key LIMIT
        n`` (snapshot.chunk_query) — Spark executes it as
        TakeOrderedAndProject with the keyset predicate pushed into the
        scan, so a key-sorted parquet/Iceberg source prunes row groups by
        min/max stats exactly like the reference's PK-index range read
        (AbstractChunkQueryBuilder.java:48-170)."""
        from . import snapshot as snap_mod
        from .envelope import snapshot_events

        key_cols = m.key_cols
        chunk_cols = [surrogate_key] if surrogate_key else key_cols
        if surrogate_key and surrogate_key not in source_df.columns:
            raise ValueError(f"surrogate key {surrogate_key!r} not in source")
        prog = self.table.manifest().summary.get("incr_snapshot") or {}
        same_window = (
            prog.get("window_lo") == window_lo
            and prog.get("window_hi") == window_hi
            # resuming under a different chunk key would misread last_key
            and prog.get("chunk_key", key_cols) == chunk_cols
        )
        if same_window and prog.get("done"):
            return {"done": True, "chunks": 0, "rows": 0,
                    "resumed_from": prog.get("last_key")}
        last_key = (
            tuple(prog["last_key"])
            if same_window and prog.get("last_key") else None
        )
        resumed_from = list(last_key) if last_key else None
        self.notifications.notify(
            "Incremental Snapshot",
            "RESUMED" if last_key is not None else "STARTED",
            window_lo=window_lo, window_hi=window_hi, last_key=resumed_from,
        )
        chunks = rows_total = 0
        done = False
        while not done and (max_chunks is None or chunks < max_chunks):
            control = self._poll_backfill_control()
            if control == "stop":
                self._commit_backfill_marker(m, {
                    "window_lo": window_lo, "window_hi": window_hi,
                    "chunk_key": chunk_cols, "last_key": None,
                    "done": True, "stopped": True,
                })
                self.notifications.notify(
                    "Incremental Snapshot", "ABORTED",
                    chunks=chunks, rows=rows_total,
                )
                return {"done": True, "stopped": True, "chunks": chunks,
                        "rows": rows_total, "resumed_from": resumed_from}
            if control == "pause":
                break
            chunk = snap_mod.chunk_query(
                source_df, chunk_cols, last_key, chunk_size
            ).persist()
            agg = chunk.agg(
                F.max(F.struct(*[F.col(c) for c in chunk_cols])).alias("mk"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            n = int(agg["n"])
            done = n < chunk_size  # final (possibly empty) chunk
            progress = {
                "window_lo": window_lo, "window_hi": window_hi,
                "chunk_key": chunk_cols,
                "last_key": list(agg["mk"]) if n else
                            (list(last_key) if last_key else None),
                "done": done,
            }
            if n == 0:
                # source exhausted exactly at a chunk boundary: persist the
                # done flag as a data-less fenced commit
                chunk.unpersist()
                self._commit_backfill_marker(m, progress)
                break
            deduped = snap_mod.dedup_chunk_against_window(
                chunk, stream_window, key_cols
            )
            env = snapshot_events(
                deduped, row_cols=row_cols, key_cols=key_cols,
                n_parts=self.cfg.n_parts, snapshot_marker="incremental",
            )
            # chunk data + chunk checkpoint are ONE atomic commit
            self._apply_batch(
                env, batch_id=self.committed_batch() + 1,
                kind="incremental_snapshot", offsets=None, mode="cow",
                extra_summary={"incr_snapshot": progress},
            )
            chunk.unpersist()
            last_key = tuple(agg["mk"])
            chunks += 1
            rows_total += n
            # per-chunk progress metric + notification (the reference's
            # SnapshotChangeEventSourceMetricsMXBean ChunkId/RowsScanned
            # and IncrementalSnapshotNotificationService IN_PROGRESS
            # events carry the completed chunk position for dashboards)
            self.metrics.record(
                kind="snapshot_chunk", chunk_id=chunks, rows=n,
                last_key=list(last_key),
                window_lo=window_lo, window_hi=window_hi,
            )
            self.notifications.notify(
                "Incremental Snapshot", "IN_PROGRESS",
                chunks=chunks, rows=rows_total, last_key=list(last_key),
            )
        self.notifications.notify(
            "Incremental Snapshot", "COMPLETED" if done else "PAUSED",
            chunks=chunks, rows=rows_total,
        )
        return {"done": done, "chunks": chunks, "rows": rows_total,
                "resumed_from": resumed_from}

    def _poll_backfill_control(self) -> str | None:
        """The chunk boundary is a poll point (the reference checks the
        signal channel between chunks): stop-snapshot for this table
        CANCELS the backfill (StopSnapshot.java:44 → requestStopSnapshot —
        a later same-window request starts over); pause exits resumable,
        exactly like max_chunks."""
        if self.signals is None:
            return None
        self.signals.process()
        if self._stop_snapshot_requested():
            return "stop"
        if self.signals.state.paused:
            return "pause"
        return None

    def _commit_backfill_marker(self, m, progress: dict) -> None:
        """Persist backfill progress as a data-less fenced commit (the
        chunk checkpoint without chunk data)."""
        empty = self.spark.createDataFrame(
            [], m.spark_schema().add("_op", "string")
        )
        self._merge_with_retry(
            empty, batch_id=self.committed_batch() + 1,
            summary={"incr_snapshot": progress}, mode="mor",
        )

    def _run_range_backfill(
        self, source_df: DataFrame, stream_window: DataFrame, m, row_cols,
        *, window_lo: int, window_hi: int, chunk_size: int,
        max_chunks: int | None, surrogate_key: str | None = None,
    ) -> dict:
        """``chunk_mode='range'``: stage once with ``repartitionByRange``
        (snapshot.stage_range_chunks — O(N) total over UNSORTED sources),
        then commit per staged chunk dir with {chunk_idx} checkpointed
        atomically alongside each chunk's data.

        A lost/half-written stage restarts the backfill from chunk 0:
        re-applying already-committed chunks is harmless because backfill
        rows merge by key (op='r' of the same pinned source state) and the
        window dedup re-drops streamed keys — idempotent by construction.
        """
        from . import snapshot as snap_mod
        from .envelope import snapshot_events

        key_cols = m.key_cols
        chunk_cols = [surrogate_key] if surrogate_key else key_cols
        if surrogate_key and surrogate_key not in source_df.columns:
            raise ValueError(f"surrogate key {surrogate_key!r} not in source")
        stage_dir = os.path.join(
            self.table.meta_dir, f"backfill_stage_{window_lo}_{window_hi}"
        )
        prog = self.table.manifest().summary.get("incr_snapshot") or {}
        same_window = (
            prog.get("window_lo") == window_lo
            and prog.get("window_hi") == window_hi
            and prog.get("mode") == "range"
            and prog.get("chunk_key", key_cols) == chunk_cols
        )
        if same_window and prog.get("done"):
            return {"done": True, "chunks": 0, "rows": 0,
                    "resumed_from": prog.get("chunk_idx")}
        marker = snap_mod.load_stage_marker(stage_dir)
        stage_ok = (
            marker is not None
            and marker.get("key_cols") == chunk_cols
            and marker.get("chunk_size") == chunk_size
        )
        if same_window and stage_ok:
            chunk_idx = int(prog.get("chunk_idx", 0))
            resumed_from = chunk_idx if chunk_idx else None
        else:
            snap_mod.stage_range_chunks(
                source_df, chunk_cols, chunk_size, stage_dir
            )
            marker = snap_mod.load_stage_marker(stage_dir)
            chunk_idx = 0
            resumed_from = None
        n_chunks = int(marker["n_chunks"])
        if marker.get("rows", 0) == 0:
            # empty source: nothing staged to read — persist done directly
            self._commit_backfill_marker(m, {
                "window_lo": window_lo, "window_hi": window_hi,
                "chunk_key": chunk_cols, "mode": "range",
                "chunk_idx": n_chunks, "n_chunks": n_chunks, "done": True,
            })
            shutil.rmtree(stage_dir, ignore_errors=True)
            self.notifications.notify(
                "Incremental Snapshot", "COMPLETED", chunks=0, rows=0,
            )
            return {"done": True, "chunks": 0, "rows": 0,
                    "resumed_from": resumed_from}
        self.notifications.notify(
            "Incremental Snapshot",
            "RESUMED" if resumed_from is not None else "STARTED",
            window_lo=window_lo, window_hi=window_hi,
            mode="range", n_chunks=n_chunks, chunk_idx=chunk_idx,
        )
        staged = self.spark.read.parquet(stage_dir)
        chunks = rows_total = 0
        done = False
        while chunk_idx < n_chunks and (max_chunks is None or chunks < max_chunks):
            control = self._poll_backfill_control()
            if control == "stop":
                self._commit_backfill_marker(m, {
                    "window_lo": window_lo, "window_hi": window_hi,
                    "chunk_key": chunk_cols, "mode": "range",
                    "chunk_idx": chunk_idx, "done": True, "stopped": True,
                })
                shutil.rmtree(stage_dir, ignore_errors=True)
                self.notifications.notify(
                    "Incremental Snapshot", "ABORTED",
                    chunks=chunks, rows=rows_total,
                )
                return {"done": True, "stopped": True, "chunks": chunks,
                        "rows": rows_total, "resumed_from": resumed_from}
            if control == "pause":
                break
            # partition-pruned read of ONE staged chunk dir
            chunk = staged.filter(
                F.col("__chunk") == chunk_idx
            ).drop("__chunk").persist()
            n = chunk.count()
            progress = {
                "window_lo": window_lo, "window_hi": window_hi,
                "chunk_key": chunk_cols, "mode": "range",
                "chunk_idx": chunk_idx + 1, "n_chunks": n_chunks,
                "done": chunk_idx + 1 >= n_chunks,
            }
            if n == 0:
                # empty range partition: advance the checkpoint data-less
                self._commit_backfill_marker(m, progress)
            else:
                deduped = snap_mod.dedup_chunk_against_window(
                    chunk, stream_window, key_cols
                )
                env = snapshot_events(
                    deduped, row_cols=row_cols, key_cols=key_cols,
                    n_parts=self.cfg.n_parts, snapshot_marker="incremental",
                )
                self._apply_batch(
                    env, batch_id=self.committed_batch() + 1,
                    kind="incremental_snapshot", offsets=None, mode="cow",
                    extra_summary={"incr_snapshot": progress},
                )
            chunk.unpersist()
            chunk_idx += 1
            chunks += 1
            rows_total += n
            done = chunk_idx >= n_chunks
            self.metrics.record(
                kind="snapshot_chunk", chunk_id=chunk_idx, rows=n,
                window_lo=window_lo, window_hi=window_hi,
            )
            self.notifications.notify(
                "Incremental Snapshot", "IN_PROGRESS",
                chunks=chunks, rows=rows_total, chunk_idx=chunk_idx,
            )
        if done:
            shutil.rmtree(stage_dir, ignore_errors=True)
        self.notifications.notify(
            "Incremental Snapshot", "COMPLETED" if done else "PAUSED",
            chunks=chunks, rows=rows_total,
        )
        return {"done": done, "chunks": chunks, "rows": rows_total,
                "resumed_from": resumed_from}

    def process_signals(self, source_for_snapshot=None) -> list[dict]:
        """Drain signal channels; execute-snapshot requests run immediately
        when a ``source_for_snapshot(request) -> DataFrame`` factory is
        given. Called between micro-batches (the poll boundary)."""
        if self.signals is None:
            return []
        acted = self.signals.process()
        if source_for_snapshot is not None:
            while self.signals.state.snapshot_requests:
                req = self.signals.state.snapshot_requests.pop(0)
                src = source_for_snapshot(req)
                if src is not None:
                    cond = self._signal_condition(req)
                    if str(req.get("type", "incremental")).lower() == "blocking":
                        # SnapshotType.BLOCKING (ExecuteSnapshot.java:82 →
                        # doBlockingSnapshot): a full re-snapshot that
                        # supersedes streaming state, not a windowed merge
                        self.run_snapshot(src.filter(cond) if cond else src)
                    else:
                        lo = int(req.get("window_lo", 0))
                        hi = int(req.get("window_hi", self.committed_offset()))
                        self.run_incremental_snapshot(
                            src, lo, hi,
                            additional_condition=cond,
                            surrogate_key=req.get("surrogate-key"),
                            chunk_size=req.get("chunk-size"),
                            chunk_mode=req.get("chunk-mode", "keyset"),
                        )
                    # ack ONLY after the backfill committed: a crash
                    # before this point redelivers the signal on restart
                    self.signals.ack_request(req)
        return acted

    def _stop_snapshot_requested(self) -> bool:
        """Consume pending stop-snapshot requests targeting THIS table
        (StopSnapshot.java:44-57: data-collections name the snapshots to
        cancel; empty = cancel whatever is in progress)."""
        if self.signals is None:
            return False
        hit, rest = False, []
        for req in self.signals.state.stopped_snapshots:
            colls = req.get("data-collections") or [".*"]
            if any(re.fullmatch(c, self.table.name, re.I) for c in colls):
                hit = True
            else:
                rest.append(req)
        self.signals.state.stopped_snapshots = rest
        return hit

    def _signal_condition(self, req: dict) -> str | None:
        """Resolve the execute-snapshot signal's ``additional-conditions``
        for THIS table (ExecuteSnapshot.java:61,96-103): each entry is
        ``{"data-collection": <regex>, "filter": <SQL predicate>}``; the
        data-collection pattern matches case-insensitively against the
        sink table name, and every matching filter applies (AND)."""
        conds = req.get("additional-conditions") or []
        filters = [
            c["filter"] for c in conds
            if c.get("filter")
            and re.fullmatch(
                c.get("data-collection", ".*"), self.table.name, re.I
            )
        ]
        return " AND ".join(f"({f})" for f in filters) or None

    # -- schema reconciliation ---------------------------------------------------

    @staticmethod
    def _reconcile_schema(env: DataFrame, m) -> tuple[dict, dict, dict]:
        """Map each current sink column to the field name the envelope
        carries, by FIELD ID across schema epochs (SURVEY §1.2 / hard part
        (3): rename must map by id or replay misapplies old-epoch events).

        A column missing from the envelope under every historical name is a
        later-added column → NULL of its type (the only legal add, K3)."""
        env_fields = {f.name for f in env.schema["after"].dataType.fields}
        src_map: dict[str, str | None] = {}
        null_types: dict[str, str] = {}
        null_defaults: dict[str, object] = {}
        for fld in m.fields:
            if fld.name in env_fields:
                src_map[fld.name] = fld.name
                continue
            src = None
            for ep in sorted((int(k) for k in m.epochs), reverse=True):
                for old in m.epochs[str(ep)]:
                    if old.id == fld.id and old.name in env_fields:
                        src = old.name
                        break
                if src is not None:
                    break
            src_map[fld.name] = src
            if src is None:
                null_types[fld.name] = fld.type
                if fld.default is not None:
                    null_defaults[fld.name] = fld.default
        return src_map, null_types, null_defaults

    def _choose_strategy(self, kind: str, refetch_ids) -> str:
        """Resolve ``reduce_strategy='auto'`` (round-2 verdict 'What's
        wrong #3': the default must not be the plan that loses at
        production row widths). Matrix — see :class:`EngineConfig`:

        - non-replay batches (snapshot, incremental backfill): ``fat`` —
          rows are already unique per key, and the payload must be
          shuffled onto buckets regardless, so the two-phase/narrow plans
          only add joins;
        - seekable source (a refetch accessor exists): ``refetch`` —
          payload work O(keys), the scale winner at every measured width;
        - non-seekable replay with a known narrow row (≤ 512 B estimated):
          ``fat`` — one payload shuffle beats the semi-join round-trip;
        - otherwise (wide or UNKNOWN external rows): ``narrow_cached`` —
          shuffles only (key, offset) and probes the persisted batch,
          never re-executes the external source.
        """
        if kind != "replay":
            return "fat"
        if refetch_ids is not None:
            return "refetch"
        width = self.cfg.estimated_row_bytes
        if width is None:
            return "narrow_cached"
        return "fat" if width <= 512 else "narrow_cached"

    def _merge_with_retry(
        self, changes: DataFrame, *, batch_id: int, summary: dict, mode: str,
        conflict: CommitConflict | None = None,
    ) -> dict:
        """Commit with multi-writer conflict retry (optimistic concurrency,
        Iceberg-style): ``merge()`` re-reads the manifest at entry, so a
        retry recomputes the fence map and rebases onto the winner's
        version — if the winner already committed THIS (writer, batch_id)
        the retry lands as a fenced no-op, so a batch is never applied
        twice. The loser's first-attempt data files become orphans that
        ``expire_versions`` reclaims. ``conflict``: the first attempt
        already lost its race (a table of a multi-table write), so this
        starts at the first retry."""
        attempts = self.cfg.commit_retries
        delay = self.cfg.commit_retry_backoff_sec
        while True:
            if conflict is None:
                try:
                    return self.table.merge(
                        changes, batch_id=batch_id, writer=self.cfg.writer,
                        summary=summary, mode=mode,
                    )
                except CommitConflict as e:
                    conflict = e
            if attempts <= 0:
                raise conflict
            attempts -= 1
            self.notifications.notify(
                "Commit", "CONFLICT_RETRY",
                batch_id=batch_id, remaining=attempts,
            )
            time.sleep(delay)
            delay *= 2
            conflict = None

    # -- core batch path --------------------------------------------------------

    def _apply_batch(
        self, env: DataFrame, batch_id: int, kind: str,
        offsets: dict | None = None, mode: str | None = None,
        refetch_ids: Callable[[DataFrame], DataFrame] | None = None,
        extra_summary: dict | None = None,
        source_ts_ms: int | None = None,
    ) -> dict:
        """Apply one micro-batch to this engine's table: the one-engine
        call of :func:`apply_batch_set`."""
        return apply_batch_set(
            [(None, self, batch_id)], env, kind=kind, offsets=offsets,
            mode=mode, refetch_ids=refetch_ids, extra_summary=extra_summary,
            source_ts_ms=source_ts_ms,
        )[0]

    def _plan_batch(
        self, env: DataFrame, *, t: int, shared: bool, batch_id: int,
        kind: str, offsets: dict | None, extra_summary: dict | None,
    ) -> "_Plan":
        """This table's side-effect passes (DLQ, transaction markers,
        truncate) and everything its write needs from its manifest."""
        if self.cfg.dlq_enabled:
            env = self._quarantine_malformed(env, batch_id)
        if self.cfg.provide_transaction_metadata:
            # TransactionMonitor analog: BEGIN/END markers for every tx in
            # this micro-batch land in the <meta>/tx metadata table
            from .txmetadata import transaction_markers

            transaction_markers(env).withColumn(
                "__batch", F.lit(batch_id)
            ).write.mode("overwrite").parquet(
                os.path.join(
                    self.table.meta_dir, "tx",
                    f"batch-{self._writer_tag()}-{batch_id}",
                )
            )
        if self.cfg.truncate_enabled:
            # K4 truncate ordering: a TRUNCATE at offset T discards all
            # earlier state AND all earlier events in this batch; only
            # events after the last truncate survive the reduce. (The
            # reference flushes all buffers then truncates —
            # JdbcChangeEventSink.java:72-158; batch form: same effect.)
            # One aggregate job — only the max truncate offset is needed.
            t_max = env.filter(F.col("op") == "t").agg(
                F.max("offset")
            ).first()[0]
            if t_max is not None:
                self.table.delete_where("true", batch_id=batch_id)
                env = env.filter(F.col("offset") > t_max)
        m = self.table.manifest()
        # offsets=None (e.g. incremental snapshot: no stream progress) must
        # carry the prior checkpoint forward, not wipe it; and a batch whose
        # data-derived offsets lag the committed checkpoint (redelivered /
        # out-of-order micro-batch) must never REGRESS it — the replay
        # resume point only moves forward. Per-partition vectors
        # ("parts", north rule: per-partition offset checkpoints) merge
        # pointwise-max for the same reason.
        prev = m.summary.get("offsets", {})
        if offsets is None:
            summary = {"offsets": prev}
        elif int(prev.get("next", 0)) > int(offsets.get("next", 0)):
            summary = {"offsets": prev}
        else:
            merged = dict(offsets)
            if "parts" in offsets or "parts" in prev:
                from .offsets import OffsetVector

                merged["parts"] = (
                    OffsetVector.from_summary(prev.get("parts", {}))
                    .merge(OffsetVector.from_summary(offsets.get("parts", {})))
                    .to_summary()
                )
            summary = {"offsets": merged}
        if extra_summary:
            summary.update(extra_summary)
        return _Plan(self, t, shared, batch_id, env, m,
                     self._reconcile_schema(env, m), summary)

    def _finish_batch(
        self, p: "_Plan", res: dict, *, kind: str, offsets: dict | None,
        t0: float, strategy: str, source_ts_ms: int | None,
    ) -> dict:
        """After the commit: expiry, the metrics row, the offset mirror."""
        if self.cfg.expire_keep_last > 0:
            self.table.expire_versions(keep_last=self.cfg.expire_keep_last)
        wall = time.time() - t0
        n_events = offsets["next"] - offsets["lo"] if offsets else -1
        extra_metrics = {}
        if source_ts_ms is not None:
            # StreamingChangeEventSourceMetricsMXBean
            # MilliSecondsBehindSource: commit wall-clock minus the
            # batch's high-watermark SOURCE event time, supplied by the
            # caller that knows it (no extra agg job in the hot path)
            extra_metrics["ms_behind_source"] = (
                int(time.time() * 1000) - source_ts_ms
            )
        self.metrics.record(
            kind=kind, batch_id=p.batch_id, n_events=n_events,
            offsets=offsets, wall_sec=round(wall, 3),
            version=res.get("version"), skipped=res.get("skipped", False),
            affected_buckets=res.get("affected_buckets"),
            strategy=strategy, **extra_metrics,
        )
        if (
            self.offset_store is not None
            and not res.get("skipped")
            and p.summary.get("offsets")
        ):
            # post-commit mirror (observability / sink migration); the
            # summary just committed is the authoritative copy. An
            # offset-less commit (empty dict) must NOT overwrite a
            # migrated resume point with nothing.
            self.offset_store.save(p.summary["offsets"])
        return {**res, "wall_sec": wall}


def _journaled_as(entry: dict, offset: int, change) -> bool:
    """Whether schema-journal ``entry`` records the change ``(offset,
    change)``: the same offset and changes, or for a DDL string the same
    statement text. An entry whose identity is unknown — rebuilt by
    recovery (``base_epoch`` None), or a DDL entry journaled without its
    text — matches any change at its offset."""
    if entry["offset"] != offset:
        return False
    if entry.get("base_epoch") is None:
        return True
    if isinstance(change, str):
        return entry.get("ddl", change) == change
    return entry["changes"] == change


@dataclass
class _Plan:
    """One table's share of a batch, decided before the write."""

    engine: CdcEngine
    t: int  # the table's index in the batch set
    shared: bool  # env is the whole batch, tagged with the ``__t`` index
    batch_id: int
    env: DataFrame
    m: Manifest  # the table's manifest at plan time
    reconcile: tuple  # _reconcile_schema(env, m)
    summary: dict

    def group_key(self) -> tuple:
        """Tables that can share one reduce and one write: same lake root,
        key and row schema, and the same envelope → row mapping. Any other
        sink, or a table with its own slice, is a group of one."""
        table = self.engine.table
        if not (self.shared and isinstance(table, LakeTable)):
            return ("own", self.t)
        return (table.root, tuple(self.m.key_cols),
                tuple((f.name, f.type) for f in self.m.fields),
                repr(self.reconcile))


def apply_batch_set(
    batch: list[tuple[object, CdcEngine, int]], env: DataFrame, *,
    kind: str, route: Column | None = None, offsets: dict | None = None,
    mode: str | None = None,
    refetch_ids: Callable[[DataFrame], DataFrame] | None = None,
    extra_summary: dict | None = None, source_ts_ms: int | None = None,
) -> list[dict]:
    """Apply one micro-batch to every table of ``batch`` — a list of
    (route value, engine, batch id) — as one job set: plan, write, commit,
    finish. Returns one result per entry.

    ``route`` (multi-table): a Column naming each row's table; a row goes
    to the entry whose route value it equals, and rows of no entry drop
    out. The engines share one config but for the writer. One engine and
    no route is :meth:`CdcEngine._apply_batch`.

    1. Fence: a table whose writer already committed its batch id drops
       out before anything runs.
    2. Plan: op filter and transforms once; per table, its side-effect
       passes (only when DLQ, transaction markers or truncate are on —
       those, and reselect, give each table its own slice) and its
       offsets summary. The strategy and the AQE toggle are decided once.
    3. Write: per group of tables with one row schema and key
       (:meth:`_Plan.group_key`), one flatten and one reduce keyed by
       (table, key), then :func:`~sparkcdc.lake.merge_tables`: one
       (table, bucket)-partitioned write and one manifest flip per table.
       A table that loses its flip race retries alone.
    4. Finish, per table: compaction when due, expiry, metrics row and
       offset mirror."""
    t0 = time.time()
    out: list[dict | None] = [None] * len(batch)
    live = []
    for t, (_, eng, bid) in enumerate(batch):
        # fence FIRST: a redelivered batch must be a TOTAL no-op. Side
        # effects below (truncate!, DLQ writes) before the merge's own
        # fence would re-execute on redelivery — a redelivered truncate
        # would wipe state the fenced merge then never restores.
        if bid <= eng.committed_batch():
            out[t] = {
                "version": eng.table.current_version(),
                "skipped": True, "reason": "fenced", "wall_sec": 0.0,
            }
        else:
            live.append(t)
    if not live:
        return out
    lead = batch[live[0]][1]
    cfg = lead.cfg
    skips = [
        s.strip() for s in cfg.skipped_operations.split(",")
        if s.strip() and s.strip() != "none"
    ]
    if skips:
        bad = set(skips) - {"c", "u", "d", "t"}
        if bad:
            raise ValueError(f"skipped_operations: unknown ops {bad}")
        env = env.filter(~F.col("op").isin(skips))
    for tf in cfg.transforms:
        env = tf(env)
    if route is not None:
        index = F.create_map(*[F.lit(x) for t in live
                               for x in (batch[t][0], t)])
        env = env.withColumn("__t", index[route]).filter(
            F.col("__t").isNotNull())
    # the DLQ/truncate/tx probes would each re-evaluate the whole
    # upstream pipeline (source + transforms); persist the batch ONCE so
    # every pass downstream — probes, quarantine write, the reduce —
    # reads the cached envelope instead of recomputing it. The hot
    # replay path (no DLQ/no truncate/no tx markers) stays persist-free.
    persisted = (cfg.dlq_enabled or cfg.truncate_enabled
                 or cfg.provide_transaction_metadata)
    own = route is not None and bool(
        persisted or cfg.reselect_unavailable_columns)
    if persisted:
        env = env.persist()
    try:
        plans = [
            batch[t][1]._plan_batch(
                env.filter(F.col("__t") == t).drop("__t") if own else env,
                t=t, shared=route is not None and not own,
                batch_id=batch[t][2], kind=kind, offsets=offsets,
                extra_summary=extra_summary,
            )
            for t in live
        ]
        strategy = cfg.reduce_strategy
        if strategy == "auto":
            strategy = lead._choose_strategy(kind, refetch_ids)
        if strategy == "refetch" and (
            refetch_ids is None or kind != "replay" or route is not None
        ):
            # non-replay batches, unseekable sources, and multi-table
            # batches (re-fetched rows carry no table index)
            strategy = "fat"
        groups: dict[tuple, list[_Plan]] = {}
        for p in plans:
            groups.setdefault(p.group_key(), []).append(p)
        # AQE policy (see EngineConfig.merge_adaptive): the fat/refetch
        # plans are join-free, so AQE only adds per-stage driver sync —
        # turn it off for exactly this execution and restore after
        aqe_restore = None
        if (
            cfg.merge_adaptive == "auto"
            and strategy in ("fat", "refetch")
            and not cfg.reselect_unavailable_columns
        ):
            aqe_restore = lead.spark.conf.get(
                "spark.sql.adaptive.enabled", "true"
            )
            lead.spark.conf.set("spark.sql.adaptive.enabled", "false")
        results: dict[int, dict] = {}
        try:
            for group in groups.values():
                results.update(_write_group(
                    group, cfg, strategy=strategy, refetch_ids=refetch_ids,
                    mode=mode or cfg.commit_mode, split=len(groups) > 1,
                ))
            # MOR bookkeeping: fold down any bucket that has accumulated
            # its delta budget (bounds read amplification + disk growth);
            # the compaction is bucket-aligned and exchange-free
            # (lake.compact)
            for p in plans:
                if results[p.t].get("skipped"):
                    continue
                table = p.engine.table
                due = {
                    b for b, c in table.delta_counts().items()
                    if c >= cfg.compact_max_deltas
                }
                if due:
                    table.compact(buckets=due)
        finally:
            if aqe_restore is not None:
                lead.spark.conf.set(
                    "spark.sql.adaptive.enabled", aqe_restore
                )
        for p in plans:
            out[p.t] = p.engine._finish_batch(
                p, results[p.t], kind=kind, offsets=offsets, t0=t0,
                strategy=strategy, source_ts_ms=source_ts_ms,
            )
    finally:
        if persisted:
            env.unpersist()
    return out


def _write_group(
    group: list[_Plan], cfg: EngineConfig, *, strategy: str,
    refetch_ids, mode: str, split: bool,
) -> dict[int, dict]:
    """One flatten, one reduce keyed by (table, key) and one write for a
    group of tables; returns each table's commit result. ``split``: other
    groups share the batch, so keep this group's rows only."""
    p0 = group[0]
    m = p0.m
    src_map, null_types, null_defaults = p0.reconcile
    row_cols = [f.name for f in m.fields]
    carry = ("__t",) if p0.shared else ()
    env = p0.env
    if p0.shared and split:
        env = env.filter(F.col("__t").isin([p.t for p in group]))
    flatten = dict(src_map=src_map, null_types=null_types,
                   null_defaults=null_defaults, carry=carry)
    cached = None
    if strategy == "refetch":
        # Two-phase reduce for seekable sources: phase 1 reduces a
        # (key, offset)-only projection — Catalyst column pruning means
        # the payload columns are never computed/fetched and map-side
        # partial aggregation collapses the batch to ≤ #keys rows per
        # task before the (tiny) shuffle. Phase 2 re-fetches ONLY the
        # winning offsets' full records. Payload work: O(keys), not
        # O(batch). (Kafka `seek`, log-store range reads, and the
        # closed-form generator all support phase 2; cf. the
        # reference's ReselectColumnsPostProcessor re-querying the
        # source, core/processors/reselect/*.java:51.)
        keys_only = apply_mod.envelopes_to_changes(env, m.key_cols, **flatten)
        winning = (
            keys_only.groupBy(*m.key_cols)
            .agg(F.max("offset").alias("offset"))
            .select(F.col("offset").alias("id"))
        )
        env_w = refetch_ids(winning)
        # the SMT chain ran on the phase-1 batch; re-fetched records
        # need it too (projections like masking; filters re-apply
        # idempotently)
        for tf in cfg.transforms:
            env_w = tf(env_w)
        # one row per key by construction
        changes = apply_mod.envelopes_to_changes(env_w, row_cols, **flatten)
    else:
        flat = apply_mod.envelopes_to_changes(env, row_cols, **flatten)
        if strategy == "narrow_cached":
            # persist the flattened batch so the narrow semi-join's
            # probe side reads the cache instead of re-evaluating the
            # source; unpersisted once the commit materialized the result
            cached = flat = flat.persist()
        changes = apply_mod.reduce_last_write_wins(
            flat, [*carry, *m.key_cols], salt_buckets=cfg.salt_buckets,
            strategy="narrow" if cached is not None else strategy,
        )
    changes = changes.select(*row_cols, "_op", *carry)
    if cfg.reselect_unavailable_columns:
        from .transforms.reselect import reselect_columns

        changes = reselect_columns(
            p0.engine.table.read(), m.key_cols,
            cfg.reselect_unavailable_columns,
        )(changes)
    if len(group) == 1:
        first: dict = {p0.t: None}
    else:
        first = merge_tables(changes, {
            p.t: MergeCommit(p.engine.table, p.batch_id, p.engine.cfg.writer,
                             p.summary, mode)
            for p in group
        })
    results = {}
    for p in group:
        res = first[p.t]
        if not isinstance(res, dict):
            # not attempted yet (one table), or this table lost its flip
            # race (CommitConflict): commit it alone, with retries
            res = p.engine._merge_with_retry(
                changes.filter(F.col("__t") == p.t).drop("__t")
                if carry else changes,
                batch_id=p.batch_id, summary=p.summary, mode=mode,
                conflict=res,
            )
        results[p.t] = res
    if cached is not None:
        cached.unpersist()
    return results


def default_engine(
    spark: SparkSession,
    root: str,
    name: str = "source_code_repos",
    n_buckets: int = 16,
    config: EngineConfig | None = None,
    history_store=None,
    offset_store=None,
) -> CdcEngine:
    """Create-or-load the north-star table and wrap it in an engine."""
    if LakeTable.exists(root, name):
        table = LakeTable.load(spark, root, name)
    else:
        table = LakeTable.create(
            spark, root, name,
            fields=[(n, "string") for n, _ in REPO_ROW_FIELDS],
            key_cols=REPO_KEY, n_buckets=n_buckets,
        )
    return CdcEngine(spark, table, config, history_store=history_store,
                     offset_store=offset_store)
