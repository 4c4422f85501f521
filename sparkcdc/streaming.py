"""Structured Streaming front-end: an envelope stream drained through
``foreachBatch`` into the same reduce→MERGE→commit path as batch replay.

This is the online form of the engine (reference: the connector streaming
phase, ChangeEventSourceCoordinator.streamEvents :313-335). Debezium's
queue+poll loop (ChangeEventQueue.java:62-105) maps onto Spark's
micro-batch executor:

- any offset-carrying stream plays the binlog client. Here the *rate*
  source's monotonically increasing ``value`` is the global event offset,
  fed through the same closed-form envelope synthesis as batch replay
  (``cdc_events_over_ids``) — streamed and batch replays of the same
  offsets are byte-identical. At scale, swap in
  ``spark.readStream.format("kafka")`` + ``from_json``; everything from
  the envelope on is unchanged (one log abstraction: ordered per-partition
  offsets).
- ``foreachBatch`` is the poll boundary: each micro-batch is reduced per
  key and MERGEd. Spark redelivers a micro-batch after a crash before the
  checkpoint commit (at-least-once); the engine's (writer, batch_id) fence
  turns the redelivery into a no-op — the exactly-once recipe of the
  reference (at-least-once + idempotent sink, EmbeddedEngine.java:885-902)
  with the idempotence made explicit. The streaming batch id is stable
  across redeliveries, so it IS the fence token.
- one ``foreachBatch`` body serves both front-ends (:func:`start_stream`
  and :func:`start_multi_stream`): it persists the micro-batch, probes its
  offsets with ONE query (``offsets.batch_offsets``: per-partition
  min/max; zero rows = empty batch, skipped) and hands batch, id and
  offsets to the apply. Before the query starts, a checkpoint that has
  no committed offsets under a fence that has committed stream batches
  is refused (``ValueError``): Spark would restart its batch ids at 0
  and the fence would drop every live batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .engine import CdcEngine
from .envelope import cdc_events_over_ids
from .offsets import batch_offsets


def rate_envelope_stream(
    engine: CdcEngine, rows_per_second: int = 100_000
) -> DataFrame:
    """Streaming envelope DataFrame driven by the rate source (value =
    global event offset)."""
    cfg = engine.cfg
    rate = (
        engine.spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return cdc_events_over_ids(
        rate.select(F.col("value").alias("id")),
        n_keys=cfg.n_keys, n_parts=cfg.n_parts, seed=cfg.seed,
        hot_key_permille=cfg.hot_key_permille,
        content_chars=cfg.content_chars,
    )


def json_envelope_stream(
    engine: CdcEngine, path: str, row_fields=None,
    failure_handling: str = "keep",
) -> DataFrame:
    """Serialized-envelope ingestion: a JSON-lines file stream → vectorized
    ``from_json`` parse → typed envelopes. This is the sandbox stand-in for
    the reference's most-used deployment — consuming real wire records
    (EmbeddedEngine.java:432 handleBatch; Kafka-sourced envelopes). The
    Kafka swap is one line: replace ``readStream.text`` with
    ``readStream.format('kafka')...selectExpr("CAST(value AS STRING)")`` —
    everything from the parse on is identical."""
    from .transforms.serialize import parse_envelope_json

    raw = engine.spark.readStream.text(path)
    return parse_envelope_json(raw, row_fields, failure_handling=failure_handling)


def wire_envelope_stream(
    engine: CdcEngine,
    path: str,
    wire_format: str,
    row_fields,
    key_cols: list[str],
    *,
    source_table: str | None = None,
    database: str | None = None,
    failure_handling: str = "skip",
) -> DataFrame:
    """Streaming ingestion of SHIPPED wire formats — the deployment a real
    binlog/WAL tailer feeds: Maxwell / wal2json / change-stream / LogMiner
    lines land in files (or Kafka), Spark streams and parses them into
    envelopes, ``start_stream`` applies them with the batch fence.

    Every supported parser is a stateless projection (plan-asserted in its
    source tests), so it runs unmodified on a streaming DataFrame — the
    micro-batch boundary never splits the meaning of a line. ``sqlserver``
    is refused: its operation-3/4 pairing is an aggregation whose pair can
    straddle a micro-batch boundary (a tailer may flush the before-row and
    after-row of one update into different files); pairing across batches
    would need keyed state with no bound. Use the batch path
    (``cli.py ingest --format sqlserver``), whose commit-next-at-boundary
    watermark re-reads the possibly-incomplete max-LSN transaction on the
    next run.

    The Kafka swap is the same one line as :func:`json_envelope_stream`:
    ``readStream.format('kafka')...selectExpr("CAST(value AS STRING)")``.

    Dispatch and per-format argument mapping live in
    :func:`sparkcdc.sources.wire.parse_wire_lines` — one table shared
    with the batch CLI, so the two surfaces cannot drift. The parser is
    handed the ENGINE's ``cfg.n_parts``: the committed per-partition
    offset vector keys on ``part_id``, and a parser hashing into a
    different partition count would make the vector's pointwise-max
    merge compare unrelated key populations.
    """
    from .sources.wire import parse_wire_lines

    raw = engine.spark.readStream.text(path)
    return parse_wire_lines(
        raw, wire_format, row_fields, key_cols,
        source_table=source_table, database=database,
        n_parts=engine.cfg.n_parts, failure_handling=failure_handling,
        streaming=True,
    )


def default_checkpoint_dir(engine: CdcEngine) -> str:
    """Deterministic checkpoint location under the table's meta dir.

    The streaming batch id is the fence token, and Spark only keeps batch
    ids stable across restarts when the SAME checkpoint dir is reused — a
    fresh tempdir per run would restart ids at 0 while the table fence
    retains the prior run's last_batch, silently fencing out live batches
    (data loss). Deriving the dir from the table root makes restart-safety
    the default; ``_start`` refuses a checkpoint that is behind the fence."""
    return os.path.join(engine.table.meta_dir, "stream_ckpt")


def _start(
    apply, engines: list[CdcEngine], envelope_stream: DataFrame,
    checkpoint_dir: str, trigger_interval: str, available_now: bool,
) -> StreamingQuery:
    """The one ``foreachBatch`` front-end: guard the checkpoint against the
    fences of ``engines``, then drain ``envelope_stream`` into ``apply``
    (``CdcEngine._apply_batch`` or ``MultiTableEngine.apply_batch``)."""
    fenced = [e.cfg.writer for e in engines if e.committed_batch() >= 0]
    if fenced:
        spark = envelope_stream.sparkSession
        path = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "offsets")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not (fs.exists(path) and any(
            st.getPath().getName().isdigit() for st in fs.listStatus(path)
        )):
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} has no committed offsets, "
                f"but the fences of {fenced} hold committed stream "
                f"batches: Spark would restart batch ids at 0 and the "
                f"fences would drop every live batch. Restart with the "
                f"checkpoint the stream last ran with."
            )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist ONCE: the offsets probe and the reduce->merge pipeline
        # would otherwise each re-evaluate the micro-batch from source
        batch_df = batch_df.persist()
        try:
            offsets = batch_offsets(batch_df)
            if offsets is not None:
                apply(batch_df, batch_id=batch_id, kind="stream",
                      offsets=offsets)
        finally:
            batch_df.unpersist()

    # availableNow = bounded backlog drain: process everything currently
    # available, then stop (the batch-catchup mode of the connector)
    trigger = ({"availableNow": True} if available_now
               else {"processingTime": trigger_interval})
    return (envelope_stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger).start())


def start_stream(
    engine: CdcEngine,
    envelope_stream: DataFrame,
    checkpoint_dir: str | None = None,
    *,
    trigger_interval: str = "1 second",
    available_now: bool = False,
) -> StreamingQuery:
    """Attach the engine to an envelope stream; returns the running query.

    Fencing is scoped to a dedicated ``<writer>:stream`` namespace
    (:meth:`CdcEngine.derived`) so a batch ``replay`` on the same table
    (writer='engine', its own batch-id sequence) can never collide with
    streaming batch ids. Batch offsets are taken from the data (one
    per-partition min/max query), keeping the manifest's lineage identical
    to batch replay; the engine clamps the committed offset so a
    redelivered early batch can't regress the checkpoint."""
    stream_engine = engine.derived(":stream")
    return _start(
        stream_engine._apply_batch, [stream_engine], envelope_stream,
        checkpoint_dir or default_checkpoint_dir(engine),
        trigger_interval, available_now,
    )


def start_multi_stream(
    mte,
    envelope_stream: DataFrame,
    checkpoint_dir: str | None = None,
    *,
    trigger_interval: str = "1 second",
    available_now: bool = False,
) -> StreamingQuery:
    """One envelope stream → many sink tables: the streaming front-end of
    :class:`~sparkcdc.multitable.MultiTableEngine` (the reference's
    one-connector/topic-per-table shape, §3.2). Each micro-batch goes
    through the SAME ``source.table`` splitter as batch ``apply_batch`` and
    is committed per table with the Spark streaming batch id as the fence
    token — fences live in a dedicated ``:stream``-suffixed writer
    namespace per table (via :meth:`MultiTableEngine.derived`) so batch
    replays on the same tables can never collide. The shared offset vector
    advances over the whole slice for EVERY table, touched or not, so a
    restart never re-reads offsets any table already covered.

    The checkpoint dir defaults to ``multi_stream_ckpt`` under the
    first captured table's meta dir. A change to the captured set can
    move that default; a restart whose checkpoint is then behind the
    tables' fences raises instead of dropping live batches."""
    stream_mte = mte.derived(":stream")
    if checkpoint_dir is None:
        first = stream_mte.engines[min(stream_mte.engines)]
        checkpoint_dir = os.path.join(first.table.meta_dir,
                                      "multi_stream_ckpt")
    return _start(
        stream_mte.apply_batch, list(stream_mte.engines.values()),
        envelope_stream, checkpoint_dir, trigger_interval, available_now,
    )


def stateful_lww_stream(
    env_stream: DataFrame,
    row_fields: list[tuple[str, T.DataType]],
    key_cols: list[str],
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Materialize per-key last-write-wins state INSIDE the streaming
    state store — ``applyInPandasWithState`` instead of a lake table.

    This is the reference's in-memory materialization shape (the
    event-consumer keeping "current row per key" without a sink;
    ReducedRecordBuffer semantics held as streaming state) for pipelines
    that want the changelog's current image pushed downstream per
    micro-batch — alerting, caches, feature stores — with no table commit
    in the loop.

    Semantics per key, identical to ``apply.reduce_last_write_wins``:
    the highest-offset event wins; a delete clears the state (and emits a
    tombstone row with ``_op='d'``); late/duplicate events with offsets
    <= the stored offset are ignored — which makes the operator
    IDEMPOTENT under micro-batch redelivery, the same fence philosophy as
    the sink path, just keyed on offsets instead of batch ids.

    Emits one row per key per micro-batch in which that key changed:
    key cols + row cols + (_op, offset). State per key is one row + one
    offset — O(live keys) total, hash-partitioned by Spark's state store;
    ``timeout_ms`` (processing-time) expires idle keys, bounding state for
    TTL-style caches.

    Scale: the state store shuffles by key exactly once per batch (the
    same exchange the reduce would need); Arrow moves rows in batches,
    and state ops stay per-group. At 100 TB-of-log scale the bottleneck
    is live-key cardinality — the operator is for the current-image
    streams (caches, features), not for corpus-sized key spaces, which
    belong to the lake MERGE path.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    row_cols = [n for n, _ in row_fields]
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in row_fields]
        + [
            T.StructField("_op", T.StringType(), True),
            T.StructField("offset", T.LongType(), True),
        ]
    )
    # state = the winning row's values (as a tuple) + its offset + alive
    state_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in row_fields]
        + [
            T.StructField("__offset", T.LongType(), True),
            T.StructField("__alive", T.BooleanType(), True),
        ]
    )

    flat = env_stream.select(
        *[
            F.coalesce(F.col(f"after.{n}"), F.col(f"before.{n}")).alias(n)
            for n in row_cols
        ],
        F.col("op").alias("_op"),
        F.col("offset"),
    ).filter(F.col("_op").isin("c", "u", "r", "d"))

    def fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            cur = list(state.get)
        else:
            cur = [None] * len(row_cols) + [-1, False]
        off_i, alive_i = len(row_cols), len(row_cols) + 1
        advanced = False
        for pdf in pdf_iter:
            # positional access: pandas itertuples renames _-prefixed
            # columns, so resolve indices once per Arrow batch
            cols = list(pdf.columns)
            op_x = cols.index("_op")
            off_x = cols.index("offset")
            row_x = [cols.index(n) for n in row_cols]
            for r in pdf.sort_values("offset").itertuples(
                index=False, name=None
            ):
                if r[off_x] <= cur[off_i]:
                    continue  # late or redelivered — fenced by offset
                advanced = True
                if r[op_x] == "d":
                    cur = [None] * len(row_cols) + [int(r[off_x]), False]
                else:
                    cur = [r[i] for i in row_x] + [int(r[off_x]), True]
        if not advanced:
            # every event in this batch was late/redelivered — no state
            # change, no emission (the keep-alive still refreshes the TTL)
            if state.exists and timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
            return
        state.update(tuple(cur))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        op = "u" if cur[alive_i] else "d"
        vals = cur[:off_i] if cur[alive_i] else [None] * len(row_cols)
        # tombstones still carry the key so downstreams can evict
        for i, n in enumerate(row_cols):
            if n in key_cols and vals[i] is None:
                vals[i] = key[key_cols.index(n)]
        yield pd.DataFrame(
            [vals + [op, cur[off_i]]],
            columns=row_cols + ["_op", "offset"],
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return flat.groupBy(*key_cols).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def windowed_change_metrics(
    env_stream: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    by_op: bool = True,
) -> DataFrame:
    """Watermarked per-window change-rate metrics over an envelope stream
    (the streaming form of the reference's ChangeEventQueueMetrics /
    StreamingChangeEventSourceMetrics counters: events per interval,
    split by operation).

    ``ts_ms`` (source event time, not arrival time) drives the window, so
    the numbers mean "changes the DATABASE saw in that interval" even
    when the tailer ships late or bursty. The watermark bounds state:
    windows older than (max event time - watermark) finalize, emit once
    in append mode, and evict; events arriving later than that are
    DROPPED from the aggregation — the documented late-data contract, and
    the right one for monitoring (a metric that silently rewrites history
    is worse than one that admits a cutoff).

    Output (append mode): window struct + [op +] ``events`` (row count),
    ``parts_seen`` (approx distinct source partitions — a liveness
    signal, bounded by n_parts, NOT key cardinality), ``max_offset``.
    Partial aggregation happens map-side; state is O(open windows × ops).
    """
    evt = env_stream.withColumn(
        "__evt_ts", (F.col("ts_ms") / 1000).cast("timestamp")
    ).withWatermark("__evt_ts", watermark)
    keys = [F.window("__evt_ts", window).alias("window")]
    if by_op:
        keys.append(F.col("op"))
    return evt.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("events"),
        F.approx_count_distinct("part_id").alias("parts_seen"),
        F.max("offset").alias("max_offset"),
    )
