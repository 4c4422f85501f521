"""Envelope -> change-set pipeline: parse, filter, per-key last-write-wins
reduction (with optional two-level salted aggregation for hot keys), producing
the one-row-per-key batch that LakeTable.merge applies.

Reference semantics being reproduced:
- ReducedRecordBuffer.java:24-79 — per-PK last-write-wins within a batch
  (a HashMap overwrite in the reference; here a max_by aggregation, which
  Catalyst executes with map-side partial aggregation before the shuffle —
  the vectorized, distributed equivalent).
- JdbcChangeEventSink.java:72-158 flush-ordering rules (delete flushes the
  key's pending upsert and vice versa) — collapse to nothing once the batch
  is reduced by (part_id, offset) order: only the final op per key survives.
- Tombstones (EventDispatcher.java:519) and MESSAGE/TRUNCATE ops are
  filtered out pre-reduce (DebeziumSinkRecord.java:38-50 predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ordering columns — the per-partition total order (binlog file/pos analog)
ORDER_COLS = ["offset"]


def envelopes_to_changes(
    df: DataFrame,
    row_cols: list[str],
    *,
    src_map: dict[str, str | None] | None = None,
    null_types: dict[str, str] | None = None,
    null_defaults: dict[str, object] | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Flatten envelopes into change rows: row columns + _op + ordering
    (+ the ``carry`` columns of the envelope, e.g. a table index).

    op mapping: r/c/u -> upsert of ``after``; d -> delete identified by
    ``before`` key columns; tombstones / t / m dropped.

    ``src_map`` maps each output column to the field name carried in the
    envelope (schema reconciliation across renames — the engine derives it
    by field id, SURVEY §1.2); ``None`` = column didn't exist at the
    event's schema epoch → NULL of ``null_types[col]``.
    """
    work = df.filter(
        (~F.col("tombstone")) & F.col("op").isin("r", "c", "u", "d")
    )
    is_del = F.col("op") == "d"
    src_map = src_map or {}
    cols = []
    for c in row_cols:
        src = src_map.get(c, c)
        if src is None:
            fill = (null_defaults or {}).get(c)
            cols.append(
                F.lit(fill).cast((null_types or {}).get(c, "string")).alias(c)
            )
        else:
            cols.append(
                F.when(is_del, F.col(f"before.{src}"))
                .otherwise(F.col(f"after.{src}"))
                .alias(c)
            )
    return work.select(
        *cols,
        F.when(is_del, F.lit("d")).otherwise(F.lit("u")).alias("_op"),
        F.col("part_id"),
        F.col("offset"),
        *carry,
    )


def reduce_last_write_wins(
    changes: DataFrame,
    key_cols: list[str],
    *,
    order_cols: list[str] | None = None,
    salt_buckets: int = 0,
    strategy: str = "auto",
    cache: bool = False,
) -> DataFrame:
    """Reduce to one row per key: the row with the max ordering tuple wins.

    strategy:
    - ``narrow``: shuffle ONLY (key, order) — a plain ``max`` that
      hash-aggregates with map-side partial combine — then semi-join the
      winners back to the batch. The fat payload (content!) is NEVER
      shuffled: at production row widths this cuts shuffle bytes ~6×.
      Requires the order column to be unique per key within the batch
      (true for log offsets). The winners side is left UN-hinted: AQE
      broadcasts it at runtime when it fits, and falls back to a shuffled
      join when the distinct-key count is too large to broadcast — the
      mandatory ``F.broadcast`` hint had a cliff at ~10^8 keys/batch
      (driver OOM), so the optimizer decides from the REAL post-shuffle
      size. Pass ``cache=True`` when ``changes`` is expensive to recompute
      (a parsed external stream): the probe side then reads the persisted
      batch instead of re-evaluating the source. The caller must
      materialize the result before the input goes out of scope.
    - ``fat``: classic single-pass ``max_by(row_struct, order)``
      (hash-aggregated — session config raises the ObjectHashAggregate
      sort fallback threshold).

    ``salt_buckets > 0`` (fat path) enables two-level aggregation for
    skewed keys (SURVEY §4(c)): a first max_by per (key, salt) shrinks a
    hot key's rows to ``salt_buckets`` candidates before the final per-key
    reduce. The narrow path needs no salting at all — a hot key's partial
    ``max`` combines map-side, so no reducer ever sees the full hot-key
    stream.
    """
    order_cols = order_cols or ORDER_COLS
    if strategy == "auto":
        # measured: fat wins unless the winners set is small enough to
        # broadcast AND rows are wide; callers opt into narrow explicitly
        strategy = "fat"
    if strategy == "narrow":
        oc = order_cols[0]
        if cache:
            changes = changes.persist()
        winners = changes.groupBy(*key_cols).agg(F.max(oc).alias(oc))
        return changes.join(winners, on=[*key_cols, oc], how="left_semi")
    return _reduce_lww_fat(
        changes, key_cols, order_cols=order_cols, salt_buckets=salt_buckets
    )


def _reduce_lww_fat(
    changes: DataFrame,
    key_cols: list[str],
    *,
    order_cols: list[str],
    salt_buckets: int = 0,
) -> DataFrame:
    order_cols = order_cols or ORDER_COLS
    payload = [c for c in changes.columns if c not in key_cols]
    row = F.struct(*[F.col(c) for c in payload])

    def _order():
        # scalar ordering keeps max_by hash-aggregable; a STRUCT ordering
        # key forces SortAggregate (sorts every partition twice — measured
        # ~1.5x slower on 2M-row batches)
        if len(order_cols) == 1:
            return F.col(order_cols[0])
        return F.struct(*[F.col(c) for c in order_cols])

    order = _order()

    if salt_buckets > 0:
        salted = changes.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
        )
        partial = (
            salted.groupBy(*key_cols, "__salt")
            .agg(F.max_by(row, order).alias("__row"))
            .select(*key_cols, "__row.*")
        )
        changes = partial
        row = F.struct(*[F.col(c) for c in payload])
        order = _order()

    reduced = (
        changes.groupBy(*key_cols)
        .agg(F.max_by(row, order).alias("__row"))
        .select(*key_cols, "__row.*")
    )
    return reduced


def change_feed(
    changes: DataFrame,
    key_cols: list[str],
    *,
    lo: int,
    hi: int,
    order_col: str | None = None,
) -> DataFrame:
    """Net change-data-feed between two offsets: per key, diff the LWW
    state as of ``lo`` against the state as of ``hi`` (``lo < hi``) and
    emit one row per key whose *visible* state changed.

    This is the consumer-side read Debezium users run against the sink
    (Delta/Iceberg "change data feed"): what net changes does a
    downstream job have to apply to move from checkpoint ``lo`` to
    checkpoint ``hi``? Intra-window churn collapses — a key updated 50
    times emits once; a key created and deleted inside the window emits
    nothing (matching the reduced-batch merge semantics of
    ReducedRecordBuffer.java:24-79 applied to the window as one batch).

    op semantics on the emitted row:
    - ``c`` — key dead (absent or deleted) at ``lo``, live at ``hi``
      (payload = the hi state, the after-image);
    - ``u`` — live at both ends with any payload column differing
      (payload = the hi state);
    - ``d`` — live at ``lo``, dead at ``hi`` (payload = the lo state,
      the before-image, like the envelope's ``before`` on deletes).

    Scale shape: ONE hash aggregation over the window's rows computes
    both endpoint states — ``max_by`` with a ``when(offset <= lo, ...)``
    ordering ignores NULL-ordered rows, so the lo-state rides the same
    partial-combine shuffle as the hi-state. No self-join of the stream,
    no second scan; shuffle bytes = one reduced row per key.
    """
    oc = order_col or ORDER_COLS[0]
    payload = [c for c in changes.columns if c not in key_cols]
    row = F.struct(*[F.col(c) for c in payload])
    agg = (
        changes.filter(F.col(oc) <= F.lit(hi))
        .groupBy(*key_cols)
        .agg(
            F.max_by(row, F.col(oc)).alias("__hi"),
            F.max_by(row, F.when(F.col(oc) <= F.lit(lo), F.col(oc))).alias(
                "__lo"
            ),
        )
    )
    live_lo = F.col("__lo").isNotNull() & (F.col("__lo._op") != "d")
    live_hi = F.col("__hi._op") != "d"
    # payload equality over the row columns only (not _op/part_id/offset)
    row_cols = [c for c in payload if c not in ("_op", "part_id", "offset")]
    same = F.struct(*[F.col(f"__hi.{c}") for c in row_cols]).eqNullSafe(
        F.struct(*[F.col(f"__lo.{c}") for c in row_cols])
    )
    op = (
        F.when(~live_lo & live_hi, F.lit("c"))
        .when(live_lo & ~live_hi, F.lit("d"))
        .when(live_lo & live_hi & ~same, F.lit("u"))
    )
    img = F.when(op == "d", F.col("__lo")).otherwise(F.col("__hi"))
    return (
        agg.select(*key_cols, op.alias("_change_op"), img.alias("__img"))
        .filter(F.col("_change_op").isNotNull())
        .select(
            *key_cols,
            F.col("_change_op"),
            *[F.col(f"__img.{c}").alias(c) for c in row_cols],
        )
    )


def reduce_envelopes(
    df: DataFrame,
    row_cols: list[str],
    key_cols: list[str],
    *,
    salt_buckets: int = 0,
    src_map: dict[str, str | None] | None = None,
    null_types: dict[str, str] | None = None,
    null_defaults: dict[str, object] | None = None,
) -> DataFrame:
    """envelope batch -> merged change-set ready for LakeTable.merge
    (columns: row_cols + _op, one row per key)."""
    ch = envelopes_to_changes(df, row_cols, src_map=src_map,
                              null_types=null_types, null_defaults=null_defaults)
    red = reduce_last_write_wins(ch, key_cols, salt_buckets=salt_buckets)
    return red.select(*row_cols, "_op")
