"""pgoutput (PostgreSQL's built-in logical replication plugin) → envelopes.

The reference's DEFAULT Postgres decoder
(debezium-connector-postgres/.../connection/pgoutput/PgOutputMessageDecoder.java):
wal2json is an optional plugin, pgoutput ships with the server. No server
exists in this sandbox, so the replication-protocol tail stays out of
scope — but the MESSAGE FORMAT is public (PostgreSQL docs, "Logical
Replication Message Formats", protocol v1) and the slot SQL interface
``pg_logical_slot_peek_binary_changes`` hands it to any client as rows of
``(lsn, xid, data bytea)``. That row shape is this adapter's input: a
parquet/Kafka landing of slot output, parsed into engine envelopes.

Spark-first decomposition of a stateful binary stream protocol:

- **Relation messages ('R') are control plane**: one per captured table
  per connection, carrying the column names the tuple data is positional
  against. They are collected driver-side (bounded by table count ×
  schema epochs, like the signal table) into a rel_id → [(lsn, relation)
  …] registry VERSIONED BY LSN that the data-plane decode closes over —
  the Spark analog of the decoder's in-memory relation cache
  (PgOutputMessageDecoder's ``MessageDecoder#shouldMessageBeSkipped``
  relation bookkeeping), except that where the serial decoder can only
  hold the latest version, the versioned registry lets one landing span
  a mid-stream schema change: each DML decodes against the relation
  in effect AT ITS OWN LSN (a Relation message always precedes the rows
  it describes in WAL order).
- **Begin messages ('B') decode in the same pass as the tuple data**
  (fixed layout: final_lsn int64 ++ commit_ts int64 ++ xid int32), and
  DML envelopes get their ``ts_ms`` by a per-xid window max — high
  cardinality, order-independent — instead of the reference's "remember
  the last Begin" serial stream state. One decode pass over the landing
  instead of a second scan for a Begin-side join.
- **Tuple data ('I'/'U'/'D') is an Arrow-batched binary codec**
  (mapInPandas), the same boundary treatment as the Avro/proto3 codecs:
  variable-length cstrings and per-column loops are not reasonably
  Catalyst-expressible, so the decode runs as a tight per-batch python
  parser emitting (action, rel, before/after maps); everything after it
  (type casts, key routing, envelope assembly) is Catalyst again.

op mapping (Envelope.java:37-63): I→c, U→u, D→d, T→t. Update before
images honor REPLICA IDENTITY: 'K' (key columns), 'O' (full old row), or
absent. Unchanged-TOAST columns ('u') decode to NULL (the reference's
UnchangedToastedPlaceholder needs reselect — transforms/reselect.py —
exactly like any other connector).

Offsets are pg LSNs (``(hi<<32)|lo`` via the shared wal2json codec), so
fencing, resume, and the offset-vector algebra work unchanged.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..envelope import transaction_struct
from .wal2json import long_to_pg_lsn, pg_lsn_to_long
from .wire import assemble_envelope, op_lookup

#: microseconds between the unix epoch and PostgreSQL's 2000-01-01 epoch
PG_EPOCH_US = 946_684_800_000_000

_OP = {"I": "c", "U": "u", "D": "d", "T": "t"}


# ---------------------------------------------------------------------------
# Pure-python message codec (unit-testable without Spark; the emitter and
# the Arrow decode below are thin wrappers over these)
# ---------------------------------------------------------------------------


def _cstr(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def _read_cstr(b: bytes, pos: int) -> tuple[str, int]:
    end = b.index(b"\x00", pos)
    return b[pos:end].decode("utf-8"), end + 1


def encode_begin(final_lsn: int, commit_ts_us_unix: int, xid: int) -> bytes:
    """'B' ++ final_lsn(8) ++ commit_ts(8, µs since 2000-01-01) ++ xid(4)."""
    return b"B" + struct.pack(
        ">qqi", final_lsn, commit_ts_us_unix - PG_EPOCH_US, xid
    )


def encode_commit(commit_lsn: int, end_lsn: int,
                  commit_ts_us_unix: int) -> bytes:
    return b"C" + struct.pack(
        ">bqqq", 0, commit_lsn, end_lsn, commit_ts_us_unix - PG_EPOCH_US
    )


def encode_relation(
    rel_id: int, namespace: str, relname: str,
    columns: list[tuple[str, int, bool]],
    replica_identity: bytes = b"d",
) -> bytes:
    """columns = [(name, type_oid, is_key)]; replident 'd'efault/'f'ull."""
    out = [b"R", struct.pack(">i", rel_id), _cstr(namespace), _cstr(relname),
           replica_identity, struct.pack(">h", len(columns))]
    for name, oid, is_key in columns:
        out += [struct.pack(">b", 1 if is_key else 0), _cstr(name),
                struct.pack(">ii", oid, -1)]
    return b"".join(out)


def encode_tuple(values: list[str | None]) -> bytes:
    """TupleData, text mode: 'n' for NULL, else 't' ++ len ++ utf-8."""
    out = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        else:
            enc = v.encode("utf-8")
            out += [b"t", struct.pack(">i", len(enc)), enc]
    return b"".join(out)


def encode_insert(rel_id: int, new: list[str | None]) -> bytes:
    return b"I" + struct.pack(">i", rel_id) + b"N" + encode_tuple(new)


def encode_update(
    rel_id: int, new: list[str | None],
    old: list[str | None] | None = None, old_kind: bytes = b"K",
) -> bytes:
    mid = (old_kind + encode_tuple(old)) if old is not None else b""
    return b"U" + struct.pack(">i", rel_id) + mid + b"N" + encode_tuple(new)


def encode_delete(rel_id: int, old: list[str | None],
                  old_kind: bytes = b"K") -> bytes:
    return b"D" + struct.pack(">i", rel_id) + old_kind + encode_tuple(old)


def encode_truncate(rel_ids: list[int], options: int = 0) -> bytes:
    return (b"T" + struct.pack(">ib", len(rel_ids), options)
            + b"".join(struct.pack(">i", r) for r in rel_ids))


def parse_relation(b: bytes) -> dict:
    rel_id = struct.unpack_from(">i", b, 1)[0]
    ns, pos = _read_cstr(b, 5)
    rel, pos = _read_cstr(b, pos)
    replident = b[pos:pos + 1].decode()
    ncols = struct.unpack_from(">h", b, pos + 1)[0]
    pos += 3
    cols, keys = [], []
    for _ in range(ncols):
        flags = b[pos]
        name, pos = _read_cstr(b, pos + 1)
        pos += 8  # type oid + atttypmod
        cols.append(name)
        if flags & 1:
            keys.append(name)
    return {"rel_id": rel_id, "namespace": ns, "relname": rel,
            "replica_identity": replident, "columns": cols, "keys": keys}


def _parse_tuple(b: bytes, pos: int) -> tuple[list[str | None], int]:
    ncols = struct.unpack_from(">h", b, pos)[0]
    pos += 2
    vals: list[str | None] = []
    for _ in range(ncols):
        kind = b[pos:pos + 1]
        pos += 1
        if kind in (b"n", b"u"):  # NULL / unchanged TOAST -> NULL
            vals.append(None)
        elif kind in (b"t", b"b"):
            ln = struct.unpack_from(">i", b, pos)[0]
            pos += 4
            raw = b[pos:pos + ln]
            pos += ln
            vals.append(raw.decode("utf-8"))
        else:
            raise ValueError(f"unknown TupleData column kind {kind!r}")
    return vals, pos


def parse_dml(b: bytes) -> dict | None:
    """One 'I'/'U'/'D'/'T' message → {action, rel_id(s), old, new};
    None for non-DML kinds (B/C/R/O/Y/M)."""
    kind = b[:1].decode("latin-1")
    if kind == "T":
        n = struct.unpack_from(">i", b, 1)[0]
        rel_ids = [struct.unpack_from(">i", b, 6 + 4 * i)[0]
                   for i in range(n)]
        return {"action": "T", "rel_ids": rel_ids, "old": None, "new": None}
    if kind not in ("I", "U", "D"):
        return None
    rel_id = struct.unpack_from(">i", b, 1)[0]
    pos = 5
    old = new = None
    if kind == "I":
        pos += 1  # 'N'
        new, pos = _parse_tuple(b, pos)
    elif kind == "D":
        pos += 1  # 'K'|'O'
        old, pos = _parse_tuple(b, pos)
    else:  # U
        marker = b[pos:pos + 1]
        if marker in (b"K", b"O"):
            old, pos = _parse_tuple(b, pos + 1)
        new, pos = _parse_tuple(b, pos + 1)  # skip 'N'
    return {"action": kind, "rel_ids": [rel_id], "old": old, "new": new}


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------


def pg_lsn_text_to_long(s: str) -> int:
    """'X/Y' hex LSN → 64-bit int (python-side twin of the Catalyst
    ``wal2json.pg_lsn_to_long``)."""
    hi, lo = s.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def collect_relations(frames: DataFrame, data_col: str = "data",
                      lsn_col: str = "lsn") -> dict:
    """Driver-side relation registry, VERSIONED BY LSN:
    rel_id → [(lsn_long, parsed Relation) …] ascending. Control-plane
    collect, bounded by (captured tables × schema epochs × connections).
    A landing that spans a mid-stream ALTER carries one Relation message
    per epoch; keeping them all (rather than last-wins) lets each DML
    decode against the relation in effect at its own LSN — see
    :func:`relation_asof`."""
    rows = (
        frames.filter(F.substring(data_col, 1, 1) == F.lit(b"R"))
        .select(lsn_col, data_col).collect()
    )
    rels: dict[int, list[tuple[int, dict]]] = {}
    for r in rows:
        p = parse_relation(bytes(r[1]))
        rels.setdefault(p["rel_id"], []).append(
            (pg_lsn_text_to_long(str(r[0])), p)
        )
    for versions in rels.values():
        versions.sort(key=lambda t: t[0])
    return rels


def relation_asof(registry: dict, rel_id: int, lsn_long: int) -> dict | None:
    """The relation version in effect at ``lsn_long``: the last Relation
    message at-or-before it (a Relation always precedes the rows it
    describes in WAL order). None if the rel_id is unknown or every
    version is later than the row — both are 'no Relation for this row'
    conditions handled by failure_handling."""
    versions = registry.get(rel_id)
    if not versions:
        return None
    import bisect

    i = bisect.bisect_right(versions, lsn_long, key=lambda t: t[0])
    return versions[i - 1][1] if i else None


#: arrays, not maps: the Arrow pandas serializer cannot convert python
#: dicts to map<string,string>; the name→value zip happens Catalyst-side
#: via map_from_arrays over the per-row column-name array. ts_ms is set
#: on 'B' rows only (their commit timestamp) and attached to the DML rows
#: of the same xid by a window max.
_DML_SCHEMA = (
    "lsn string, xid long, action string, db string, tbl string, "
    "cols array<string>, before array<string>, after array<string>, "
    "ts_ms long"
)


def pgoutput_to_envelopes(
    frames: DataFrame,
    row_fields: list[tuple[str, T.DataType]],
    key_cols: list[str],
    *,
    table: str | None = None,
    n_parts: int = 8,
    source_name: str = "sparkcdc",
    failure_handling: str = "skip",
) -> DataFrame:
    """Parse pgoutput slot rows ``(lsn string 'X/Y', xid long, data
    binary)`` into the engine's envelope schema.

    ``table`` filters to one captured relname (the include-list of a
    single-table engine). Truncates become op='t' envelopes (one per
    truncated relation). ``failure_handling``: ``skip`` drops malformed
    messages (parse errors, tuple arity not matching any Relation epoch),
    ``fail`` aborts the batch on the first one. A DML with no Relation
    at or before its LSN always raises: the slice is missing its Relation
    rows, and skipping would silently lose committed rows.

    The input is scanned twice — once by the control-plane registry
    collect, once by the decode (cache the landing if it is expensive to
    produce). Begin rows decode IN the same pass and their commit
    timestamp reaches the DML rows of the same transaction via a per-xid
    window max — order-independent, no second scan, but on a streaming
    frame it would need cross-batch state (a tailer can split a
    transaction's Begin and DMLs across micro-batches); use the batch
    ingest path, like the sqlserver pairing.
    """
    if failure_handling not in ("skip", "fail"):
        raise ValueError(
            f"unknown event.processing.failure.handling.mode "
            f"{failure_handling!r}"
        )
    rels = collect_relations(frames)
    fail = failure_handling == "fail"

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("lsn", "xid", "action", "db", "tbl",
                                   "cols", "before", "after", "ts_ms")}

            def add(lsn, xid, action, db=None, tbl=None, cols=None,
                    before=None, after=None, ts_ms=None):
                for k, v in (("lsn", lsn), ("xid", xid), ("action", action),
                             ("db", db), ("tbl", tbl), ("cols", cols),
                             ("before", before), ("after", after),
                             ("ts_ms", ts_ms)):
                    out[k].append(v)

            for lsn, xid, data in zip(pdf["lsn"], pdf["xid"], pdf["data"]):
                b = bytes(data)
                if b[:1] == b"B":
                    # commit_ts int64 at bytes 9..16, µs since the pg epoch
                    ts_us = struct.unpack_from(">q", b, 9)[0]
                    add(lsn, xid, "B",
                        ts_ms=(ts_us + PG_EPOCH_US) // 1000)
                    continue
                try:
                    d = parse_dml(b)
                except Exception:
                    if fail:
                        raise
                    continue
                if d is None:
                    continue
                row_lsn = pg_lsn_text_to_long(str(lsn))
                for rid in d["rel_ids"]:
                    rel = relation_asof(rels, rid, row_lsn)
                    if rel is None:
                        # not a malformed frame but a slicing error: the
                        # frames hold a committed row without the
                        # Relation that gives its columns. Skipping it
                        # would lose the row while its offset commits, so
                        # this raises under failure_handling="skip" too
                        raise ValueError(
                            f"no Relation message at or before "
                            f"{lsn} for rel_id {rid}: slice the frames "
                            f"with their Relation rows"
                        )
                    ncols = len(rel["columns"])
                    bad = [t for t in (d["old"], d["new"])
                           if t is not None and len(t) != ncols]
                    if bad:
                        if fail:
                            raise ValueError(
                                f"tuple arity {len(bad[0])} does not "
                                f"match relation {rid} at {lsn} "
                                f"({ncols} columns) — epoch mismatch?"
                            )
                        continue
                    add(lsn, xid, d["action"], db=rel["namespace"],
                        tbl=rel["relname"], cols=rel["columns"],
                        before=d["old"], after=d["new"])
            # never yield an empty frame: pandas gives empty columns
            # float64 dtype, which Arrow refuses to cast to list<string>
            if out["lsn"]:
                yield pd.DataFrame(out)

    from pyspark.sql import Window

    parsed = frames.select("lsn", "xid", "data").mapInPandas(
        decode, _DML_SCHEMA
    )
    # per-xid window (high cardinality — one transaction per partition
    # key), order-independent: the Begin may land before or after its
    # DMLs in the frame
    w = Window.partitionBy("xid")
    work = (
        parsed.withColumn(
            "__ts_ms",
            F.max(F.when(F.col("action") == "B", F.col("ts_ms"))).over(w),
        )
        .filter(F.col("action") != "B")
        .drop("ts_ms")
    )
    if table is not None:
        work = work.filter(F.col("tbl") == table)

    def typed_row(vals_col):
        m = F.map_from_arrays(F.col("cols"), vals_col)
        return F.struct(
            *[F.element_at(m, F.lit(n)).cast(t).alias(n)
              for n, t in row_fields]
        )

    op = op_lookup(_OP, F.col("action"))
    offset = pg_lsn_to_long(F.col("lsn"))
    after = typed_row(F.col("after"))
    before = typed_row(F.col("before"))
    has_after = F.col("after").isNotNull()
    has_before = F.col("before").isNotNull()
    key = [
        F.when(has_after, after[c]).otherwise(before[c]) for c in key_cols
    ]
    src = F.struct(
        F.lit(source_name).alias("name"),
        F.col("db").alias("db"),
        F.col("tbl").alias("table"),
        F.lit("false").alias("snapshot"),
        F.col("lsn").alias("file"),
        offset.alias("pos"),
        F.lit(None).cast("int").alias("row"),
        F.lit(None).cast("string").alias("gtid"),
        F.col("__ts_ms").alias("ts_ms"),
    )
    txn = F.when(
        F.col("xid").isNotNull(),
        F.struct(
            F.col("xid").cast("string").alias("id"),
            F.lit(None).cast("long").alias("total_order"),
            F.lit(None).cast("long").alias("data_collection_order"),
        ),
    ).cast(transaction_struct())
    return assemble_envelope(
        work, op=op, ts_ms=F.col("__ts_ms"),
        before=F.when(has_before, before),
        after=F.when(has_after, after),
        source=src, transaction=txn, key=key, offset=offset,
        n_parts=n_parts,
    )


# ---------------------------------------------------------------------------
# Deterministic emitter over the driver's `events` table (tests/oracles)
# ---------------------------------------------------------------------------

#: pg type oids for the emitter's relation message (int8, text, float8)
_EVENT_RELATION_COLS = [
    ("user_id", 20, True), ("event_type", 25, False),
    ("value", 701, False), ("props", 25, False),
]


def events_to_pgoutput_frames(
    events: DataFrame,
    *,
    schema: str = "app",
    table: str = "events",
    rel_id: int = 1,
) -> DataFrame:
    """Deterministic pgoutput slot output over the driver's ``events``
    table — the synthetic decoder feed for tests (the role the server's
    walsender plays). Per event: Begin ++ one I/U/D ++ Commit, all three
    rows carrying lsn = event_id (X/Y form) and xid = event_id, commit
    timestamp from the event's ``ts``. Each PARTITION additionally
    prepends one Relation row (the protocol re-sends Relation per
    connection; the registry collect dedupes by rel_id), so the total
    frame count varies with partitioning while the decoded envelope set
    does not.

    op mapping matches the other emitters (events_adapter.OP_MAP):
    signup→I, error→D, else U; deletes/updates carry a key-only ('K')
    before image, pg's REPLICA IDENTITY DEFAULT.
    """
    rel = encode_relation(rel_id, schema, table, _EVENT_RELATION_COLS)

    def emit(batches):
        import pandas as pd

        first = True
        for pdf in batches:
            rows = {"lsn": [], "xid": [], "data": []}

            def add(lsn, xid, data):
                rows["lsn"].append(lsn)
                rows["xid"].append(xid)
                rows["data"].append(data)

            if first:
                add("0/0", 0, rel)
                first = False
            for r in pdf.itertuples(index=False):
                eid = int(r.event_id)
                lsn = f"{eid >> 32:X}/{eid & 0xFFFFFFFF:X}"
                ts_us = int(r.ts_us)

                def txt(v, conv=str):
                    return None if pd.isna(v) else conv(v)

                vals = [txt(r.user_id, lambda v: str(int(v))),
                        txt(r.event_type),
                        txt(r.value, lambda v: repr(float(v))),
                        txt(r.props)]
                keyvals = [txt(r.user_id, lambda v: str(int(v))),
                           None, None, None]
                add(lsn, eid, encode_begin(eid, ts_us, eid))
                if r.event_type == "signup":
                    dml = encode_insert(rel_id, vals)
                elif r.event_type == "error":
                    dml = encode_delete(rel_id, keyvals)
                else:
                    dml = encode_update(rel_id, vals, keyvals)
                add(lsn, eid, dml)
                add(lsn, eid, encode_commit(eid, eid + 1, ts_us))
            yield pd.DataFrame(rows)

    src = events.select(
        "event_id", "user_id", "event_type", "value", "props",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return src.mapInPandas(emit, "lsn string, xid long, data binary")
