"""ingest_pgoutput_evolve: the path real, non-seekable sources take.

The benchmark lands pgoutput slot frames ``(lsn, xid, data)`` over the
repo schema with ~2 KB ``content``, and the engine replays them through
``CdcEngine.replay(envelopes_for=...)`` and ``pgoutput_to_envelopes``.
``auto`` resolves to ``narrow_cached``. Every round of two batches adds a
column and widens the one the previous round added (one DDL string of two
statements at the round's first offset), then renames the lang column
(at the second batch's first offset). Each DDL string in
``schema_changes`` comes with the matching new Relation frame. A round is
also one compaction cycle (``compact_max_deltas=2``).

The frames are encoded here from the PostgreSQL protocol documentation
("Logical Replication Message Formats"), not with the engine's encoder.
Relation frames live beside the data frames and are carried into every
slice, as a walsender re-sends them on each connection.
"""

from __future__ import annotations

import hashlib
import os
import random
import struct
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from common import Context, Outcome, dir_bytes, scan_layers, timed_noop
from fold import clean, compare, expected_state

N_KEYS = 10_000
CONTENT_CHARS = 2048
TXN = 5  # DML events per transaction
BATCH = 20_000
ROUND = 2 * BATCH
BUCKETS = 8
#: measured scans per run (about 0.1 s each), so their median is steady
SCANS = 9
TABLE = "source_code_repos"
KEY = ["repo", "path"]
LANGS = ["py", "java", "ts", "go", "rs"]
REL_ID = 16384
PG_EPOCH_US = 946_684_800_000_000
OID = {"string": 25, "int": 23, "long": 20}
SPARK_TYPE = {"string": T.StringType(), "int": T.IntegerType(),
              "long": T.LongType()}


def lang_name(k: int) -> str:
    return "lang" if k == 0 else f"lang_{k}"


def schema_at(offset: int) -> list[tuple[str, str]]:
    """The table's columns for an event at ``offset``: round r has added
    ``stars_r INT`` and widened the earlier ``stars_j`` to BIGINT, and
    its second batch sees the lang column renamed."""
    r, b = divmod(offset // BATCH, 2)
    return ([("repo", "string"), ("path", "string"), ("commit", "string"),
             (lang_name(r + b), "string"), ("content", "string")]
            + [(f"stars_{j}", "long") for j in range(r)]
            + [(f"stars_{r}", "int")])


def ddl_for_round(r: int) -> list[tuple[int, str]]:
    add = f"ALTER TABLE {TABLE} ADD COLUMN stars_{r} INT"
    if r:
        add += f"; ALTER TABLE {TABLE} MODIFY COLUMN stars_{r - 1} BIGINT"
    return [(r * ROUND, add),
            (r * ROUND + BATCH, f"ALTER TABLE {TABLE} RENAME COLUMN "
                                f"{lang_name(r)} TO {lang_name(r + 1)}")]


# -- pgoutput protocol v1 frames ----------------------------------------------


def _tuple(values) -> bytes:
    out = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        else:
            b = str(v).encode()
            out += [b"t", struct.pack(">i", len(b)), b]
    return b"".join(out)


def relation_frame(cols) -> bytes:
    out = [b"R", struct.pack(">i", REL_ID), b"public\0", TABLE.encode(),
           b"\0", b"d", struct.pack(">h", len(cols))]
    for name, typ in cols:
        out += [struct.pack(">b", name in KEY), name.encode(), b"\0",
                struct.pack(">ii", OID[typ], -1)]
    return b"".join(out)


def lsn_text(o: int) -> str:
    return f"{o >> 32:X}/{o & 0xFFFFFFFF:X}"


class Landing:
    """Generates the landing round by round, and keeps the workload's
    own change events for the expected-state fold."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.live: set[int] = set()
        self.rounds = 0
        for d in ("frames", "relations", "events"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def _relation(self, offset: int) -> None:
        pq.write_table(pa.table({
            "lsn": [lsn_text(offset)], "lsn_long": [offset], "xid": [0],
            "data": [relation_frame(schema_at(offset))],
        }), os.path.join(self.root, "relations", f"at-{offset:012d}.parquet"))

    def land_round(self) -> None:
        r = self.rounds
        rng = random.Random(self.seed * 1_000_003 + r)
        frames = {"lsn": [], "lsn_long": [], "xid": [], "data": []}
        ev: dict[str, list] = {"repo": [], "path": [], "offset": [], "op": [],
                               "commit": [], "content_sha": []}
        value_cols: dict[str, list] = {}
        for off, _ in ddl_for_round(r):
            self._relation(off)
        ts_us = 1_700_000_000_000_000 - PG_EPOCH_US
        for o in range(r * ROUND, (r + 1) * ROUND):
            cols = schema_at(o)
            if o % TXN == 0:
                xid = o // TXN + 1
                self._frame(frames, o, xid, b"B" + struct.pack(
                    ">qqi", o + TXN - 1, ts_us + o, xid))
            key = rng.randrange(N_KEYS)
            repo, path = f"org/repo-{key % 64:03d}", f"src/k_{key:06d}.py"
            i = len(ev["offset"])
            if key in self.live and rng.random() < 0.1:
                self.live.discard(key)
                op, values = "d", None
                data = (b"D" + struct.pack(">i", REL_ID) + b"K" + _tuple(
                    [repo, path] + [None] * (len(cols) - 2)))
            else:
                h = hashlib.sha256(f"{self.seed}:{o}".encode()).hexdigest()
                content = (f"{key}:{o}:" + h * 32)[:CONTENT_CHARS]
                values = {"commit": h[:40],
                          cols[3][0]: LANGS[(key + o) % len(LANGS)],
                          "content": content}
                for name, typ in cols[5:]:
                    values[name] = (o % 100_000 if typ == "int"
                                    else 3_000_000_000 + o)
                op = "u" if key in self.live else "c"
                self.live.add(key)
                tup = [repo, path] + [values[n] for n, _ in cols[2:]]
                data = ((b"U" if op == "u" else b"I")
                        + struct.pack(">i", REL_ID) + b"N" + _tuple(tup))
                ev["commit"].append(h[:40])
                ev["content_sha"].append(
                    hashlib.sha256(content.encode()).hexdigest())
            if values is None:
                ev["commit"].append(None)
                ev["content_sha"].append(None)
            for name in values or ():
                if name not in value_cols and name not in ("commit",
                                                           "content"):
                    value_cols[name] = [None] * i
            for name, vals in value_cols.items():
                vals.append(None if values is None else values.get(name))
            ev["repo"].append(repo)
            ev["path"].append(path)
            ev["offset"].append(o)
            ev["op"].append(op)
            self._frame(frames, o, o // TXN + 1, data)
            if o % TXN == TXN - 1:
                self._frame(frames, o, o // TXN + 1, b"C" + struct.pack(
                    ">bqqq", 0, o, o + 1, ts_us + o))
        pq.write_table(pa.table(frames), os.path.join(
            self.root, "frames", f"r{r:04d}.parquet"), row_group_size=4096)
        cols = {**ev, **value_cols}
        schema = pa.schema([(n, pa.int64() if n == "offset"
                             or n.startswith("stars_") else pa.string())
                            for n in cols])
        pq.write_table(pa.table(cols, schema=schema), os.path.join(
            self.root, "events", f"r{r:04d}.parquet"))
        self.rounds += 1

    @staticmethod
    def _frame(frames, o, xid, data) -> None:
        frames["lsn"].append(lsn_text(o))
        frames["lsn_long"].append(o)
        frames["xid"].append(xid)
        frames["data"].append(data)


def run(ctx: Context) -> Outcome:
    from sparkcdc.engine import EngineConfig, default_engine
    from sparkcdc.sources.pgoutput import pgoutput_to_envelopes

    spark, out = ctx.spark, Outcome()
    landing = Landing(ctx.path("landing"), ctx.seed)
    eng = default_engine(spark, ctx.path("lake"), n_buckets=BUCKETS,
                         config=EngineConfig(compact_max_deltas=2,
                                             batch_size=BATCH))

    def envelopes_for(lo: int, hi: int):
        frames = spark.read.parquet(ctx.path("landing", "frames")).filter(
            (F.col("lsn_long") >= lo) & (F.col("lsn_long") < hi))
        relations = spark.read.parquet(ctx.path("landing", "relations"))
        fields = [(f.name, SPARK_TYPE[f.type])
                  for f in eng.table.manifest().fields]
        return pgoutput_to_envelopes(
            frames.unionByName(relations).select("lsn", "xid", "data"),
            fields, KEY, table=TABLE)

    def replay_round() -> float:
        r = landing.rounds
        landing.land_round()
        t = time.perf_counter()
        eng.replay((r + 1) * ROUND, envelopes_for=envelopes_for,
                   schema_changes=ddl_for_round(r))
        return time.perf_counter() - t

    # warm-up: the first round, a compaction of its one delta per bucket
    # (so each later round ends in one), one scan
    replay_round()
    eng.table.compact()
    timed_noop(eng.table.read())
    ctx.setup_done()

    n_warm = len(eng.metrics.read())
    ctx.begin()
    out.apply_s = replay_round()
    ctx.end()
    rows = [r for r in eng.metrics.read() if r.get("kind") == "replay"]
    window = [r for r in eng.metrics.read()[n_warm:]
              if r.get("kind") == "replay"]
    out.events = (landing.rounds - 1) * ROUND
    out.commit_walls = [r["wall_sec"] for r in window]
    out.attempted += len(rows)
    ctx.note(f"measured {len(window)} batches, {out.events} events")
    out.lake_bytes = dir_bytes(eng.table.dir)
    fed = landing.rounds * ROUND
    _verify(ctx, eng, landing, fed, rows, out)
    ctx.scan([eng.table], out, SCANS)
    ctx.note("scanned")

    if ctx.tracer:
        out.layers = ctx.tracer.layer_metrics(len(window),
                                              out.commit_walls)
        out.layers.update(scan_layers([eng.table]))
        out.layers.update(_isolated(eng, envelopes_for, fed))
        ctx.tracer.report()
    return out


def _isolated(eng, envelopes_for, fed: int) -> dict[str, float]:
    """The last batch decoded alone into the no-op sink, and reduced alone
    with the engine's ``narrow_cached`` strategy (a persisted batch and a
    semi-join)."""
    from sparkcdc import apply

    env = envelopes_for(fed - BATCH, fed)
    decode_s = timed_noop(env)
    names = [f.name for f in eng.table.manifest().fields]
    flat = apply.envelopes_to_changes(env, names).persist()
    try:
        reduce_s = timed_noop(apply.reduce_last_write_wins(
            flat, KEY, strategy="narrow"))
    finally:
        flat.unpersist()
    return {"sources.pgoutput.decode_s": decode_s, "apply.reduce_s": reduce_s}


def _verify(ctx, eng, landing, fed, rows, out: Outcome) -> None:
    rounds = landing.rounds
    out.check({r.get("strategy") for r in rows} == {"narrow_cached"},
              "replay batches did not all resolve to narrow_cached")
    out.check(eng.committed_offset() == fed,
              f"committed offset {eng.committed_offset()} != fed {fed}")
    out.check(eng.committed_batch() == len(rows) - 1 == fed // BATCH - 1,
              f"last batch id {eng.committed_batch()}, {len(rows)} batches")
    final = [(f.name, f.type) for f in eng.table.manifest().fields]
    want = schema_at(fed - 1)
    out.check(final == want, f"final schema {final} != {want}")
    lang = lang_name(rounds)
    fields = ([("commit", "string"), (lang, "string"),
               ("content_sha", "string")] + want[5:])
    events = ctx.spark.read.option("mergeSchema", "true").parquet(
        ctx.path("landing", "events"))
    expected = expected_state(
        events, KEY, fields, {lang: [lang_name(k) for k in range(rounds)]})
    actual = eng.table.read().select(
        *KEY, "commit", lang, F.sha2("content", 256).alias("content_sha"),
        *[f"stars_{j}" for j in range(rounds)])
    res = compare(expected, actual, KEY)
    out.live_rows = res["rows"]
    out.check(clean(res), f"final table differs from the fold: {res}")
    ctx.note(f"verified {res['rows']} rows")
