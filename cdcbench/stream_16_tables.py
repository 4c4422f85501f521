"""stream_16_tables: small micro-batches across many tables.

A backlog of Debezium JSON envelope files over 16 tables with the repo
schema, parsed with ``parse_envelope_json`` and drained by
``start_multi_stream`` with ``availableNow`` and a fixed number of files
per trigger. Stream batches resolve to ``fat``. Each trigger applies every
table, so per-trigger and per-table fixed cost dominate.

The backlog arrives in two ``availableNow`` drains on the same
checkpoint: one trigger of warm-up, then ``WINDOW_TRIGGERS`` measured
triggers. No trigger of a run reaches ``compact_max_deltas`` (the engine
default, 8) deltas per bucket, so no run compacts; compaction is measured
by ``replay_generator``.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import (Context, Outcome, dir_bytes, read_all, scan_layers,
                    timed_noop)
from fold import clean, compare, expected_state

TABLES = 16
DB = "code"
KEYS_PER_TABLE = 1_000
FILES_PER_TRIGGER = 4
EVENTS_PER_FILE = 2_500
WINDOW_TRIGGERS = 1
BUCKETS = 2
CONTENT_CHARS = 64
KEY = ["repo", "path"]
LANGS = ["py", "java", "ts", "go", "rs"]


def table_name(i: int) -> str:
    return f"t{i:02d}"


class Backlog:
    """Writes the envelope files drain by drain, and keeps the workload's
    own change events for the expected-state fold."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = random.Random(seed)
        self.live: set[int] = set()
        self.files = 0
        self.fed = 0
        for d in ("in", "events"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def land(self, triggers: int) -> None:
        ev = {c: [] for c in ("tbl", "repo", "path", "offset", "op",
                              "commit", "lang", "content")}
        for _ in range(triggers * FILES_PER_TRIGGER):
            lines = []
            for _ in range(EVENTS_PER_FILE):
                lines.append(json.dumps(self._event(ev)))
                self.fed += 1
            path = os.path.join(self.root, "in", f"{self.files:06d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            # the file source takes files oldest first: order them by mtime
            stamp = 1_600_000_000 + self.files
            os.utime(path, (stamp, stamp))
            self.files += 1
        pq.write_table(pa.table(ev), os.path.join(
            self.root, "events", f"{self.files:06d}.parquet"))

    def _event(self, ev) -> dict:
        o, rng = self.fed, self.rng
        key = rng.randrange(TABLES * KEYS_PER_TABLE)
        tbl = table_name(key % TABLES)
        row = {"repo": f"org/repo-{key % 64:03d}", "path": f"src/k_{key:06d}.py",
               "commit": None, "lang": None, "content": None}
        if key in self.live and rng.random() < 0.1:
            self.live.discard(key)
            op, before, after = "d", row, None
        else:
            op = "u" if key in self.live else "c"
            self.live.add(key)
            after = dict(row, commit=f"{rng.getrandbits(160):040x}",
                         lang=LANGS[(key + o) % len(LANGS)],
                         content=f"{key}:{o}:".ljust(CONTENT_CHARS, "x"))
            before = row if op == "u" else None
        value = after or row
        for c, v in (("tbl", tbl), ("offset", o), ("op", op), *value.items()):
            ev[c].append(v)
        ts = 1_700_000_000_000 + o
        return {
            "op": op, "ts_ms": ts, "before": before, "after": after,
            "source": {"name": "bench", "db": DB, "table": tbl,
                       "snapshot": "false", "file": None, "pos": o,
                       "row": 0, "gtid": None, "ts_ms": ts},
            "transaction": None, "part_id": key % 8, "offset": o,
            "tombstone": False,
        }


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if d["numInputRows"] > 0:
            out.append(d)
    return out


def run(ctx: Context) -> Outcome:
    from sparkcdc.engine import EngineConfig
    from sparkcdc.envelope import REPO_ROW_FIELDS
    from sparkcdc.lake import LakeTable
    from sparkcdc.multitable import MultiTableEngine
    from sparkcdc.streaming import start_multi_stream
    from sparkcdc.transforms.serialize import parse_envelope_json

    spark, out = ctx.spark, Outcome()
    backlog = Backlog(ctx.path("backlog"), ctx.seed)
    lake = ctx.path("lake")
    tables = {
        f"{DB}.{table_name(i)}": LakeTable.create(
            spark, lake, table_name(i),
            fields=[(n, "string") for n, _ in REPO_ROW_FIELDS],
            key_cols=KEY, n_buckets=BUCKETS)
        for i in range(TABLES)
    }
    mte = MultiTableEngine(spark, tables, config=EngineConfig())
    ckpt = ctx.path("checkpoint")

    def drain(triggers: int) -> tuple[float, list[dict]]:
        backlog.land(triggers)
        raw = (spark.readStream.option("maxFilesPerTrigger", FILES_PER_TRIGGER)
               .text(ctx.path("backlog", "in")))
        stream = parse_envelope_json(raw, failure_handling="fail")
        t = time.perf_counter()
        q = start_multi_stream(mte, stream, checkpoint_dir=ckpt,
                               available_now=True)
        q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return wall, _progress(q)

    # warm-up: one trigger (the first, which writes base files) and a scan
    # of one table; the verification's read of all 16 is the unmeasured
    # full read before the measured one
    _, warm = drain(1)
    timed_noop(next(iter(tables.values())).read())
    fed0 = backlog.fed
    ctx.setup_done()

    n_logged = {n: len(e.metrics.read()) for n, e in mte.engines.items()}
    ctx.begin()
    out.apply_s, triggers = drain(WINDOW_TRIGGERS)
    ctx.end()
    out.events = backlog.fed - fed0
    out.commit_walls = [p["durationMs"]["triggerExecution"] / 1e3
                        for p in triggers]
    out.attempted += len(warm) + len(triggers)
    ctx.note(f"measured {len(triggers)} triggers, {out.events} events")
    out.lake_bytes = sum(dir_bytes(t.dir) for t in tables.values())
    _verify(ctx, backlog, tables, len(warm) + len(triggers), out)
    # one measured scan: building the read plan of 16 merge-on-read
    # tables alone takes seconds
    ctx.scan(list(tables.values()), out, n=1)
    ctx.note("scanned")

    if ctx.tracer:
        tracer = ctx.tracer
        walls = [r["wall_sec"] for n, e in mte.engines.items()
                 for r in e.metrics.read()[n_logged[n]:]]
        out.layers = tracer.layer_metrics(len(triggers), walls)
        out.layers.update(scan_layers(list(tables.values())))
        applies = [s["t1"] - s["t0"] for s in tracer.window()
                   if s["name"] == "multitable.apply"]
        out.layers["streaming.probe_s"] = statistics.median(
            w - a for w, a in zip(out.commit_walls, applies))
        out.layers["streaming.trigger_jobs"] = (
            (tracer.win["j1"] - tracer.win["j0"]) / len(triggers))
        out.layers.update(_isolated(ctx, parse_envelope_json))
        tracer.report()
    return out


def _isolated(ctx, parse_envelope_json) -> dict[str, float]:
    """The last trigger's files parsed alone into the no-op sink, then
    reduced alone with ``fat``, the strategy stream batches resolve to."""
    from sparkcdc import apply
    from sparkcdc.envelope import REPO_ROW_FIELDS

    files = sorted(os.listdir(ctx.path("backlog", "in")))[-FILES_PER_TRIGGER:]
    raw = ctx.spark.read.text([ctx.path("backlog", "in", f) for f in files])
    env = parse_envelope_json(raw, failure_handling="fail")
    parse_s = timed_noop(env)
    flat = apply.envelopes_to_changes(env, [n for n, _ in REPO_ROW_FIELDS])
    reduce_s = timed_noop(apply.reduce_last_write_wins(flat, KEY,
                                                       strategy="fat"))
    return {"sources.json.parse_s": parse_s, "apply.reduce_s": reduce_s}


def _verify(ctx, backlog, tables, n_triggers, out: Outcome) -> None:
    for name, table in tables.items():
        summary = table.manifest().summary
        writer = f"engine:{name}:stream"
        nxt = summary.get("offsets", {}).get("next")
        out.check(nxt == backlog.fed,
                  f"{name}: committed offset {nxt} != fed {backlog.fed}")
        last = summary.get("last_batch", {}).get(writer)
        out.check(last == n_triggers - 1,
                  f"{name}: last batch id {last}, {n_triggers} triggers")
    events = ctx.spark.read.parquet(ctx.path("backlog", "events")).select(
        "tbl", *KEY, "offset", "op", "commit", "lang",
        F.sha2("content", 256).alias("content_sha"))
    fields = [("commit", "string"), ("lang", "string"),
              ("content_sha", "string")]
    expected = expected_state(events, ["tbl", *KEY], fields)
    actual = read_all(tables.values(), tag="tbl").select(
        "tbl", *KEY, "commit", "lang",
        F.sha2("content", 256).alias("content_sha"))
    res = compare(expected, actual, ["tbl", *KEY])
    out.live_rows = res["rows"]
    out.check(clean(res), f"final tables differ from the fold: {res}")
    # keys never move between tables, so the global fold by key alone
    # must count the same live rows as the 16 tables together
    live = expected_state(events.drop("tbl"), KEY, fields).count()
    out.check(live == res["rows"],
              f"{res['rows']} live rows over {TABLES} tables, "
              f"global fold has {live}")
    ctx.note(f"verified {res['rows']} rows")
