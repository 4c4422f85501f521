"""replay_generator: the north-star job.

An initial snapshot of a landed ``source_code_repos`` table
(``CdcEngine.run``, ``snapshot_mode="initial"``), then replay from the
engine's built-in closed-form generator, which is seekable, so ``auto``
resolves to ``refetch``. 32 buckets, merge-on-read, and the measured
window is one compaction cycle: every bucket takes one delta per batch
and is compacted every ``DELTAS`` batches.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Context, Outcome, dir_bytes, scan_layers, timed_noop
from fold import clean, compare, expected_state

N_KEYS = 50_000
BATCH = 100_000
DELTAS = 4
CYCLE = BATCH * DELTAS
BUCKETS = 32
#: snapshot rows: half on generator keys (most get overwritten by the
#: replay), half on keys the generator never touches
SNAP_ROWS = 40_000
SNAP_LO = N_KEYS - SNAP_ROWS // 2
#: measured scans per run (about 0.6 s each), so their median is steady
SCANS = 5
ROW_FIELDS = [("commit", "string"), ("lang", "string"),
              ("content_sha", "string")]


def _config(seed: int):
    from sparkcdc.engine import EngineConfig

    return EngineConfig(batch_size=BATCH, n_keys=N_KEYS, seed=seed,
                        compact_max_deltas=DELTAS, snapshot_mode="initial")


def _land_snapshot(path: str, seed: int) -> None:
    """The source table the initial snapshot reads, keyed like the
    generator's (repo, path) for keys below ``N_KEYS``."""
    rows = {"repo": [], "path": [], "commit": [], "lang": [], "content": []}
    for k in range(SNAP_LO, SNAP_LO + SNAP_ROWS):
        h = hashlib.sha256(f"snap:{seed}:{k}".encode()).hexdigest()
        rows["repo"].append(f"org/repo-{int((k / N_KEYS) ** 2 * 50):04d}")
        rows["path"].append(f"src/k_{k:06d}.py")
        rows["commit"].append(h[:40])
        rows["lang"].append("py")
        rows["content"].append(f"snap:{seed}:{k}:{h}")
    os.makedirs(path)
    pq.write_table(pa.table(rows), os.path.join(path, "part-0.parquet"))


def run(ctx: Context) -> Outcome:
    from sparkcdc.engine import default_engine

    spark, out = ctx.spark, Outcome()
    landing = ctx.path("landing")
    _land_snapshot(landing, ctx.seed)
    src = spark.read.parquet(landing)

    ctx.note("landed snapshot source")
    # warm-up on a throwaway table: the snapshot, one batch, a compaction
    # of its deltas and one scan
    warm = default_engine(spark, ctx.path("warm"), n_buckets=BUCKETS,
                          config=_config(ctx.seed))
    warm.run(BATCH, source_df=src)
    warm.table.compact()
    timed_noop(warm.table.read())
    ctx.setup_done()

    eng = default_engine(spark, ctx.path("lake"), n_buckets=BUCKETS,
                         config=_config(ctx.seed))
    ctx.begin()
    eng.run(CYCLE, source_df=src)
    ctx.end()
    fed = CYCLE
    out.apply_s = ctx.t1 - ctx.t0
    out.events = SNAP_ROWS + fed
    window = [r for r in eng.metrics.read()
              if r.get("kind") in ("snapshot", "replay")]
    out.commit_walls = [r["wall_sec"] for r in window]
    ctx.note(f"measured {len(window)} batches, {out.events} events")

    # half a cycle more (two batches, two deltas per bucket), outside the
    # window, so the scans read the merge-on-read state a reader meets
    # between compactions
    fed += CYCLE // 2
    eng.replay(fed)
    batches = [r for r in eng.metrics.read()
               if r.get("kind") in ("snapshot", "replay")]
    out.attempted += len(batches)
    out.lake_bytes = dir_bytes(eng.table.dir)
    _verify(ctx, eng, src, fed, batches, out)
    ctx.scan([eng.table], out, SCANS)
    ctx.note("scanned")

    if ctx.tracer:
        out.layers = ctx.tracer.layer_metrics(len(window),
                                              out.commit_walls)
        out.layers.update(scan_layers([eng.table]))
        out.layers["apply.reduce_s"] = _isolated_reduce(eng, fed)
        ctx.tracer.report()
    return out


def _isolated_reduce(eng, fed: int) -> float:
    """One batch through the plan the ``refetch`` strategy reduces with
    (the strategy the engine logs here), into the no-op sink: the
    key-only changes, then the winning offset per key."""
    from sparkcdc import apply
    from sparkcdc.envelope import cdc_events

    cfg = eng.cfg
    key = ["repo", "path"]
    env = cdc_events(eng.spark, BATCH, start=fed - BATCH, n_keys=cfg.n_keys,
                     n_parts=cfg.n_parts, seed=cfg.seed,
                     hot_key_permille=cfg.hot_key_permille,
                     content_chars=cfg.content_chars)
    winning = (apply.envelopes_to_changes(env, key).groupBy(*key)
               .agg(F.max("offset").alias("offset"))
               .select(F.col("offset").alias("id")))
    return timed_noop(winning)


def _verify(ctx, eng, src, fed, batches, out: Outcome) -> None:
    from sparkcdc.envelope import cdc_events

    cfg = eng.cfg
    out.check({r.get("strategy") for r in batches if r["kind"] == "replay"}
              == {"refetch"}, "replay batches did not all resolve to refetch")
    out.check(eng.committed_offset() == fed,
              f"committed offset {eng.committed_offset()} != fed {fed}")
    # batch 0 is the snapshot, then one batch per BATCH events
    want_batch = fed // BATCH
    out.check(eng.committed_batch() == want_batch == len(batches) - 1,
              f"last batch id {eng.committed_batch()}, "
              f"{len(batches)} batches applied, expected {want_batch}")
    gen = cdc_events(ctx.spark, fed, n_keys=cfg.n_keys, n_parts=cfg.n_parts,
                     seed=cfg.seed, hot_key_permille=cfg.hot_key_permille,
                     content_chars=cfg.content_chars)
    events = gen.select(
        F.coalesce("after.repo", "before.repo").alias("repo"),
        F.coalesce("after.path", "before.path").alias("path"),
        "offset", "op", F.col("after.commit").alias("commit"),
        F.col("after.lang").alias("lang"),
        F.sha2("after.content", 256).alias("content_sha"),
    ).unionByName(src.select(
        "repo", "path", F.lit(-1).cast("long").alias("offset"),
        F.lit("r").alias("op"), "commit", "lang",
        F.sha2("content", 256).alias("content_sha"),
    ))
    expected = expected_state(events, ["repo", "path"], ROW_FIELDS)
    actual = eng.table.read().select(
        "repo", "path", "commit", "lang",
        F.sha2("content", 256).alias("content_sha"))
    res = compare(expected, actual, ["repo", "path"])
    out.live_rows = res["rows"]
    out.check(clean(res), f"final table differs from the fold: {res}")
    ctx.note(f"verified {res['rows']} rows")
