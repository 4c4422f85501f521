"""Tests: a multi-table micro-batch is one job set — one reduce keyed by
(table, key), one (table, bucket)-partitioned write, then one manifest
flip per table — with the state of the per-table path, exactly-once
across a crash between the flips, and reclaimed staging residue."""

import hashlib
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from sparkcdc.engine import CdcEngine, EngineConfig
from sparkcdc.envelope import cdc_events
from sparkcdc.lake import ORPHAN_GRACE_SEC, STAGING_DIR, LakeTable
from sparkcdc.multitable import MultiTableEngine

FIELDS = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]
KEY = ["repo", "path"]


def qualified():
    return F.concat_ws(".", F.col("source.db"), F.col("source.table"))


def sharded(spark, lo, hi, n_tables):
    """Generator events with source.table set by a hash of the key, so
    every key stays in one of ``n_tables`` tables."""
    env = cdc_events(spark, hi - lo, start=lo, n_keys=200, n_parts=4)
    shard = F.concat(F.lit("t"), F.pmod(F.xxhash64(F.coalesce(
        F.col("after.path"), F.col("before.path"))), F.lit(n_tables)))
    return env.withColumn("source", F.col("source").withField("table", shard))


def make_tables(spark, root, names, n_buckets=2):
    return {n: LakeTable.create(spark, root, n.split(".")[1], FIELDS, KEY,
                                n_buckets=n_buckets) for n in names}


def names_of(n_tables, db="code"):
    return [f"{db}.t{i}" for i in range(n_tables)]


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def jobs_of(spark, group, fn):
    """fn's result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("kind", ["stream", "replay"])
def test_jobs_per_batch_do_not_depend_on_table_count(spark, tmp_root, kind):
    """The same events split over 1, 4 and 16 tables: every batch runs the
    same number of Spark jobs whatever the table count, each commit writes
    one file per (table, bucket), and each table ends in exactly the state
    of the per-table path (its own slice through ``_apply_batch``)."""
    batches = [(0, 2000), (2000, 3000)]
    counts = {}
    for n in (1, 4, 16):
        root = os.path.join(tmp_root, f"{kind}{n}")
        names = names_of(n)
        mte = MultiTableEngine(spark, make_tables(spark, root, names),
                               EngineConfig(n_parts=4))
        ref = {name: CdcEngine(spark, t, EngineConfig(n_parts=4))
               for name, t in make_tables(
                   spark, os.path.join(root, "ref"), names).items()}
        counts[n] = []
        for bid, (lo, hi) in enumerate(batches):
            env = sharded(spark, lo, hi, n).persist()
            offsets = {"lo": lo, "next": hi}
            res, jobs = jobs_of(spark, f"mt-{kind}-{n}-{bid}",
                                lambda: mte.apply_batch(
                                    env, batch_id=bid, kind=kind,
                                    offsets=offsets))
            counts[n].append(jobs)
            assert not any(r["skipped"] for r in res.values())
            for name, eng in ref.items():
                eng._apply_batch(env.filter(qualified() == name), batch_id=bid,
                                 kind=kind, offsets=offsets)
            env.unpersist()
        for name, eng in mte.engines.items():
            t = eng.table
            m = t.manifest()
            added = [f for f in m.files if f["seq"] == m.version]
            assert added and len(added) == len({f["bucket"] for f in added})
            assert m.summary["offsets"]["next"] == 3000
            assert m.summary["last_batch"] == {f"engine:{name}": 1}
            assert rows(t.read()) == rows(ref[name].table.read())
            assert len(eng.metrics.read()) == len(batches)
        assert not os.listdir(os.path.join(root, STAGING_DIR))
    assert counts[1] == counts[4] == counts[16], counts


def _fold(events):
    """Independent last-write-wins fold: per (table, key), the highest
    offset's event; a delete removes the key. Rows as (table, repo, path,
    sha256(content))."""
    last = {}
    for r in events:
        key = (r["tbl"], r["repo"], r["path"])
        if key not in last or r["offset"] > last[key]["offset"]:
            last[key] = r
    return sorted(
        (*k, hashlib.sha256(r["content"].encode()).hexdigest())
        for k, r in last.items() if r["op"] != "d"
    )


def _state(tables):
    out = []
    for name, t in tables.items():
        for r in t.read().select(
                *KEY, F.sha2("content", 256).alias("sha")).collect():
            out.append((name, r["repo"], r["path"], r["sha"]))
    return sorted(out)


def _events(env):
    return env.select(
        qualified().alias("tbl"), "op", "offset",
        *[F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
          for c in ("repo", "path", "content")],
    ).collect()


@pytest.mark.parametrize("k", [1, 3])
def test_crash_between_table_flips_redelivers_exactly_once(
        spark, tmp_root, monkeypatch, k):
    """A failure after k of 4 manifest flips of batch 1; a restarted
    engine redelivers batch 1 under the same id. Only the tables whose
    fence is behind re-apply: every table advances exactly one version
    for the batch, fences it, and ends in the state of an independent
    last-write-wins fold."""
    names = names_of(4)
    tables = make_tables(spark, tmp_root, names)
    mte = MultiTableEngine(spark, tables, EngineConfig(n_parts=4))
    env0 = sharded(spark, 0, 1500, 4)
    mte.apply_batch(env0, batch_id=0, kind="stream",
                    offsets={"lo": 0, "next": 1500})
    before = {n: t.current_version() for n, t in tables.items()}

    flips = []
    orig = LakeTable._write_manifest

    def crash_after_k(self, m, **kw):
        if len(flips) == k:
            raise RuntimeError("crash between manifest flips")
        orig(self, m, **kw)
        flips.append(self.name)

    monkeypatch.setattr(LakeTable, "_write_manifest", crash_after_k)
    env1 = sharded(spark, 1500, 2500, 4)
    with pytest.raises(RuntimeError, match="crash between"):
        mte.apply_batch(env1, batch_id=1, kind="stream",
                        offsets={"lo": 1500, "next": 2500})
    monkeypatch.setattr(LakeTable, "_write_manifest", orig)
    assert len(flips) == k
    behind = {n for n, t in tables.items() if t.current_version() == before[n]}
    assert len(behind) == 4 - k

    restarted = MultiTableEngine(
        spark, {n: LakeTable.load(spark, tmp_root, n.split(".")[1])
                for n in names}, EngineConfig(n_parts=4))
    res = restarted.apply_batch(env1, batch_id=1, kind="stream",
                                offsets={"lo": 1500, "next": 2500})
    assert {n for n, r in res.items() if not r["skipped"]} == behind
    for n, t in tables.items():
        assert t.current_version() == before[n] + 1
        commits = [v for v in range(before[n] + 1, t.current_version() + 1)
                   if t.manifest(v).summary.get("batch_id") == 1]
        assert len(commits) == 1
        s = t.manifest().summary
        assert s["last_batch"][f"engine:{n}"] == 1
        assert s["offsets"]["next"] == 2500
    assert _state(tables) == _fold(_events(env0) + _events(env1))
    assert not os.listdir(os.path.join(tmp_root, STAGING_DIR))


def test_expire_reclaims_aged_staging_residue_only(spark, tmp_root):
    """A crash after the staged write and before the renames leaves
    ``<root>/_staging/<uuid>``. ``expire_versions`` reclaims it once it is
    older than the grace period, and leaves a younger one — a concurrent
    batch's write in flight — alone."""
    t = LakeTable.create(spark, tmp_root, "t", FIELDS, KEY, n_buckets=2)
    batch = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", f"v{i}", "u") for i in range(20)],
        "repo string, path string, commit string, lang string, "
        "content string, _op string")
    t.merge(batch, batch_id=0, mode="mor")
    commit = next(d for d in os.listdir(t.data_dir)
                  if d.startswith("commit-"))
    staging = os.path.join(tmp_root, STAGING_DIR)
    aged, fresh = (os.path.join(staging, u) for u in ("aged", "fresh"))
    for d in (aged, fresh):
        shutil.copytree(os.path.join(t.data_dir, commit),
                        os.path.join(d, "__t=0"))
    old = time.time() - ORPHAN_GRACE_SEC - 60
    for top, dirs, files in os.walk(aged):
        for n in [top, *(os.path.join(top, x) for x in dirs + files)]:
            os.utime(n, (old, old))
    t.merge(batch.withColumn("content", F.lit("w")), batch_id=1, mode="mor")
    t.expire_versions(keep_last=2)
    assert not os.path.exists(aged)
    assert os.path.isdir(os.path.join(fresh, "__t=0"))
    assert {r["content"] for r in t.read().collect()} == {"w"}
