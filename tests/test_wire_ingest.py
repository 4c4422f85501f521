"""Serialized-envelope ingestion end-to-end (VERDICT r1 item 5): JSON
envelopes on disk → file stream → vectorized parse → the same
reduce→MERGE→commit path as batch replay, reaching the same final state.

This proves the claimed Kafka swap: only the readStream source line
differs between this test and a Kafka deployment
(streaming.json_envelope_stream)."""

import os

from pyspark.sql import functions as F

from sparkcdc.engine import CdcEngine, EngineConfig
from sparkcdc.envelope import REPO_ROW_FIELDS, cdc_events
from sparkcdc.lake import LakeTable
from sparkcdc.streaming import json_envelope_stream, start_stream
from sparkcdc.transforms.serialize import envelope_to_json

REPO_FIELDS = [(n, "string") for n, _ in REPO_ROW_FIELDS]


def _mk_engine(spark, root, writer="engine"):
    t = LakeTable.create(
        spark, root, "t", fields=REPO_FIELDS, key_cols=["repo", "path"],
        n_buckets=4,
    )
    return CdcEngine(spark, t, EngineConfig(
        batch_size=1000, n_keys=100, n_parts=4, writer=writer,
    ))


def _state(table):
    return sorted(
        tuple(r)
        for r in table.read().select(
            "repo", "path", F.sha2("content", 256)
        ).collect()
    )


def test_json_wire_stream_matches_batch_replay(spark, tmp_root):
    wire_dir = os.path.join(tmp_root, "wire")
    # producer side: serialize 3k generated envelopes as JSON-lines files
    # (two files → at least two stream micro-batches)
    for lo, hi in ((0, 1500), (1500, 3000)):
        env = cdc_events(spark, hi - lo, start=lo, n_keys=100, n_parts=4)
        envelope_to_json(env).write.mode("append").text(wire_dir)

    # consumer side: file stream → from_json parse → engine
    eng = _mk_engine(spark, os.path.join(tmp_root, "lake_stream"))
    stream = json_envelope_stream(eng, wire_dir)
    q = start_stream(eng, stream, available_now=True)
    q.awaitTermination(120)

    # reference: plain batch replay of the same offsets
    eng2 = _mk_engine(spark, os.path.join(tmp_root, "lake_batch"))
    eng2.replay(3000)

    assert _state(eng.table) == _state(eng2.table)
    assert len(_state(eng.table)) > 0
    # stream committed under its own fence namespace with data offsets
    m = eng.table.manifest()
    assert m.summary["offsets"]["next"] == 3000
    assert m.summary["last_batch"].get("engine:stream", -1) >= 0


def test_json_wire_stream_restart_resumes(spark, tmp_root):
    """Restart with the (deterministic) checkpoint: only new files are
    consumed, redelivered batches are fenced."""
    wire_dir = os.path.join(tmp_root, "wire")
    env = cdc_events(spark, 1000, n_keys=100, n_parts=4)
    envelope_to_json(env).write.mode("append").text(wire_dir)

    eng = _mk_engine(spark, os.path.join(tmp_root, "lake"))
    q = start_stream(eng, json_envelope_stream(eng, wire_dir),
                     available_now=True)
    q.awaitTermination(120)
    v1 = eng.table.current_version()
    assert eng.committed_offset() == 1000

    # second backlog chunk, then a RESTARTED stream (fresh query, same
    # default checkpoint dir under the table meta)
    env2 = cdc_events(spark, 500, start=1000, n_keys=100, n_parts=4)
    envelope_to_json(env2).write.mode("append").text(wire_dir)
    q2 = start_stream(eng, json_envelope_stream(eng, wire_dir),
                      available_now=True)
    q2.awaitTermination(120)
    assert eng.committed_offset() == 1500
    # state equals an uninterrupted batch replay of all 1500 events
    ref = _mk_engine(spark, os.path.join(tmp_root, "lake_ref"))
    ref.replay(1500)
    assert _state(eng.table) == _state(ref.table)
    assert eng.table.current_version() > v1


def test_multi_table_stream_matches_batch_split(spark, tmp_root):
    """start_multi_stream: one JSON wire stream split by source.table into
    two sink tables reaches exactly the state of the batch MultiTableEngine
    over the same envelopes, and a second availableNow run (restart) is a
    fenced no-op."""
    from sparkcdc.multitable import MultiTableEngine
    from sparkcdc.streaming import start_multi_stream
    from sparkcdc.transforms.serialize import parse_envelope_json

    def shard(env):
        s = F.when(
            F.pmod(F.xxhash64(
                F.coalesce(F.col("after.path"), F.col("before.path"))
            ), F.lit(2)) == 0,
            F.lit("repos_a"),
        ).otherwise(F.lit("repos_b"))
        return env.withColumn("source", F.col("source").withField("table", s))

    wire_dir = os.path.join(tmp_root, "wire_mt")
    for lo, hi in ((0, 1000), (1000, 2000)):
        env = shard(cdc_events(spark, hi - lo, start=lo, n_keys=100, n_parts=4))
        envelope_to_json(env).write.mode("append").text(wire_dir)

    def make_mte(root):
        tables = {
            f"code.{n}": LakeTable.create(
                spark, root, n, fields=REPO_FIELDS,
                key_cols=["repo", "path"], n_buckets=4,
            )
            for n in ("repos_a", "repos_b")
        }
        return MultiTableEngine(
            spark, tables, EngineConfig(batch_size=1000, n_keys=100, n_parts=4)
        )

    mte = make_mte(os.path.join(tmp_root, "lake_mt_stream"))
    raw = spark.readStream.text(wire_dir)
    stream = parse_envelope_json(raw, None)
    q = start_multi_stream(mte, stream, available_now=True)
    q.awaitTermination(120)

    # reference: the batch splitter over the same envelopes
    ref = make_mte(os.path.join(tmp_root, "lake_mt_batch"))
    ref.replay(2000, lambda lo, hi: shard(
        cdc_events(spark, hi - lo, start=lo, n_keys=100, n_parts=4)))

    for name in ("code.repos_a", "code.repos_b"):
        assert _state(mte.engines[name].table) == _state(ref.engines[name].table)
        assert len(_state(mte.engines[name].table)) > 0

    # restart on the same checkpoint: nothing new -> state unchanged;
    # per-table committed offsets cover the whole log slice
    va = mte.engines["code.repos_a"].table.current_version()
    q2 = start_multi_stream(mte, parse_envelope_json(
        spark.readStream.text(wire_dir), None), available_now=True)
    q2.awaitTermination(120)
    assert mte.engines["code.repos_a"].table.current_version() == va
    for name in ("code.repos_a", "code.repos_b"):
        stream_eng = mte.derived(":stream").engines[name]
        assert stream_eng.committed_offset() == 2000


def test_stream_refuses_checkpoint_behind_fence(spark, tmp_root):
    """Adding a captured table moves start_multi_stream's default
    checkpoint (it lives under the alphabetically-first table). A restart
    on that fresh checkpoint would restart Spark batch ids at 0 under the
    retained fences of the old tables and silently drop live batches, so
    it must raise and name the checkpoint. start_stream shares the guard."""
    import re

    import pytest

    from sparkcdc.multitable import MultiTableEngine
    from sparkcdc.streaming import default_checkpoint_dir, start_multi_stream
    from sparkcdc.transforms.serialize import parse_envelope_json

    root = os.path.join(tmp_root, "lake")
    wire_dir = os.path.join(tmp_root, "wire")
    env = cdc_events(spark, 200, n_keys=20, n_parts=4)
    table = F.when(F.col("offset") % 2 == 0, "repos_b").otherwise("repos_c")
    envelope_to_json(
        env.withColumn("source", F.col("source").withField("table", table))
    ).write.text(wire_dir)

    def stream():
        return parse_envelope_json(spark.readStream.text(wire_dir), None)

    def mk(name):
        return LakeTable.create(spark, root, name, fields=REPO_FIELDS,
                                key_cols=["repo", "path"], n_buckets=2)

    cfg = EngineConfig(n_keys=20, n_parts=4)
    mte = MultiTableEngine(
        spark, {f"code.{n}": mk(n) for n in ("repos_b", "repos_c")}, cfg)
    start_multi_stream(mte, stream(), available_now=True).awaitTermination(120)
    assert mte.derived(":stream").engines["code.repos_b"].committed_batch() == 0

    tables = {f"code.{n}": LakeTable.load(spark, root, n)
              for n in ("repos_b", "repos_c")}
    tables["code.repos_a"] = mk("repos_a")
    moved = os.path.join(tables["code.repos_a"].meta_dir, "multi_stream_ckpt")
    with pytest.raises(ValueError, match=re.escape(moved)):
        start_multi_stream(MultiTableEngine(spark, tables, cfg), stream(),
                           available_now=True)

    # start_stream shares the guard: the table's own stream fence is the
    # multi-table one here, and its default checkpoint has never run
    eng = mte.engines["code.repos_b"]
    with pytest.raises(ValueError,
                       match=re.escape(default_checkpoint_dir(eng))):
        start_stream(eng, stream(), available_now=True)
