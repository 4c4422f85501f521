"""Regression tests for review findings: redelivered-truncate data loss,
NULL-op DLQ drop, overwrite checkpoint wipe, key-column widen, evolve
losing defaults, schema-journal crash window, multitable re-apply."""

import pytest
from pyspark.sql import functions as F

from sparkcdc.engine import CdcEngine, EngineConfig, default_engine
from sparkcdc.envelope import cdc_events
from sparkcdc.lake import LakeTable

FIELDS = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def test_redelivered_truncate_batch_is_total_noop(spark, tmp_root):
    """A fenced batch containing op='t' must NOT wipe state: the fence has
    to run before any side effect."""
    eng = default_engine(
        spark, tmp_root, n_buckets=4,
        config=EngineConfig(batch_size=1000, n_keys=40, truncate_enabled=True),
    )
    eng.replay(1000)
    base = cdc_events(spark, 500, start=1000, n_keys=40)
    env = base.withColumn(
        "op", F.when(F.col("offset") == 1100, F.lit("t")).otherwise(F.col("op"))
    )
    bid = eng.committed_batch() + 1
    eng._apply_batch(env, batch_id=bid, kind="replay",
                     offsets={"lo": 1000, "next": 1500})
    state = sorted(tuple(r) for r in eng.table.read().collect())
    v = eng.table.current_version()
    # redeliver the SAME batch id (streaming crash-before-checkpoint)
    r = eng._apply_batch(env, batch_id=bid, kind="replay",
                         offsets={"lo": 1000, "next": 1500})
    assert r["skipped"]
    assert eng.table.current_version() == v  # no delete_where version bump
    assert sorted(tuple(r) for r in eng.table.read().collect()) == state


def test_dlq_catches_null_op(spark, tmp_root):
    eng = default_engine(
        spark, tmp_root, n_buckets=4,
        config=EngineConfig(batch_size=1000, n_keys=20, dlq_enabled=True),
    )
    env = cdc_events(spark, 100, n_keys=20)
    nulled = env.withColumn(
        "op", F.when(F.col("offset") == 5, F.lit(None)).otherwise(F.col("op"))
    )
    eng._apply_batch(nulled, batch_id=0, kind="replay",
                     offsets={"lo": 0, "next": 100})
    dlq = eng.dlq()
    assert dlq is not None and {r["offset"] for r in dlq.collect()} == {5}


def test_overwrite_preserves_checkpoint_and_fence(spark, tmp_root):
    eng = default_engine(
        spark, tmp_root, n_buckets=4,
        config=EngineConfig(batch_size=500, n_keys=30),
    )
    eng.replay(1000)
    assert eng.committed_offset() == 1000
    fresh = eng.table.read().limit(5)
    eng.table.overwrite(fresh)
    assert eng.committed_offset() == 1000  # NOT reset to 0
    assert eng.committed_batch() >= 0
    # replay does not restart from scratch
    assert eng.replay(1000)["batches"] == 0


def test_widen_key_column_rejected(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root, "t", fields=[("id", "int"), ("v", "int")],
        key_cols=["id"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="key column"):
        t.evolve([{"action": "widen", "name": "id", "type": "long"}])
    # non-key widen still fine
    t.evolve([{"action": "widen", "name": "v", "type": "long"}])


def test_evolve_preserves_defaults_of_existing_fields(spark, tmp_root):
    t = LakeTable.create(spark, tmp_root, "t", fields=FIELDS,
                         key_cols=["repo", "path"], n_buckets=2)
    t.evolve([{"action": "add", "name": "stars", "type": "int", "default": 9}])
    t.evolve([{"action": "rename", "from": "lang", "to": "language"}])
    stars = next(f for f in t.manifest().fields if f.name == "stars")
    assert stars.default == 9


def test_schema_journal_crash_window_repair(spark, tmp_root):
    """Journal written but evolve not committed (crash between) → next
    replay applies the pending change exactly once."""
    eng = default_engine(
        spark, tmp_root, n_buckets=4,
        config=EngineConfig(batch_size=1000, n_keys=20),
    )
    eng.replay(1000)
    # simulate the crash window: journal only
    eng.schema_history.record(
        1000, [{"action": "add", "name": "stars", "type": "int"}],
        base_epoch=eng.table.manifest().epoch,
    )
    assert "stars" not in eng.table.read().columns
    eng2 = default_engine(spark, tmp_root, n_buckets=4,
                          config=EngineConfig(batch_size=1000, n_keys=20))
    eng2.replay(2000)
    cols = eng2.table.read().columns
    assert "stars" in cols
    assert cols.count("stars") == 1  # applied exactly once
    # a third run does not re-apply
    eng3 = default_engine(spark, tmp_root, n_buckets=4,
                          config=EngineConfig(batch_size=1000, n_keys=20))
    eng3.replay(2000)
    assert eng3.table.manifest().epoch == eng2.table.manifest().epoch


def test_multitable_replay_skips_tables_ahead(spark, tmp_root):
    from sparkcdc.multitable import MultiTableEngine

    tables = {
        f"code.{n}": LakeTable.create(
            spark, tmp_root, n, fields=FIELDS, key_cols=["repo", "path"],
            n_buckets=2,
        )
        for n in ["a", "b"]
    }

    def stream(lo, hi):
        env = cdc_events(spark, hi - lo, start=lo, n_keys=50, n_parts=2)
        shard = F.when(
            F.pmod(F.xxhash64(F.coalesce(F.col("after.path"), F.col("before.path"))),
                   F.lit(2)) == 0, F.lit("a")).otherwise(F.lit("b"))
        return env.withColumn("source", F.col("source").withField("table", shard))

    mte = MultiTableEngine(spark, tables, EngineConfig(n_keys=50, n_parts=2))
    mte.replay(1000, stream, batch_size=500)
    va = tables["code.a"].current_version()
    off_a = mte.engines["code.a"].committed_offset()
    # push only table b behind by replaying b's lake from scratch
    # (simulate: drop b's table and recreate empty)
    import shutil, os
    shutil.rmtree(os.path.join(tmp_root, "b"))
    tables["code.b"] = LakeTable.create(
        spark, tmp_root, "b", fields=FIELDS, key_cols=["repo", "path"],
        n_buckets=2,
    )
    mte2 = MultiTableEngine(spark,
                            {"code.a": LakeTable.load(spark, tmp_root, "a"),
                             "code.b": tables["code.b"]},
                            EngineConfig(n_keys=50, n_parts=2))
    mte2.replay(1000, stream, batch_size=500)
    # table a untouched (no redundant COW versions, checkpoint not regressed)
    assert tables["code.a"].current_version() == va
    assert mte2.engines["code.a"].committed_offset() == off_a
    assert mte2.engines["code.b"].committed_offset() == 1000
    assert tables["code.b"].read().count() > 0


@pytest.mark.parametrize("ddl", [False, True])
def test_resume_applies_rest_of_an_offsets_schema_changes(
        spark, tmp_root, ddl):
    """Two schema changes at one offset, and a crash after the first was
    journaled and evolved: the restarted replay applies the second, once
    — and a further restart applies neither again."""
    def engine():
        return default_engine(spark, tmp_root, n_buckets=4,
                              config=EngineConfig(batch_size=500, n_keys=20))

    add_x = [{"action": "add", "name": "x", "type": "int"}]
    add_y = [{"action": "add", "name": "y", "type": "int"}]
    a, b = add_x, add_y
    if ddl:
        a = "ALTER TABLE source_code_repos ADD COLUMN x INT"
        b = "ALTER TABLE source_code_repos ADD COLUMN y INT"
    eng = engine()
    eng.replay(1000)
    # the crash point: the first change journaled and evolved, not the
    # second
    eng.schema_history.record(1000, add_x,
                              base_epoch=eng.table.manifest().epoch,
                              ddl=a if ddl else None)
    eng.table.evolve(add_x)
    changes = [(1000, a), (1000, b)]
    eng2 = engine()
    eng2.replay(1500, schema_changes=changes)
    names = [f.name for f in eng2.table.manifest().fields]
    assert names[-2:] == ["x", "y"] and names.count("x") == 1
    assert len(eng2.schema_history.entries()) == 2
    engine().replay(2000, schema_changes=changes)
    assert [f.name for f in eng2.table.manifest().fields] == names
    assert len(eng2.schema_history.entries()) == 2
