"""Per-partition offset vectors + GtidSet-style algebra (SURVEY §2.6,
binlog/gtid/GtidSet.java:27,52) and their checkpoint integration."""

import os

from sparkcdc.offsets import OffsetVector, batch_offsets


def test_contains_subtract_merge():
    a = OffsetVector({0: 100, 1: 50, 2: 75})
    b = OffsetVector({0: 80, 1: 50})
    assert a.contains(b)            # isContainedWithin
    assert not b.contains(a)
    # subtract: what of `a` is not yet covered by `b`, keyed at b's resume
    rem = a.subtract(b)
    assert rem.parts == {0: 80, 2: 0}
    assert a.subtract(a).parts == {}
    m = b.merge(OffsetVector({1: 60, 3: 5}))
    assert m.parts == {0: 80, 1: 60, 3: 5}


def test_advance_is_monotone():
    v = OffsetVector({0: 10})
    assert v.advance(0, 5) is v           # never regress
    assert v.advance(0, 20).parts == {0: 20}
    assert v.advance(1, 7).parts == {0: 10, 1: 7}


def test_summary_roundtrip():
    v = OffsetVector({3: 9, 1: 4})
    assert OffsetVector.from_summary(v.to_summary()).parts == v.parts


def test_streaming_checkpoints_partition_vector(spark, tmp_root):
    """The stream commits a per-partition high-water vector atomically with
    the data; a redelivered early batch cannot regress it."""
    from pyspark.sql import functions as F
    from sparkcdc.engine import CdcEngine, EngineConfig
    from sparkcdc.envelope import REPO_ROW_FIELDS, cdc_events
    from sparkcdc.lake import LakeTable

    t = LakeTable.create(
        spark, tmp_root, "t",
        fields=[(n, "string") for n, _ in REPO_ROW_FIELDS],
        key_cols=["repo", "path"], n_buckets=4,
    )
    eng = CdcEngine(spark, t, EngineConfig(n_keys=50, n_parts=4))
    env = cdc_events(spark, 1000, n_keys=50, n_parts=4)
    parts = OffsetVector.from_summary(batch_offsets(env)["parts"])
    assert set(parts.parts) == {0, 1, 2, 3}
    eng._apply_batch(env, batch_id=0, kind="stream",
                     offsets={"lo": 0, "next": 1000,
                              "parts": parts.to_summary()})
    v = eng.committed_partition_offsets()
    assert v.parts == parts.parts
    # a later batch advances only some partitions; vector merges pointwise
    env2 = cdc_events(spark, 200, start=1000, n_keys=50, n_parts=4)
    p2 = OffsetVector.from_summary(batch_offsets(env2)["parts"])
    eng._apply_batch(env2, batch_id=1, kind="stream",
                     offsets={"lo": 1000, "next": 1200,
                              "parts": p2.to_summary()})
    v2 = eng.committed_partition_offsets()
    assert v2.contains(v) and v2.contains(p2)
    # redelivered stale offsets never regress the vector
    eng._apply_batch(env, batch_id=2, kind="stream",
                     offsets={"lo": 0, "next": 1000,
                              "parts": parts.to_summary()})
    assert eng.committed_partition_offsets().contains(v2)


def test_batch_offsets_is_one_query(spark, tmp_root):
    """The stream's offsets probe: None for an empty frame; inside a real
    foreachBatch, on a persisted cdc_events micro-batch, the same
    lo/next/parts that the three earlier probes (isEmpty, a min/max agg
    and a per-partition max) computed, from one query where those ran
    three. Adaptive execution stays on for a micro-batch's own queries,
    so that one query still submits several Spark jobs (materializing the
    cached batch, the shuffle map stage, the result): half as many as the
    three earlier probes."""
    from pyspark.sql import functions as F
    from sparkcdc.envelope import cdc_events
    from sparkcdc.transforms.serialize import (envelope_to_json,
                                               parse_envelope_json)

    env = cdc_events(spark, 1000, n_keys=50, n_parts=4)
    assert batch_offsets(env.limit(0)) is None
    wire = os.path.join(tmp_root, "wire")
    envelope_to_json(env).write.text(wire)
    sc = spark.sparkContext
    seen = {}

    def jobs(group, fn):
        """fn's result and the number of Spark jobs it ran."""
        sc.setJobGroup(group, group)
        try:
            out = fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def three_probes(df):
        assert not df.isEmpty()
        df = df.persist()
        b = df.agg(F.min("offset").alias("lo"),
                   F.max("offset").alias("hi")).collect()[0]
        rows = df.groupBy("part_id").agg(F.max("offset").alias("hi"))
        parts = {int(r["part_id"]): int(r["hi"]) + 1 for r in rows.collect()}
        df.unpersist()
        return {"lo": int(b["lo"]), "next": int(b["hi"]) + 1,
                "parts": OffsetVector(parts).to_summary()}

    def one_probe(df):
        df = df.persist()
        try:
            return batch_offsets(df)
        finally:
            df.unpersist()

    def on_batch(batch_df, batch_id):
        seen["old"] = jobs("probe-old", lambda: three_probes(batch_df))
        seen["new"] = jobs("probe-new", lambda: one_probe(batch_df))

    q = (parse_envelope_json(spark.readStream.text(wire))
         .writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", os.path.join(tmp_root, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    (want, old_jobs), (got, new_jobs) = seen["old"], seen["new"]
    assert got == want
    assert got["lo"] == 0 and got["next"] == 1000
    assert set(got["parts"]) == {"0", "1", "2", "3"}
    assert (old_jobs, new_jobs) == (6, 3)
