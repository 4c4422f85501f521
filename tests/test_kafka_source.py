"""Kafka-shaped source adapter: (topic, partition, offset) ⇄ OffsetVector
codec, envelope plumbing over a Kafka-record-shaped frame, and the
restart test — a new engine resumes from Kafka-style per-partition
offsets held in TABLE state alone."""

import json

import pytest
from pyspark.sql import functions as F

from sparkcdc.engine import default_engine, EngineConfig
from sparkcdc.envelope import cdc_events
from sparkcdc.offsets import OffsetVector
from sparkcdc.sources.kafka import (
    TopicPartitionCodec,
    envelopes_from_kafka,
    kafka_offsets_to_vector,
    migrate_vector,
    starting_offsets_json,
)


def test_codec_round_trip():
    c = TopicPartitionCodec(("app.orders", "app.users"), stride=100)
    assert c.part_id("app.orders", 3) == 3
    assert c.part_id("app.users", 7) == 107
    assert c.topic_partition(107) == ("app.users", 7)
    assert c.topic_partition(3) == ("app.orders", 3)
    with pytest.raises(ValueError, match="stride"):
        c.part_id("app.orders", 100)
    with pytest.raises(ValueError, match="duplicate"):
        TopicPartitionCodec(("t", "t"))


def test_offsets_translation_round_trip():
    c = TopicPartitionCodec(("a", "b"), stride=100)
    vec = kafka_offsets_to_vector({"a": {0: 10, 1: 20}, "b": {"0": 5}}, c)
    assert vec == OffsetVector({0: 10, 1: 20, 100: 5})
    # resume requires partition counts so the JSON covers EVERY
    # TopicPartition (the Spark source rejects partial specific-offsets)
    j = json.loads(starting_offsets_json(vec, c, partitions={"a": 3, "b": 2}))
    assert j == {"a": {"0": 10, "1": 20, "2": -2}, "b": {"0": 5, "1": -2}}
    with pytest.raises(ValueError, match="partition counts"):
        starting_offsets_json(vec, c)
    with pytest.raises(ValueError, match="shrunk"):
        starting_offsets_json(vec, c, partitions={"a": 1, "b": 1})
    # empty vector -> "earliest", valid for any partition count
    assert starting_offsets_json(OffsetVector(), c) == "earliest"


def test_migrate_vector_stride_change():
    """Changing the codec stride invalidates committed part ids;
    migrate_vector re-encodes them losslessly, and refuses to drop a
    topic that still has committed progress."""
    old = TopicPartitionCodec(("a", "b"), stride=100)
    vec = kafka_offsets_to_vector({"a": {0: 10, 1: 20}, "b": {0: 5}}, old)

    new = TopicPartitionCodec(("a", "b"), stride=10_000)
    mig = migrate_vector(vec, old, new)
    assert mig == OffsetVector({0: 10, 1: 20, 10_000: 5})
    # round-trips back to identical Kafka positions
    for part_id, nxt in mig.parts.items():
        t, p = new.topic_partition(part_id)
        assert vec.parts[old.part_id(t, p)] == nxt

    # topic reorder is also just a re-encode
    flipped = migrate_vector(vec, old, TopicPartitionCodec(("b", "a"),
                                                           stride=100))
    assert flipped == OffsetVector({100: 10, 101: 20, 0: 5})

    # dropping a topic with committed progress must raise, not silently
    # forget the position
    with pytest.raises(KeyError):
        migrate_vector(vec, old, TopicPartitionCodec(("a",), stride=100))


def _kafka_frame(spark, env_df, topic, n_parts):
    """Envelope rows -> a Kafka-record-shaped frame: value is the JSON
    payload, (partition, offset) is the transport position (keyed by the
    envelope's own part routing, offsets dense per partition)."""
    from pyspark.sql import Window

    w = Window.partitionBy("part_id").orderBy("offset")
    return (
        env_df.withColumn(
            "__v", F.to_json(F.struct(*[F.col(c) for c in env_df.columns]))
        )
        .select(
            F.col("__v").cast("binary").alias("value"),
            F.lit(None).cast("binary").alias("key"),
            F.lit(topic).alias("topic"),
            F.col("part_id").cast("int").alias("partition"),
            (F.row_number().over(w) - 1).cast("long").alias("offset"),
        )
    )


def test_envelopes_from_kafka_transport_position(spark):
    c = TopicPartitionCodec(("app.repos",), stride=100)
    env = cdc_events(spark, 40, n_keys=10, n_parts=2)
    raw = _kafka_frame(spark, env, "app.repos", 2)
    out = envelopes_from_kafka(raw, c)
    assert set(out.columns) == {
        "op", "ts_ms", "before", "after", "source", "transaction",
        "part_id", "offset", "tombstone"}
    rows = out.select("part_id", "offset").collect()
    # transport position overrode the payload's: part ids are codec-mapped
    # and offsets are the dense per-partition Kafka offsets
    assert {r["part_id"] for r in rows} <= {0, 1}
    per_part = {}
    for r in rows:
        per_part.setdefault(r["part_id"], []).append(r["offset"])
    for offs in per_part.values():
        assert sorted(offs) == list(range(len(offs)))
    # payload content survived the parse
    assert out.filter("op = 'c' AND after IS NULL").count() == 0


def test_engine_resumes_from_kafka_offsets(spark, tmp_root):
    """Kill-and-resume over a Kafka-shaped source: engine 1 applies a
    prefix, a NEW engine derives startingOffsets from the committed
    per-partition vector, consumes only the remainder, and reaches the
    same state as one uninterrupted run."""
    import os

    c = TopicPartitionCodec(("app.repos",), stride=100)
    env = cdc_events(spark, 300, n_keys=25, n_parts=2)
    raw = _kafka_frame(spark, env, "app.repos", 2).persist()
    kafka_env = envelopes_from_kafka(raw, c).persist()

    def apply_frame(eng, frame, batch_id):
        from sparkcdc.offsets import batch_offsets

        parts = batch_offsets(frame)["parts"]
        eng._apply_batch(
            frame, batch_id=batch_id, kind="stream",
            offsets={"lo": 0, "next": max(parts.values()), "parts": parts},
        )

    cfg = EngineConfig(batch_size=1000, n_keys=25, n_parts=2)
    # engine 1: the first ~half by transport offset, then "crash"
    eng1 = default_engine(spark, os.path.join(tmp_root, "k"), n_buckets=4,
                          config=cfg)
    first = kafka_env.filter("offset < 80")
    apply_frame(eng1, first, batch_id=0)

    # engine 2 (fresh process): resume position comes from TABLE state
    eng2 = default_engine(spark, os.path.join(tmp_root, "k"), n_buckets=4,
                          config=cfg)
    vec = eng2.committed_partition_offsets()
    start = json.loads(
        starting_offsets_json(vec, c, partitions={"app.repos": 2}))
    assert set(start["app.repos"]) == {"0", "1"}
    conds = [
        f"(part_id = {c.part_id('app.repos', int(p))} AND offset >= {o})"
        for p, o in start["app.repos"].items()
    ]
    rest = kafka_env.filter(" OR ".join(conds))
    # the resume split is exact: prefix + remainder = everything
    assert first.count() + rest.count() == kafka_env.count()
    apply_frame(eng2, rest, batch_id=1)

    # uninterrupted control run
    ctrl = default_engine(spark, os.path.join(tmp_root, "ctrl"), n_buckets=4,
                          config=cfg)
    apply_frame(ctrl, kafka_env, batch_id=0)

    proj = lambda t: sorted(  # noqa: E731
        tuple(r) for r in t.read().select(
            "repo", "path", F.sha2("content", 256)).collect())
    assert proj(eng2.table) == proj(ctrl.table)
    assert len(proj(eng2.table)) > 0
    raw.unpersist()
    kafka_env.unpersist()


# -- real-connector conformance (auto-skipped without spark-sql-kafka) ---------


def _kafka_connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider")
        return True
    except Exception:
        return False


def test_starting_offsets_against_real_connector(spark):
    """`starting_offsets_json` output checked against the connector's OWN
    accept/reject behavior, not a re-implementation of it:

    - ``JsonUtils.partitionOffsets`` is the exact parser the source runs
      on a ``startingOffsets`` string (KafkaSourceProvider.
      getKafkaOffsetRangeLimit); our JSON must parse to the committed
      positions plus the -2 (earliest) sentinel for unseen partitions,
      and the malformed shapes the engine must never emit must throw.
    - the full ``readStream.format("kafka").load()`` path must accept
      the generated JSON at analysis time (no broker contact yet) and
      expose the documented record schema `envelopes_from_kafka`
      composes on.

    Needs spark-sql-kafka on the classpath but NO broker; auto-skips in
    the sandbox like the Iceberg catalog conformance test."""
    if not _kafka_connector_available(spark):
        pytest.skip("spark-sql-kafka not on the classpath "
                    "(expected in sandbox)")

    c = TopicPartitionCodec(("app.orders", "app.users"), stride=100)
    vec = OffsetVector({0: 10, 1: 20, 100: 5})
    j = starting_offsets_json(
        vec, c, partitions={"app.orders": 3, "app.users": 2})

    ju = spark._jvm.org.apache.spark.sql.kafka010.JsonUtils
    parsed = ju.partitionOffsets(j)
    got = {}
    it = parsed.iterator()
    while it.hasNext():
        t = it.next()
        tp = t._1()
        got[(tp.topic(), tp.partition())] = t._2()
    assert got == {
        ("app.orders", 0): 10, ("app.orders", 1): 20,
        ("app.orders", 2): -2,  # earliest sentinel for unseen partitions
        ("app.users", 0): 5, ("app.users", 1): -2,
    }
    for bad in ('{"app.orders": {"0": "x"}}', "{", '["app.orders"]'):
        with pytest.raises(Exception):
            ju.partitionOffsets(bad)

    df = (
        spark.readStream.format("kafka")
        # never contacted at load(): analysis only validates options
        .option("kafka.bootstrap.servers", "localhost:1")
        .option("subscribe", ",".join(c.topics))
        .option("startingOffsets", j)
        .load()
    )
    assert {"key", "value", "topic", "partition", "offset",
            "timestamp", "timestampType"} <= set(df.columns)
    out = envelopes_from_kafka(df, c)
    assert out.isStreaming
    assert {"op", "part_id", "offset"} <= set(out.columns)
