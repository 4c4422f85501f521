"""pgoutput (PostgreSQL built-in logical replication plugin) source
adapter: the binary message codec, the LSN-versioned control-plane
relation registry, the per-xid Begin-timestamp window attach, and
envelope parity with the direct events adapter."""

import pytest
from pyspark.sql import functions as F

from sparkcdc.apply import envelopes_to_changes, reduce_last_write_wins
from sparkcdc.sources.events_adapter import (
    EVENT_ROW_FIELDS,
    events_to_envelopes,
)
from sparkcdc.sources.pgoutput import (
    PG_EPOCH_US,
    collect_relations,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_update,
    events_to_pgoutput_frames,
    parse_dml,
    parse_relation,
    pgoutput_to_envelopes,
)


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


# ---------------------------------------------------------------------------
# Pure-python codec (no Spark)
# ---------------------------------------------------------------------------


def test_relation_roundtrip():
    cols = [("id", 20, True), ("body", 25, False)]
    r = parse_relation(encode_relation(7, "app", "t", cols))
    assert r == {"rel_id": 7, "namespace": "app", "relname": "t",
                 "replica_identity": "d", "columns": ["id", "body"],
                 "keys": ["id"]}


def test_dml_roundtrips():
    ins = parse_dml(encode_insert(7, ["1", None, "x"]))
    assert ins == {"action": "I", "rel_ids": [7], "old": None,
                   "new": ["1", None, "x"]}
    upd = parse_dml(encode_update(7, ["1", "b", "y"], ["1", None, None]))
    assert upd["old"] == ["1", None, None]
    assert upd["new"] == ["1", "b", "y"]
    # REPLICA IDENTITY NOTHING: update without an old image
    upd2 = parse_dml(encode_update(7, ["1", "b", "y"]))
    assert upd2["old"] is None
    dele = parse_dml(encode_delete(7, ["1", None, None]))
    assert dele["new"] is None and dele["old"] == ["1", None, None]
    trunc = parse_dml(encode_truncate([7, 9]))
    assert trunc == {"action": "T", "rel_ids": [7, 9],
                     "old": None, "new": None}
    # boundary messages are not DML
    assert parse_dml(encode_begin(1, PG_EPOCH_US, 5)) is None
    assert parse_dml(encode_commit(1, 2, PG_EPOCH_US)) is None


def test_unicode_and_embedded_separators_survive():
    """Values containing NULs... cannot occur in pg text mode, but
    newlines, quotes, unicode and empty strings must roundtrip byte-true
    through len-prefixed tuple data."""
    vals = ["", 'a "quoted" \n line', "héllo wörld 世界", None]
    assert parse_dml(encode_insert(1, vals))["new"] == vals


# ---------------------------------------------------------------------------
# Spark parse
# ---------------------------------------------------------------------------


def _frames(spark, rows):
    return spark.createDataFrame(rows, "lsn string, xid long, data binary")


REL = encode_relation(7, "app", "events", [
    ("user_id", 20, True), ("event_type", 25, False),
    ("value", 701, False), ("props", 25, False),
])
TS0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in unix µs


@pytest.fixture
def fixture_env(spark):
    rows = [
        ("0/0", 0, REL),
        ("0/10", 563, encode_begin(0x10, TS0, 563)),
        ("0/10", 563, encode_insert(
            7, ["42", "signup", "1.5", 'a "quoted" str'])),
        ("0/10", 563, encode_commit(0x10, 0x11, TS0)),
        ("0/20", 564, encode_begin(0x20, TS0 + 1_000_000, 564)),
        ("0/20", 564, encode_update(
            7, ["42", "click", None, "p"], ["42", None, None, None])),
        ("0/20", 564, encode_commit(0x20, 0x21, TS0 + 1_000_000)),
        ("0/30", 565, encode_begin(0x30, TS0 + 2_000_000, 565)),
        ("0/30", 565, encode_delete(7, ["42", None, None, None])),
        ("0/30", 565, encode_commit(0x30, 0x31, TS0 + 2_000_000)),
        ("0/40", 566, encode_truncate([7])),
    ]
    return pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"], table="events"
    )


def test_ops_boundaries_and_registry(spark, fixture_env):
    rows = fixture_env.orderBy("offset").collect()
    assert [r["op"] for r in rows] == ["c", "u", "d", "t"]


def test_values_types_nulls_and_images(fixture_env):
    ins, upd, dele, _ = fixture_env.orderBy("offset").collect()
    assert ins["after"]["value"] == 1.5
    assert ins["after"]["props"] == 'a "quoted" str'
    assert ins["before"] is None
    assert upd["after"]["value"] is None
    assert upd["before"]["user_id"] == 42 and upd["before"]["props"] is None
    assert dele["after"] is None and dele["before"]["user_id"] == 42


def test_offsets_transaction_and_begin_join(fixture_env):
    ins = fixture_env.orderBy("offset").first()
    assert ins["offset"] == 0x10
    assert ins["source"]["file"] == "0/10"
    assert ins["transaction"]["id"] == "563"
    assert ins["ts_ms"] == TS0 // 1000


def test_other_relation_filtered(spark):
    other = encode_relation(9, "app", "other", [("id", 20, True)])
    rows = [
        ("0/0", 0, REL), ("0/0", 0, other),
        ("0/10", 1, encode_insert(9, ["5"])),
        ("0/20", 2, encode_insert(7, ["42", "signup", "1.0", None])),
    ]
    env = pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"], table="events"
    )
    got = env.collect()
    assert len(got) == 1 and got[0]["after"]["user_id"] == 42


def test_failure_handling_modes(spark):
    rows = [
        ("0/0", 0, REL),
        ("0/10", 1, encode_insert(7, ["42", "signup", "1.0", None])),
        ("0/20", 2, b"I\x00\x00"),  # truncated garbage
    ]
    env = pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"], table="events"
    )
    assert env.count() == 1  # skip (default) drops the malformed message

    strict = pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"],
        table="events", failure_handling="fail",
    )
    with pytest.raises(Exception):
        strict.collect()


def test_dml_without_relation_raises_even_under_skip(spark):
    """A slice that lost its Relation row is a slicing error, not a
    malformed frame: its committed rows must not decode to nothing while
    the slice's offsets commit."""
    dmls = [(f"0/{0x10 * (i + 1):X}", i + 1,
             encode_insert(7, [str(i), "signup", "1.0", None]))
            for i in range(5)]
    alone = pgoutput_to_envelopes(
        _frames(spark, dmls), EVENT_ROW_FIELDS, ["user_id"], table="events")
    with pytest.raises(Exception, match="no Relation message"):
        alone.collect()
    whole = pgoutput_to_envelopes(
        _frames(spark, [("0/0", 0, REL)] + dmls), EVENT_ROW_FIELDS,
        ["user_id"], table="events")
    assert whole.count() == 5


def test_generator_parser_roundtrip_matches_direct_adapter(spark, events_df):
    """events → pgoutput binary frames → envelopes must equal the direct
    events_to_envelopes adapter on op/offset/ts/before/after."""
    parsed = pgoutput_to_envelopes(
        events_to_pgoutput_frames(events_df),
        EVENT_ROW_FIELDS, ["user_id"], table="events",
    )
    direct = events_to_envelopes(events_df)
    cols = ["op", "offset", "ts_ms", "before", "after"]
    a, b = parsed.select(cols), direct.select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pgoutput_reduce_matches_events_reduce(spark, events_df):
    row_cols = [n for n, _ in EVENT_ROW_FIELDS]
    env = pgoutput_to_envelopes(
        events_to_pgoutput_frames(events_df),
        EVENT_ROW_FIELDS, ["user_id"], table="events",
    )
    red = reduce_last_write_wins(
        envelopes_to_changes(env, row_cols), ["user_id"]
    ).select("user_id", "event_type", "value", "props", "_op")
    direct = reduce_last_write_wins(
        envelopes_to_changes(events_to_envelopes(events_df), row_cols),
        ["user_id"],
    ).select("user_id", "event_type", "value", "props", "_op")
    assert red.exceptAll(direct).count() == 0
    assert direct.exceptAll(red).count() == 0


def test_registry_versions_relations_by_lsn(spark):
    """A re-sent Relation message (post-ALTER) supersedes the cached one
    for rows AT OR AFTER its LSN, while earlier rows still decode against
    the earlier epoch (the serial decoder's cache overwrite, made
    position-aware so one landing can span a schema change)."""
    from sparkcdc.sources.pgoutput import relation_asof

    rel_v2 = encode_relation(7, "app", "events", [
        ("user_id", 20, True), ("event_type", 25, False),
    ])
    rels = collect_relations(_frames(spark, [
        ("0/0", 0, REL), ("0/20", 0, rel_v2),
    ]))
    assert len(rels[7]) == 2
    assert len(relation_asof(rels, 7, 0x10)["columns"]) == 4
    assert relation_asof(rels, 7, 0x20)["columns"] == [
        "user_id", "event_type"]
    assert relation_asof(rels, 7, 0x99)["columns"] == [
        "user_id", "event_type"]
    assert relation_asof(rels, 9, 0x10) is None


def test_mid_stream_schema_change_decodes_per_epoch(spark):
    """A landing spanning an ALTER: pre-ALTER rows decode against the
    4-column epoch, post-ALTER rows against the 2-column epoch — and a
    tuple whose arity matches NO epoch at its LSN is skipped (or fails
    in fail mode) instead of corrupting the map zip."""
    rel_v2 = encode_relation(7, "app", "events", [
        ("user_id", 20, True), ("event_type", 25, False),
    ])
    rows = [
        ("0/0", 0, REL),
        ("0/10", 1, encode_insert(7, ["42", "signup", "1.5", "p"])),
        ("0/20", 0, rel_v2),
        ("0/30", 2, encode_insert(7, ["43", "click"])),
        # arity 4 against the 2-column epoch: malformed
        ("0/40", 3, encode_insert(7, ["44", "click", "1.0", "q"])),
    ]
    env = pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"], table="events"
    )
    got = {r["offset"]: r for r in env.collect()}
    assert set(got) == {0x10, 0x30}
    assert got[0x10]["after"]["value"] == 1.5
    assert got[0x30]["after"]["user_id"] == 43
    assert got[0x30]["after"]["value"] is None  # not in the v2 epoch

    strict = pgoutput_to_envelopes(
        _frames(spark, rows), EVENT_ROW_FIELDS, ["user_id"],
        table="events", failure_handling="fail",
    )
    with pytest.raises(Exception, match="arity|epoch"):
        strict.collect()


def test_wire_dispatch_and_streaming_refusal(spark):
    from sparkcdc.sources.wire import parse_wire_lines

    rows = [("0/0", 0, REL),
            ("0/10", 1, encode_insert(7, ["42", "signup", "1.0", None]))]
    env = parse_wire_lines(
        _frames(spark, rows), "pgoutput", EVENT_ROW_FIELDS, ["user_id"],
        source_table="events",
    )
    assert env.count() == 1

    with pytest.raises(ValueError, match="micro-batches"):
        parse_wire_lines(
            _frames(spark, rows), "pgoutput", EVENT_ROW_FIELDS,
            ["user_id"], source_table="events", streaming=True,
        )
