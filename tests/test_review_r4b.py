"""Regression tests for the round-4 late self-review findings:
mixture-plan long overflow at 100 TB budgets, the streaming engine
losing the pluggable stores/registry, wire parsers ignoring the
engine's n_parts, CLI --fields breaking on decimal(p,s), and lowercase
redo keywords passing the LogMiner gate but extracting wrongly."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkcdc.engine import EngineConfig, default_engine
from sparkcdc.pipeline import curation as cu
from sparkcdc.sources.events_adapter import EVENT_ROW_FIELDS
from sparkcdc.sources.wire import WIRE_FORMATS, parse_wire_lines
from sparkcdc.storage import MemoryHistoryStore, MemoryOffsetStore


def test_mixture_rates_survives_100tb_budget(spark):
    """weight_ppm * a ~1.5e13-token budget is ~1e19 > 2^63: as a long
    multiply ANSI mode aborts the job (ARITHMETIC_OVERFLOW); the plan
    must compute in doubles instead."""
    docs = spark.createDataFrame(
        [(1, "w w w w", "en", "a"), (2, "w w", "en", "b")],
        ["doc_id", "text", "lang", "source"],
    )
    plan = {r.source: r for r in cu.mixture_rates(
        docs, {"a": 700_000, "b": 300_000},
        budget_tokens=15_000_000_000_000,
    ).collect()}
    assert plan["a"].target_tokens == 10_500_000_000_000
    assert plan["a"].rate_ppm == cu.PPM  # tiny source saturates
    assert plan["b"].target_tokens == 4_500_000_000_000


def test_start_stream_engine_inherits_stores_and_registry(
    spark, tmp_root, monkeypatch
):
    """The derived :stream engine must carry the outer engine's pluggable
    history store, offset-store mirror, and schema registry — a default
    file journal would strand schema changes where restart recovery
    never looks. Both front-ends clone through ``CdcEngine.derived``."""
    import sparkcdc.engine as engine
    import sparkcdc.streaming as streaming
    from sparkcdc.multitable import MultiTableEngine

    captured = {}
    real = engine.CdcEngine

    class Recorder(real):
        def __init__(self, *a, **kw):
            captured.update(kw)
            super().__init__(*a, **kw)
            captured["engine"] = self

    for multi in (False, True):
        root = os.path.join(tmp_root, str(multi))
        hist, offs = MemoryHistoryStore(), MemoryOffsetStore()
        eng = default_engine(
            spark, root, n_buckets=4,
            config=EngineConfig(batch_size=100, n_keys=10),
            history_store=hist, offset_store=offs,
        )
        sentinel = object()
        eng.schema_registry = sentinel
        empty = os.path.join(root, "empty_in")
        os.makedirs(empty, exist_ok=True)
        stream = streaming.json_envelope_stream(eng, empty)
        captured.clear()
        with monkeypatch.context() as mp:
            mp.setattr(engine, "CdcEngine", Recorder)
            if multi:
                mte = MultiTableEngine(spark, {"db.t": eng.table})
                mte.engines["db.t"] = eng
                q = streaming.start_multi_stream(mte, stream,
                                                 available_now=True)
            else:
                q = streaming.start_stream(eng, stream, available_now=True)
        q.awaitTermination(60)
        assert captured["history_store"] is hist
        assert captured["offset_store"] is offs
        assert captured["engine"].schema_registry is sentinel


@pytest.mark.parametrize("fmt", [f for f in WIRE_FORMATS])
def test_parse_wire_lines_honors_n_parts(spark, fmt):
    """part_id must be hashed into the CALLER's partition count: the
    committed per-partition offset vector keys on part_id, so a parser
    stuck at the default 8 would corrupt the vector's pointwise-max
    merge for engines configured differently."""
    from sparkcdc.sources.logminer import events_to_logminer_rows
    from sparkcdc.sources.maxwell import events_to_maxwell_lines
    from sparkcdc.sources.mongo import events_to_change_stream_docs
    from sparkcdc.sources.pgoutput import events_to_pgoutput_frames
    from sparkcdc.sources.sqlserver import events_to_change_table_rows
    from sparkcdc.sources.wal2json import events_to_wal2json_lines

    events = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").limit(200)
    emit = {
        "wal2json": events_to_wal2json_lines,
        "mongo": events_to_change_stream_docs,
        "logminer": events_to_logminer_rows,
        "sqlserver": events_to_change_table_rows,
        "maxwell": events_to_maxwell_lines,
        "pgoutput": events_to_pgoutput_frames,
    }[fmt]
    env = parse_wire_lines(
        emit(events), fmt, EVENT_ROW_FIELDS, ["user_id"], n_parts=4)
    parts = {r.part_id for r in env.select("part_id").distinct().collect()}
    assert parts and parts <= set(range(4))
    assert len(parts) > 1  # actually spread, not a constant


def test_wire_envelope_stream_forwards_engine_n_parts(spark, tmp_root):
    from sparkcdc.streaming import wire_envelope_stream

    eng = default_engine(
        spark, tmp_root, n_buckets=4,
        config=EngineConfig(batch_size=100, n_keys=10, n_parts=4),
    )
    env = wire_envelope_stream(
        eng, tmp_root, "maxwell", EVENT_ROW_FIELDS, ["user_id"])
    old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        plan = env._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", old)
    i = plan.index("pmod(xxhash64")
    assert "cast(4 as bigint)" in plan[i:i + 120]


def test_cli_fields_accepts_decimal_type(spark, tmp_root, capsys):
    """--fields 'amount:decimal(10,2),...' must split on the list commas
    only, not the one inside the type name."""
    from sparkcdc.cli import main
    from sparkcdc.lake import LakeTable

    lines = [json.dumps({
        "database": "app", "table": "pay", "type": "insert",
        "ts": 1700000000, "xid": i, "position": f"binlog.000001:{i}",
        "data": {"user_id": i, "amount": f"{i}.25"},
    }) for i in range(1, 4)]
    path = os.path.join(tmp_root, "mx")
    os.makedirs(path)
    with open(os.path.join(path, "lines.txt"), "w") as fh:
        fh.write("\n".join(lines))
    root = os.path.join(tmp_root, "lake")
    assert main([
        "ingest", "--root", root, "--table", "pay_sink",
        "--format", "maxwell", "--path", path,
        "--fields", "user_id:long,amount:decimal(10,2)",
        "--key", "user_id", "--source-table", "pay",
        "--database", "app", "--buckets", "2",
    ]) == 0
    t = LakeTable.load(spark, root, "pay_sink")
    rows = {r["user_id"]: str(r["amount"]) for r in t.read().collect()}
    assert rows == {1: "1.25", 2: "2.25", 3: "3.25"}


def test_logminer_lowercase_keywords_extract_correctly(spark):
    """Lowercase to_date/null/is null pass the (?is) whole-statement gate,
    so the pair/atom extraction must accept them too — case-sensitive
    extraction would silently NULL the column (or misalign an INSERT's
    values zip) behind a green parse_ok."""
    from sparkcdc.sources.logminer import logminer_to_envelopes

    def line(scn, op, redo):
        return json.dumps({
            "scn": scn, "operation": op, "seg_owner": "APP",
            "table_name": "EVENTS", "timestamp": "2024-01-01 00:00:00",
            "xid": "0A", "row_id": "r", "sql_redo": redo,
        })

    lines = spark.createDataFrame([
        # lowercase to_date in SET + lowercase is null in WHERE
        (line(1, "UPDATE",
              'update "APP"."EVENTS" set "EVENT_TYPE" = '
              "to_date('2024-06-01','YYYY-MM-DD') "
              'where "USER_ID" = \'7\' and "PROPS" is null;'),),
        # INSERT with a lowercase to_date wrapper and a bare lowercase
        # null: the wrapper must stay ONE atom (case-sensitive it splits
        # into its two string args and the zip misaligns)
        (line(2, "INSERT",
              'insert into "APP"."EVENTS"("USER_ID","EVENT_TYPE","PROPS")'
              " values ('8',to_date('x','y'),null);"),),
    ], "value string")
    rows = {r["offset"]: r for r in logminer_to_envelopes(
        lines, EVENT_ROW_FIELDS, ["user_id"],
        failure_handling="fail").collect()}
    assert len(rows) == 2
    upd = rows[1]
    assert upd["after"]["user_id"] == 7
    assert upd["after"]["event_type"] == "2024-06-01"
    assert upd["before"]["props"] is None
    ins = rows[2]
    assert ins["after"]["user_id"] == 8
    assert ins["after"]["event_type"] == "x"
    assert ins["after"]["props"] is None
