"""Spans around public calls into sparkcdc modules, for the traced run.

A span is recorded for every call of a wrapped function: its name, start,
end, parent span (per thread) and the range of Spark job ids that were
submitted while it ran. Spans stay in memory; Spark stage metrics for the
job ranges are read from the status store when the run ends, so no Spark
call is added inside a batch beyond reading the next job id.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import threading
import time


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._jsc = spark.sparkContext._jsc.sc()
        self.win: dict = {}

    # -- recording -----------------------------------------------------------

    def next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` by a recording wrapper. ``before(args)``
        returns a state handed to ``after(args, result, state)``, whose
        dict is stored on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            state = before(args) if before else None
            span = {"name": name, "parent": stack[-1] if stack else None,
                    "t0": time.perf_counter(), "j0": tracer.next_job()}
            with tracer._lock:
                span["idx"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["idx"])
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                stack.pop()
                span["t1"] = time.perf_counter()
                span["j1"] = tracer.next_job()
                if after:
                    span.update(after(args, result, state))

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public entry points of each engine layer."""
        import sparkcdc.engine as engine
        import sparkcdc.envelope as envelope
        import sparkcdc.sources.pgoutput as pgoutput
        from sparkcdc.lake import LakeTable
        from sparkcdc.metrics import MetricsLog
        from sparkcdc.multitable import MultiTableEngine
        from sparkcdc.schema_history import SchemaHistory

        self.wrap(envelope, "cdc_events", "envelope.cdc_events")
        self.wrap(engine, "cdc_events", "envelope.cdc_events")
        self.wrap(envelope, "cdc_events_over_ids",
                  "envelope.cdc_events_over_ids")
        self.wrap(engine.CdcEngine, "run_snapshot", "snapshot.apply")
        self.wrap(engine.CdcEngine, "_apply_batch", "engine.batch")
        self.wrap(pgoutput, "collect_relations", "sources.pgoutput.relations")
        self.wrap(LakeTable, "merge", "lake.merge",
                  before=_files_before, after=_files_added)
        self.wrap(LakeTable, "compact", "lake.compact",
                  before=_files_before, after=_files_added)
        self.wrap(LakeTable, "expire_versions", "lake.expire")
        self.wrap(LakeTable, "evolve", "lake.evolve")
        self.wrap(SchemaHistory, "record", "schema_history.record")
        self.wrap(MultiTableEngine, "apply_batch", "multitable.apply")
        self.wrap(MetricsLog, "record", "metrics.record")

    # -- the measured window ------------------------------------------------

    def begin(self) -> None:
        self.win = {"t0": time.perf_counter(), "j0": self.next_job(),
                    "cpu0": self.jvm_cpu_s()}

    def end(self) -> None:
        self.win.update(t1=time.perf_counter(), j1=self.next_job(),
                        cpu1=self.jvm_cpu_s())

    def window(self) -> list[dict]:
        return [s for s in self.spans if "t1" in s
                and s["t0"] >= self.win["t0"] and s["t1"] <= self.win["t1"]]

    # -- reading -------------------------------------------------------------

    def jvm_cpu_s(self) -> float:
        """User + system CPU of the JVM process, from its /proc stat."""
        pid = int(self.spark._jvm.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks = os.sysconf("SC_CLK_TCK")
        return (int(fields[11]) + int(fields[12])) / ticks

    def stage_metrics(self, j0: int, j1: int) -> dict:
        """Sum the status store's last-attempt metrics over the stages of
        jobs ``[j0, j1)``."""
        tracker = self.spark.sparkContext.statusTracker()
        store = self._jsc.statusStore()
        out = {"jobs": j1 - j0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for j in range(j0, j1):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return out

    def _self_walls(self, spans: list[dict]) -> list[float]:
        """Each span's wall minus the walls of its direct children."""
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["t1"] - s["t0"])
        return [s["t1"] - s["t0"] - child.get(s["idx"], 0.0) for s in spans]

    def layer_metrics(self, batches: int,
                      engine_walls: list[float]) -> dict[str, float]:
        """Per-layer figures from the spans of the measured window;
        ``batches`` micro-batches ran in it, and the engine's own
        ``metrics.jsonl`` logged ``engine_walls`` for them."""
        spans = self.window()
        per_batch = max(batches, 1)

        def named(name):
            return [s for s in spans if s["name"] == name]

        def walls(name):
            return [s["t1"] - s["t0"] for s in named(name)]

        envelope = [s for s in spans if s["name"].startswith("envelope.")
                    and (s["parent"] is None or not self.spans[s["parent"]]
                         ["name"].startswith("envelope."))]
        merges = named("lake.merge")
        merge_stats = [self.stage_metrics(s["j0"], s["j1"]) for s in merges]
        compacts = [s for s in named("lake.compact") if s["added_files"]]
        applies = named("multitable.apply")
        win = self.win
        return {
            "envelope.plan_s": sum(s["t1"] - s["t0"] for s in envelope)
            / per_batch,
            "snapshot.apply_s": sum(walls("snapshot.apply")),
            "sources.pgoutput.relations_s": _median(
                walls("sources.pgoutput.relations")),
            "lake.merge_s": _median(walls("lake.merge")),
            "lake.merge_jobs": _mean([m["jobs"] for m in merge_stats]),
            "lake.merge_cpu_s": _mean([m["cpu_s"] for m in merge_stats]),
            "lake.merge_gc_s": _mean([m["gc_s"] for m in merge_stats]),
            "lake.shuffle_write_bytes": _mean(
                [m["shuffle_write_bytes"] for m in merge_stats]),
            "lake.spill_bytes": _mean([m["spill_bytes"] for m in merge_stats]),
            "lake.write_bytes": _mean([s["added_bytes"] for s in merges]),
            "lake.compact_s": _median([s["t1"] - s["t0"] for s in compacts]),
            "lake.compactions": len(compacts) / per_batch,
            "lake.compact_bytes": _mean([s["added_bytes"] for s in compacts]),
            "lake.expire_s": _median(walls("lake.expire")),
            "lake.evolve_s": _median(walls("lake.evolve")),
            "schema_history.record_s": _median(walls("schema_history.record")),
            "multitable.apply_s": _median(walls("multitable.apply")),
            "multitable.jobs_per_trigger": _mean([s["j1"] - s["j0"]
                                                  for s in applies]),
            "engine.batch_s": _median(engine_walls),
            "engine.self_s": _median([own for s, own in zip(
                spans, self._self_walls(spans)) if s["name"] == "engine.batch"]),
            "metrics.record_s": _median(walls("metrics.record")),
            "jvm.cpu_s": (win["cpu1"] - win["cpu0"]) / per_batch,
            "jvm.gc_s": self.stage_metrics(win["j0"], win["j1"])["gc_s"]
            / per_batch,
        }

    def report(self) -> None:
        """Print each layer's calls, wall and self time to stderr."""
        spans = self.window()
        rows: dict[str, list] = {}
        for s, own in zip(spans, self._self_walls(spans)):
            acc = rows.setdefault(s["name"], [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += s["t1"] - s["t0"]
            acc[2] += own
        print(f"{'span':34} {'calls':>6} {'wall_s':>9} {'self_s':>9}",
              file=sys.stderr)
        for name, (calls, wall, own) in sorted(rows.items(),
                                               key=lambda kv: -kv[1][2]):
            print(f"{name:34} {calls:6d} {wall:9.3f} {own:9.3f}",
                  file=sys.stderr)


def _table_files(table) -> set[str]:
    return {f["path"] for f in table.manifest().files}


def _files_before(args):
    return _table_files(args[0])


def _files_added(args, result, before):
    table = args[0]
    added = _table_files(table) - before
    size = 0
    for rel in added:
        try:
            size += os.path.getsize(os.path.join(table.dir, rel))
        except OSError:  # already expired by a later commit
            pass
    return {"added_files": len(added), "added_bytes": size}
