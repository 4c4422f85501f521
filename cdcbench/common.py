"""Run context shared by the workloads: the Spark session, the run's work
directory, the clock and the figures every workload reports."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

#: local[N] parallelism: four cores, or fewer where the host has fewer
CORES = min(4, len(os.sched_getaffinity(0)))
#: fixed driver heap (-Xms = -Xmx), sized to fit a 15 GB host
HEAP = "4g"


def start_spark(work: str, traced: bool):
    """A local session whose temp, shuffle and spill files stay under
    ``work``."""
    from sparkcdc.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        # keep every job's stage metrics until the run reads them
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark("cdcbench", master=f"local[{CORES}]", extra_conf=conf)


@dataclass
class Outcome:
    """What one workload measured and checked."""

    events: int = 0
    apply_s: float = 0.0
    commit_walls: list[float] = field(default_factory=list)
    scan_walls: list[float] = field(default_factory=list)
    lake_bytes: int = 0
    live_rows: int = 0
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        return {
            "events_per_s": self.events / self.apply_s,
            "commit_s_p50": statistics.median(self.commit_walls),
            "scan_s": statistics.median(self.scan_walls),
            "lake_bytes_per_row": self.lake_bytes / self.live_rows,
            "setup_s": setup_s,
        }


class Context:
    def __init__(self, spark, work: str, seed: int, tracer, start: float):
        self.spark = spark
        self.start = start
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.setup_end: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()
        self.note("set-up done")

    def note(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.start:7.2f} s] {what}",
              file=sys.stderr)

    def scan(self, tables, out: Outcome, n: int) -> None:
        """``n`` measured full reads of ``tables``, from building the read
        plan to the last row materialised in the no-op sink. The
        verification's full read before them is the unmeasured one."""
        for _ in range(n):
            t = time.perf_counter()
            df = read_all(tables)
            plan_s = time.perf_counter() - t
            out.scan_walls.append(plan_s + timed_noop(df))
            out.attempted += 1

    def begin(self) -> None:
        """Open the measured window."""
        if self.tracer:
            self.tracer.begin()
        self.t0 = time.perf_counter()

    def end(self) -> None:
        self.t1 = time.perf_counter()
        if self.tracer:
            self.tracer.end()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def scan_layers(tables) -> dict[str, float]:
    """Files a full read of ``tables`` opens, and how many are deltas."""
    files = [f for t in tables for f in t.manifest().files]
    return {
        "lake.read_files": float(len(files)),
        "lake.delta_files": float(sum(f.get("kind") == "delta"
                                      for f in files)),
    }


def read_all(tables, tag: str | None = None):
    """One DataFrame over the current state of every table in ``tables``
    (same schema), so a multi-table read is one Spark job. ``tag`` names
    a column that holds each row's table name."""
    from pyspark.sql import functions as F

    frames = [t.read() if tag is None
              else t.read().withColumn(tag, F.lit(t.name)) for t in tables]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t
