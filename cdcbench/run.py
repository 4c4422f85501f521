"""CDC benchmark for sparkcdc: three closed-loop workloads driven through
the public package API, each checked against an independent fold.

    python3 cdcbench/run.py --workload replay_generator --seed 1 \
        --seconds 2 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything else, Spark's logs included, goes to standard
error. All files are written under ``cdcbench/_work`` and removed at exit.

Every run applies the same fixed work, one round of its workload, however
fast the host is, so the final state behind ``lake_bytes_per_row`` and
``scan_s`` never depends on speed. ``--seconds`` is accepted for the
runner's interface; a round takes longer than the 2 s that
``BENCHMARK.json`` sets. An operation that fails raises, and the run exits
non-zero without a result, so ``failed`` is always 0.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: workloads and metrics (name -> unit), as ``BENCHMARK.json`` at the
#: repository root defines them; a layer a workload never enters reads 0
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_engine():
    """Import sparkcdc from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    import sparkcdc

    where = os.path.dirname(os.path.abspath(sparkcdc.__file__))
    if where != os.path.join(ROOT, "sparkcdc"):
        raise SystemExit(f"sparkcdc imported from {where}, not {ROOT}")


def _prepare_env() -> None:
    # Spark's Python workers (the pgoutput decode, compaction) import
    # sparkcdc too, and must find it without an install
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the streams, the session and the JVM, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    _import_engine()
    # keep stdout for the result line alone: everything else, the JVM's
    # output included, goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    shutil.rmtree(WORK, ignore_errors=True)
    _prepare_env()
    spark = None
    try:
        from common import Context, start_spark

        spark = start_spark(WORK, traced=bool(args.trace))
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = Context(spark, WORK, args.seed, tracer, START)
        wl = importlib.import_module(args.workload)
        outcome = wl.run(ctx)
        setup_s = ctx.setup_end - START
        ctx.note("done")
        for p in outcome.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        e2e = outcome.end_to_end(setup_s)
        if args.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(outcome.layers)
            layers["trace.events_per_s"] = e2e["events_per_s"]
            metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k]}
                       for k in PER_LAYER}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": END_TO_END[k]}
                       for k in END_TO_END}
        print(json.dumps({k: v["value"] for k, v in metrics.items()}),
              file=sys.stderr)
        result = {"correct": not outcome.problems,
                  "attempted": outcome.attempted, "failed": 0,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
