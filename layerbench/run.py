"""Benchmark entry point: one workload, one seed, one process.

    python3 layerbench/run.py --workload mor_replay_zipf --seed 1 --seconds 15 --trace 0

Runs the workload on a local Spark with at most 4 task threads for at least
`--seconds` of complete ops after discarding warm-up ops, checks every op
against the program's oracles, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics from untraced ops; `--trace 1` interleaves untraced
and traced ops (at least four) and reports the per-layer metrics. The line
before it records host noise (steal share, load averages, warm-up ops
discarded) and the wall of each phase of the run.

Everything it writes goes under `.layerbench/` at the checkout root: seeded
inputs cached per seed, per-run scratch (tables, Spark local dirs, event
log), and the span file of traced runs. See NOTES.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ["pentaho_kettle_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py",
            "bench/fairscheduler.xml"]
CPUS = min(4, len(os.sched_getaffinity(0)))

HEADLINE_METRICS = {
    "setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "cpu_s_per_op": "s", "scan_s": "s",
}
# warm-up ops discarded before the window; the least number of measured ops
# (enough latency samples for the workload's tail percentile); set-ups
# before each op (setup_s is their median)
WORKLOADS = {
    # five replays: the scan after each varies with how far async compaction
    # got (1-3 files a bucket), so scan_s needs several tables
    "mor_replay_zipf": {"warmup": 2, "min_ops": 5, "setups": 3},
    # the oracle check in Registry.bootstrap is the cold first pass
    "registry_headline_sf001": {"warmup": 1, "min_ops": 3, "setups": 1},
}


def per_layer_units() -> dict[str, str]:
    from layerbench.registry import HEADLINE
    from layerbench.trace import LAYERS

    units = {
        "session.start_s": "s",
        "cdc.replay.bounds_s": "s", "cdc.replay.batch_busy_s": "s",
        "cdc.replay.overlap": "ratio",
        "cdc.skew.sample_s": "s", "cdc.skew.hot_keys": "count", "cdc.skew.salted": "count",
        "cdc.schema_evolution.conform_s": "s",
        "cdc.lww.build_s": "s", "cdc.lww.exchange_bytes": "B",
        "cdc.lww.winners_per_event": "ratio",
        "tableio.merge_apply_s": "s", "tableio.commit_s": "s",
        "tableio.commit_lock_wait_s": "s",
        "tableio.bytes_written_per_event": "B",
        "tableio.files_per_bucket_at_read": "count",
        "tableio.compaction.cycles": "count", "tableio.compaction.busy_s": "s",
        "tableio.compaction.bytes_rewritten": "B", "tableio.compaction.drain_s": "s",
    }
    for q in HEADLINE:
        units.update({f"registry.{q}.build_s": "s", f"registry.{q}.plan_s": "s",
                      f"registry.{q}.exec_s": "s", f"registry.{q}.shuffle_bytes": "B"})
    units.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.shuffle_write_bytes": "B",
        "spark.spill_bytes": "B", "spark.gc_s": "s", "spark.driver_serial_s": "s",
        "process.peak_rss_mb": "MB", "process.driver_cpu_s": "s",
        "process.jvm_cpu_s": "s",
        "trace.overhead_s": "s", "trace.coverage": "ratio", "trace.concurrency": "ratio",
    })
    for _, layer in LAYERS:
        units[f"trace.wall.{layer}_s"] = "s"
    units["trace.wall.gap_s"] = "s"
    return units


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(run_dir: str, trace: bool):
    from pentaho_kettle_spark.session import get_spark

    conf = {
        # async compaction folds yield task slots to ingest (bench.py's pools)
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": os.path.join(ROOT, "bench", "fairscheduler.xml"),
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # JVM scratch inside the run dir; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # full scan locations in plan metadata, to find the change-log
            # scan under each exchange
            "spark.sql.maxMetadataStringLength": "100000",
        })
    spark = get_spark(app_name="layerbench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _remove_stale_runs(runs: str) -> None:
    """Delete the scratch of earlier runs whose process is gone (killed runs
    cannot clean up after themselves)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def run(args) -> dict:
    from layerbench import host
    from layerbench.ingest import Ingest
    from layerbench.registry import Registry
    from layerbench.trace import EventLog, Tracer, attribute

    work = os.path.join(ROOT, ".layerbench")
    cache = os.path.join(work, "cache")
    runs = os.path.join(work, "runs")
    _remove_stale_runs(runs)
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    for d in (cache, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ.update({
        "TMPDIR": tempfile.tempdir,
        "PKS_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # the launcher JVM spark-submit starts first: no hsperfdata under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}",
        "PKS_DRIVER_MEM": "3g",
    })
    cfg = WORKLOADS[args.workload]
    if args.workload == "registry_headline_sf001":
        wl = Registry(ROOT)
    else:
        wl = Ingest(os.path.join(run_dir, "tmp"))

    # seeded inputs are built (or found in the cache) while the JVM starts
    prep_error: list[BaseException] = []

    def _prepare():
        try:
            wl.prepare(cache, args.seed)
        except BaseException as exc:  # re-raised on the main thread
            prep_error.append(exc)

    prep = threading.Thread(target=_prepare)
    prep.start()
    t0 = time.perf_counter()
    spark = _start_spark(run_dir, bool(args.trace))
    session_start = time.perf_counter() - t0
    tracer = Tracer(spark) if args.trace else None
    ops: list[dict] = []
    setups: list[float] = []
    phases = {"session_start_s": session_start}
    min_ops = max(cfg["min_ops"], 4) if args.trace else cfg["min_ops"]
    try:
        prep.join()
        if prep_error:
            raise prep_error[0]
        t0 = time.perf_counter()
        wl.bootstrap(spark)
        for _ in range(cfg["warmup"]):
            wl.discard(wl.op(wl.setup(), None))
        phases["warmup_s"] = time.perf_counter() - t0
        noise = host.HostNoise()
        window0 = time.perf_counter()
        while True:
            for k in range(cfg["setups"]):
                if k:
                    wl.release(state)
                s0 = time.perf_counter()
                state = wl.setup()
                setups.append(time.perf_counter() - s0)
            # untraced, traced, traced, untraced, ...: both kinds sit at the
            # same mean position, so a still-warming JVM biases neither
            traced = bool(args.trace) and len(ops) % 4 in (1, 2)
            ops.append(wl.op(state, tracer if traced else None))
            if (time.perf_counter() - window0 >= args.seconds
                    and len(ops) >= min_ops):
                break
        noise.close()
        phases["window_s"] = time.perf_counter() - window0
        peak_rss = host.peak_rss_mb()
        t0 = time.perf_counter()
        ok = wl.verify(ops)
        phases["verify_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        host.stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t0

    plain = [r for r in ops if not r["traced"]]
    if args.trace:
        traced_ops = [r for r in ops if r["traced"]]
        log_scan = getattr(wl, "inputs", {}).get("log")
        events = EventLog(EventLog.find(os.path.join(run_dir, "events")), log_scan)
        metrics = {k: 0.0 for k in per_layer_units()}
        metrics.update(wl.per_layer(traced_ops, tracer, events))
        metrics["session.start_s"] = session_start
        metrics["process.peak_rss_mb"] = peak_rss
        metrics["trace.overhead_s"] = (statistics.median(r["wall"] for r in traced_ops)
                                       - statistics.median(r["wall"] for r in plain))
        metrics.update(attribute(tracer, traced_ops))
        tracer.dump(os.path.join(work, "runs", f"spans-{args.workload}-s{args.seed}.json"))
        units = per_layer_units()
        info = {}
    else:
        metrics, info = wl.end_to_end(plain, setups)
        units = HEADLINE_METRICS
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for x in ok if not x)
    host_rec = {
        "workload": args.workload, "seed": args.seed,
        "steal_share": round(noise.steal_share, 4),
        "loadavg_start": noise.load_start, "loadavg_end": noise.load_end,
        "warmup_ops_discarded": cfg["warmup"], "measured_ops": len(ops),
        **{k: round(v, 2) for k, v in phases.items()},
        "op_wall_s": [round(r["wall"], 3) for r in ops],
        "op_cpu_s": [round(r["cpu_tree"], 2) for r in ops],
        "op_scan_s": [round(r["scan"], 3) for r in ops], **info,
    }
    return {
        "host": host_rec,
        "result": {
            "correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
    }


def main(argv=None) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"layerbench: program sources not found next to the benchmark: {missing}",
              file=sys.stderr)
        return 2
    args = _args(argv)
    sys.path.insert(0, ROOT)
    out = run(args)
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
