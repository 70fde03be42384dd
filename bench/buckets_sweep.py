"""n_buckets sweep for the fused bucket-aligned collapse (cdc/lww.py
lww_collapse_bucketed).

Runs the same MoR replay at several n_buckets values on a fixed core count
and prints one JSON line per setting. The collapse exchange has
min(n_buckets, slots) partitions, so above the slot count more buckets do
not add tasks: they change how evenly buckets hash onto the tasks (the
task holding the most bucket bytes sets the write stage's tail) and
multiply small files and manifest entries. The sweep shows where the curve
bends on this workload so the table's bucket count is a measured choice,
not folklore.

Usage: python bench/buckets_sweep.py [--cores 8] [--events 2000000]
NEVER run concurrently with bench/scaling.py (shared-host interference).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


def run_one(spark, log, sch, n_buckets: int, n_batches: int) -> dict:
    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    root = tempfile.mkdtemp(prefix=f"pks_nb{n_buckets}_", dir=TMP_BASE)
    try:
        table = ParquetSnapshotTableIO(
            spark, root + "/t", n_buckets=n_buckets, write_mode="mor",
            compact_delta_files=None,
        )
        table.init_empty(sch)
        t0 = time.time()
        lineage = replay_changelog(
            spark, table, log, n_batches=n_batches, salted="auto", n_salts=16,
            run_id=f"nb{n_buckets}",
        )
        table.compact()  # drain fold inside the timed window
        wall = time.time() - t0
        batch_secs = [r.get("batch_sec") for r in lineage if r.get("batch_sec")]
        return {
            "n_buckets": n_buckets,
            "wall_sec": round(wall, 2),
            "batch_secs": [round(b, 2) for b in batch_secs],
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--convs", type=int, default=40_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--buckets", default="8,32,128")
    args = ap.parse_args()

    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
    from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog
    from pentaho_kettle_spark.session import get_spark

    spark = get_spark(
        app_name="pks-nb-sweep", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))

    cache = f"{TMP_BASE}/pks_bench_cache/changelog_e{args.events}_c{args.convs}_s42_z1.2_rng"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        pdf = gen_changelog(args.events, args.convs, seed=42)
        spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).repartitionByRange(
            32, "ingest_ts"
        ).sortWithinPartitions("ingest_ts").write.mode("overwrite").parquet(cache)
    log = read_changelog(spark, cache)
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )

    buckets = [int(b) for b in args.buckets.split(",")]
    # warm-up pass (JIT + file listing) on the middle setting, discarded
    run_one(spark, log, sch, buckets[len(buckets) // 2], args.batches)
    results = []
    for nb in buckets:
        best = None
        for _ in range(2):  # best-of-two: shared-VM bursts
            r = run_one(spark, log, sch, nb, args.batches)
            best = r if best is None or r["wall_sec"] < best["wall_sec"] else best
        best["events_per_sec"] = round(args.events / best["wall_sec"], 1)
        results.append(best)
        print(json.dumps(best), flush=True)
    print(json.dumps({"cores": args.cores, "events": args.events,
                      "sweep": results}))
    spark.stop()


if __name__ == "__main__":
    main()
