"""SparkSession factory.

Single place that pins the configs every other module assumes:
UTC session timezone (oracle comparability vs DuckDB), AQE on (runtime
re-plan + skew-join splitting), Arrow on (vectorized pandas UDF transfer),
shuffle partitions sized to cores for local mode (at cluster scale the
deploy sets this to ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pentaho_kettle_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("PKS_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
        else:
            shuffle_partitions = 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet codec: measured both ways on the CDC cycle (r6). zstd wins
        # the isolated bucket WRITE (1.0-1.15s vs 1.2-1.5s, 17MB vs 25MB)
        # but the full MoR replay — which also reads every delta back into
        # the compaction folds — is consistently ~12% slower under zstd
        # (6.6-6.8s vs 5.9-6.0s interleaved full-bench), so snappy stays
        # the default. On real clusters where storage bytes dominate, set
        # PKS_PARQUET_CODEC=zstd (guide §6's recommendation for that
        # regime).
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("PKS_PARQUET_CODEC", "snappy"))
        # INT64 micros, not legacy INT96: INT96 carries no footer min/max
        # statistics, which the table IO's lww_after file pruning reads;
        # micros is also Iceberg's on-disk timestamp representation
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("PKS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the bucket-aligned CoW merge joins two sides both hash-partitioned
        # on `_bucket`, a strict subset of the join keys (bucket, *key_cols).
        # With this at its default (true) Spark refuses subset-key
        # co-partitioning and re-shuffles BOTH sides by the full key set —
        # exactly the exchange the fused plan exists to remove. Subset
        # clustering is deliberate here: both sides are staged into the same
        # min(n_buckets, slots) partitions (tableio bucket_partitions).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    # shuffle/spill dir on tmpfs when available: the sandbox's virtio disk
    # stalls for seconds under writeback (cluster deploys use local SSDs and
    # should set PKS_LOCAL_DIR or spark.local.dir themselves)
    local_dir = os.environ.get(
        "PKS_LOCAL_DIR",
        "/dev/shm/pks_spark_local" if os.path.isdir("/dev/shm") else "",
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
