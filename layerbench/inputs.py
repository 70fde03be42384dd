"""Benchmark inputs.

* The MoR change log, `gen_changelog(seed, zipf_a=1.2)`, generated from
  `--seed` once and cached on disk.
* The registry star schema: a copy of the program's sf0.01 test data,
  kept in `data/sf0.01/` beside this file. It is fixed; the seed is only
  recorded.

The change log is written as parquet range-partitioned by `ingest_ts` (the
generator emits rows in delivery order with a monotone `ingest_ts`, so
contiguous row chunks are exactly the range partitions), with row-group
statistics so the replay's footer-driven batch bounds and hot-key sampling
take their driver-side paths. The pandas oracle of each log is cached beside
it. Every cache entry is written to a temporary name and renamed into
place, so an interrupted run never leaves a half-written entry behind.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pentaho_kettle_spark.fixtures.changelog_gen import (
    gen_changelog,
    pandas_oracle_apply,
)

LOG_FILES = 16

# skewed keys (Zipf 1.2) over few conversations
MOR_EVENTS = 200_000
MOR_CONVS = 4_000
STAR_SCHEMA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

_LOG_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("ingest_ts", pa.timestamp("us", tz="UTC")),
])


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):  # another run published first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, final)


def _write_log(pdf: pd.DataFrame, out: str) -> None:
    table = pa.Table.from_pandas(pdf, schema=_LOG_SCHEMA, preserve_index=False)
    os.makedirs(out)
    step = -(-table.num_rows // LOG_FILES)
    for i in range(LOG_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"),
                           row_group_size=step)


def _write_oracle(pdf: pd.DataFrame, path: str) -> None:
    want = pandas_oracle_apply(pdf)[["conv_id", "turn_idx", "text"]]
    pq.write_table(pa.Table.from_pandas(want, preserve_index=False), path)


def changelog(cache: str, seed: int) -> dict:
    """Paths of the cached MoR log and its oracle:
    {"log": dir, "oracle": file, "events": n}."""
    final = os.path.join(cache, f"mor-s{seed}")
    if not os.path.exists(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pdf = gen_changelog(MOR_EVENTS, MOR_CONVS, seed=seed, zipf_a=1.2)
        _write_log(pdf, os.path.join(tmp, "log"))
        _write_oracle(pdf, os.path.join(tmp, "oracle.parquet"))
        _publish(tmp, final)
    log = os.path.join(final, "log")
    return {
        "log": log,
        "oracle": os.path.join(final, "oracle.parquet"),
        "events": pq.ParquetDataset(log).read(columns=["seq"]).num_rows,
    }
