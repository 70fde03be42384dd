"""Fused bucket-aligned collapse: identical results to the key-partitioned
collapse, with the single-exchange plan the design claims."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.lww import (
    lww_collapse,
    lww_collapse_bucketed,
)
from pentaho_kettle_spark.fixtures import gen_changelog


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _rows(df, key=("conv_id", "turn_idx")):
    cols = sorted(c for c in df.columns if c != "_bucket")
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_fused_equals_unfused(spark):
    pdf = gen_changelog(4000, 150, seed=3)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    base = lww_collapse(log)
    fused = lww_collapse_bucketed(log, n_buckets=8)
    assert _rows(base) == _rows(fused)
    # bucket column matches the table layout hash
    chk = fused.withColumn(
        "_expect", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(8)).cast("int")
    )
    assert chk.filter(F.col("_bucket") != F.col("_expect")).isEmpty()


def test_fused_salted_equals_unfused(spark):
    pdf = gen_changelog(4000, 50, seed=4, zipf_a=1.4)  # skewed: salts do work
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    base = lww_collapse(log)
    hot = [tuple(r) for r in pdf[["conv_id", "turn_idx"]].drop_duplicates().head(5).itertuples(index=False)]
    fused = lww_collapse_bucketed(log, n_buckets=8, n_salts=4, hot_keys=hot)
    assert _rows(base) == _rows(fused)


def test_fused_plan_single_exchange(spark):
    pdf = gen_changelog(1000, 50, seed=5)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    assert _n_exchanges(lww_collapse_bucketed(log, n_buckets=8)) == 1
    # salted variant: raw exchange on (bucket, salt) + tiny reduce on bucket
    assert (
        _n_exchanges(lww_collapse_bucketed(log, n_buckets=8, n_salts=4)) == 2
    )
    # the unfused pipeline this replaces: collapse exchange + write restage
    unfused = lww_collapse(log).withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(8)).cast("int")
    ).repartition("_bucket")
    assert _n_exchanges(unfused) == 2


def test_cow_fused_merge_equals_key_merge(spark, tmp_path):
    """Steady-state CoW merge with a bucket-aligned batch (`_bucket` carried
    through merge_apply, join co-partitioned on it — r6) must produce the
    same table as the key-partitioned merge, file layout included."""
    import pandas as pd
    import pyspark.sql.types as T

    from pentaho_kettle_spark.fixtures import pandas_oracle_apply
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )
    pdf = gen_changelog(6000, 250, seed=9)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    half1 = log.filter(F.col("seq") % 2 == 0).drop("ingest_ts")
    half2 = log.filter(F.col("seq") % 2 == 1).drop("ingest_ts")

    outs = {}
    for kind in ("key", "bucket"):
        t = ParquetSnapshotTableIO(
            spark, str(tmp_path / kind), n_buckets=8, write_mode="cow"
        )
        t.init_empty(sch)
        t.merge_apply(lww_collapse(half1), batch_id="b0", assume_collapsed=True)
        coll = (
            lww_collapse(half2)
            if kind == "key"
            else lww_collapse_bucketed(half2, n_buckets=8)
        )
        rec = t.merge_apply(coll, batch_id="b1", assume_collapsed=True)
        assert rec["touched_buckets"]  # merged something
        pdf_out = (
            t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pdf_out["ts"] = pdf_out["ts"].astype("datetime64[us]")
        outs[kind] = (pdf_out, rec["metrics"])
        # exactly one base file per touched bucket either way
        for b, es in t.current_manifest()["files"].items():
            assert [e["kind"] for e in es] == ["base"], (kind, b, es)

    pd.testing.assert_frame_equal(outs["key"][0], outs["bucket"][0])
    assert outs["key"][1] == outs["bucket"][1]  # same outcome metrics
    oracle = (
        pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(outs["key"][0][oracle.columns], oracle)


def _exchange_partitions(df) -> list[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in re.findall(r"hashpartitioning\([^)]*, (\d+)\)", plan)]


def _plan_nodes(node):
    """A physical plan node and all its descendants (JVM objects); a cached
    relation's own plan is not a child of its scan."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_fused_exchange_sized_by_task_slots(spark):
    """Every bucket exchange has min(n_buckets, defaultParallelism)
    partitions: one task per slot, not one per bucket."""
    slots = spark.sparkContext.defaultParallelism
    pdf = gen_changelog(1000, 50, seed=5)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    for n_buckets in (max(slots // 2, 1), slots * 4):
        want = min(n_buckets, slots)
        assert _exchange_partitions(lww_collapse_bucketed(log, n_buckets=n_buckets)) == [want]
        salted = lww_collapse_bucketed(log, n_buckets=n_buckets, n_salts=4)
        assert _exchange_partitions(salted) == [want, want]


@pytest.mark.parametrize("salted", [False, True])
def test_mor_replay_one_file_per_touched_bucket_per_batch(spark, tmp_path, salted):
    """16 buckets on fewer task slots: several buckets share a write task,
    yet each batch still writes exactly one delta file per touched bucket,
    from no more write tasks than slots, and the table matches the oracle."""
    import pandas as pd
    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.fixtures import pandas_oracle_apply
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    slots = spark.sparkContext.defaultParallelism
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )
    pdf = gen_changelog(4000, 200, seed=11, zipf_a=1.2)
    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "mor"), n_buckets=16, write_mode="mor",
        compact_delta_files=None,
    )
    t.init_empty(sch)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    recs = replay_changelog(spark, t, log, n_batches=3, salted=salted, run_id="fpb")

    files = t.current_manifest()["files"]
    per_batch: dict[str, dict[str, list[str]]] = {}
    for b, es in files.items():
        for e in es:
            write_dir = e["path"].split(os.sep)[1]
            per_batch.setdefault(write_dir, {}).setdefault(b, []).append(e["path"])
    assert len(per_batch) == len(recs) == 3
    assert sorted(len(bs) for bs in per_batch.values()) == sorted(
        len(r["touched_buckets"]) for r in recs
    )
    for bs in per_batch.values():
        for paths in bs.values():
            assert len(paths) == 1, paths
            # part-<task partition id>-...: write tasks are bounded by slots
            assert int(os.path.basename(paths[0]).split("-")[1]) < min(16, slots)

    got = t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["ts"] = got["ts"].astype("datetime64[us]")
    oracle = (
        pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[oracle.columns], oracle)


def test_cow_fused_merge_no_batch_side_exchange(spark, tmp_path):
    """The steady-state CoW merge of a fused batch shuffles only the table
    side: the batch keeps the collapse's `_bucket` partitioning, and the
    planner adds no exchange to either side of the join."""
    import pyspark.sql.types as T

    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    slots = spark.sparkContext.defaultParallelism
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )
    pdf = gen_changelog(3000, 150, seed=12)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "cow"), n_buckets=16, write_mode="cow")
    t.init_empty(sch)
    t.merge_apply(
        lww_collapse(log.filter(F.col("seq") % 2 == 0)), batch_id="b0", assume_collapsed=True
    )

    plans = []
    write = t._write_buckets

    def spy(df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan())
        return write(df, *a, **kw)

    t._write_buckets = spy
    rec = t.merge_apply(
        lww_collapse_bucketed(log.filter(F.col("seq") % 2 == 1), n_buckets=16),
        batch_id="b1", assume_collapsed=True,
    )
    assert rec["touched_buckets"] and len(plans) == 1
    plan = plans[0]
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    (join,) = [n for n in _plan_nodes(plan) if "Join" in n.getClass().getSimpleName()]
    batch_side, table_side = (join.children().apply(i) for i in range(2))

    def exchanges(node):
        return [n for n in _plan_nodes(node)
                if n.getClass().getSimpleName() == "ShuffleExchangeExec"]

    # the batch is the cached fused collapse, read as it was partitioned
    assert exchanges(batch_side) == [], batch_side.toString()
    assert [e.outputPartitioning().numPartitions() for e in exchanges(table_side)] == [
        min(16, slots)
    ], table_side.toString()
