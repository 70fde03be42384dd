"""The ingest workload: a MoR replay with async compaction. One op is one
micro-batch apply; the benchmark runs whole replays of the seeded log back
to back, each into a fresh table.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import nullcontext

import pandas as pd

from layerbench import host, inputs
from layerbench.trace import SPARK_TASK_METRICS, EventLog, TimedLock, Tracer, maybe_span

N_BUCKETS = 16
N_BATCHES = 8
# latency_tail_s is this percentile of batch latencies: >= 5 replays x 8
# batches give >= 40 samples, >= 10 of them beyond it
TAIL_PCT = (3, 4)


class _BatchClock:
    """Times every `apply_batch` call of a replay from its start to its
    return, which is after the batch's commit. Kept on in untraced ops."""

    def __init__(self) -> None:
        self.spans: list[tuple[float, float]] = []

    def __enter__(self):
        from pentaho_kettle_spark.cdc import replay

        self._orig = orig = replay.apply_batch

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            self.spans.append((t0, time.perf_counter()))
            return out

        replay.apply_batch = timed
        return self

    def __exit__(self, *exc) -> None:
        from pentaho_kettle_spark.cdc import replay

        replay.apply_batch = self._orig


class Ingest:
    """The MoR leg of bench.py at a smaller size: the same table options,
    compaction policy and replay call."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.ops_done = 0

    # ---- inputs and set-up ----

    def prepare(self, cache: str, seed: int) -> None:
        self.inputs = inputs.changelog(cache, seed)
        want = pd.read_parquet(self.inputs["oracle"])
        self.oracle = want.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    def _table_schema(self):
        import pyspark.sql.types as T

        from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA

        return T.StructType(
            [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
        )

    def bootstrap(self, spark) -> None:
        self.spark = spark

    def setup(self) -> dict:
        """Timed: open the cached log, create and init the table."""
        from pentaho_kettle_spark.cdc.changelog import read_changelog
        from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

        root = os.path.join(self.work, f"t-{uuid.uuid4().hex[:8]}")
        log = read_changelog(self.spark, self.inputs["log"])
        table = ParquetSnapshotTableIO(
            self.spark, root, n_buckets=N_BUCKETS, write_mode="mor",
            compact_delta_files=None, minor_compaction_engine="arrow",
        )
        table.init_empty(self._table_schema())
        return {"table": table, "log": log, "root": root}

    # ---- one op cycle ----

    def op(self, state: dict, tracer: Tracer | None) -> dict:
        from pentaho_kettle_spark.cdc.replay import replay_changelog
        from pentaho_kettle_spark.tableio.compaction import (
            CompactionPolicy,
            CompactionScheduler,
        )

        op_id = f"r{self.ops_done}"
        self.ops_done += 1
        table = state["table"]
        if tracer:
            self._patch(tracer, table, op_id)
        try:
            with _BatchClock() as clock:
                cpu0 = host.tree_cpu()
                t0 = time.time()
                with (tracer.op(op_id, "ingest.replay") if tracer else nullcontext()):
                    # bench.py's _mor_once scheduler, started with the replay
                    sched = CompactionScheduler(
                        table,
                        CompactionPolicy(max_delta_files=2,
                                         major_min_delta_share=0.25, stagger=3),
                        interval_sec=1.0,
                    )
                    sched.start()
                    lineage = replay_changelog(
                        self.spark, table, state["log"], n_batches=N_BATCHES,
                        salted="auto", run_id=op_id,
                    )
                    with maybe_span(tracer, "tableio.compaction.drain"):
                        sched.stop(final_cycle=True)
                t1 = time.time()
                cpu1 = host.tree_cpu()
        finally:
            if tracer:
                tracer.unpatch()
                table._commit_lock = table._commit_lock._lock
        res = {
            "op": op_id, "start": t0, "end": t1, "wall": t1 - t0,
            "traced": tracer is not None, "lineage": lineage,
            "batch_lat": [e - s for s, e in clock.spans],
            "cpu_driver": cpu1[0] - cpu0[0], "cpu_tree": cpu1[1] - cpu0[1],
            "table": table, "root": state["root"],
        }
        # a full read of the drained table: the read cost MoR trades for
        # ingest speed
        m = table.current_manifest()
        res["files_per_bucket"] = sum(len(es) for es in m["files"].values()) / table.n_buckets
        s0 = time.perf_counter()
        table.read().write.format("noop").mode("overwrite").save()
        res["scan"] = time.perf_counter() - s0
        return res

    # ---- correctness ----

    def verify(self, results: list[dict]) -> list[bool]:
        """Each replay's final table equals the pandas oracle of the same log:
        same (conv_id, turn_idx) set, same text per turn. All tables are read
        back in one Spark job."""
        from functools import reduce

        from pyspark.sql import functions as F

        reads = [r["table"].read().select(F.lit(i).alias("run"), "conv_id", "turn_idx",
                                          "text")
                 for i, r in enumerate(results)]
        got_all = reduce(lambda a, b: a.unionByName(b), reads).toPandas()
        want = self.oracle
        ok = []
        for i, r in enumerate(results):
            got = (got_all[got_all["run"] == i]
                   .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
            ok.append(bool(
                len(got) == len(want)
                and got["conv_id"].equals(want["conv_id"])
                and (got["turn_idx"].astype("int64").values
                     == want["turn_idx"].astype("int64").values).all()
                and got["text"].fillna("\0").equals(want["text"].fillna("\0"))
            ))
            shutil.rmtree(r["root"], ignore_errors=True)
        return ok

    def release(self, state: dict) -> None:
        shutil.rmtree(state["root"], ignore_errors=True)

    discard = release

    # ---- metrics ----

    def end_to_end(self, ops: list[dict], setups: list[float]) -> tuple[dict, dict]:
        lat = sorted(x for r in ops for x in r["batch_lat"])
        tail_rank = -(-len(lat) * TAIL_PCT[0] // TAIL_PCT[1]) - 1
        metrics = {
            "setup_s": statistics.median(setups),
            "throughput_per_s": self.inputs["events"] / statistics.median(r["wall"] for r in ops),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": lat[tail_rank],
            "cpu_s_per_op": statistics.median(r["cpu_tree"] / len(r["batch_lat"]) for r in ops),
            "scan_s": statistics.median(r["scan"] for r in ops),
        }
        info = {"tail_percentile": round(100 * TAIL_PCT[0] / TAIL_PCT[1], 1),
                "latency_samples": len(lat)}
        return metrics, info

    def per_layer(self, traced: list[dict], tracer: Tracer, events: EventLog) -> dict:
        by_id = {s["id"]: s for s in tracer.spans}

        def in_compaction(s: dict) -> bool:
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["name"].startswith("tableio.compaction"):
                    return True
            return False

        acc: dict[str, float] = defaultdict(float)
        batch_durs: list[float] = []
        winners = 0
        for r in traced:
            spans = [s for s in tracer.spans if s["op"] == r["op"]]

            def total(name: str, ingest_only: bool = False, spans=spans) -> float:
                return sum(s["end"] - s["start"] for s in spans if s["name"] == name
                           and not (ingest_only and in_compaction(s)))

            batch = [s["end"] - s["start"] for s in spans if s["name"] == "cdc.replay.batch"]
            batch_durs += batch
            sp = events.totals(t for t in events.by_tag if t.startswith(r["op"] + "-"))
            per_replay = {
                "cdc.replay.bounds_s": total("cdc.replay.bounds"),
                "cdc.replay.overlap": sum(batch) / r["wall"],
                "cdc.skew.sample_s": total("cdc.skew.sample"),
                "tableio.files_per_bucket_at_read": r["files_per_bucket"],
                "tableio.compaction.busy_s": total("tableio.compaction.fold"),
                "tableio.compaction.drain_s": total("tableio.compaction.drain"),
            }
            per_batch = {
                "cdc.schema_evolution.conform_s": total("cdc.schema_evolution.conform"),
                "cdc.lww.build_s": total("cdc.lww.build"),
                "cdc.lww.exchange_bytes": sp["log_exchange_bytes"],
                "tableio.merge_apply_s": total("tableio.merge_apply"),
                "tableio.commit_s": total("tableio.commit", ingest_only=True),
                "tableio.commit_lock_wait_s":
                    total("tableio.commit_lock_wait", ingest_only=True),
                "spark.driver_serial_s":
                    r["wall"] - events.busy_seconds(r["start"], r["end"]),
                "process.driver_cpu_s": r["cpu_driver"],
                "process.jvm_cpu_s": r["cpu_tree"] - r["cpu_driver"],
                **{f"spark.{k}": sp[k] for k in SPARK_TASK_METRICS},
            }
            for key, val in per_replay.items():
                acc[key] += val
            for key, val in per_batch.items():
                acc[key] += val / len(r["lineage"])
            for rec in r["lineage"]:
                met = rec.get("metrics", {})
                winners += sum(met.get(k, 0) for k in (
                    "rows_appended", "inserted", "updated", "deleted", "delete_noop",
                    "stale_lost"))
        k = len(traced)
        n_events = self.inputs["events"] * k
        c = tracer.counts
        return {
            **{key: val / k for key, val in acc.items()},
            "cdc.replay.batch_busy_s": statistics.median(batch_durs),
            "cdc.skew.hot_keys": c["cdc.skew.hot_keys"] / k,
            "cdc.skew.salted": c["cdc.skew.salted"] / k,
            "cdc.lww.winners_per_event": winners / n_events,
            "tableio.bytes_written_per_event": c["tableio.ingest_bytes"] / n_events,
            "tableio.compaction.cycles": c["tableio.compaction.cycles"] / k,
            "tableio.compaction.bytes_rewritten": c["tableio.compaction.bytes"] / k,
        }

    # ---- tracing ----

    def _patch(self, tr: Tracer, table, op_id: str) -> None:
        from pentaho_kettle_spark.cdc import lww, replay, skew
        from pentaho_kettle_spark.tableio import compaction
        from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO as P

        def in_compaction() -> bool:
            return any(s["name"].startswith("tableio.compaction")
                       for s in tr._tl.__dict__.get("stack", []))

        def written(args, kwargs, files, _state):
            size = sum(os.path.getsize(os.path.join(args[0].root, e["path"]))
                       for es in files.values() for e in es)
            if not in_compaction():
                tr.add("tableio.ingest_bytes", size)

        def fold_input(args, kwargs):
            self_, buckets = args[0], kwargs.get("buckets", args[1] if len(args) > 1 else None)
            m = self_.current_manifest()
            return sum(os.path.getsize(os.path.join(self_.root, e["path"]))
                       for b, es in m["files"].items()
                       if buckets is None or int(b) in buckets for e in es)

        def folded(args, kwargs, done, size):
            if done:
                tr.add("tableio.compaction.bytes", size)

        def cycle(args, kwargs, done, _state):
            if done:
                tr.add("tableio.compaction.cycles", 1)

        tr.wrap(replay, "_footer_ts_bounds", "cdc.replay.bounds")
        tr.wrap(replay, "evolve_and_conform", "cdc.schema_evolution.conform")
        tr.wrap(replay, "apply_batch", "cdc.replay.batch",
                tag=lambda a, k: k["batch_id"])
        tr.wrap(skew, "hot_key_counts", "cdc.skew.sample",
                after=lambda a, k, r, s: tr.add("cdc.skew.hot_keys", len(r[0])))
        tr.wrap(skew, "should_salt", "cdc.skew.decide",
                after=lambda a, k, r, s: tr.add("cdc.skew.salted", int(bool(r))))
        for fn in ("lww_collapse_bucketed", "lww_collapse", "lww_collapse_salted"):
            tr.wrap(lww, fn, "cdc.lww.build")
        tr.wrap(P, "merge_apply", "tableio.merge_apply")
        tr.wrap(P, "_merge_apply_mor", "tableio.merge_apply_mor")
        tr.wrap(P, "_write_buckets", "tableio.write", after=written)
        tr.wrap(P, "_commit_mutation", "tableio.commit")
        tr.wrap(compaction, "run_compaction_cycle", "tableio.compaction.cycle",
                tag=lambda a, k: f"{op_id}-compaction", after=cycle)
        tr.wrap(P, "compact", "tableio.compaction.fold", before=fold_input, after=folded)
        tr.wrap(P, "compact_minor", "tableio.compaction.fold", before=fold_input,
                after=folded)
        table._commit_lock = TimedLock(table._commit_lock, tr)

