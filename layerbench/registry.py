"""The registry workload: bench.py's ten HEADLINE queries, taken from
`__spark_entry__.queries()` (the md5-portable `minhash_dedup`, so every
output has a DuckDB twin), in a fixed order, each written to a `noop` sink,
on the sf0.01 star schema kept beside the benchmark. One op is one complete
pass over the ten.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

from layerbench import host, inputs
from layerbench.trace import SPARK_TASK_METRICS, EventLog, Tracer, maybe_span

HEADLINE = [
    "q1_pricing_summary",
    "multiway_join_agg",
    "merge_rows_diff",
    "cdc_lww_collapse",
    "top_k",
    "denormaliser_pivot",
    "unique_rows",
    "stream_lookup",
    "minhash_dedup",
    "embedding_topk",
]
TABLES = ["region", "nation", "customer", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# latency_tail_s is this percentile of single-query latencies: >= 3 passes
# give >= 30 samples, >= 10 of them beyond it
TAIL_PCT = (2, 3)


def _check_oracle(root: str):
    """tools/check_oracle.py, imported by path (it is a script, not a package)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(got, want, normalize) -> str | None:
    """The checks of tools/check_oracle.py: row count, column names, exact
    dtypes after width normalisation, then exact values, order-insensitive.
    Returns the first mismatch, or None."""
    import pandas as pd

    g, w = normalize(got), normalize(want)
    if len(g) != len(w):
        return f"rowcount {len(g)} != {len(w)}"
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if [str(d) for d in g.dtypes] != [str(d) for d in w.dtypes]:
        return f"dtypes {list(g.dtypes)} != {list(w.dtypes)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return f"values: {str(e).splitlines()[-1][:200]}"
    return None


class Registry:
    def __init__(self, root: str) -> None:
        self.root = root
        self.ops_done = 0

    def prepare(self, cache: str, seed: int) -> None:
        """The inputs are fixed: the seed is only recorded."""
        self.sf = inputs.STAR_SCHEMA

    def bootstrap(self, spark) -> None:
        """Untimed: the DuckDB twin of every query, and the cold check pass
        (JIT, codegen, file listing), which is discarded."""
        import duckdb

        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.normalize = _check_oracle(self.root)._normalize
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        self.want = {q: con.sql(oracles[q]).df() for q in HEADLINE}
        con.close()
        self.failures = {"cold": self._check()}

    def _check(self) -> dict[str, str]:
        """Run every query to pandas and compare it with its twin:
        {query: first mismatch} for those that differ."""
        out = {}
        for q in HEADLINE:
            got = self.queries[q](self.spark, self.sf).toPandas()
            bad = compare(got, self.want[q], self.normalize)
            if bad:
                out[q] = bad
        return out

    def setup(self) -> dict:
        """Timed: open every input table (file listing and footer schema)."""
        for t in TABLES:
            self.spark.read.parquet(f"{self.sf}/{t}.parquet").schema
        return {}

    def op(self, state: dict, tracer: Tracer | None) -> dict:
        op_id = f"p{self.ops_done}"
        self.ops_done += 1
        per_query: dict[str, float] = {}
        cpu0 = host.tree_cpu()
        t0 = time.time()
        with (tracer.op(op_id, "registry.pass") if tracer else nullcontext()):
            for q in HEADLINE:
                q0 = time.perf_counter()
                with maybe_span(tracer, f"registry.{q}.build", tag=f"{op_id}-{q}"):
                    df = self.queries[q](self.spark, self.sf)
                with maybe_span(tracer, f"registry.{q}.run", tag=f"{op_id}-{q}"):
                    df.write.format("noop").mode("overwrite").save()
                per_query[q] = time.perf_counter() - q0
        t1 = time.time()
        cpu1 = host.tree_cpu()
        # one scan sample: a full read of every input table to a noop sink
        s0 = time.perf_counter()
        for t in TABLES:
            self.spark.read.parquet(f"{self.sf}/{t}.parquet").write.format(
                "noop").mode("overwrite").save()
        scan = time.perf_counter() - s0
        return {
            "op": op_id, "start": t0, "end": t1, "wall": t1 - t0,
            "traced": tracer is not None, "per_query": per_query, "scan": scan,
            "cpu_driver": cpu1[0] - cpu0[0], "cpu_tree": cpu1[1] - cpu0[1],
        }

    def verify(self, results: list[dict]) -> list[bool]:
        """The timed passes write to noop sinks, so their outputs are checked
        twice from outside: cold before the window (`bootstrap`) and warm
        after it, on the same session. Every pass runs the same queries on
        the same inputs; a pass counts as correct iff both checks match all
        ten twins."""
        self.failures["warm"] = self._check()
        ok = not (self.failures["cold"] or self.failures["warm"])
        return [ok for _ in results]

    def release(self, state: dict) -> None:
        pass

    discard = release

    def end_to_end(self, ops: list[dict], setups: list[float]) -> tuple[dict, dict]:
        lat = sorted(x for r in ops for x in r["per_query"].values())
        tail_rank = -(-len(lat) * TAIL_PCT[0] // TAIL_PCT[1]) - 1
        pass_wall = statistics.median(r["wall"] for r in ops)
        metrics = {
            "setup_s": statistics.median(setups),
            "throughput_per_s": len(HEADLINE) / pass_wall,
            "latency_p50_s": pass_wall,
            "latency_tail_s": lat[tail_rank],
            "cpu_s_per_op": statistics.median(r["cpu_tree"] for r in ops),
            "scan_s": statistics.median(r["scan"] for r in ops),
        }
        info = {"tail_percentile": round(100 * TAIL_PCT[0] / TAIL_PCT[1], 1),
                "latency_samples": len(lat), "oracle_failures": self.failures}
        return metrics, info

    def per_layer(self, traced: list[dict], tracer: Tracer, events: EventLog) -> dict:
        acc: dict[str, float] = defaultdict(float)
        for r in traced:
            spans = {s["name"]: s for s in tracer.spans if s["op"] == r["op"]}
            tags = [f"{r['op']}-{q}" for q in HEADLINE]
            for q, tag in zip(HEADLINE, tags):
                build, run = spans[f"registry.{q}.build"], spans[f"registry.{q}.run"]
                acc[f"registry.{q}.build_s"] += build["end"] - build["start"]
                # the noop write's SQL execution starts once it is planned
                execs = [x["start"] for x in events.sql.values()
                         if tag in x["tags"] and x["start"] >= run["start"] - 0.001]
                start = max(execs, default=run["start"])
                acc[f"registry.{q}.plan_s"] += max(0.0, start - run["start"])
                acc[f"registry.{q}.exec_s"] += run["end"] - start
                acc[f"registry.{q}.shuffle_bytes"] += (
                    events.totals([tag])["shuffle_write_bytes"])
            sp = events.totals(tags)
            for key in SPARK_TASK_METRICS:
                acc["spark." + key] += sp[key]
            acc["spark.driver_serial_s"] += (
                r["wall"] - events.busy_seconds(r["start"], r["end"]))
            acc["process.driver_cpu_s"] += r["cpu_driver"]
            acc["process.jvm_cpu_s"] += r["cpu_tree"] - r["cpu_driver"]
        return {key: val / len(traced) for key, val in acc.items()}
