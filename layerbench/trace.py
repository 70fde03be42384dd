"""Spans around calls into the program's layers, and the Spark event log.

The benchmark never edits the program: it wraps each layer function where
its caller looks it up (a module global, or a class attribute for methods)
for the length of one traced op, then puts the original back. Spans are
kept in memory and written to a file when the run ends.

A span has a name, a start, an end, its parent, the op it belongs to and
its thread. The parent stack is per thread: MoR batches run on the replay's
pool threads beside the compactor thread, and a span opened on a fresh
thread takes the op's root span as its parent.

Executor work is attributed through job tags: each batch, each compaction
cycle and each registry query runs with `spark.addTag(...)` on its own
thread (tags are thread-scoped), and the local uncompressed event log maps
tagged jobs to their stages and tasks.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

TAG_PREFIX = "lb_"
# per-tag sums taken from task-end events (plus "jobs" from job starts)
SPARK_TASK_METRICS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                      "shuffle_write_bytes", "spill_bytes", "gc_s")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._tl = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.root: dict | None = None  # the current op's root span

    # ---- spans ----

    @contextmanager
    def span(self, name: str, op: str | None = None, tag: str | None = None):
        stack = self._tl.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "thread": threading.get_ident(), "start": time.time(),
        }
        stack.append(rec)
        if tag:
            self.spark.addTag(TAG_PREFIX + tag)
        try:
            yield rec
        finally:
            if tag:
                self.spark.removeTag(TAG_PREFIX + tag)
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)  # list.append is atomic

    @contextmanager
    def op(self, op_id: str, name: str = "op"):
        """Root span of one traced op; layer spans on any thread nest in it."""
        with self.span(name, op=op_id) as rec:
            self.root = rec
            try:
                yield rec
            finally:
                self.root = None

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    # ---- patching ----

    def wrap(self, owner, attr: str, name: str, tag=None, before=None, after=None):
        """Replace `owner.attr` with a span-recording wrapper. `tag(args,
        kwargs)` names the Spark job tag for the call, `before(args, kwargs)`
        runs outside the span and its result is handed to `after(args,
        kwargs, result, state)`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name, tag=tag(args, kwargs) if tag else None):
                result = orig(*args, **kwargs)
            if after:
                after(args, kwargs, result, state)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def maybe_span(tracer: Tracer | None, name: str, **kwargs):
    """`tracer.span(...)` in a traced op, a no-op context otherwise."""
    return tracer.span(name, **kwargs) if tracer else nullcontext()


class TimedLock:
    """Stands in for a table's `_commit_lock`: records the wait to acquire."""

    def __init__(self, lock, tracer: Tracer) -> None:
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        with self._tracer.span("tableio.commit_lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self._lock.release()


# span-name prefix -> layer, first match wins
LAYERS = (
    ("cdc.replay.", "cdc.replay"),
    ("cdc.skew.", "cdc.skew"),
    ("cdc.schema_evolution.", "cdc.schema_evolution"),
    ("cdc.lww.", "cdc.lww"),
    ("tableio.compaction.", "tableio.compaction"),
    ("tableio.", "tableio.parquet_snapshot"),
    ("registry.", "registry"),
)


def layer_of(name: str) -> str:
    return next(layer for prefix, layer in LAYERS if name.startswith(prefix))


def _merged(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """`intervals` clipped to [lo, hi], sorted and merged."""
    out: list[list[float]] = []
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    return sum(e - s for s, e in _merged(intervals, lo, hi))


def _self_intervals(spans: list[dict], lo: float, hi: float) -> dict[int, list]:
    """Span id -> the parts of [lo, hi] where the span is open and none of
    its children is: where it is innermost."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = max(s["start"], lo), min(s["end"], hi)
        parts = []
        for ks, ke in _merged([(c["start"], c["end"]) for c in kids[s["id"]]], a, b):
            if ks > a:
                parts.append((a, ks))
            a = ke
        if b > a:
            parts.append((a, b))
        out[s["id"]] = parts
    return out


def attribute(tracer: Tracer, ops: list[dict]) -> dict[str, float]:
    """Traced op wall split among layers, mean per op.

    Each instant of an op is split equally among the layer spans innermost
    at that instant (on any thread); an instant with none is the untraced
    gap. So the layer shares plus `gap` add up to the op wall exactly, also
    when pipelined batches and the compactor are busy at once. Also returns
    the coverage (share of wall inside some layer span) and the concurrency
    (summed self time of layer spans over covered time: 1 for a sequential
    op, the mean number of concurrently innermost spans otherwise)."""
    acc: dict[str, float] = defaultdict(float)
    wall = self_sum = 0.0
    for r in ops:
        lo, hi = r["start"], r["end"]
        wall += hi - lo
        spans = [s for s in tracer.spans if s["op"] == r["op"]]
        selfs = _self_intervals(spans, lo, hi)
        edges = []  # (time, +1 open / -1 close, layer)
        for s in spans:
            if s["parent"] is None:  # the op's root span
                continue
            for a, b in selfs[s["id"]]:
                self_sum += b - a
                edges += [(a, 1, layer_of(s["name"])), (b, -1, layer_of(s["name"]))]
        edges.sort(key=lambda e: (e[0], e[1]))
        open_: dict[str, int] = defaultdict(int)
        n, t = 0, lo
        for when, step, layer in edges:
            if when > t:
                if n:
                    for name, k in open_.items():
                        acc[name] += (when - t) * k / n
                else:
                    acc["gap"] += when - t
                t = when
            open_[layer] += step
            n += step
        acc["gap"] += hi - t
    covered = wall - acc["gap"]
    out = {f"trace.wall.{k}_s": v / len(ops) for k, v in acc.items()}
    out["trace.coverage"] = covered / wall
    out["trace.concurrency"] = self_sum / covered if covered else 0.0
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(TAG_PREFIX + r"(.+)$")


def _my_tags(tags) -> list[str]:
    """The benchmark's own tags among a job's tags, prefix stripped."""
    return [m.group(1) for m in map(_TAG_RE.search, tags or []) if m]


def _exchanges(node: dict, scans: str, found: dict[int, bool]) -> bool:
    """Collect {shuffle-bytes accumulator id: subtree reads `scans`}; returns
    whether this subtree reads a file location containing `scans`."""
    hit = scans in node.get("metadata", {}).get("Location", "")
    for child in node.get("children", []):
        hit = _exchanges(child, scans, found) or hit
    if node.get("nodeName") == "Exchange":
        for m in node.get("metrics", []):
            if m.get("name") == "shuffle bytes written":
                found[m["accumulatorId"]] = found.get(m["accumulatorId"], False) or hit
    return hit


class EventLog:
    """Per-tag job, task and SQL-execution-start facts from one application's
    uncompressed event log. `log_scan` marks file scans of the change log,
    so the shuffle bytes of exchanges fed by it can be told apart."""

    def __init__(self, path: str, log_scan: str | None = None) -> None:
        self.by_tag: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.tasks: list[tuple[float, float]] = []  # (launch, finish) seconds
        self.sql: dict[int, dict] = {}
        stage_tags: dict[int, list[str]] = {}
        log_exchange: dict[int, bool] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    tags = _my_tags((props.get("spark.job.tags") or "").split(","))
                    for t in tags:
                        self.by_tag[t]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_tags[sid] = tags
                elif kind.endswith("SQLExecutionStart"):
                    self.sql[e["executionId"]] = {
                        "start": e["time"] / 1000, "tags": _my_tags(e.get("jobTags")),
                    }
                    if log_scan:
                        _exchanges(e["sparkPlanInfo"], log_scan, log_exchange)
                elif kind.endswith("SQLAdaptiveExecutionUpdate") and log_scan:
                    _exchanges(e["sparkPlanInfo"], log_scan, log_exchange)
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    self.tasks.append((info["Launch Time"] / 1000,
                                       info["Finish Time"] / 1000))
                    ex_bytes = sum(
                        int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                        if log_exchange.get(a.get("ID"))
                    )
                    for t in stage_tags.get(e["Stage ID"], []):
                        agg = self.by_tag[t]
                        agg["tasks"] += 1
                        agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                               + m.get("Disk Bytes Spilled", 0))
                        agg["shuffle_write_bytes"] += (
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                        agg["log_exchange_bytes"] += ex_bytes

    @staticmethod
    def find(directory: str) -> str:
        paths = sorted(glob.glob(os.path.join(directory, "*")), key=os.path.getmtime)
        if not paths:
            raise FileNotFoundError(f"no event log under {directory}")
        return paths[-1]

    def totals(self, tags) -> dict[str, float]:
        """Sums over `tags`; a metric no tagged task reported reads 0."""
        out: dict[str, float] = defaultdict(float)
        for t in tags:
            for k, v in self.by_tag.get(t, {}).items():
                out[k] += v
        return out

    def busy_seconds(self, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] during which at least one task ran."""
        return union_seconds(self.tasks, lo, hi)
