"""Last-writer-wins collapse of a change-event batch — one row per key.

Semantics (the engine-wide contract, shared with the pandas oracle in
fixtures/changelog_gen.py): the winner for a key is the event with the
lexicographically greatest `(ts, seq)`. This makes replay order-insensitive —
any partitioning, batching, duplication, or resume point yields the same
winner — which is what turns at-least-once delivery into exactly-once effect.

Implementation notes (scale):
  * `max_by(struct(all), struct(ts, seq))` — a single hash aggregate with
    map-side partial aggregation (Catalyst ObjectHashAggregate). Duplicates
    and stale events die in the partial aggregate on the map side, BEFORE the
    shuffle — at 10^10 events with 1% duplicates and heavy update churn, most
    bytes never cross the network.
  * Skew: the key is (conv_id, turn_idx), so a hot conversation spreads over
    its turn_idx values; true residual skew (one hot *turn* updated millions
    of times) is handled by the explicit salted two-phase variant
    (`lww_collapse_salted`) — phase 1 aggregates (key, salt) partitions,
    phase 2 reduces the ≤ n_salts survivors per key. Partial aggregation
    already gives most of this for free; the two-phase form guarantees it
    even when the map-side hash table overflows (spark falls back to
    sort-agg) and is what BASELINE.json#north_rule asks for explicitly.

Kettle parity: this collapse replaces the sorted-input Unique Rows step
(uniquerows/UniqueRows.java) + Merge Rows flag logic the reference would
chain to deduplicate a change stream (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.tableio.parquet_snapshot import bucket_expr, bucket_partitions


def lww_collapse(
    events: DataFrame,
    key_cols: list[str] | None = None,
    lww_col: str = "ts",
    seq_col: str = "seq",
) -> DataFrame:
    """Collapse to one winning event per key by max (lww_col, seq_col).

    Output columns: key cols + all payload cols + op + `_seq` (winner's seq),
    ready for ParquetSnapshotTableIO.merge_apply.
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    payload = [c for c in events.columns if c not in key_cols]
    ordk = F.struct(F.col(lww_col), F.col(seq_col))
    # Scale-adaptive spread (plans/spread.py): max_by(struct) plans as a
    # SortAggregate, so a one-row-group input would serialize the partial
    # sort onto one task; well-partitioned ingest scans pass untouched.
    from pentaho_kettle_spark.plans.spread import spread_if_narrow

    events = spread_if_narrow(events, key_cols)
    agg = events.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("w"),
    )
    cols = [F.col(k) for k in key_cols]
    cols += [F.col(f"w.{c}").alias(c) for c in payload if c != seq_col]
    cols += [F.col(f"w.{seq_col}").alias("_seq")]
    return agg.select(*cols)


# Unit separator: cannot occur in key values, so multi-column keys like
# ("ab","c") and ("a","bc") map to distinct membership strings.
_HOT_SEP = "\x1f"


def lww_collapse_salted(
    events: DataFrame,
    key_cols: list[str] | None = None,
    lww_col: str = "ts",
    seq_col: str = "seq",
    n_salts: int = 16,
    hot_keys: DataFrame | list | None = None,
) -> DataFrame:
    """Two-phase salted collapse for hot keys (north_rule requirement).

    Phase 1: aggregate on (key, salt) — a hot key's events split across
    `n_salts` reducers, bounding any single task.
    Phase 2: aggregate the ≤ n_salts phase-1 winners per key (for cold keys
    phase 1 already collapsed to exactly one row, so phase 2's shuffle moves
    |unique keys| rows, not |batch|).

    If `hot_keys` is given (a small DataFrame or list of Rows/tuples of the
    key cols, e.g. from cdc/skew.py sampling — bounded at ~1000), ONLY those
    keys receive a nonzero salt: the salt expression is a literal IN-set
    test compiled into the single aggregation plan. One plan, two shuffles,
    no broadcast join, no union — at 10^10 events the per-batch stage count
    is flat whether or not skew was detected, and a cold key costs exactly
    what the unsalted path costs. With hot_keys=None all keys are salted
    (uniform two-phase).
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    payload = [c for c in events.columns if c not in key_cols]
    ordk = F.struct(F.col(lww_col), F.col(seq_col))

    full_salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(n_salts))
    if hot_keys is None:
        salt = full_salt
    else:
        rows = hot_keys if isinstance(hot_keys, list) else hot_keys.collect()
        joined = [_HOT_SEP.join(str(v) for v in r) for r in rows]
        if not joined:
            salt = F.lit(0)
        else:
            key_str = F.concat_ws(_HOT_SEP, *[F.col(k).cast("string") for k in key_cols])
            salt = F.when(key_str.isin(joined), full_salt).otherwise(F.lit(0))

    salted = events.withColumn("_salt", salt)
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("w")
    )
    ordk2 = F.struct(F.col(f"w.{lww_col}"), F.col(f"w.{seq_col}"))
    phase2 = phase1.groupBy(*key_cols).agg(F.max_by(F.col("w"), ordk2).alias("w"))
    cols = [F.col(k) for k in key_cols]
    cols += [F.col(f"w.{c}").alias(c) for c in payload if c != seq_col]
    cols += [F.col(f"w.{seq_col}").alias("_seq")]
    return phase2.select(*cols)


def lww_collapse_bucketed(
    events: DataFrame,
    key_cols: list[str] | None = None,
    lww_col: str = "ts",
    seq_col: str = "seq",
    n_buckets: int = 32,
    bucket_key: str | None = None,
    n_salts: int = 0,
    hot_keys: DataFrame | list | None = None,
) -> DataFrame:
    """Collapse fused with the table's bucket layout — ONE exchange.

    The naive pipeline shuffles twice per batch: once for the key-collapse
    aggregate, once to lay the collapsed rows out by storage bucket for the
    write. Because bucket = hash(key_cols[0]) is a pure function of the key,
    repartitioning the RAW events by `_bucket` and then aggregating by
    (_bucket, *key) satisfies Catalyst's clustering requirement
    (HashPartitioning([_bucket]) ⊆ ClusteredDistribution([_bucket, key...]))
    — the aggregate runs WITHOUT a second Exchange and its output is already
    write-ready. Measured on the 16M-event bench: ~20% faster end-to-end at
    both 2 and 8 cores than collapse-then-repartition.

    Every exchange here has `bucket_partitions(spark, n_buckets)` =
    min(n_buckets, task slots) partitions: each bucket lands in exactly one
    partition, and the SortAggregate's (_bucket, key...) output order is the
    writer's `_bucket` order, so a batch still writes one file per touched
    bucket — from one task per slot instead of one per bucket (16 buckets
    on 4 slots: 4 write tasks, not 16; each task folds ~n_buckets/slots
    buckets, unevenly — 16 buckets hash 3/3/4/6 onto 4 partitions).

    Trade-off vs `lww_collapse`: the exchange moves raw events (no map-side
    partial aggregation), so on very duplicate-heavy logs the two-shuffle
    form can move fewer bytes.

    Skew (north_rule): with `n_salts` > 0 the first aggregate groups by
    (_bucket, key, salt) over a (bucket, salt)-hashed exchange — a hot key's
    rows spread over n_salts partitions — and a second, tiny exchange on
    _bucket reduces the ≤ n_salts survivors per key. `hot_keys` limits the
    salt to the sampled hot list exactly as in `lww_collapse_salted`.

    Output: `_bucket` + key cols + payload + `_seq`, partitioned by _bucket
    (ParquetSnapshotTableIO._write_buckets detects `_bucket` and skips its
    own repartition).
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    bucket_key = bucket_key or key_cols[0]
    payload = [c for c in events.columns if c not in key_cols]
    ordk = F.struct(F.col(lww_col), F.col(seq_col))
    w = F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("w")

    b = events.withColumn("_bucket", bucket_expr(bucket_key, n_buckets))
    n_parts = bucket_partitions(events.sparkSession, n_buckets)

    salt = None
    if n_salts and n_salts > 1:
        full_salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(n_salts))
        if hot_keys is None:
            salt = full_salt
        else:
            rows = hot_keys if isinstance(hot_keys, list) else hot_keys.collect()
            joined = [_HOT_SEP.join(str(v) for v in r) for r in rows]
            if joined:
                key_str = F.concat_ws(
                    _HOT_SEP, *[F.col(k).cast("string") for k in key_cols]
                )
                salt = F.when(key_str.isin(joined), full_salt).otherwise(F.lit(0))

    if salt is not None:
        p1 = (
            b.withColumn("_salt", salt)
            .repartition(n_parts, "_bucket", "_salt")
            .groupBy("_bucket", *key_cols, "_salt")
            .agg(w)
            .select("_bucket", *key_cols, *[F.col(f"w.{c}").alias(c) for c in payload])
        )
        agg = (
            p1.repartition(n_parts, "_bucket")
            .groupBy("_bucket", *key_cols)
            .agg(w)
        )
    else:
        agg = b.repartition(n_parts, "_bucket").groupBy("_bucket", *key_cols).agg(w)

    cols = [F.col("_bucket"), *[F.col(k) for k in key_cols]]
    cols += [F.col(f"w.{c}").alias(c) for c in payload if c != seq_col]
    cols += [F.col(f"w.{seq_col}").alias("_seq")]
    return agg.select(*cols)
