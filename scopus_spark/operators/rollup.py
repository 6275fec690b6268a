"""Incremental rollup maintenance (SURVEY §2.Q) — the hypertable
"continuous aggregate" primitive: a materialized per-(entity, bucket)
OHLC state that a new batch of events MERGEs into by touching only the
partitions the batch covers, never recomputing history.

Why it works: every state column is a commutative-monoid accumulator —
high/low merge by max/min, n_events by sum, open/close by min_by/max_by
on the carried boundary timestamps. Merging partial states is therefore
associative and order-independent, so (state(history) ⊕ state(delta)) ==
state(history ∪ delta) exactly — asserted against full recomputation in
tests/test_operators.py.

Scale contract: a delta touches |distinct bucket dates in the delta|
partitions; the merge reads exactly those partitions back (pruned scan),
combines states with ONE hash aggregate over (existing ∪ delta), and
commits them through the snapshot-isolated VersionedTable
(operators/manifest.py — immutable data files, atomic manifest-pointer
swap, so a reader racing the merge sees the old rollup or the new one,
never a half-swapped partition; idempotent for re-applied deltas only
when the delta is time-disjoint from history — the CONTRACT below).
History outside the delta's window is never read; the pruned read comes
from manifest metadata, not directory listing. This is o2's daily OHLC made maintainable: the batch
query answers "what is the rollup", this operator answers "keep it
current at 100 TB without re-reading 100 TB".

CONTRACT: event batches must be time-disjoint per (user, µs timestamp)
from already-merged history (append-only time series — the same
assumption the o2 dedup makes within one corpus). A re-delivered
duplicate timestamp would double-count n_events; exactly-once delivery
is the streaming tier's job (foreachBatch + checkpoint, streaming/sinks).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scopus_spark import execution
from scopus_spark.operators.manifest import VersionedTable

STATE_COLS = [
    "user_id",
    "bucket_ts",
    "bucket_date",
    "open",
    "open_ts",
    "high",
    "low",
    "close",
    "close_ts",
    "n_events",
]


def ohlc_state(
    events: DataFrame, extra_group_exprs: dict | None = None
) -> DataFrame:
    """Partial OHLC state per (user_id, daily bucket) from one batch.

    Unlike o2's public result, the state carries the boundary timestamps
    (open_ts/close_ts) — they are what make two partial states mergeable.
    Input is deduped to one row per (user, ts) with the highest event_id
    winning, mirroring the o2/G1 contract.

    ``extra_group_exprs`` ({name: Column over the deduped (user_id, ts,
    value) rows}) lets a caller build SEVERAL time-disjoint batch states
    in one pass (r10): group additionally by a batch id that is a pure
    function of the timestamp, slice afterwards — each slice equals
    ohlc_state(filtered batch) bit-for-bit, because dedup keys (user, ts)
    and aggregate groups both never straddle such batches.
    """
    from scopus_spark.queries.timeseries import _events_dedup_from

    extra = extra_group_exprs or {}
    ev = _events_dedup_from(events)
    return (
        ev.groupBy(
            "user_id",
            F.date_trunc("day", "ts").alias("bucket_ts"),
            *[c.alias(n) for n, c in extra.items()],
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.min("ts").alias("open_ts"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.max("ts").alias("close_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("bucket_date", F.to_date("bucket_ts"))
        .select(*STATE_COLS, *extra.keys())
    )


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Combine two partial-state tables: one hash aggregate, monoid
    merges per column."""
    return (
        a.unionByName(b)
        .groupBy("user_id", "bucket_ts", "bucket_date")
        .agg(
            F.min_by("open", "open_ts").alias("open"),
            F.min("open_ts").alias("open_ts"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_ts").alias("close"),
            F.max("close_ts").alias("close_ts"),
            F.sum("n_events").alias("n_events"),
        )
        .select(*STATE_COLS)
    )


def incremental_ohlc(target_path: str, new_events: DataFrame) -> None:
    """MERGE a batch of events into the materialized OHLC rollup at
    target_path, rewriting only the bucket_date partitions the batch
    touches."""
    incremental_ohlc_state(target_path, ohlc_state(new_events))


def incremental_ohlc_state(target_path: str, delta_state: DataFrame) -> None:
    """MERGE a prebuilt partial-state table (the ohlc_state shape) into
    the rollup — the entry for callers that derive several time-disjoint
    batch states from ONE pass over the events (r10: o4's three batches
    each re-scanned + re-deduped the events table; batch membership is a
    pure function of the timestamp, so slicing one grouped state table
    yields bit-identical per-batch deltas)."""
    # r10 (guide §1.2 step 1): pin the delta state — one merge otherwise
    # re-ran the whole upstream (events window-dedup + OHLC aggregate)
    # once for the touched-partition collect, again inside merge()'s own
    # touched collect, and a third time for the commit write. The state
    # is one row per (user, bucket) of ONE batch — bounded; released
    # before returning, so nothing outlives the merge.
    with execution.scope():
        delta = execution.pin(delta_state)
        vt = VersionedTable(target_path)
        if not vt.exists():
            vt.write_initial(delta, "bucket_date")
            return
        spark = delta_state.sparkSession
        # bounded: distinct touched bucket-dates of ONE batch, never the table
        touched = [
            r[0] for r in delta.select("bucket_date").distinct().collect()
        ]
        if not touched:
            return
        existing = vt.read(spark, partition_values=touched)
        # r10: pin the combined state too — vt.merge evaluates its delta
        # argument three times (touched-partition collect, the survivors
        # anti-join source, the commit write), and each evaluation would
        # re-run the merge_states aggregate + the pruned existing read.
        # Bounded like `delta`: one row per (user, bucket) of the
        # touched partitions.
        merged = execution.pin(merge_states(existing.select(*STATE_COLS), delta))
        vt.merge(
            merged,
            key_cols=["user_id", "bucket_ts"],
            partition_col="bucket_date",
        )


def read_rollup(spark, target_path: str) -> DataFrame:
    """The maintained rollup in o2's public shape (current snapshot)."""
    return VersionedTable(target_path).read(spark).select(
        "user_id", "bucket_ts", "open", "high", "low", "close", "n_events"
    )
