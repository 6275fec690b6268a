"""SURVEY §2.I — streaming operators (i1–i7), declared as batch equivalents.

Batch/stream unification (Spark SQL paper, PAPERS.md): each windowed /
stateful streaming operator is ONE logical plan that runs identically over
a bounded DataFrame (declared here, hash-checked vs DuckDB) and over
readStream micro-batches (exercised in tests/test_streaming.py through
scopus_spark/streaming/harness.py — same builder functions).

Watermarks bound state at scale (i4): session/window state is dropped once
the watermark passes, so a 100 TB/day stream holds only the open-window
suffix in the state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scopus_spark import execution
from scopus_spark.catalog import table
from scopus_spark.queries import _fp
from scopus_spark.registry import register
from scopus_spark.session import stage_dir


# Builder functions take an events-shaped DataFrame so the SAME logic runs
# batch (below) and streaming (tests/test_streaming.py).

def tumbling_1h(events: DataFrame) -> DataFrame:
    w = F.window("ts", "1 hour")
    return events.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_fp.m("value")).cast("double").alias("sum_value"),
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_1h_15m(events: DataFrame) -> DataFrame:
    w = F.window("ts", "1 hour", "15 minutes")
    return events.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        F.col("window.start").alias("win_start"),
        "event_type",
        "n_events",
    )


def session_30m(events: DataFrame) -> DataFrame:
    return events.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_fp.m("value")).cast("double").alias("sum_value"),
    ).select(
        F.col("sw.start").alias("sess_start"),
        F.col("sw.end").alias("sess_end"),
        "user_id",
        "n_events",
        "sum_value",
    )


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    return events.join(
        F.broadcast(customers), events.user_id == customers.c_custkey
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")


# --- i1: tumbling window aggregate ---------------------------------------------
@register(
    "i1",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))                   AS win_start,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS win_end,
           event_type,
           count(*)                                        AS n_events,
           CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def i1_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_1h(table(spark, sf_dir, "events"))


# --- i2: sliding window (1h window / 15m slide) -----------------------------------
@register(
    "i2",
    oracle="""
    SELECT win_start, event_type, count(*) AS n_events
    FROM (
      SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - j * INTERVAL 15 MINUTE AS win_start,
             event_type
      FROM (SELECT ts, event_type, unnest([0, 1, 2, 3]) AS j FROM events)
    )
    GROUP BY 1, 2
    """,
)
def i2_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event belongs to 4 overlapping windows; the oracle generates the
    same 4 window-starts per event via unnested offsets (SURVEY i2)."""
    return sliding_1h_15m(table(spark, sf_dir, "events"))


# --- i3: session window (30m inactivity gap) -----------------------------------------
@register(
    "i3",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT min(ts)                                     AS sess_start,
           max(ts) + INTERVAL 30 MINUTE                AS sess_end,
           user_id,
           count(*)                                    AS n_events,
           CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def i3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows; the oracle derives identical sessions via
    gaps-and-islands (lag + cumulative new-session flags)."""
    return session_30m(table(spark, sf_dir, "events"))


# --- i4: watermark late-data drop (UNIT only — trigger-timing semantics) -------------
@register("i4")
def i4_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch projection of the watermarked plan (rows-only). The real
    late-drop semantics are asserted with scripted micro-batches in
    tests/test_streaming.py::test_i4_watermark_drops_late_rows."""
    ev = table(spark, sf_dir, "events")
    return tumbling_1h(ev.withWatermark("ts", "10 minutes"))


# --- i5: streaming dedup within watermark (UNIT only) ----------------------------------
@register("i5")
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape: exact dedup on event_id. Streaming
    dropDuplicatesWithinWatermark is asserted with scripted micro-batches
    in tests/test_streaming.py::test_i5_dedup_within_watermark."""
    ev = table(spark, sf_dir, "events")
    return ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )


# --- i6: stream-static join ----------------------------------------------------------------
@register(
    "i6",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def i6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the static dim is broadcast to every
    micro-batch; no state accumulates."""
    return enrich_with_customers(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


# --- i7: stateful per-key running aggregate ---------------------------------------------------
@register(
    "i7",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(9,2)))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value
    FROM events
    """,
)
def i7_stateful_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum. Batch = window; streaming = per-key state
    via applyInPandasWithState (tests/test_streaming.py::test_i7) — the
    state store holds one decimal per user, watermark-free because keys are
    bounded."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_fp.m("value")).over(w).cast("double").alias("running_value"),
    )


def purchase_error_pairs(events: DataFrame) -> DataFrame:
    """Stream-stream join shape: purchases joined to the same user's errors
    within the following hour. Batch and streaming share this builder; the
    streaming variant adds watermarks on BOTH sides (state eviction)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "e_id", F.col("p_user").alias("user_id"))


# --- i8: stream-stream interval join (ADDED §2.L-era; batch equiv HASH) ---------
@register(
    "i8",
    oracle="""
    SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def i8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases ⋈ same-user errors within 1h. Streaming variant (both
    sides watermarked, interval condition bounds the state) exercised in
    tests/test_streaming.py::test_i8_stream_stream_join."""
    return purchase_error_pairs(table(spark, sf_dir, "events"))


def purchase_error_pairs_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER rendering of purchase_error_pairs: every purchase emits,
    null-padded when no same-user error follows within the hour — the
    production "purchases with no error" shape. In streaming, Spark holds
    an unmatched purchase in state until the watermark passes p_ts + 1h
    (the interval upper bound), THEN emits the null-padded row exactly
    once; the scripted micro-batch test pins that emission timing
    (not-before / exactly-once / not-twice).

    Watermark subtlety (pinned by the test): Catalyst pushes the
    event_type filters BELOW the EventTimeWatermark node, so only rows
    that pass a join side's filter (purchase/error) reach the event-time
    stats collector — other event types do NOT advance the watermark.
    Eviction (and the outer-row emission it triggers) runs in the first
    batch that EXECUTES with the advanced watermark; under availableNow
    that is the trigger's own trailing no-data batch, so emission lands in
    the same run whose data advanced the watermark past the window. Batch
    and streaming share this builder (batch = plain left join)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("p_id", "e_id", F.col("p_user").alias("user_id"))


# --- i11: stream-stream LEFT OUTER interval join (batch equiv HASH) --------------
@register(
    "i11",
    oracle="""
    SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def i11_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases LEFT OUTER ⋈ same-user errors within 1h — i8's missing
    outer half (unmatched-after-watermark emission). Streaming variant
    (watermarks on both sides, interval bounds the state, null-padded row
    emits in the first batch that executes with the watermark past the
    join window — see purchase_error_pairs_outer for the filter-pushdown
    and no-data-batch mechanics) exercised in
    tests/test_streaming.py::test_i11_left_outer_emission_timing."""
    return purchase_error_pairs_outer(table(spark, sf_dir, "events"))


def purchase_error_pairs_full(events: DataFrame) -> DataFrame:
    """FULL OUTER rendering of purchase_error_pairs — both unmatched sides
    survive: a purchase with no same-user error in the following hour
    emits (p_id, NULL), an error with no same-user purchase in the
    PRECEDING hour emits (NULL, e_id). This is the reconciliation shape
    (find orphans on either side of an event correlation), and it
    completes the streaming join matrix (i8 inner / i11 left / i12 full).

    Streaming mechanics mirror purchase_error_pairs_outer exactly — each
    side's state is held until the watermark passes the last instant it
    could still match (p_ts + 1h for purchases; e_ts for errors, whose
    candidate purchases all precede them), THEN the null-padded row emits
    exactly once. Same filter-pushdown caveat: only purchase/error rows
    advance the watermark. user_id coalesces across sides so the output
    key is total."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "p_id",
        "e_id",
        F.coalesce(F.col("p_user"), F.col("e_user")).alias("user_id"),
    )


# --- i12: stream-stream FULL OUTER interval join (batch equiv HASH) --------------
@register(
    "i12",
    oracle="""
    SELECT p.event_id AS p_id, e.event_id AS e_id,
           coalesce(p.user_id, e.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def i12_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases FULL OUTER ⋈ same-user errors within 1h — the last cell
    of the streaming join matrix (i8 inner, i11 left, i12 full). Batch
    equivalent HASH-checked here; the streaming variant (watermarks on
    both sides, per-side state eviction and null-padded emission on BOTH
    sides) is pinned by
    tests/test_streaming.py::test_i12_full_outer_emission_timing."""
    return purchase_error_pairs_full(table(spark, sf_dir, "events"))


def purchase_error_pairs_right(events: DataFrame) -> DataFrame:
    """RIGHT OUTER rendering of purchase_error_pairs: every error emits,
    null-padded when no same-user purchase preceded it within the hour —
    the orphan-effect shape (errors with no identifiable cause). Streaming
    eviction mirrors i12's error side: an error's candidate purchases all
    precede it, so its null-padded row emits once the watermark passes
    e_ts."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "right_outer",
    ).select("p_id", "e_id", F.col("e_user").alias("user_id"))


# --- i13: stream-stream RIGHT OUTER interval join (batch equiv HASH) -------------
@register(
    "i13",
    oracle="""
    SELECT p.event_id AS p_id, e.event_id AS e_id, e.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts > p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def i13_stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases RIGHT OUTER ⋈ same-user errors within 1h — the mirror of
    i11, filling in the last cell of the streaming join matrix (i8 inner,
    i11 left, i12 full, i13 right). Streaming eviction semantics are the
    error side of i12's scripted test; the batch equivalent is HASH-
    checked here."""
    return purchase_error_pairs_right(table(spark, sf_dir, "events"))


# --- i9: arbitrary stateful processing v2 (transformWithState) -------------------
@register(
    "i9",
    oracle="""
    SELECT user_id,
           count(*)                                   AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           max(value)                                 AS max_value,
           make_timestamp(epoch_us(max(ts)))          AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def i9_stateful_user_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime summary (count, distinct types, max value, last
    seen). Batch = one hash aggregate with map-side partials. Streaming =
    Spark 4 transformWithStateInPandas (streaming/tws.py: ValueState +
    MapState per user, RocksDB-backed), executed for real via the vendored
    pure-python protobuf runtime (scopus_spark/_vendor);
    tests/test_streaming.py::test_i9_transform_with_state runs scripted
    micro-batches end-to-end and asserts cross-batch state."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.max("value").alias("max_value"),
        F.max("ts").alias("last_ts"),
    )


# --- i10: timer-closed sessions (TWS event-time timers + ListState) ------------------
@register(
    "i10",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
                       OR t_us - lag(t_us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    ),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY t_us ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    per_sess AS (
      SELECT user_id, sid, count(*) AS n, max(t_us) - min(t_us) AS dur_us
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)   AS n_sessions,
           CAST(sum(n) AS BIGINT)     AS n_events,
           CAST(max(dur_us) AS BIGINT) AS longest_session_us
    FROM per_sess GROUP BY user_id
    """,
)
def i10_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session ROLLUP (count / events / longest duration over
    30-minute-gap sessions). Batch = gaps-and-islands windows + two hash
    aggregates, exact integer µs arithmetic throughout. Streaming = the
    state-API surface i9 leaves untouched: transformWithStateInPandas in
    EventTime mode with a ListState buffer and EVENT-TIME TIMERS
    (streaming/tws.py::make_session_timer_processor) — sessions emit when
    the WATERMARK passes last_event + gap, with no new input needed for
    the key; tests/test_streaming.py::test_i10_timer_sessions drives the
    timer path across scripted micro-batches."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    e = ev.select("user_id", "event_id", t_us.alias("t_us"), "value")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (F.col("t_us") - F.lag("t_us").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("t_us") - F.min("t_us")).alias("dur_us"),
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.max("dur_us").alias("longest_session_us"),
    )


# --- i14: exactly-once CDC streaming load into a snapshot-isolated table -------------
@register(
    "i14",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CASE WHEN value < 0.2 THEN 'D' ELSE 'U' END AS op
      FROM events
    )
    SELECT user_id, event_type, value
    FROM latest WHERE rn = 1 AND op = 'U'
    """,
)
def i14_versioned_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The terminal CDC stage executed FOR REAL: the events table streams
    through a Structured Streaming query (file source, availableNow) in
    three time-ordered micro-batches whose foreachBatch sink MERGEs each
    batch into a snapshot-isolated VersionedTable with an exactly-once
    commit token (streaming/sinks.foreach_batch_versioned_upsert) — keys
    are (user_id, event_type), the latest row per key wins ((ts,
    event_id) order), and a latest row with value < 0.2 is a CDC DELETE
    tombstone. The returned DataFrame is the final table read back
    through its manifest; the oracle recomputes the same final state
    relationally, so a green hash proves three streamed incremental
    commits ≡ one batch latest-per-key resolution, exactly.

    Exactly-once is structural, not assumed: each batch commits under
    token 'i14:<batch_id>', so a foreachBatch retry is a manifest-level
    no-op (pinned by tests/test_manifest.py's replay tests); readers
    racing a commit see the previous snapshot or the new one, never a
    half-applied batch. At 100 TB each merge touches only the user-id
    buckets its batch carries (partition_col = user_id % 16, a pure
    function of the key); batch cost is O(batch), never the table."""
    import shutil

    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.streaming.harness import StreamRig
    from scopus_spark.streaming.sinks import foreach_batch_versioned_upsert

    ev = table(spark, sf_dir, "events")
    # three scripted micro-batches split on event-time terciles: CDC
    # batches arrive in commit order, so a key's last-merged row is its
    # globally-latest row. The cut points only need to be deterministic,
    # not exact (any time-ordered split proves the same contract).
    cuts = (
        ev.select(F.unix_micros(F.col("ts").cast("timestamp")).alias("t"))
        .agg(
            F.percentile("t", F.lit(1.0 / 3)).alias("c1"),
            F.percentile("t", F.lit(2.0 / 3)).alias("c2"),
        )
        .collect()[0]
    )
    b1, b2 = int(cuts.c1), int(cuts.c2)
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    target = stage_dir(sf_dir, "i14_cdc")
    shutil.rmtree(target, ignore_errors=True)
    sink = foreach_batch_versioned_upsert(
        target,
        key_cols=["user_id", "event_type"],
        partition_col="bucket",
        order_col="ord",
        op_col="op",
        stream_name="i14",
    )
    rig = StreamRig(spark)
    try:
        for lo, hi in ((None, b1), (b1, b2), (b2, None)):
            f = ev
            if lo is not None:
                f = f.filter(t_us > lo)
            if hi is not None:
                f = f.filter(t_us <= hi)
            rig.drop_file(f)
            rig.run(
                lambda s: s.select(
                    "user_id",
                    "event_type",
                    "value",
                    F.struct("ts", "event_id").alias("ord"),
                    F.when(F.col("value") < 0.2, F.lit("D"))
                    .otherwise(F.lit("U"))
                    .alias("op"),
                    F.pmod("user_id", F.lit(16)).alias("bucket"),
                ),
                output_mode="append",
                sink=sink,
            )
    finally:
        rig.cleanup()
    return VersionedTable(target).read(spark).select(
        "user_id", "event_type", "value"
    )


# --- i15: append-only streaming ingestion with manifest stats skipping ---------------
@register(
    "i15",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-13' AND ts < TIMESTAMP '2024-01-17'
    """,
)
def i15_versioned_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-ONLY streaming ingestion — the event-log half of the
    versioned-sink story i14's CDC merge doesn't cover: the events table
    streams through three scripted time-ordered micro-batches whose
    foreachBatch sink APPENDS each batch to a snapshot-isolated
    VersionedTable (streaming/sinks.foreach_batch_versioned_append) —
    no keys, no merge, no rewrite; per-batch cost is the batch's bytes.
    Each commit records per-directory min/max of the event-time column
    (micros), so the final read PRUNES at the manifest: a 4-day window
    query resolves the snapshot, skips every directory (= every
    micro-batch x partition) whose time range cannot intersect, and
    scans only the middle batch. The residual filter keeps the result
    exact; the oracle is the plain time-filtered scan, so a green hash
    proves streamed-appends + stats-skipping ≡ one batch filter.
    Exactly-once is structural ('i15:<batch_id>' commit tokens, seeded
    at table creation so even a batch-0 retry replays as a no-op). At
    100 TB this is the canonical event-lake ingest: day-partitioned
    appends, manifest time-pruned reads."""
    import shutil
    from datetime import datetime, timezone

    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.streaming.harness import StreamRig
    from scopus_spark.streaming.sinks import foreach_batch_versioned_append

    def us(day: str) -> int:
        return int(
            datetime.fromisoformat(day)
            .replace(tzinfo=timezone.utc)
            .timestamp()
            * 1_000_000
        )

    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    target = stage_dir(sf_dir, "i15_append")
    shutil.rmtree(target, ignore_errors=True)
    sink = foreach_batch_versioned_append(
        target,
        partition_col="bucket",
        stats_cols=["t_us"],
        stream_name="i15",
    )
    rig = StreamRig(spark)
    try:
        for lo, hi in (
            (None, us("2024-01-11")),
            (us("2024-01-11"), us("2024-01-21")),
            (us("2024-01-21"), None),
        ):
            f = ev
            if lo is not None:
                f = f.filter(t_us >= lo)
            if hi is not None:
                f = f.filter(t_us < hi)
            rig.drop_file(f)
            rig.run(
                lambda s: s.select(
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                    F.unix_micros(F.col("ts").cast("timestamp")).alias(
                        "t_us"
                    ),
                    F.pmod("user_id", F.lit(8)).alias("bucket"),
                ),
                output_mode="append",
                sink=sink,
            )
    finally:
        rig.cleanup()
    q_lo, q_hi = us("2024-01-13"), us("2024-01-17")
    return (
        VersionedTable(target)
        .read(spark, prune=("t_us", q_lo, q_hi - 1))
        .filter((F.col("t_us") >= q_lo) & (F.col("t_us") < q_hi))
        .select("event_id", "user_id", "event_type", "value")
    )


# --- i16: VersionedTable as a STREAMING SOURCE (append commits -> stream) -------------
@register(
    "i16",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY event_type
    """,
)
def i16_versioned_table_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VersionedTable as a STREAMING SOURCE — the inverse of
    i14/i15's sinks, and the Delta-style 'stream a table' contract for
    APPEND-ONLY tables: because every commit writes new immutable
    parquet files and never rewrites an existing one, new commits' data
    directories form a valid file-stream source. Discovery is
    MANIFEST-DRIVEN (streaming/table_source.AppendStreamSource, VERDICT
    r8 fix): each pass asks the manifest which directories the commits
    since the last consumed version ADDED and passes ONLY those as the
    load path — per-trigger listing cost is O(new commits' dirs), not
    O(all table files), which is what the round-8 whole-table glob
    cost. Three appends land in two stream runs against ONE checkpoint:
    the first availableNow pass folds commits 1-2, the third commit
    lands, and the second pass LISTS AND READS only commit 3's
    directories (pinned by tests/test_table_stream_source.py's
    load-path assert; the aggregate state being correct without
    reprocessing — double-counting would break the hash — proves the
    read side). The oracle recomputes the aggregate over everything
    ingested, so a green hash proves streamed-incremental == batch.
    Append-only is ENFORCED, not assumed: the source raises on a
    merge/compact commit in the window and points at the i17 change
    feed (exactly as Delta documents its streaming-source limitation).
    Money-ish sums ride exact int64 cents (per-row round, then integer
    sum) so no float-order surface exists.

    At 100 TB this is the lakehouse bridge: batch jobs append partitions,
    a streaming consumer tails the table with manifest-enumerated
    increments — no message bus between them."""
    import os
    import shutil
    import uuid

    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.streaming.table_source import AppendStreamSource

    root = stage_dir(sf_dir, "i16_source")
    shutil.rmtree(root, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.pmod("user_id", F.lit(8)).alias("bucket"),
    )
    vt = VersionedTable(root)
    vt.write_initial(ev.filter(F.col("event_id") % 3 == 0), "bucket")
    vt.append(ev.filter(F.col("event_id") % 3 == 1))

    ckpt = os.path.join(root, "_consumer_checkpoint")
    src = AppendStreamSource(vt, ckpt)
    name = f"i16_agg_{uuid.uuid4().hex[:8]}"

    def run_pass() -> None:
        from scopus_spark.streaming.harness import scaled_stream_shuffle

        path, upto = src.new_load_path()
        if path is None:
            return
        with scaled_stream_shuffle(spark):
            q = (
                spark.readStream.schema(vt.schema())
                .option("pathGlobFilter", "*.parquet")
                .parquet(path)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                    .cast("long")
                    .alias("total_cents"),
                )
                .writeStream.outputMode("complete")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .format("memory")
                .queryName(name)
                .start()
            )
            q.awaitTermination()
        src.mark_consumed(upto)

    run_pass()  # consumes commits 1-2
    vt.append(ev.filter(F.col("event_id") % 3 == 2))
    run_pass()  # incremental: load path covers ONLY commit 3's dirs
    return spark.table(name)


# --- i17: CHANGE-DATA-FEED streaming source (CDF across MERGE commits) -----------------
@register(
    "i17",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(user_id % 8 AS BIGINT) AS bucket,
             CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    a AS (
      SELECT user_id, bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM ev WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id, bucket
    ),
    b AS (
      SELECT user_id, bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM ev WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY user_id, bucket
    ),
    d AS (SELECT user_id FROM b WHERE n_events % 4 = 0),
    delta AS (SELECT * FROM b WHERE user_id NOT IN (SELECT user_id FROM d)),
    v1 AS (
      SELECT user_id, bucket, n_events, total_cents,
             'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      FROM a
    ),
    v2_ins AS (
      SELECT delta.*, 'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM delta WHERE user_id NOT IN (SELECT user_id FROM a)
    ),
    v2_del AS (
      SELECT a.*, 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM a WHERE user_id IN (SELECT user_id FROM d)
    ),
    chg AS (
      SELECT a.user_id FROM a JOIN delta USING (user_id)
      WHERE a.n_events <> delta.n_events OR a.total_cents <> delta.total_cents
    ),
    v2_pre AS (
      SELECT a.*, 'update_preimage' AS _change_type,
             CAST(2 AS BIGINT) AS _commit_version
      FROM a WHERE user_id IN (SELECT user_id FROM chg)
    ),
    v2_post AS (
      SELECT delta.*, 'update_postimage' AS _change_type,
             CAST(2 AS BIGINT) AS _commit_version
      FROM delta WHERE user_id IN (SELECT user_id FROM chg)
    )
    SELECT * FROM v1
    UNION ALL SELECT * FROM v2_ins
    UNION ALL SELECT * FROM v2_del
    UNION ALL SELECT * FROM v2_pre
    UNION ALL SELECT * FROM v2_post
    """,
)
def i17_change_feed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE FEED as a STREAMING SOURCE — Delta's 'table changes as
    a stream' contract (streaming/table_source.ChangeFeedConsumer), the
    piece i16's append-only file tail cannot cover: a checkpointed
    consumer records the last consumed commit version and each trigger
    emits ``read_changes(last, current)`` — row-level insert / delete /
    update_preimage / update_postimage images + ``_commit_version`` —
    at O(delta files) cost, correct ACROSS MERGE COMMITS (where a file
    stream would double-count the survivor rewrite).

    The scripted run is the real contract: v1 creates the table from
    the early-events per-user summary; stream pass 1 consumes it
    (insert rows); a MERGE lands BETWEEN the passes (late-events
    summary upserted, delete-wins tombstones for every user whose late
    count is divisible by 4); pass 2 consumes ONLY v2's delta — its
    insert/delete/update split, not a re-emission of v1 (re-emission
    would double v1's rows and break the hash). The returned DataFrame
    is the concatenation of what the two passes emitted; the oracle
    recomputes the exact same change rows relationally (early agg A,
    late agg B, delete set D, insert = delta∖A, delete = A∩D, update =
    A∩delta with differing payloads), so a green hash proves the
    checkpointed incremental feed ≡ the relational delta, including
    that SURVIVOR rows (rewritten byte-identical by the partition
    rewrite) emit nothing. Exact int64 cents keep the compare surface
    float-free. Batch-vs-stream equivalence and at-least-once replay
    (a failed sink re-polls the SAME range) are pinned in
    tests/test_change_feed_stream.py.

    At 100 TB this is the standard lakehouse incremental contract
    (Delta CDF as a stream): downstream consumers of a MERGE-ing table
    see O(churn) rows per trigger, never a snapshot diff."""
    import os
    import shutil

    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.streaming.table_source import ChangeFeedConsumer

    root = stage_dir(sf_dir, "i17_cdf")
    shutil.rmtree(root, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.pmod("user_id", F.lit(8)).cast("long").alias("bucket"),
        F.col("ts").cast("timestamp").alias("tss"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cut = F.lit("2024-01-15").cast("timestamp")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )

    early = summarize(ev.filter(F.col("tss") < cut))
    late = summarize(ev.filter(F.col("tss") >= cut))
    deletes = late.filter(F.col("n_events") % 4 == 0).select(
        "user_id", "bucket"
    )

    vt = VersionedTable(root)
    vt.write_initial(early, "bucket")  # v1

    consumer = ChangeFeedConsumer(
        vt, os.path.join(root, "_cdf_checkpoint")
    )
    emitted: list[DataFrame] = []

    def sink(df: DataFrame, from_v: int, to_v: int) -> None:
        # cut the pass's rows eagerly: the NEXT commit must not be able
        # to retroactively change what this trigger emitted
        emitted.append(execution.cut(df, eager=True))

    consumer.run_available(spark, sink)  # pass 1: v1 inserts
    vt.merge(  # lands BETWEEN the two stream passes
        late.join(deletes.select("user_id"), "user_id", "left_anti"),
        key_cols=["user_id"],
        partition_col="bucket",
        deletes=deletes,
    )
    consumer.run_available(spark, sink)  # pass 2: ONLY v2's delta

    out = emitted[0]
    for piece in emitted[1:]:
        out = out.unionByName(piece)
    return out.select(
        "user_id",
        "bucket",
        "n_events",
        "total_cents",
        "_change_type",
        "_commit_version",
    )
