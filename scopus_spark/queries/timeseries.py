"""SURVEY §2.Q (added during build, round 1) — time-series operators over
the events stream (o1–o2): grid resampling with forward fill, and
OHLC-style bucket rollups. The hypertable primitives a metrics/feature
store needs that plain windowed aggregation (§2.E/§2.I) doesn't give you:
o1 emits rows at times where NO event exists (gap filling), carrying the
last observation forward.

Determinism: events are pre-collapsed to one row per (user_id, µs
timestamp) with an event_id tie-break — the oracle's raw ns timestamps
truncate to the same µs values the G1 loader shim produces, so both
engines fill from an identical series.

Spark strategy for as-of forward fill: union the grid points with the
event rows and take `last(value, ignoreNulls)` over a per-user
time-ordered window — one shuffle on user_id, no join explosion; the
DuckDB oracle spells the same semantics as a native ASOF LEFT JOIN
(cross-verified in the survey, §2.C c10). At 100 TB the window shuffle
partitions by entity key and AQE splits hot entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scopus_spark import execution
from scopus_spark.catalog import table
from scopus_spark.registry import register
from scopus_spark.session import stage_dir

# One row per (user, µs ts): latest event_id wins. The oracle mirrors the
# G1 ns->µs truncation explicitly (make_timestamp(epoch_us(...))).
_EV_CTE = """
    ev AS (
      SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
             arg_max(value, event_id) AS value
      FROM events
      GROUP BY 1, 2
    )
"""


def _events_dedup_from(events: DataFrame) -> DataFrame:
    """One row per (user_id, ts): the highest event_id's value wins.

    Expressed as a lead() filter over the user-partitioned time order
    (keep the last row of each equal-ts run) rather than a
    groupBy(user, ts) aggregate: the window partitions by user_id ONLY,
    the same partitioning every downstream consumer (bounds agg, fill
    window) needs — so the dedup costs no extra exchange of the event
    stream. Equivalent to max_by(value, event_id) per (user, ts)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("_nxt_ts", F.lead("ts").over(w))
        .filter(F.col("_nxt_ts").isNull() | (F.col("_nxt_ts") != F.col("ts")))
        .select("user_id", "ts", "value")
    )


def _events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_dedup_from(table(spark, sf_dir, "events"))


def forward_fill(ev: DataFrame, grid: DataFrame) -> DataFrame:
    """As-of forward fill: for each (user_id, bucket_ts) grid row, the
    value and timestamp of the latest event at-or-before that instant
    (NULL before the first observation).

    Union + one per-user time-ordered window — no join explosion; the
    sort key (t, is_grid) makes an event at the exact grid instant sort
    first, so inclusion matches ASOF's >= semantics.
    """
    ev_rows = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_grid"),
        "value",
        F.col("ts").alias("event_ts"),
    )
    grid_rows = grid.select(
        "user_id",
        F.col("bucket_ts").alias("t"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("timestamp").alias("event_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Carry the last OBSERVATION (value + its ts together, as one
    # struct), not the last non-null value: an event whose value is NULL
    # must still win the as-of race — exactly what the o1 ASOF LEFT JOIN
    # oracle does — and (last_value, last_event_ts) must always come
    # from the same row. last(ignorenulls) skips only the grid rows'
    # all-NULL struct, never a real observation.
    obs = F.when(
        F.col("is_grid") == 0, F.struct(F.col("value"), F.col("event_ts"))
    )
    filled = ev_rows.unionByName(grid_rows).select(
        "user_id",
        "t",
        "is_grid",
        F.last(obs, ignorenulls=True).over(w).alias("last_obs"),
    )
    return filled.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("t").alias("bucket_ts"),
        F.col("last_obs.value").alias("last_value"),
        F.col("last_obs.event_ts").alias("last_event_ts"),
    )


# --- o1: grid resample + forward fill -----------------------------------------------
@register(
    "o1",
    oracle=f"""
    WITH {_EV_CTE},
    bounds AS (
      SELECT user_id, CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             max(ts) AS hi
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS bucket_ts
      FROM bounds
    )
    SELECT g.user_id, g.bucket_ts, e.value AS last_value, e.ts AS last_event_ts
    FROM grid g ASOF LEFT JOIN ev e
      ON g.user_id = e.user_id AND g.bucket_ts >= e.ts
    """,
)
def o1_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event series onto a 6-hour grid, carrying the
    last observation (and its timestamp) forward; grid points before the
    first event stay NULL. Spark plan: per-user grid fan-out (explode over
    sequence — bounded by the time span), union with events, one
    per-user-ordered window with last(ignoreNulls). The oracle is the
    same series as a native ASOF LEFT JOIN."""
    ev = _events_dedup(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"), F.max("ts").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 6 HOUR"))
        ).alias("bucket_ts"),
    )
    return forward_fill(ev, grid)


# --- o2: OHLC bucket rollup ---------------------------------------------------------
@register(
    "o2",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           arg_min(value, ts)     AS open,
           max(value)             AS high,
           min(value)             AS low,
           arg_max(value, ts)     AS close,
           count(*)               AS n_events
    FROM ev
    GROUP BY 1, 2
    """,
)
def o2_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC-style daily rollup per user: first/last (by time) plus
    min/max/count — the continuous-aggregate shape a hypertable
    maintains. One hash aggregate on (user, day); first/last are
    min_by/max_by on the deduped series, so they're deterministic (C5)."""
    ev = _events_dedup(spark, sf_dir)
    return ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("bucket_ts")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- o3: grid resample + linear interpolation ---------------------------------------
@register(
    "o3",
    oracle=f"""
    WITH {_EV_CTE},
    bounds AS (
      SELECT user_id, CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             max(ts) AS hi
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS bucket_ts
      FROM bounds
    ),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_grid, value FROM ev
      UNION ALL
      SELECT user_id, bucket_ts AS t, 1 AS is_grid, CAST(NULL AS DOUBLE) AS value
      FROM grid
    ),
    w AS (
      SELECT user_id, t, is_grid,
             last_value(value IGNORE NULLS) OVER win_prev AS prev_val,
             last_value(CASE WHEN is_grid = 0 THEN epoch_us(t) END IGNORE NULLS)
               OVER win_prev AS prev_us,
             first_value(value IGNORE NULLS) OVER win_next AS next_val,
             first_value(CASE WHEN is_grid = 0 THEN epoch_us(t) END IGNORE NULLS)
               OVER win_next AS next_us
      FROM u
      WINDOW
        win_prev AS (PARTITION BY user_id ORDER BY t, is_grid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        win_next AS (PARTITION BY user_id ORDER BY t, is_grid
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, t AS bucket_ts,
           CASE WHEN prev_val IS NULL OR next_val IS NULL THEN NULL
                ELSE prev_val + (next_val - prev_val)
                     * (CAST(epoch_us(t) - prev_us AS DOUBLE)
                        / CAST(next_us - prev_us AS DOUBLE)) END + 0.0
             AS lerp_value
    FROM w
    WHERE is_grid = 1
    """,
)
def o3_resample_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's series onto the o1 grid with LINEAR
    interpolation between the bracketing observations (the other half of
    the gap-fill pair: o1 carries, o3 interpolates). NULL outside the
    observed range (no extrapolation).

    Spark plan: same single union + one per-user sort as o1 — the prev/*
    and next/* windows share partitioning AND ordering, so Catalyst plans
    ONE Exchange + ONE Sort feeding two Window nodes (asserted in
    tests/test_plans.py). The interpolation weight is computed from
    epoch-µs BIGINT deltas cast to DOUBLE with an identical expression
    tree on both engines, so the IEEE result is bit-identical (the d16
    width_bucket lesson). An event exactly at a grid instant sorts before
    the grid row (is_grid tie-break), lands in the preceding frame, and
    the weight collapses to 0 -> the event's own value — EXCEPT at the
    final grid point when it coincides with max(ts): interpolation needs
    a next observation and none exists, so that bucket is NULL (the
    no-extrapolation rule wins the tie; both engines agree).
    """
    ev = _events_dedup(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"), F.max("ts").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 6 HOUR"))
        ).alias("bucket_ts"),
    )
    return linear_fill(ev, grid)


# --- o4: incremental rollup maintenance through the hash gate -----------------------
@register(
    "o4",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           arg_min(value, ts)     AS open,
           max(value)             AS high,
           min(value)             AS low,
           arg_max(value, ts)     AS close,
           count(*)               AS n_events
    FROM ev
    GROUP BY 1, 2
    """,
)
def o4_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate MAINTENANCE path (operators/rollup.py)
    pushed through the same hash gate as the batch query: the event
    stream is split into three batches (a pure function of the µs
    timestamp, so batches are time-disjoint per (user, ts) — the
    operator's contract), each batch MERGEd incrementally into a
    materialized on-disk rollup, and the final state read back. The
    oracle is o2's full recomputation — green hash means three partial
    merges ≡ one batch aggregate, exactly (every state column is a
    commutative monoid). At 100 TB only the delta's bucket_date
    partitions are ever read or rewritten per merge."""
    import shutil

    from scopus_spark.operators.rollup import (
        STATE_COLS,
        incremental_ohlc_state,
        ohlc_state,
        read_rollup,
    )

    target = stage_dir(sf_dir, "o4_rollup")
    shutil.rmtree(target, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    # r10: ONE scan+dedup+aggregate builds all three batch states (batch
    # membership is a pure function of the µs timestamp, so grouping by
    # (batch, user, bucket) and slicing equals three filtered passes
    # bit-for-bit — dedup keys (user, ts) never straddle batches); the
    # merges still run strictly one after another against the on-disk
    # table, which is the declared incremental-maintenance behavior.
    batch = F.unix_micros(F.col("ts").cast("timestamp")) % 3
    with execution.scope():
        states = execution.pin(ohlc_state(ev, extra_group_exprs={"_b": batch}))
        for b in range(3):
            incremental_ohlc_state(
                target,
                states.filter(F.col("_b") == b).select(*STATE_COLS),
            )
    return read_rollup(spark, target)


def linear_fill(ev: DataFrame, grid: DataFrame) -> DataFrame:
    """Linear-interpolation fill: for each (user_id, bucket_ts) grid row,
    lerp between the latest event at-or-before and the earliest event
    strictly after (NULL when either bracket is missing). The o3 core —
    see o3_resample_lerp's docstring for the plan/determinism analysis."""
    u = ev.select(
        "user_id", F.col("ts").alias("t"), F.lit(0).alias("is_grid"), "value"
    ).unionByName(
        grid.select(
            "user_id",
            F.col("bucket_ts").alias("t"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ev_us = F.when(F.col("is_grid") == 0, F.unix_micros("t"))
    w = u.select(
        "user_id",
        "t",
        "is_grid",
        F.last("value", ignorenulls=True).over(wp).alias("prev_val"),
        F.last(ev_us, ignorenulls=True).over(wp).alias("prev_us"),
        F.first("value", ignorenulls=True).over(wn).alias("next_val"),
        F.first(ev_us, ignorenulls=True).over(wn).alias("next_us"),
    )
    lerp = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * (
        (F.unix_micros("t") - F.col("prev_us")).cast("double")
        / (F.col("next_us") - F.col("prev_us")).cast("double")
    )
    return w.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("t").alias("bucket_ts"),
        (
            F.when(
                F.col("prev_val").isNotNull() & F.col("next_val").isNotNull(),
                lerp,
            )
            + F.lit(0.0)
        ).alias("lerp_value"),
    )


# --- o5: time-weighted average per bucket -------------------------------------------
@register(
    "o5",
    oracle=f"""
    WITH {_EV_CTE},
    seg AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
             ts, value,
             lead(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts) AS nxt
      FROM ev
    )
    SELECT user_id, bucket_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us,
           CASE WHEN epoch_us(max(ts)) - epoch_us(min(ts)) = 0
                THEN arg_min(value, ts)
                ELSE CAST(sum(CAST(value * (epoch_us(nxt) - epoch_us(ts))
                                   AS DECIMAL(38,18))) AS DOUBLE)
                     / (epoch_us(max(ts)) - epoch_us(min(ts))) END AS twa
    FROM seg
    GROUP BY 1, 2
    """,
)
def o5_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (user, day) — the hypertable metric that
    plain avg() gets WRONG on irregular series (a value that held for six
    hours must weigh more than one that held for a minute). Each
    observation is weighted by its holding time until the next observation
    in the bucket (LOCF weighting; the final observation carries no
    weight), normalized by the bucket's observed span; single-observation
    buckets define TWA as that value.

    Determinism (the n6 lesson): each value x holding-µs product is one
    IEEE double op with an identical expression tree on both engines; the
    order-sensitive SUM of those products passes through DECIMAL(38,18)
    (exact, associative), and the final division is one more shared
    double op — so the result is bit-identical across engines AND
    partitionings. Plan: one (user, day)-partitioned window for the lead,
    then one hash aggregate on the same keys — the window's shuffle is
    reused by the aggregate (no second Exchange)."""
    ev = _events_dedup(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    bucket = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", bucket).orderBy("ts")
    seg = ev.select(
        "user_id",
        bucket.alias("bucket_ts"),
        "ts",
        "value",
        (F.unix_micros(F.lead(ts).over(w)) - F.unix_micros(ts)).alias("hold_us"),
    )
    agg = seg.groupBy("user_id", "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max(ts)) - F.unix_micros(F.min(ts))
        ).alias("span_us"),
        F.sum(
            (F.col("value") * F.col("hold_us")).cast("decimal(38,18)")
        ).alias("_num"),
        F.min_by("value", "ts").alias("_first_val"),
    )
    return agg.select(
        "user_id",
        "bucket_ts",
        "n_events",
        "span_us",
        F.when(F.col("span_us") == 0, F.col("_first_val"))
        .otherwise(F.col("_num").cast("double") / F.col("span_us"))
        .alias("twa"),
    )


# --- o6: rolling z-score anomaly detection ------------------------------------------
@register(
    "o6",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT user_id, ts, value,
           round(CASE WHEN count(*) OVER w < 2 OR stddev_samp(value) OVER w = 0
                      THEN 0.0
                      ELSE (value - avg(value) OVER w)
                           / stddev_samp(value) OVER w END, 4) + 0.0 AS z,
           (abs(round(CASE WHEN count(*) OVER w < 2
                                OR stddev_samp(value) OVER w = 0
                           THEN 0.0
                           ELSE (value - avg(value) OVER w)
                                / stddev_samp(value) OVER w END, 4)) > 2.0)
             AS is_anomaly
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    """,
)
def o6_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user: each observation
    scored against the trailing-12-observation window's mean/stddev,
    flagged above |z| > 2 — the streaming-adjacent outlier monitor every
    metrics store runs. Runs on the deduped series (unique (user, ts)
    ordering → identical frame cuts on both engines); z rounds to 4dp
    with signed-zero normalization (C3 + the d6 lesson) because windowed
    mean/stddev are the one float surface where engines may differ in
    the last ulp. Constant-width frame → O(1) state per row; the window
    shuffle partitions by user."""
    ev = _events_dedup(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(-11, Window.currentRow)
    )
    sd = F.stddev_samp("value").over(w)
    # single-observation frames: engines disagree on stddev_samp(n=1)
    # (NULL vs NaN) — both sides pin z to 0.0 below two rows
    z_raw = F.when(
        (F.count(F.lit(1)).over(w) < 2) | (sd == 0), F.lit(0.0)
    ).otherwise((F.col("value") - F.avg("value").over(w)) / sd)
    z = F.round(z_raw, 4) + F.lit(0.0)
    return ev.select(
        "user_id",
        "ts",
        "value",
        z.alias("z"),
        # flag from the ROUNDED z on BOTH engines: a raw z within an ulp
        # of 2.0 could flip the boolean on one engine only (the same
        # last-ulp drift the 4dp rounding of z exists to absorb).
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


# --- o7: gap / outage detection -----------------------------------------------------
@register(
    "o7",
    oracle=f"""
    WITH {_EV_CTE},
    g AS (
      SELECT user_id, ts AS gap_start,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS gap_end
      FROM ev
    )
    SELECT user_id, gap_start, gap_end,
           CAST(epoch_us(gap_end) - epoch_us(gap_start) AS BIGINT) AS gap_us
    FROM g
    WHERE epoch_us(gap_end) - epoch_us(gap_start) > 43200000000
    """,
)
def o7_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting gaps instead of filling them (the other half of o1/o3):
    every interval longer than 12h between consecutive observations per
    user — the sensor-outage / dead-feed detector. One lead() over the
    user-partitioned time order, exact integer µs arithmetic, then a
    filter; output size is the number of outages, not the series."""
    ev = _events_dedup(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    g = ev.select(
        "user_id",
        F.col("ts").alias("gap_start"),
        F.lead("ts").over(w).alias("gap_end"),
    )
    gap_us = F.unix_micros(F.col("gap_end").cast("timestamp")) - F.unix_micros(
        F.col("gap_start").cast("timestamp")
    )
    return g.select(
        "user_id", "gap_start", "gap_end", gap_us.alias("gap_us")
    ).filter(F.col("gap_us") > 43_200_000_000)


# --- o8: exponential moving average via order-identical folds ------------------------
@register(
    "o8",
    oracle=f"""
    WITH {_EV_CTE},
    s AS (
      SELECT user_id,
             list(value ORDER BY ts) AS vals,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM ev GROUP BY user_id
    )
    SELECT user_id, n_obs,
           list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc) AS ema
    FROM s
    """,
)
def o8_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average (alpha = 0.3) per user — the inherently
    SEQUENTIAL smoother (y_i = a*x_i + (1-a)*y_{i-1}) that window
    aggregates cannot express, implemented WITHOUT a Python UDF: the
    per-user series is collected into a time-ordered array (sort_array
    over (ts, value) structs — ts is unique per user after the G1 dedup)
    and folded with the JVM higher-order `aggregate`, seeded with the
    first observation. DuckDB's list_reduce folds the same list with the
    same accumulator-first lambda, so BOTH engines execute the identical
    IEEE-754 op sequence and the UNROUNDED double matches bit-for-bit —
    the strongest form of the C3 per-row determinism rule (no round()
    anywhere).

    Scale shape: one shuffle (groupBy user_id, map-side partials); the
    fold is map-side array work. The array holds ONE entity's series —
    the per-entity-bounded state every streaming EMA keeps anyway; for
    unbounded per-entity history, chunk by (user, month) and chain the
    chunk EMAs with the same fold (the operator is associative over
    segments via y_chunk = a-weighted affine maps — each chunk reduces
    to (gain, offset) pairs that compose)."""
    ev = _events_dedup(spark, sf_dir)
    collected = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "value"))),
            lambda s: s["value"],
        ).alias("vals"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    ema = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return collected.select("user_id", "n_obs", ema.alias("ema"))


# --- o9: multi-stage conversion funnel (ordered event-sequence analytics) ------------
@register(
    "o9",
    oracle="""
    WITH e AS (
      SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_type FROM events
    ),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT CAST(date_trunc('day', s1.t1) AS TIMESTAMP) AS cohort_day,
           CAST(count(*) AS BIGINT) AS n_signup,
           CAST(count(s2.t2) AS BIGINT) AS n_clicked,
           CAST(count(s3.t3) AS BIGINT) AS n_purchased,
           round(avg(CAST(epoch_us(s3.t3) - epoch_us(s1.t1) AS DOUBLE))
                 / 3600000000.0, 4) AS avg_hours_to_purchase
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    GROUP BY 1
    """,
)
def o9_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage conversion funnel (signup -> first later click
    -> first later purchase), cohorted by signup day — the event-sequence
    analytic that needs ORDER between stages, not just co-occurrence
    (a user whose clicks all precede signup does not convert). Stage
    anchors resolve in sequence: first signup, first click strictly
    after it, first purchase strictly after that; cohort rows report the
    surviving population per stage and the mean signup->purchase latency
    (an avg of doubles — C3 round(.,4)).

    Scale shape: three per-user hash aggregates chained by equi-joins on
    user_id — every join keyed on the entity, each stage's table no
    larger than the survivors, no window over the raw stream; at 100 TB
    the stage tables are tiny relative to events and AQE broadcasts the
    later stages. Timestamp comparisons happen on the shimmed µs values
    in both engines (G1), so strict inequalities agree."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    hours = (
        F.unix_micros(F.col("t3").cast("timestamp"))
        - F.unix_micros(F.col("t1").cast("timestamp"))
    ).cast("double")
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .groupBy(F.date_trunc("day", "t1").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("t2").alias("n_clicked"),
            F.count("t3").alias("n_purchased"),
            F.round(F.avg(hours) / 3600000000.0, 4).alias(
                "avg_hours_to_purchase"
            ),
        )
    )


# --- o10: day-N retention cohort matrix ------------------------------------------------
@register(
    "o10",
    oracle="""
    WITH e AS (
      SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_type FROM events
    ),
    cohort AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM e WHERE event_type = 'signup' GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day FROM e
    )
    SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN date_diff('day', c.cohort_day, a.act_day) = 1
                                    THEN c.user_id END) AS BIGINT) AS ret_d1,
           CAST(count(DISTINCT CASE WHEN date_diff('day', c.cohort_day, a.act_day) = 3
                                    THEN c.user_id END) AS BIGINT) AS ret_d3,
           CAST(count(DISTINCT CASE WHEN date_diff('day', c.cohort_day, a.act_day) = 7
                                    THEN c.user_id END) AS BIGINT) AS ret_d7
    FROM cohort c JOIN act a ON c.user_id = a.user_id
    GROUP BY 1
    """,
)
def o10_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention cohort matrix — the product-analytics staple next
    to o9's funnel: users cohorted by FIRST-signup day, with the count
    still active exactly N days later (N = 1, 3, 7) as conditional
    distinct counts per cohort row. Day arithmetic happens on
    day-TRUNCATED timestamps via integer day diffs, so both engines
    agree exactly (no tz/epoch-division drift).

    Scale: activity collapses to DISTINCT (user, day) FIRST — one
    map-side-partial shuffle that shrinks the corpus to bounded
    user-days before the join; the cohort table is one agg over the
    signup slice; the join is keyed on user_id (co-partitioned with the
    activity agg's shuffle, AQE-broadcastable when the cohort window is
    narrow). The retention matrix itself is one hash-agg — no window,
    no per-day self-join fan-out (the naive rendering joins events
    against events once per offset)."""
    ev = table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    )
    act = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("act_day")
    ).distinct()
    j = cohort.join(act, "user_id")
    dd = F.datediff(F.col("act_day"), F.col("cohort_day"))
    return j.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(dd == 1, F.col("user_id"))).alias("ret_d1"),
        F.countDistinct(F.when(dd == 3, F.col("user_id"))).alias("ret_d3"),
        F.countDistinct(F.when(dd == 7, F.col("user_id"))).alias("ret_d7"),
    )


# --- o11: STL-lite seasonal decomposition of the daily event series ----------------
@register(
    "o11",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS cnt
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT day, cnt,
             sum(cnt) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
             count(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
      FROM daily
    ),
    full7 AS (
      SELECT day, cnt, wsum,
             date_diff('day', DATE '1992-01-01', day) % 7 AS dw
      FROM win WHERE wn = 7
    ),
    seas AS (
      SELECT dw,
             CAST(7 * sum(cnt) - sum(wsum) AS DOUBLE)
               / (7.0 * count(*)) AS seasonal
      FROM full7 GROUP BY dw
    )
    SELECT f.day, f.cnt,
           f.wsum / 7.0 AS trend,
           s.seasonal,
           f.cnt - f.wsum / 7.0 - s.seasonal AS residual
    FROM full7 f JOIN seas s ON f.dw = s.dw
    """,
)
def o11_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average STL
    precursor every monitoring stack runs) of the daily event-count
    series: trend = centered 7-observation moving average (full windows
    only), seasonal = weekday mean of the detrended series, residual =
    the anomaly signal that remains.

    FP determinism (the _fp.py C3 rules applied to a windowed analytic):
    trend is an exact integer window SUM divided once by 7.0; the
    weekday mean of detrended values is algebraically rewritten to keep
    everything integer until a single division —
    mean(cnt - wsum/7) = (7*sum(cnt) - sum(wsum)) / (7*m)
    — so no engine ever sums doubles and the output is hash-exact with
    zero rounding. Day-of-week anchors to an epoch datediff % 7 rather
    than either engine's dow() convention.

    Scale: the window runs over the DAILY table, which is calendar-
    bounded (years x 365 rows), not corpus-bounded — the unpartitioned
    ordered window is a deliberate single-task step over <= thousands of
    rows, while the corpus-scale work (the daily count) is one map-side-
    combinable agg. The weekday agg and join-back touch <= 7 + n_days
    rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    full7 = win.filter(F.col("wn") == 7).select(
        "day",
        "cnt",
        "wsum",
        (
            F.datediff(F.col("day"), F.lit("1992-01-01").cast("date")) % 7
        ).alias("dw"),
    )
    seas = full7.groupBy("dw").agg(
        (
            (7 * F.sum("cnt") - F.sum("wsum")).cast("double")
            / (7.0 * F.count(F.lit(1)))
        ).alias("seasonal")
    )
    return full7.join(F.broadcast(seas), "dw").select(
        "day",
        "cnt",
        (F.col("wsum") / 7.0).alias("trend"),
        "seasonal",
        (F.col("cnt") - F.col("wsum") / 7.0 - F.col("seasonal")).alias(
            "residual"
        ),
    )


# --- o12: CUSUM drift detection over the daily series ------------------------------
@register(
    "o12",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS cnt
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS n, sum(cnt) AS s, sum(cnt * cnt) AS ss FROM daily
    ),
    pre AS (
      SELECT day, cnt,
             sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pc,
             row_number() OVER (ORDER BY day) AS i
      FROM daily
    )
    SELECT p.day, p.cnt,
           CAST(p.pc AS DOUBLE) - p.i * (CAST(t.s AS DOUBLE) / t.n)
             AS cusum,
           abs(CAST(p.pc AS DOUBLE) - p.i * (CAST(t.s AS DOUBLE) / t.n))
             > 3.0 * sqrt((t.n * CAST(t.ss AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s)
                          / (CAST(t.n AS DOUBLE) * t.n))
             AS drift_flag
    FROM pre p CROSS JOIN tot t
    """,
)
def o12_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection (Page 1954 — the monitoring classic) over
    the daily event-count series: cumulative deviation from the series
    mean per day, flagged where |CUSUM| exceeds 3 population standard
    deviations — the level-shift detector a pipeline runs before
    trusting volume-sensitive stats.

    Hash-exact by algebra (the _fp.py C3 discipline): CUSUM_i =
    prefix_sum(cnt) - i * mean keeps the prefix INTEGER and multiplies
    once; the population sigma comes from integer (n, sum, sum-of-
    squares) via one double expression — and IEEE-754 sqrt is correctly
    rounded, so even the flag threshold is bit-identical across
    engines. Zero rounding anywhere.

    Scale: corpus work is the one map-side daily count; the ordered
    prefix window runs over the calendar-bounded daily table (o11's
    argument), and the 1-row stats table broadcasts."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    w = Window.orderBy("day")
    pre = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pc"),
        F.row_number().over(w).alias("i"),
    )
    cusum = F.col("pc").cast("double") - F.col("i") * (
        F.col("s").cast("double") / F.col("n")
    )
    sigma = F.sqrt(
        (F.col("n") * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s"))
        / (F.col("n").cast("double") * F.col("n"))
    )
    return pre.crossJoin(F.broadcast(tot)).select(
        "day",
        "cnt",
        cusum.alias("cusum"),
        (F.abs(cusum) > 3.0 * sigma).alias("drift_flag"),
    )


# --- o13: Holt linear (double exponential) smoothing ---------------------------------
@register(
    "o13",
    oracle=f"""
    WITH {_EV_CTE},
    s AS (
      SELECT user_id,
             list(value ORDER BY ts) AS vals,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM ev GROUP BY user_id
    ),
    seeded AS (
      SELECT user_id, n_obs,
             [[vals[2], vals[2] - vals[1]]]
               || list_transform(vals[3:], x -> [x, 0.0]) AS steps
      FROM s WHERE n_obs >= 2
    ),
    folded AS (
      SELECT user_id, n_obs,
             list_reduce(steps, (acc, x) -> [
               0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
               0.1 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
                 + 0.9 * acc[2]
             ]) AS hw
      FROM seeded
    )
    SELECT user_id, n_obs, hw[1] AS level, hw[2] AS trend,
           hw[1] + 3.0 * hw[2] AS forecast_3
    FROM folded
    """,
)
def o13_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR (double exponential) smoothing per user — the trend-
    aware tier above o8's EMA (Holt 1957): level l and trend b evolve as
    l' = a*x + (1-a)*(l+b), b' = g*(l'-l) + (1-g)*b with a=0.3, g=0.1,
    seeded the standard way (l=x2, b=x2-x1) and folded over the remaining
    observations. Like o8 the fold is a JVM higher-order `aggregate` over
    the time-ordered per-user series with an array<double> [level, trend]
    accumulator; DuckDB's list_reduce folds the identical [level, trend]
    list with the identical expression tree, so both engines execute the
    same IEEE-754 op sequence and the unrounded doubles hash-match (the
    o8/C3 fold discipline — l' appears twice in the trend update on both
    sides, same subexpression, same rounding). Emits the final state plus
    a 3-step-ahead linear forecast.

    Scale shape: one shuffle (groupBy user_id, map-side partials); the
    fold is map-side array work over one entity's bounded series, and the
    o8 chunk-composition argument applies verbatim (Holt updates are
    affine maps of (l, b) — chunks reduce to 2x2 affine compositions)."""
    ev = _events_dedup(spark, sf_dir)
    collected = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "value"))),
            lambda s: s["value"],
        ).alias("vals"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    collected = collected.filter(F.col("n_obs") >= 2)
    x1 = F.element_at("vals", 1)
    x2 = F.element_at("vals", 2)
    seed = F.array(x2, x2 - x1)
    tail = F.slice(F.col("vals"), 3, F.greatest(F.size("vals") - 2, F.lit(0)))

    def _step(acc, x):
        lp = F.lit(0.3) * x + F.lit(0.7) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        return F.array(
            lp,
            F.lit(0.1) * (lp - F.element_at(acc, 1))
            + F.lit(0.9) * F.element_at(acc, 2),
        )

    hw = F.aggregate(tail, seed, _step)
    return collected.select(
        "user_id",
        "n_obs",
        F.element_at(hw, 1).alias("level"),
        F.element_at(hw, 2).alias("trend"),
        (F.element_at(hw, 1) + F.lit(3.0) * F.element_at(hw, 2)).alias(
            "forecast_3"
        ),
    )


# --- o14: rolling EXACT median (robust smoother) --------------------------------------
@register(
    "o14",
    oracle=f"""
    WITH {_EV_CTE},
    framed AS (
      SELECT user_id, ts, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS s
      FROM ev
    )
    SELECT user_id, ts, value,
           (s[CAST((len(s) + 1) // 2 AS INT)]
            + s[CAST((len(s) + 2) // 2 AS INT)]) / 2.0 AS roll_median
    FROM framed
    """,
)
def o14_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT MEDIAN per user over a trailing 5-observation frame
    — the robust smoother o6's rolling z-score (mean/std) is fragile
    without: one spike moves a mean by 1/n but the median not at all
    (the Hampel-filter core). No percentile() interpolation parity is
    assumed anywhere (the d28 lesson): the frame is collected as an
    array, sorted, and the median rendered from EXPLICIT two-rank order
    statistics — both engines average the same two doubles, so the
    unrounded output hash-matches.

    Scale: one shuffle (window partition on user_id); the frame is a
    bounded 5-element array per row, so memory is O(frame) per row and
    the sort is constant work — at any corpus size this is the same
    map-side cost after the one user-keyed exchange every per-entity
    operator already pays."""
    ev = _events_dedup(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(-4, Window.currentRow)
    )
    s = F.array_sort(F.collect_list("value").over(w))
    framed = ev.select("user_id", "ts", "value", s.alias("s"))
    n = F.size("s")
    lo = F.floor((n + F.lit(1)) / 2).cast("int")
    hi = F.floor((n + F.lit(2)) / 2).cast("int")
    med = (F.element_at("s", lo) + F.element_at("s", hi)) / F.lit(2.0)
    return framed.select(
        "user_id", "ts", "value", med.alias("roll_median")
    )


# --- o15: Theil-Sen robust trend per user (median of pairwise slopes) -----------------
@register(
    "o15",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    pairs AS (
      SELECT a.user_id,
             CAST(b.c - a.c AS DOUBLE)
               / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b
        ON a.user_id = b.user_id AND a.d < b.d
    ),
    ranked AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM pairs
    )
    SELECT user_id,
           CAST(max(cnt) AS BIGINT) AS n_pairs,
           round((min(slope) + max(slope)) / 2, 6) + 0.0 AS ts_slope
    FROM ranked
    WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
    GROUP BY user_id
    """,
)
def o15_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend per user — the median of all pairwise
    slopes of the user's daily event-count series (Theil 1950 / Sen
    1968): the robust-regression answer to "is this entity's activity
    trending up or down" with a 29% breakdown point, where an OLS slope
    (o4's tier) is dragged arbitrarily by one burst day. The slope
    median is EXACT via the d28 two-rank trick (the two order
    statistics that bracket the median, averaged — no percentile
    approximation), so the whole operator stays on the hash gate.

    Scale: the pairwise self-join is PER-ENTITY (the o8/k3 bounded-
    entity argument — a user's day count is bounded, so pairs per user
    are bounded-quadratic in a small constant, never corpus-quadratic);
    one shuffle builds the daily series, one equi-join on user_id fans
    out the pairs map-side, one window ranks slopes within the user.
    Every slope is one integer subtraction / integer day-diff division
    — bit-identical cross-engine; the median average is one IEEE add +
    halve, rounded 6dp."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    wrk = Window.partitionBy("user_id").orderBy("slope")
    wall = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "slope",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    k1 = F.floor((F.col("cnt") + 1) / 2)
    k2 = F.floor((F.col("cnt") + 2) / 2)
    return (
        ranked.filter((F.col("rn") == k1) | (F.col("rn") == k2))
        .groupBy("user_id")
        .agg(
            F.max("cnt").cast("long").alias("n_pairs"),
            (
                F.round((F.min("slope") + F.max("slope")) / 2, 6)
                + F.lit(0.0)
            ).alias("ts_slope"),
        )
    )
