"""Event-stream analytics (batch form) over the ``events`` table.

The reference has no streaming (SURVEY §2.7) — incrementality is
event-driven batch. These queries are the batch expressions of the
streaming-shaped operators (tumbling windows, sessionization, per-day
actives); lakehouse_architecture_spark.streaming wires the same logic to
Structured Streaming with watermarks.

Timestamp determinism: the parquet column is ns-precision; Spark reads µs
and DuckDB ns. Every output therefore goes through date_trunc (hour/day)
or epoch-milliseconds before comparison, which both engines agree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.numeric import davg, dsum
from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.operators.partitioning import (
    scan_size_bytes,
)
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.sources.tables import load_table

# Crossover for the quantile-rollup scan-count dispatch: below this
# estimated events-scan size, the (day[, type], cents) count grain
# barely collapses the raw rows (at sf0.1: 84k grain rows from 100k
# events) and materializing it costs MORE than the second cheap scan it
# saves (measured: 3.02 s two-scan vs 4.26 s grain, interleaved A/B);
# above it, a second raw scan dwarfs the domain-bounded grain
# (<= |days| x ~50k distinct cents x |types|), so the grain path's
# single scan wins by construction. 256 MiB sits far above every local
# test SF and far below any production table, so the bench keeps the
# measured-faster local shape while 100 TB inputs never scan twice.
# None from scan_size_bytes (stats unavailable) routes to the grain
# path: at unknown size, never risk scanning an arbitrarily large
# table twice.
_VQ_GRAIN_SCAN_BYTES = 256 * 1024 * 1024

SESSION_GAP_MS = 30 * 60 * 1000


@query(
    "events_hourly_by_type",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form): hourly counts and value
    sums per event type. The streaming twin is
    ``F.window(ts, '1 hour')`` + watermark (streaming/jobs.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


@query(
    "events_tumbling_window",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``F.window`` operator itself (window struct -> start/end)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_events",
            "n_users",
        )
    )


@query(
    "events_sessionization",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
flagged AS (
  SELECT user_id, event_id,
         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new_session
  FROM ordered
)
SELECT user_id,
       CAST(SUM(is_new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged
GROUP BY user_id
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via LAG — the batch
    twin of ``applyInPandasWithState`` sessionization. One shuffle on
    user_id serves both the window and the final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis("ts")
    flagged = ev.select(
        "user_id",
        "event_id",
        F.when(
            F.lag(ts_ms).over(w).isNull()
            | ((ts_ms - F.lag(ts_ms).over(w)) > SESSION_GAP_MS),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("is_new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_daily_active_users",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(DISTINCT user_id) AS n_active_users,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
)
def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct actives (two-phase distinct aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("n_active_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_type_value_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
""",
)
def events_type_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "events_props_extract",
    oracle="""
SELECT TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) AS k_value,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the JSON-ish props column via
    regexp (portable across Spark and the oracle; in production
    ``get_json_object`` / ``from_json`` does this JVM-side)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
    return ev.groupBy(k.alias("k_value")).agg(F.count(F.lit(1)).alias("n_events"))


FUNNEL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  COUNT(t_view) AS n_view,
  CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view_click,
  CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 ELSE 0 END)
    AS BIGINT) AS n_full_funnel
FROM per_user
"""


@query("events_funnel", oracle=FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked after viewing,
    then purchased after clicking — first-occurrence timestamps compared
    stepwise.

    One shuffle (groupBy user_id) computes all three first-touch times
    via conditional MIN; the funnel conditions are then a single global
    aggregate. No joins, no window functions, no per-step subqueries —
    the shape that survives a billion users.
    """
    events = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = events.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


OHLC_ORACLE = """
WITH w AS (
  SELECT date_trunc('hour', ts) AS h, event_type, value, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                       ORDER BY ts, event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
  CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open_value,
  CAST(MAX(value) AS DOUBLE) AS high_value,
  CAST(MIN(value) AS DOUBLE) AS low_value,
  CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close_value,
  COUNT(*) AS n_events
FROM w GROUP BY h, event_type ORDER BY window_start, event_type
"""


@query("events_ohlc_downsample", oracle=OHLC_ORACLE)
def events_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per event type (the
    hypertable-rollup shape). First/last are row_number picks with full
    (ts, event_id) tie-breaks — min_by/max_by would be nondeterministic
    on timestamp ties — then one hash aggregation per (hour, type); the
    two windows and the final groupBy share a single shuffle key family
    so AQE reuses the exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    base = ev.select(h.alias("h"), "event_type", "value", "ts", "event_id")
    wa = Window.partitionBy("h", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = Window.partitionBy("h", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    marked = base.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return (
        marked.groupBy("h", "event_type")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_n,
         SQRT(GREATEST(CAST(SUM(n_events * n_events) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(n_events) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(n_events) AS DOUBLE) / COUNT(*)), 0)) AS std_n
  FROM hourly GROUP BY 1
)
SELECT h.hour_start, h.event_type, h.n_events,
       ROUND((h.n_events - s.mean_n) / s.std_n, 4) AS zscore
FROM hourly h JOIN stats s USING (event_type)
WHERE ABS((h.n_events - s.mean_n) / s.std_n) >= 2.0
"""


@query("events_anomaly_zscore", oracle=ANOMALY_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose per-type event count sits
    >= 2 population-σ from that type's mean hourly volume — the
    monitoring query every event pipeline grows.

    Determinism: mean/σ are derived from exact integer SUM/COUNT with the
    same explicit formula on both engines (σ = sqrt(E[x²] − E[x]²), never
    the engine's own stddev_pop whose accumulation order varies), so the
    float math is bit-reproducible. Plan: one shuffle for the hourly
    aggregate, a tiny per-type stats aggregate broadcast back — the big
    table is only scanned once."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    s = F.sum("n_events").cast("double")
    s2 = F.sum(F.col("n_events") * F.col("n_events")).cast("double")
    c = F.count(F.lit(1))
    # GREATEST(var, 0) on BOTH engines: E[x²]−E[x]² can cancel to a tiny
    # negative in doubles when counts are large and near-constant, and
    # the engines then diverge (Spark sqrt(neg) = NaN, DuckDB raises).
    stats = hourly.groupBy("event_type").agg(
        (s / c).alias("mean_n"),
        F.sqrt(F.greatest(s2 / c - (s / c) * (s / c), F.lit(0.0))).alias("std_n"),
    )
    z = (F.col("n_events") - F.col("mean_n")) / F.col("std_n")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 2.0)
        .select(
            "hour_start",
            "event_type",
            "n_events",
            F.round(z, 4).alias("zscore"),
        )
    )


GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
)
SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
       COALESCE(hh.n, 0) AS n_events
FROM spine s LEFT JOIN hourly hh ON hh.h = s.h
"""


@query("events_gapfilled_hourly", oracle=GAPFILL_ORACLE)
def events_gapfilled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly time series: a calendar spine from the corpus
    min/max hour left-joined to the hourly counts, zero-filling silent
    hours — the densification step every downstream forecaster /
    anomaly detector needs (a missing row is NOT a zero observation
    until this query makes it one).

    Plan: the spine generates from a 1-row min/max aggregate
    (sequence + explode — no driver loop, no Python), so its size is
    (time range / step), independent of event volume; the hourly
    aggregate is the only fact shuffle and the spine join broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h")
    )
    return (
        spine.join(hourly, "h", "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


def _hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_events, est_users) per day plus a NULL-day total row,
    purely from mergeable HLL sketches (n_events is a plain count — no
    distinct expansion anywhere) — shared by the production rollup
    query and the accuracy-QA query below. This is the library surface:
    call it directly for the actual estimates."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
        F.sum("n_events").alias("n_events"),
    )
    return daily.select(
        "day", "n_events", F.hll_sketch_estimate("sketch").alias("est_users")
    ).unionByName(
        total.select(
            F.lit(None).cast("date").alias("day"),
            "n_events",
            F.col("est").alias("est_users"),
        )
    )


# Invariant-style oracle: the estimate itself is engine-specific
# (Spark's Apache DataSketches HLL), so the compared surface is the
# exact day spine + exact event counts (both recomputed by DuckDB)
# plus a sketch-sanity band asserted as literal TRUE — 1 <= est_users
# <= n_events, genuinely evaluated Spark-side, so a broken or wildly
# drifting estimator FAILS the driver hash instead of recording the
# rows-only `err` the registry carried through r4. The tight 5% band
# (which needs exact distincts) stays in events_hll_accuracy_qa.
HLL_ROLLUP_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
total AS (
  SELECT CAST(NULL AS DATE) AS day, COUNT(*) AS n_events FROM events
)
SELECT day, n_events, TRUE AS est_in_count_band
FROM (SELECT * FROM daily UNION ALL SELECT * FROM total)
"""


@query("events_hll_sketch_rollup", oracle=HLL_ROLLUP_ORACLE)
def events_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    merged with ``hll_union_agg`` into the total — the re-aggregation
    pattern that makes distinct counts cheap at 100 TB (daily sketches
    persist a few KB each; any date-range distinct is a sketch merge,
    NEVER a rescan of the raw events).

    The plan is SKETCH-ONLY — no exact distinct aggregate anywhere
    (tests/test_plans.py asserts no expand/distinct in the plan), so the
    query's own cost profile is the one the 100 TB argument claims.
    The registry surface is the day spine + exact event counts + the
    sketch-sanity band (see HLL_ROLLUP_ORACLE); the raw estimates come
    from the ``_hll_daily_rollup`` library path, and the tight 5%
    accuracy gate is the companion ``events_hll_accuracy_qa``."""
    return (
        _hll_daily_rollup(spark, sf_dir)
        .select(
            "day",
            "n_events",
            (
                (F.col("est_users") >= 1)
                & (F.col("est_users") <= F.col("n_events"))
            ).alias("est_in_count_band"),
        )
        .orderBy(F.asc_nulls_last("day"))
    )


@query(
    "events_hll_accuracy_qa",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
),
total AS (
  SELECT CAST(NULL AS DATE) AS day, COUNT(DISTINCT user_id) AS exact_users
  FROM events
)
SELECT day, exact_users, TRUE AS est_within_5pct
FROM (SELECT * FROM daily UNION ALL SELECT * FROM total)
""",
)
def events_hll_accuracy_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the HLL rollup: joins the sketch estimates to
    exact distinct counts and emits (day, exact_users, est_within_5pct).
    The oracle recomputes the exact counts and asserts the band boolean
    as literal TRUE — an estimator drifting past 5% relative error
    FAILS the driver hash, giving the sketch path a real cross-engine
    check despite its engine-specific estimator. (The exact-distinct
    cost lives HERE, in the QA query, keeping the production rollup's
    plan sketch-only.)"""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_users")).select(
        F.lit(None).cast("date").alias("day"), "exact_users"
    )
    est = _hll_daily_rollup(spark, sf_dir).withColumnRenamed("day", "est_day")
    ex = exact.unionByName(exact_total)
    # eqNullSafe: the corpus-total rows carry day = NULL on both sides
    # and must still pair up (a plain equi-join drops them).
    return ex.join(est, ex.day.eqNullSafe(est.est_day)).select(
        "day",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05
        ).alias("est_within_5pct"),
    )


TRAILING_24H_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT h, event_type, n,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', h) AS hour_idx
  FROM hourly
),
win AS (
  SELECT h, event_type, n, hour_idx,
         CAST(SUM(n) OVER w AS BIGINT) AS t24_sum,
         COUNT(*) OVER w AS t24_buckets
  FROM idx
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
       hour_idx, n AS n_events, t24_sum AS trailing_24h_events,
       t24_buckets
FROM win
"""


@query("events_trailing_24h_volume", oracle=TRAILING_24H_ORACLE)
def events_trailing_24h_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour moving volume per event type — a TIME-RANGE
    window frame (RANGE BETWEEN 82800 seconds PRECEDING AND CURRENT
    ROW over the hourly epoch), the frame type ROWS-based running sums
    can't express: the window covers whatever buckets fall inside the
    last 24 hours, not the last N rows, so gaps in the series shrink
    the window instead of silently stretching it back in time.

    Determinism: the compared surface is integer-only AND timezone-free
    by construction. The r4 driver hash-fail taught the float rule
    (no derived doubles on a compared surface); the r5 hash-fail, on
    this same query, taught the timezone rule: ``unix_timestamp`` on a
    TIMESTAMP_NTZ column converts through the session timezone, the one
    environment knob the driver controls and we cannot inspect. The
    window therefore orders by an integer HOUR INDEX measured from a
    pinned NTZ literal — ``timestampdiff(HOUR, TIMESTAMP_NTZ
    '2024-01-01 00:00:00', h)`` / DuckDB ``date_diff('hour', ...)`` —
    verified invariant under UTC / Asia/Kolkata / America/New_York
    session TZs. The index is EMITTED in the compared surface so any
    future driver mismatch is localized (index vs sums) from the driver
    row alone. A derived trailing average is still deliberately NOT
    emitted (float rule); the consumer divides trailing_24h_events /
    t24_buckets. Plan: one shuffle for the hourly aggregate; the window
    re-sorts only the per-type hourly series (tiny vs raw events)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-23, 0)
    )
    return (
        hourly.withColumn(
            "hour_idx",
            F.expr(
                "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)"
            ),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "hour_idx",
            F.col("n").alias("n_events"),
            F.sum("n").over(w).alias("trailing_24h_events"),
            F.count(F.lit(1)).over(w).alias("t24_buckets"),
        )
    )


@query(
    "events_user_lifetime",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
       date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
         AS lifetime_days
FROM events
WHERE user_id % 20 = 0
GROUP BY user_id
""",
)
def events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime summary — first/last touch, event count,
    distinct active days, calendar lifespan: the per-entity profile
    table every engagement/churn analysis starts from. One partial-
    aggregated shuffle on user_id; timestamps render through the
    engine-neutral formatted string and day math is exact integer
    DATEDIFF."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias(
            "lifetime_days"
        ),
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hour_of_day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day traffic heatmap (Monday=0) — the
    capacity-planning crosstab every event system draws. Calendar
    convention is pinned explicitly on both engines (Spark's weekday()
    and DuckDB's isodow-1 both give Monday=0; the engines' default
    dayofweek disagree on where Sunday lands — the classic cross-engine
    calendar bug, avoided by construction). One partial-aggregated
    shuffle on the 7x24 key space."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekday("ts").alias("dow"),
        F.hour("ts").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "events_type_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (the Markov-chain counts
    behavioral modeling estimates from): LAG over each user's
    event stream, then a (prev, next) count. Ordering ties break on
    event_id so both engines sequence identically. One shuffle on
    user_id serves the window; the transition aggregate is
    partial-aggregated over a type-squared key space."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "events_value_p95_by_type",
    oracle="""
WITH ranked AS (
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY value, event_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT event_type, n AS n_events,
       value AS p95_value
FROM ranked
WHERE rn = CAST(CEIL(95 * n / 100.0) AS BIGINT)
""",
)
def events_value_p95_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group p95 as the rank-selected MEMBER value (the
    discrete percentile): the ceil(0.95 n)-th element of each event
    type's value distribution — no interpolation, so the engines cannot
    disagree on convention, and the emitted double is a raw member
    value, not derived math.

    Scale shape (the r5 plan-audit fix): a window over RAW events
    partitioned by the 5-value event_type key would sort ~1/5 of the
    corpus in a single task at 100 TB — the textbook low-cardinality
    window trap. Instead the values are first collapsed to
    (event_type, value) frequency counts — a partial-aggregated
    shuffle, the same cost class as any groupBy — and the running-count
    window ranks only the DISTINCT-value relation, whose partitions are
    bounded by distinct values per type, not rows. The selected member
    (first value whose cumulative count reaches the target rank) is
    identical to the row_number selection the oracle still uses.
    Factored (r7) through the reusable operator — any query needing
    exact per-group percentiles gets this plan shape for free."""
    from lakehouse_architecture_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    ev = load_table(spark, sf_dir, "events")
    return grouped_exact_percentiles(ev, ["event_type"], "value", [95]).select(
        "event_type",
        F.col("n_rows").alias("n_events"),
        F.col("pct_value").alias("p95_value"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, n_events AS med FROM (
    SELECT event_type, n_events,
           ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY n_events, hour_start) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM hourly)
  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)
),
dev AS (
  SELECT h.hour_start, h.event_type, h.n_events, m.med,
         ABS(h.n_events - m.med) AS d
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, d AS mad FROM (
    SELECT event_type, d,
           ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY d, hour_start) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev)
  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)
)
SELECT v.hour_start, v.event_type, v.n_events, v.med, a.mad
FROM dev v JOIN mad a USING (event_type)
WHERE v.d > 5 * a.mad
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST volume anomalies: hours whose per-type count deviates
    from the type's MEDIAN by more than 5x the median absolute
    deviation — the outlier-resistant companion to the z-score
    detector (a single extreme hour shifts a mean/sigma but not a
    median/MAD). Both medians are rank-SELECTED members under
    tie-broken orders, so the entire compared surface is exact
    integers; no float enters the pipeline at all. Plan: one shuffle
    for the hourly aggregate; the median windows sort only the tiny
    per-type hourly series; the two 1-row-per-type stats broadcast
    back."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))

    def rank_median(df, val_col, out_name):
        w = Window.partitionBy("event_type").orderBy(val_col, "hour_start")
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"))
            .select("event_type", F.col(val_col).alias(out_name))
        )

    med = rank_median(hourly, "n_events", "med")
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = rank_median(dev, "d", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("d") > 5 * F.col("mad"))
        .select("hour_start", "event_type", "n_events", "med", "mad")
    )


SIGNUP_CONV_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS first_signup
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
p AS (
  SELECT s.user_id, COUNT(e.event_id) AS n_purchases_1h
  FROM s LEFT JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND e.ts > s.first_signup AND e.ts <= s.first_signup + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT s.user_id,
       strftime(s.first_signup, '%Y-%m-%d %H:%M:%S') AS first_signup,
       p.n_purchases_1h,
       p.n_purchases_1h > 0 AS converted_1h
FROM s JOIN p USING (user_id)
"""


@query("events_signup_to_purchase_1h", oracle=SIGNUP_CONV_ORACLE)
def events_signup_to_purchase_1h(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-BOUNDED conversion: for every user's FIRST signup, the
    purchases landing inside the following hour — the windowed funnel
    (activation within SLA) that an unbounded funnel overstates. The
    window arithmetic is naive-timestamp interval math on both engines
    (TZ-free; the r5/r6 timezone rule), and the compared surface is
    the rendered first-touch plus exact integers/booleans.

    Plan: the signup side collapses to one row per user BEFORE the
    join (min-aggregate, partial map-side), so the range join fans out
    per purchase, never per event pair; both sides shuffle once on
    user_id."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = s.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("first_signup"))
        & (
            F.col("p_ts")
            <= F.col("first_signup") + F.expr("INTERVAL 1 HOUR")
        ),
        "left",
    )
    return (
        joined.groupBy("user_id", "first_signup")
        .agg(F.count("p_ts").alias("n_purchases_1h"))
        .select(
            "user_id",
            F.date_format("first_signup", "yyyy-MM-dd HH:mm:ss").alias(
                "first_signup"
            ),
            "n_purchases_1h",
            (F.col("n_purchases_1h") > 0).alias("converted_1h"),
        )
    )


NEW_VS_RETURNING_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
  FROM events GROUP BY 1
),
daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT d.day,
       COUNT(*) AS n_active_users,
       COUNT(*) FILTER (WHERE f.first_day = d.day) AS n_new_users,
       COUNT(*) FILTER (WHERE f.first_day <> d.day)
         AS n_returning_users
FROM daily d JOIN firsts f USING (user_id)
GROUP BY 1
"""


@query("events_daily_new_vs_returning", oracle=NEW_VS_RETURNING_ORACLE)
def events_daily_new_vs_returning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Growth accounting: per day, active users split into NEW (first
    ever touch is that day) vs RETURNING — the decomposition behind
    every growth dashboard, and the base for the retention matrix.
    One shuffle on user_id produces both the first-touch relation and
    the distinct (day, user) activity; the final rollup shuffles the
    tiny day key. Integer-only compared surface."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active_users"),
            F.count_if(F.col("first_day") == F.col("day")).alias(
                "n_new_users"
            ),
            F.count_if(F.col("first_day") != F.col("day")).alias(
                "n_returning_users"
            ),
        )
    )


SEASONAL_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, CAST(hour(h) AS INT) AS hour_of_day,
         CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_n,
         SQRT(GREATEST(CAST(SUM(n_events * n_events) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(n_events) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(n_events) AS DOUBLE) / COUNT(*)), 0)) AS std_n
  FROM hourly GROUP BY 1, 2
)
SELECT strftime(h.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
       h.event_type, b.hour_of_day, h.n_events,
       ROUND((h.n_events - b.mean_n) / b.std_n, 4) AS seasonal_z
FROM hourly h
JOIN base b ON b.event_type = h.event_type
          AND b.hour_of_day = CAST(hour(h.h) AS INT)
WHERE b.std_n > 0
  AND ABS((h.n_events - b.mean_n) / b.std_n) >= 2.0
"""


@query("events_seasonal_anomaly", oracle=SEASONAL_ANOMALY_ORACLE)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: hours whose per-type volume
    deviates >= 2σ from the baseline for THAT HOUR OF DAY — the
    deseasonalized upgrade of events_anomaly_zscore (a quiet 3 AM spike
    that a global z-score averages away fires here, and the daily rush
    hour stops paging). The baseline key is (event_type, hour-of-day),
    i.e. the classic seasonal-naive decomposition.

    Determinism follows the anomaly family rules: σ from the explicit
    E[x²]−E[x]² integer-sum formula with GREATEST(·, 0) on both
    engines, timestamps rendered through the engine-neutral formatted
    string, hour-of-day from the same truncated timestamp on both
    sides. Plan: one shuffle for the hourly aggregate; the baseline is
    a ≤ |types|·24-row aggregate broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    hod = F.hour("h").cast("int")
    s = F.sum("n_events").cast("double")
    s2 = F.sum(F.col("n_events") * F.col("n_events")).cast("double")
    c = F.count(F.lit(1))
    base = hourly.groupBy("event_type", hod.alias("hour_of_day")).agg(
        (s / c).alias("mean_n"),
        F.sqrt(F.greatest(s2 / c - (s / c) * (s / c), F.lit(0.0))).alias(
            "std_n"
        ),
    )
    z = (F.col("n_events") - F.col("mean_n")) / F.col("std_n")
    return (
        hourly.withColumn("hour_of_day", hod)
        .join(F.broadcast(base), ["event_type", "hour_of_day"])
        .filter((F.col("std_n") > 0) & (F.abs(z) >= 2.0))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "hour_of_day",
            "n_events",
            F.round(z, 4).alias("seasonal_z"),
        )
    )


SESSION_PERCENTILES_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, ts_ms,
         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
keyed AS (
  SELECT user_id, ts_ms,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
),
sess AS (
  SELECT user_id, session_no, COUNT(*) AS n_ev,
         MAX(ts_ms) - MIN(ts_ms) AS dur_ms
  FROM keyed GROUP BY 1, 2
),
tot AS (
  SELECT COUNT(*) AS n_sessions,
         CAST(SUM(dur_ms) AS BIGINT) AS total_duration_ms
  FROM sess
),
counts AS (SELECT n_ev AS value, COUNT(*) AS cnt FROM sess GROUP BY 1),
ranked AS (
  SELECT value, cnt,
         SUM(cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS n
  FROM counts
),
p AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(pct))
SELECT p.pct, tot.n_sessions, tot.total_duration_ms,
       CAST(ranked.value AS BIGINT) AS events_per_session
FROM ranked, p, tot
WHERE cum >= CEIL(pct * n / 100.0)
  AND cum - cnt < CEIL(pct * n / 100.0)
"""


@query("events_session_length_percentiles", oracle=SESSION_PERCENTILES_ORACLE)
def events_session_length_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-length distribution: p50/p90/p99 events-per-session plus
    corpus totals — the engagement-depth profile behind "how long is a
    typical session". Composes gap-based sessionization (the
    events_sessionization cumsum, one shuffle on user_id) with the
    reusable exact-percentile operator; events-per-session is a SMALL
    INTEGER domain, so the percentile window ranks a relation bounded
    by the distinct session lengths, never the session count (duration
    percentiles would be near-unique values — that needs the Pareto
    query's bucketed two-phase pattern instead, which is why the
    compared percentile here is the count metric and duration is an
    exact integer SUM). Integer-only compared surface."""
    from lakehouse_architecture_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis("ts")
    keyed = ev.select(
        "user_id",
        ts_ms.alias("ts_ms"),
        F.sum(
            F.when(
                F.lag(ts_ms).over(w).isNull()
                | ((ts_ms - F.lag(ts_ms).over(w)) > SESSION_GAP_MS),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    sess = keyed.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("dur_ms"),
    )
    tot = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur_ms").cast("long").alias("total_duration_ms"),
    )
    pct = grouped_exact_percentiles(
        sess.withColumn("scope", F.lit("all")), ["scope"], "n_ev", [50, 90, 99]
    )
    return pct.crossJoin(F.broadcast(tot)).select(
        "pct",
        "n_sessions",
        "total_duration_ms",
        F.col("pct_value").cast("long").alias("events_per_session"),
    )


@query(
    "events_user_volume_concentration",
    oracle="""
WITH vol AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
t AS (SELECT SUM(n_events) AS total, COUNT(*) AS n_users FROM vol),
c AS (
  SELECT SUM(n_events) OVER (ORDER BY n_events DESC, user_id
                             ROWS UNBOUNDED PRECEDING) AS cum,
         ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rnk
  FROM vol
)
SELECT t.n_users,
       MIN(CASE WHEN cum * 100 >= total * 50 THEN rnk END) AS n_top_for_50pct,
       MIN(CASE WHEN cum * 100 >= total * 80 THEN rnk END) AS n_top_for_80pct,
       MIN(CASE WHEN cum * 100 >= total * 95 THEN rnk END) AS n_top_for_95pct,
       CAST(t.total AS BIGINT) AS total_events
FROM c, t
GROUP BY t.n_users, t.total
""",
)
def events_user_volume_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-volume concentration: how many of the most active users
    generate 50/80/95% of all events — the power-user/bot-detection
    twin of the revenue Pareto, through the same reusable two-phase
    prefix-sum operator (operators/quantiles.global_desc_rank_cumsum;
    the oracle keeps the naive global window). Integer-only compared
    surface; every window input is bucket-bounded."""
    from lakehouse_architecture_spark.operators.quantiles import (
        global_desc_rank_cumsum,
    )

    ev = load_table(spark, sf_dir, "events")
    vol = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    per = global_desc_rank_cumsum(vol, "n_events", "user_id")
    tot = vol.agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    need = lambda pct: F.min(  # noqa: E731
        F.when(F.col("cum") * 100 >= F.col("total") * pct, F.col("rnk"))
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n_users", "total")
        .agg(
            need(50).alias("n_top_for_50pct"),
            need(80).alias("n_top_for_80pct"),
            need(95).alias("n_top_for_95pct"),
        )
        .select(
            "n_users",
            "n_top_for_50pct",
            "n_top_for_80pct",
            "n_top_for_95pct",
            F.col("total").cast("long").alias("total_events"),
        )
    )


# --- count-min sketch heavy hitters ------------------------------------
# Same QA doctrine as the HLL pair above: the sketch estimate itself is
# engine-specific (xxhash64 buckets), so the compared surface is the
# EXACT top-k (both engines can compute it) plus invariant booleans the
# oracle asserts as literal TRUE — any estimator regression flips a
# boolean and fails the driver hash.

CMS_DEPTH = 4
CMS_WIDTH = 2048


@query(
    "events_cms_topk_accuracy",
    oracle="""
WITH c AS (
  SELECT user_id, COUNT(*) AS exact_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT user_id, exact_cnt,
       TRUE AS est_ge_exact,
       TRUE AS est_within_band,
       TRUE AS merged_matches_global
FROM c ORDER BY exact_cnt DESC, user_id LIMIT 10
""",
)
def events_cms_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch QA on the top-10 heaviest users: builds the
    global sketch AND per-day sketches (operators/cms.py), then emits
    per heavy hitter

      est_ge_exact          -- CMS one-sided guarantee (est >= true);
      est_within_band       -- est <= true + ceil(e/width * N), the
                               Cormode-Muthukrishnan error bound;
      merged_matches_global -- per-day sketches summed cell-wise equal
                               the global sketch (exact mergeability,
                               the property that makes date-range
                               frequency queries a sketch merge at
                               100 TB, never a raw re-scan).

    The top-10 selection is a distributed TakeOrdered (orderBy+limit on
    the aggregated relation, total order via the user_id tie-break) —
    no global window. The exact-count cost lives HERE in the QA query;
    the production sketch path stays counter-only."""
    import math

    from lakehouse_architecture_spark.operators.cms import (
        cms_counters,
        cms_estimate,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(10)

    sk = cms_counters(ev, "user_id", CMS_DEPTH, CMS_WIDTH)
    est = cms_estimate(
        sk, top.select("user_id"), "user_id", CMS_DEPTH, CMS_WIDTH
    ).withColumnRenamed("user_id", "est_user")

    daily = cms_counters(
        ev.withColumn("day", F.col("ts").cast("date")),
        "user_id",
        CMS_DEPTH,
        CMS_WIDTH,
        group_cols=("day",),
    )
    merged = daily.groupBy("__cms_d", "__cms_bucket").agg(
        F.sum("cnt").alias("mcnt")
    )
    merge_ok = (
        merged.join(sk, ["__cms_d", "__cms_bucket"], "full_outer")
        .agg(
            F.min(
                F.coalesce("mcnt", F.lit(-1)) == F.coalesce("cnt", F.lit(-2))
            ).alias("merged_matches_global")
        )
    )
    n_tot = ev.agg(F.count(F.lit(1)).alias("__n"))
    band = F.ceil(F.lit(math.e / CMS_WIDTH) * F.col("__n"))
    return (
        top.join(est, top.user_id == est.est_user)
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(merge_ok))
        .select(
            "user_id",
            "exact_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("est_ge_exact"),
            (F.col("est_cnt") <= F.col("exact_cnt") + band).alias(
                "est_within_band"
            ),
            "merged_matches_global",
        )
    )


@query(
    "events_hll_intersection_qa",
    oracle="""
WITH cells AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d-%H') AS c,
         event_type, day(ts) AS d
  FROM events
),
a20 AS (SELECT DISTINCT c FROM cells WHERE d <= 20),
b11 AS (SELECT DISTINCT c FROM cells WHERE d >= 11),
clk AS (SELECT DISTINCT c FROM cells WHERE event_type = 'click'),
pur AS (SELECT DISTINCT c FROM cells WHERE event_type = 'purchase')
SELECT 'type_cooccurrence' AS regime,
       (SELECT COUNT(*) FROM clk) AS exact_a,
       (SELECT COUNT(*) FROM pur) AS exact_b,
       (SELECT COUNT(*) FROM clk WHERE c IN (SELECT c FROM pur))
         AS exact_inter,
       TRUE AS bound_holds
UNION ALL
SELECT 'window_overlap' AS regime,
       (SELECT COUNT(*) FROM a20) AS exact_a,
       (SELECT COUNT(*) FROM b11) AS exact_b,
       (SELECT COUNT(*) FROM a20 WHERE c IN (SELECT c FROM b11))
         AS exact_inter,
       TRUE AS bound_holds
""",
)
def events_hll_intersection_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA and its honest limits: intersection
    cardinality from persisted HLL sketches via inclusion-exclusion
    (|A∩B| = est(A) + est(B) - est(A∪B)) — the operation audience-
    overlap analytics want from stored daily sketches without
    rescanning raw events. Two regimes over user-hour activity cells,
    each with its exact twin recomputed by DuckDB:

      window_overlap    -- days <=20 vs days >=11: the intersection is
                           ~half of either side, and the composed
                           estimate lands within a 10% RELATIVE band
                           (measured 3.4% at sf0.01) — the good case;
      type_cooccurrence -- click vs purchase user-hours: the true
                           intersection (~39) is far below the sketch
                           resolution of the ~2k-cardinality inputs,
                           so only the ADDITIVE bound holds — 3 sigma
                           of the lgK=12 RSE (1.04/2^6) composed over
                           the three estimates, i.e. |err| <= 0.05 *
                           (est_a + est_b + est_union). Measured: the
                           estimate can even go NEGATIVE (-7 at
                           sf0.01). Inclusion-exclusion error is
                           absolute in the INPUT sizes, never relative
                           to a small intersection — the documented
                           reason sketch intersections need
                           theta/KMV-style sketches when the overlap
                           is small.

    Both certificates are genuinely evaluated Spark-side and asserted
    literal-TRUE by the oracle; the compared exact counts keep the day
    spine and both set cardinalities bit-checked cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    cell = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.date_format("ts", "yyyy-MM-dd-HH"),
    )
    day = F.dayofmonth("ts")

    def stats(in_a, in_b):
        # r16 (guide §1.2): both regimes' six numbers come from TWO
        # actions over one tagged pass instead of six per regime (own
        # sketch x2, union sketch, two distinct counts, a semi-join —
        # plus the cache they forced). ``in_a``/``in_b`` are row
        # predicates over the events scan; an aggregate's sketch/count
        # sees exactly the rows its filter admits, so every sketch is
        # built over the identical value set as the old per-side
        # relations (HLL is duplicate-insensitive, so the union sketch
        # over in_a|in_b rows equals the old a.union(b) sketch), and
        # the exact triple counts distinct cells per membership class.
        tagged = ev.select(
            cell.alias("c"), in_a.alias("ia"), in_b.alias("ib")
        ).filter(F.col("ia") | F.col("ib"))
        est_row = tagged.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.when(F.col("ia"), F.col("c")))
            ).alias("ea"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.when(F.col("ib"), F.col("c")))
            ).alias("eb"),
            F.hll_sketch_estimate(F.hll_sketch_agg("c")).alias("eu"),
        ).first()
        exact_row = (
            tagged.groupBy("c")
            .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
            .agg(
                F.count_if(F.col("ia")).alias("xa"),
                F.count_if(F.col("ib")).alias("xb"),
                F.count_if(F.col("ia") & F.col("ib")).alias("xi"),
            )
            .first()
        )
        return (
            est_row.ea,
            est_row.eb,
            est_row.eu,
            exact_row.xa,
            exact_row.xb,
            exact_row.xi,
        )

    ca, cb, cu, cxa, cxb, cxi = stats(
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )
    co_err = abs((ca + cb - cu) - cxi)
    co_ok = bool(co_err <= 0.05 * (ca + cb + cu))
    wa, wb, wu, wxa, wxb, wxi = stats(day <= 20, day >= 11)
    w_ok = bool(abs((wa + wb - wu) - wxi) <= 0.10 * wxi)
    return spark.createDataFrame(
        [
            ("type_cooccurrence", cxa, cxb, cxi, co_ok),
            ("window_overlap", wxa, wxb, wxi, w_ok),
        ],
        "regime string, exact_a long, exact_b long, exact_inter long, "
        "bound_holds boolean",
    )


@query(
    "events_kmv_intersection_qa",
    oracle="""
WITH cells AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d-%H') AS c,
         event_type, day(ts) AS d
  FROM events
),
hs AS (
  SELECT 'clk' AS side, CAST(('0x' || substr(md5(c), 1, 13)) AS BIGINT) AS h
  FROM cells WHERE event_type = 'click'
  UNION
  SELECT 'pur', CAST(('0x' || substr(md5(c), 1, 13)) AS BIGINT)
  FROM cells WHERE event_type = 'purchase'
  UNION
  SELECT 'a20', CAST(('0x' || substr(md5(c), 1, 13)) AS BIGINT)
  FROM cells WHERE d <= 20
  UNION
  SELECT 'b11', CAST(('0x' || substr(md5(c), 1, 13)) AS BIGINT)
  FROM cells WHERE d >= 11
),
k_clk AS (SELECT h FROM hs WHERE side = 'clk' ORDER BY h LIMIT 256),
k_pur AS (SELECT h FROM hs WHERE side = 'pur' ORDER BY h LIMIT 256),
k_a20 AS (SELECT h FROM hs WHERE side = 'a20' ORDER BY h LIMIT 256),
k_b11 AS (SELECT h FROM hs WHERE side = 'b11' ORDER BY h LIMIT 256),
ku_co AS (SELECT h FROM (SELECT h FROM k_clk UNION SELECT h FROM k_pur)
          ORDER BY h LIMIT 256),
ku_w  AS (SELECT h FROM (SELECT h FROM k_a20 UNION SELECT h FROM k_b11)
          ORDER BY h LIMIT 256),
n0 AS (
  SELECT
    (SELECT COUNT(*) FROM hs WHERE side = 'clk') AS n_clk,
    (SELECT COUNT(*) FROM hs WHERE side = 'pur') AS n_pur,
    (SELECT COUNT(*) FROM hs WHERE side = 'a20') AS n_a20,
    (SELECT COUNT(*) FROM hs WHERE side = 'b11') AS n_b11,
    (SELECT COUNT(*) FROM hs WHERE side = 'clk'
       AND h IN (SELECT h FROM hs WHERE side = 'pur')) AS xi_co,
    (SELECT COUNT(*) FROM hs WHERE side = 'a20'
       AND h IN (SELECT h FROM hs WHERE side = 'b11')) AS xi_w,
    (SELECT COUNT(*) FROM ku_co WHERE h IN (SELECT h FROM k_clk)
       AND h IN (SELECT h FROM k_pur)) AS m_co,
    (SELECT COUNT(*) FROM ku_w WHERE h IN (SELECT h FROM k_a20)
       AND h IN (SELECT h FROM k_b11)) AS m_w,
    (SELECT COUNT(*) FROM ku_co) AS sz_co,
    (SELECT COUNT(*) FROM ku_w) AS sz_w,
    (SELECT MAX(h) FROM k_clk) AS kth_clk,
    (SELECT MAX(h) FROM k_pur) AS kth_pur,
    (SELECT MAX(h) FROM k_a20) AS kth_a20,
    (SELECT MAX(h) FROM k_b11) AS kth_b11,
    (SELECT MAX(h) FROM ku_co) AS kth_uco,
    (SELECT MAX(h) FROM ku_w) AS kth_uw
),
n AS (
  SELECT *,
         n_clk + n_pur - xi_co AS nu_co,
         n_a20 + n_b11 - xi_w AS nu_w
  FROM n0
)
SELECT 'type_cooccurrence' AS regime,
       n_clk AS exact_a, n_pur AS exact_b, nu_co AS exact_union,
       xi_co AS exact_inter,
       ROUND(CASE WHEN n_clk < 256 THEN CAST(n_clk AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_clk END, 6) AS est_a,
       ROUND(CASE WHEN n_pur < 256 THEN CAST(n_pur AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_pur END, 6) AS est_b,
       ROUND(CASE WHEN nu_co < 256 THEN CAST(nu_co AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_uco END, 6) AS est_union,
       m_co AS matches,
       ROUND(CASE WHEN sz_co = 0 THEN 0.0
                  ELSE CAST(m_co AS DOUBLE)
                       * (CASE WHEN nu_co < 256 THEN CAST(nu_co AS DOUBLE)
                               ELSE 1148417904979476480.0 / kth_uco END)
                       / sz_co END, 6) AS est_inter
FROM n
UNION ALL
SELECT 'window_overlap',
       n_a20, n_b11, nu_w, xi_w,
       ROUND(CASE WHEN n_a20 < 256 THEN CAST(n_a20 AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_a20 END, 6),
       ROUND(CASE WHEN n_b11 < 256 THEN CAST(n_b11 AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_b11 END, 6),
       ROUND(CASE WHEN nu_w < 256 THEN CAST(nu_w AS DOUBLE)
                  ELSE 1148417904979476480.0 / kth_uw END, 6),
       m_w,
       ROUND(CASE WHEN sz_w = 0 THEN 0.0
                  ELSE CAST(m_w AS DOUBLE)
                       * (CASE WHEN nu_w < 256 THEN CAST(nu_w AS DOUBLE)
                               ELSE 1148417904979476480.0 / kth_uw END)
                       / sz_w END, 6)
FROM n
""",
)
def events_kmv_intersection_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra (operators/kmv.py) on the SAME two
    regimes as ``events_hll_intersection_qa`` — the fix that query's
    docstring points at: a k-minimum-values sketch supports a DIRECT
    intersection estimator (matches in the merged-k-min union sketch
    → Jaccard × est(A∪B)), so small intersections degrade to sampling
    noise around the true value instead of HLL inclusion-exclusion's
    input-sized absolute error (which went NEGATIVE on the
    type_cooccurrence regime). Per regime: exact cardinalities and
    intersection (distinct 52-bit md5 hashes — collision-free at
    every test SF) beside the k=256 sketch estimates; below k the
    estimator collapses to exactness by construction.

    Cross-engine: the hash family is the repo's md5 idiom, the sketch
    is a deterministic k-min, and every estimate is closed-form double
    math over exact integers compared after round(6) — the chi2/z-test
    doctrine; the oracle replicates the sketches themselves, not just
    the answers. Plan: ONE scan tags all four sides (conditional-array
    explode, not a 4-way union), the distinct (side, h) relation is
    one-slot persisted, sketch build is the two-stage top-k window
    (per-partition cap, then ≤ k·partitions rows per side — never the
    last-reducer sort), exact unions come free by inclusion-exclusion
    on exact counts. r16 (§10b pattern): both regimes' side stats come
    from ONE pivot aggregate of the sketch relation and both exact
    intersections from ONE co-presence pass over hs (groupBy h +
    per-side bool_or + count_if), checkpointed as a single 1-row
    relation the two regime branches read — replacing six per-regime
    subtrees (filter+first aggregates, semi-join counts) over the
    persisted relations. Measured 2.35 s at sf0.1 before the r16 fold
    (was 4.9 with the unioned scans + distinct-union passes)."""
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_intersect_estimate,
        kmv_matches,
        kmv_sketch_by,
        kmv_union,
    )

    K = 256
    ev = load_table(spark, sf_dir, "events")
    cell = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.date_format("ts", "yyyy-MM-dd-HH"),
    )
    day = F.dayofmonth("ts")

    # ONE scan tags all four sides: each row emits the subset of side
    # tags it belongs to via a conditional array + explode (a 4-way
    # tagged union would scan events four times).
    tags = F.array(
        F.when(F.col("event_type") == "click", F.lit("clk")),
        F.when(F.col("event_type") == "purchase", F.lit("pur")),
        F.when(day <= 20, F.lit("a20")),
        F.when(day >= 11, F.lit("b11")),
    )
    tagged = (
        ev.select(cell.alias("c"), F.explode(tags).alias("side"))
        .filter(F.col("side").isNotNull())
    )
    hs = one_slot_persist(
        tagged.select("side", kmv_hash(F.col("c")).alias("h")).distinct(),
        slot="events-kmv-hs",
    )
    sk = kmv_sketch_by(hs, "side", K)

    # r16 (the events_hll_intersection_qa §10b pattern): the former
    # shape built SIX independent subtrees per regime over the
    # persisted relations (two filter+first aggregates for the sides,
    # a semi-join count for the exact intersection, crossJoined). Both
    # regimes' inputs now come from TWO aggregates computed once:
    # a 1-row PIVOT of the 4-row sketch relation (first(when(side=t))
    # is deterministic — exactly one sk row per side — and coalesce
    # keeps the empty-side n=0/empty-sketch defaults the old
    # agg-with-defaults form guaranteed), and ONE co-presence pass
    # over hs (groupBy h + per-side bool_or, then count_if of both
    # flags — identical to the per-regime semi-join counts because hs
    # is distinct per (side, h)). The combined 1-row relation is
    # pinned by an eager localCheckpoint so the two regime branches
    # read one materialization instead of re-running the aggregates.
    sides = ("clk", "pur", "a20", "b11")
    piv = sk.agg(
        *[
            F.coalesce(
                F.first(
                    F.when(F.col("side") == t, F.col("n")),
                    ignorenulls=True,
                ),
                F.lit(0),
            ).alias(f"n_{t}")
            for t in sides
        ],
        *[
            F.coalesce(
                F.first(
                    F.when(F.col("side") == t, F.col("kmv")),
                    ignorenulls=True,
                ),
                F.array().cast("array<long>"),
            ).alias(f"kmv_{t}")
            for t in sides
        ],
    )
    pres = hs.groupBy("h").agg(
        *[F.max(F.col("side") == t).alias(f"in_{t}") for t in sides]
    )
    inter = pres.agg(
        F.count_if(F.col("in_clk") & F.col("in_pur")).alias("inter_type"),
        F.count_if(F.col("in_a20") & F.col("in_b11")).alias("inter_win"),
    )
    one = piv.crossJoin(inter).localCheckpoint(eager=True)

    def regime_row(name: str, ta: str, tb: str, inter_col: str) -> DataFrame:
        ku = kmv_union(F.col(f"kmv_{ta}"), F.col(f"kmv_{tb}"), K)
        est_u_raw = kmv_estimate(F.col("n_u"), F.col("ku"), K)
        return (
            one
            # exact union by inclusion-exclusion on EXACT counts (no
            # third distinct pass): |A∪B| = |A| + |B| - |A∩B|
            .withColumn(
                "n_u",
                F.col(f"n_{ta}") + F.col(f"n_{tb}") - F.col(inter_col),
            )
            .withColumn("ku", ku)
            .select(
                F.lit(name).alias("regime"),
                F.col(f"n_{ta}").alias("exact_a"),
                F.col(f"n_{tb}").alias("exact_b"),
                F.col("n_u").alias("exact_union"),
                F.col(inter_col).alias("exact_inter"),
                F.round(
                    kmv_estimate(F.col(f"n_{ta}"), F.col(f"kmv_{ta}"), K), 6
                ).alias("est_a"),
                F.round(
                    kmv_estimate(F.col(f"n_{tb}"), F.col(f"kmv_{tb}"), K), 6
                ).alias("est_b"),
                F.round(est_u_raw, 6).alias("est_union"),
                kmv_matches(
                    F.col(f"kmv_{ta}"), F.col(f"kmv_{tb}"), F.col("ku")
                )
                .cast("long")
                .alias("matches"),
                F.round(
                    kmv_intersect_estimate(
                        F.col(f"kmv_{ta}"),
                        F.col(f"kmv_{tb}"),
                        F.col("ku"),
                        est_u_raw,
                    ),
                    6,
                ).alias("est_inter"),
            )
        )

    return regime_row(
        "type_cooccurrence", "clk", "pur", "inter_type"
    ).unionByName(regime_row("window_overlap", "a20", "b11", "inter_win"))


@query(
    "events_kmv_daily_rollup",
    oracle="""
WITH cells AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         CAST(('0x' || substr(md5(
           CAST(user_id AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d-%H')
         ), 1, 13)) AS BIGINT) AS h
  FROM events
),
ranked AS (
  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
  FROM cells
),
dsk AS (SELECT day, h FROM ranked WHERE rn <= 128),
merged AS (
  SELECT h FROM (SELECT DISTINCT h FROM dsk) ORDER BY h LIMIT 128
),
dk AS (SELECT day, MAX(h) AS kth, COUNT(*) AS sz FROM dsk GROUP BY day),
nd AS (SELECT day, COUNT(*) AS n FROM cells GROUP BY day),
p AS (
  SELECT (SELECT COUNT(DISTINCT h) FROM cells) AS n_period,
         (SELECT MAX(h) FROM merged) AS kth_m,
         (SELECT COUNT(*) FROM merged) AS sz_m
)
SELECT nd.day,
       nd.n AS n_day,
       ROUND(CASE WHEN nd.n < 128 THEN CAST(nd.n AS DOUBLE)
                  ELSE 571957152676052992.0 / dk.kth END, 6) AS est_day,
       p.n_period,
       ROUND(CASE WHEN p.n_period < 128 THEN CAST(p.n_period AS DOUBLE)
                  ELSE 571957152676052992.0 / p.kth_m END, 6)
         AS est_period_from_merged
FROM nd JOIN dk USING (day) CROSS JOIN p
ORDER BY nd.day
""",
)
def events_kmv_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct rollup from stored daily KMV sketches — the
    production reason sketches exist: per-day user-hour sketches are
    the PERSISTED artifact, and the period estimate is computed from
    the sketches ALONE (k-min of the merged daily k-min arrays — the
    KMV closure property guarantees it equals the sketch of the whole
    period), never by rescanning raw events. The sibling of
    events_hll_sketch_rollup with a stronger contract: HLL merged
    estimates are engine-specific (invariant-style oracle), while the
    KMV sketch is a deterministic k-min the DuckDB oracle replicates
    BIT-FOR-BIT — per-day exact counts, per-day estimates, the
    period-exact distinct, and the merged-sketch period estimate all
    hash-compared.

    Plan: one scan to the distinct (day, h) grain (one-slot
    persisted; the daily-sketch build and the period-exact count read
    it), the per-day top-k is the two-stage window of
    operators/kmv.kmv_sketch_by, and the MERGE works on days x k
    hashes (<= 31*128 rows here; |days| x k generally) — a bounded
    sort_array fold, no window, no raw-data pass. At 100 TB the daily
    sketch relation is what you'd store; this query IS the downstream
    reader."""
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_sketch_by,
    )

    K = 128
    ev = load_table(spark, sf_dir, "events")
    cell = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.date_format("ts", "yyyy-MM-dd-HH"),
    )
    hs = one_slot_persist(
        ev.select(
            F.col("ts").cast("date").alias("day"), kmv_hash(cell).alias("h")
        ).distinct(),
        slot="events-kmv-daily-hs",
    )
    # The daily-sketch relation feeds TWO consumers (the output rows
    # and the sketch merge) — without the persist the whole two-stage
    # top-k window subtree ran twice in one plan (r17, guide §2.4;
    # before-plan: the WindowGroupLimit chain appears twice over two
    # InMemoryTableScans of hs). |days| rows x k longs: tiny.
    daily = one_slot_persist(
        kmv_sketch_by(hs, "day", K),
        slot="events-kmv-daily-sketches",
    )
    # Merge from the SKETCHES only: k smallest across all daily arrays.
    # |days| x k rows -> one bounded collect_list fold (no window, no
    # second raw-data pass).
    merged = (
        daily.select(F.explode("kmv").alias("h"))
        .distinct()
        .agg(
            F.slice(F.sort_array(F.collect_list("h")), 1, K).alias("kmv_m")
        )
    )
    n_period = (
        hs.select("h").distinct().agg(F.count(F.lit(1)).alias("n_period"))
    )
    return (
        daily.crossJoin(merged)
        .crossJoin(n_period)
        .select(
            "day",
            F.col("n").alias("n_day"),
            F.round(kmv_estimate(F.col("n"), F.col("kmv"), K), 6).alias(
                "est_day"
            ),
            "n_period",
            F.round(
                kmv_estimate(F.col("n_period"), F.col("kmv_m"), K), 6
            ).alias("est_period_from_merged"),
        )
        .orderBy("day")
    )


@query(
    "events_kmv_new_vs_returning",
    oracle="""
WITH cells AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM events
),
ranked AS (
  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
  FROM cells
),
dsk AS (SELECT day, h FROM ranked WHERE rn <= 128),
days AS (SELECT DISTINCT day FROM cells),
prev_h AS (
  SELECT DISTINCT d.day, s.h FROM days d JOIN dsk s ON s.day < d.day
),
prev_ranked AS (
  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
  FROM prev_h
),
psk AS (SELECT day, h FROM prev_ranked WHERE rn <= 128),
union_h AS (
  SELECT day, h FROM psk UNION SELECT day, h FROM dsk
),
union_ranked AS (
  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
  FROM union_h
),
usk AS (SELECT day, h FROM union_ranked WHERE rn <= 128),
dstat AS (SELECT day, COUNT(*) AS sz, MAX(h) AS kth FROM dsk GROUP BY day),
pstat AS (SELECT day, COUNT(*) AS sz, MAX(h) AS kth FROM psk GROUP BY day),
ustat AS (SELECT day, COUNT(*) AS sz, MAX(h) AS kth FROM usk GROUP BY day),
nd AS (SELECT day, COUNT(*) AS n FROM cells GROUP BY day),
fs AS (SELECT h, MIN(day) AS day FROM cells GROUP BY h),
nn AS (SELECT day, COUNT(*) AS n_new FROM fs GROUP BY day)
SELECT nd.day,
       nd.n AS n_day_exact,
       COALESCE(nn.n_new, 0) AS n_new_exact,
       ROUND(CASE WHEN dstat.sz < 128 THEN CAST(dstat.sz AS DOUBLE)
                  ELSE 571957152676052992.0 / dstat.kth END, 6) AS est_day,
       ROUND(COALESCE(
           CASE WHEN pstat.sz < 128 THEN CAST(pstat.sz AS DOUBLE)
                ELSE 571957152676052992.0 / pstat.kth END, 0.0), 6)
         AS est_prev_cum,
       ROUND(CASE WHEN ustat.sz < 128 THEN CAST(ustat.sz AS DOUBLE)
                  ELSE 571957152676052992.0 / ustat.kth END, 6) AS est_cum,
       ROUND(CASE WHEN ustat.sz < 128 THEN CAST(ustat.sz AS DOUBLE)
                  ELSE 571957152676052992.0 / ustat.kth END
             - COALESCE(
                 CASE WHEN pstat.sz < 128 THEN CAST(pstat.sz AS DOUBLE)
                      ELSE 571957152676052992.0 / pstat.kth END, 0.0), 6)
         + 0.0 AS est_new
FROM nd JOIN dstat USING (day) JOIN ustat USING (day)
LEFT JOIN pstat USING (day) LEFT JOIN nn USING (day)
ORDER BY nd.day
""",
)
def events_kmv_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day NEW-distinct-user estimation from stored KMV sketches
    ALONE — the set-DIFFERENCE member of the sketch family (union:
    ``events_kmv_daily_rollup``; intersection:
    ``events_kmv_intersection_qa``): |day_d \\ history_d| is estimated
    as est(history ∪ day) − est(history), where the cumulative history
    sketch per day is itself merged from the PRIOR DAYS' STORED
    SKETCHES (k-min closure), never from a history rescan. This is the
    production "how many new users did today bring" query at 100 TB:
    the persisted |days| × k sketch relation answers it for any day —
    the raw-event pass happens once per day at ingest (or continuously
    via ``streaming.jobs.stream_kmv_daily_maintain``, whose streamed
    state is bit-identical to these sketches by the closure property).

    Exact anchors ride along for QA: ``n_day_exact`` (distinct users
    that day) and ``n_new_exact`` (first-seen-day counts via one
    min-day pass over the distinct grain) — so a driver row localizes
    whether a mismatch is in the sketches or the estimates. All
    estimates are closed-form doubles over exact 52-bit ints (the
    family doctrine); est_new gets the ROUND(6)+0.0 negative-zero
    guard since the difference can land at exactly zero.

    Plan: ONE scan to the distinct (day, h) grain (one-slot persisted;
    the sketch build and the first-seen pass share it), the per-day
    top-k is the two-stage window of operators/kmv.kmv_sketch_by, and
    the cumulative merge is a single cumulative-window fold over the
    SKETCH relation (|days| rows x k-long arrays, one window
    partition — bounded by calendar days x k, not by data; a
    multi-year calendar would shard the fold by month over stored
    monthly prefix sketches, the same mergeability that makes the
    daily sketches storable in the first place)."""
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_estimate_from_sketch,
        kmv_hash,
        kmv_sketch_by,
        kmv_union,
    )

    K = 128
    ev = load_table(spark, sf_dir, "events")
    hs = one_slot_persist(
        ev.select(
            F.col("ts").cast("date").alias("day"),
            kmv_hash(F.col("user_id").cast("string")).alias("h"),
        ).distinct(),
        slot="events-kmv-nvr-hs",
    )
    daily = kmv_sketch_by(hs, "day", K)  # (day, kmv, n)
    sketches = daily.select("day", "kmv")
    # cumulative prior-history sketch per day, merged from the stored
    # daily sketches alone: k-min over the union of earlier days' kmvs
    # as a CUMULATIVE WINDOW FOLD over the sketch relation (r12: the
    # r11 ADVICE shape — the former days x days sketch self-join
    # exploded O(days² · k) join rows; this fold does the same merges
    # inside one |days|-row window partition with no join at all, and
    # stays calendar-bounded: |days| rows x <= |days| · k array cells)
    w_hist = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = sketches.select(
        "day",
        F.slice(
            F.sort_array(
                F.array_distinct(
                    F.flatten(F.collect_list("kmv").over(w_hist))
                )
            ),
            1,
            K,
        ).alias("kmv_prev"),
    )
    first_seen = hs.groupBy("h").agg(F.min("day").alias("day"))
    new_exact = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new_exact")
    )
    empty = F.array().cast("array<long>")
    est_prev = kmv_estimate_from_sketch(F.col("kmv_p"), K)
    est_union = kmv_estimate_from_sketch(F.col("ku"), K)
    return (
        daily.join(prev, "day", "left")
        .join(new_exact, "day", "left")
        .withColumn("kmv_p", F.coalesce(F.col("kmv_prev"), empty))
        .withColumn("ku", kmv_union(F.col("kmv_p"), F.col("kmv"), K))
        .select(
            "day",
            F.col("n").alias("n_day_exact"),
            F.coalesce("n_new_exact", F.lit(0)).alias("n_new_exact"),
            F.round(kmv_estimate_from_sketch(F.col("kmv"), K), 6).alias(
                "est_day"
            ),
            F.round(est_prev, 6).alias("est_prev_cum"),
            F.round(est_union, 6).alias("est_cum"),
            (F.round(est_union - est_prev, 6) + F.lit(0.0)).alias(
                "est_new"
            ),
        )
        .orderBy("day")
    )


@query(
    "events_value_quantile_rollup",
    oracle="""
WITH base AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS vc
  FROM events
),
hist AS (
  SELECT day,
         CASE WHEN vc <= 0 THEN 0 ELSE length(bin(vc)) END AS bucket,
         COUNT(*) AS cnt
  FROM base GROUP BY 1, 2
),
merged AS (
  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM hist GROUP BY bucket
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM merged),
cum AS (
  SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum_cnt FROM merged
),
meta AS (
  SELECT (SELECT COUNT(DISTINCT day) FROM hist) AS n_days,
         (SELECT COUNT(*) FROM hist) AS n_hist_rows
),
qs AS (
  SELECT q_label, CAST(q AS DOUBLE) AS q
  FROM (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99))
    AS t(q_label, q)
),
ranks AS (
  SELECT q_label, q, n_total,
         CAST(CEIL(q * n_total) AS BIGINT) AS rank_target
  FROM qs, tot
),
pick AS (
  SELECT r.q_label, MIN(c.bucket) AS bucket
  FROM ranks r JOIN cum c ON c.cum_cnt >= r.rank_target
  GROUP BY r.q_label
),
vcc AS (SELECT vc, COUNT(*) AS cnt FROM base GROUP BY vc),
vcum AS (SELECT vc, SUM(cnt) OVER (ORDER BY vc) AS cum_cnt FROM vcc),
exact AS (
  SELECT r.q_label, MIN(v.vc) AS exact_cents
  FROM ranks r JOIN vcum v ON v.cum_cnt >= r.rank_target
  GROUP BY r.q_label
)
SELECT r.q_label, r.q, r.n_total, r.rank_target,
       p.bucket,
       CASE WHEN p.bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(1 AS BIGINT) << (p.bucket - 1) END AS lower_cents,
       CASE WHEN p.bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << p.bucket) - 1 END AS upper_cents,
       e.exact_cents,
       CASE WHEN p.bucket = 0 THEN e.exact_cents <= 0
            ELSE e.exact_cents >= (CAST(1 AS BIGINT) << (p.bucket - 1))
             AND e.exact_cents <= (CAST(1 AS BIGINT) << p.bucket) - 1
       END AS within_bucket,
       m.n_days, m.n_hist_rows
FROM ranks r JOIN pick p USING (q_label) JOIN exact e USING (q_label)
CROSS JOIN meta m
ORDER BY r.q
""",
)
def events_value_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile rollup from stored per-day histograms — the
    QUANTILE sibling of the KMV/HLL sketch rollups: the persisted
    artifact is the per-(day, bucket) count histogram (buckets are
    powers of two over integer cents — ``length(bin(vc))``, exact and
    bit-identical cross-engine, never libm log2), and period quantiles
    come from SUMMING the stored histograms — counts are exactly
    mergeable, so the merged histogram equals the histogram of the
    whole period and the bucket answer is deterministic. The estimate
    carries its own error contract: the true quantile provably lies in
    [lower_cents, upper_cents] (a factor-2 bracket by construction),
    and the exact rank statistic rides along as the QA anchor with a
    ``within_bucket`` certificate genuinely evaluated on both engines.

    Streaming twin for free: per-(day, bucket) counts are plain
    per-key count state, so ``streaming.jobs.stream_rollup_maintain``
    already maintains this artifact exactly-once at batch cost — no
    new protocol needed (the KMV/HLL rollups need their own merge
    because sketches are not plain sums).

    Compared-surface doctrine: EVERYTHING emitted is an exact integer,
    a literal double (q), or a boolean — rank targets mirror the exact
    arithmetic form CEIL(q * n) literally on both engines (the r7
    rank-rounding lesson); bucket bounds are integer shifts, never
    POWER. Plan (r16, size-adaptive — see _VQ_GRAIN_SCAN_BYTES): at
    scale, ONE scan to the (day, cents) count grain — bounded by
    |days| x the value DOMAIN (~50k distinct cents), not by row
    count — from which both the stored histogram (bucket is a
    deterministic function of vc) and the exact rank anchor are exact
    regroups, so the raw table is never scanned twice; at local test
    sizes, the measured-faster two-scan shape. Either way: a
    ≤|buckets|-row cumulative window and tiny-side broadcast joins for
    the 3-row quantile spec; the anchor survives 100 TB where a
    row-grain global sort would not."""
    day = F.col("ts").cast("date").alias("day")
    vc = F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("vc")
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(day, vc)
    bucket = (
        F.when(F.col("vc") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("vc"))))
        .alias("bucket")
    )
    # Size-adaptive scan count (r16, guide §2 scale-adaptive shapes;
    # both regimes measured at sf0.1, identity-checked row-for-row):
    # ABOVE the crossover, ONE raw scan builds the persisted (day, vc)
    # COUNT grain — bounded by |days| x the cents value domain (~50k),
    # never by row count — and BOTH downstream grains are exact
    # regroups of it (bucket is a deterministic function of vc, and
    # integer counts re-sum exactly), so the raw table is never
    # scanned twice. BELOW it, the grain barely collapses (84k grain
    # rows from 100k events at sf0.1) and materializing it costs more
    # than the second cheap scan it saves (interleaved A/B: 3.02 s
    # two-scan vs 4.26 s grain at sf0.1) — so small inputs keep the
    # two-scan shape: persisted (day, bucket) histogram + a direct
    # value-grain anchor pass. Only UNKNOWN size routes to the grain
    # path (r16 ADVICE: a legitimate 0-byte estimate is small, not
    # unknown).
    ev_bytes = scan_size_bytes(ev)
    if ev_bytes is None or ev_bytes > _VQ_GRAIN_SCAN_BYTES:
        grain = one_slot_persist(
            base.groupBy("day", "vc").agg(F.count(F.lit(1)).alias("cnt")),
            slot="events-vq-grain",
        )
        hist = grain.groupBy("day", bucket).agg(
            F.sum("cnt").alias("cnt")
        )
        vcc_src = grain.groupBy("vc").agg(F.sum("cnt").alias("cnt"))
    else:
        hist = one_slot_persist(
            base.groupBy("day", bucket).agg(F.count(F.lit(1)).alias("cnt")),
            slot="events-vq-hist",
        )
        vcc_src = base.groupBy("vc").agg(F.count(F.lit(1)).alias("cnt"))
    merged = hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    tot = merged.agg(F.sum("cnt").alias("n_total"))
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        "bucket", F.sum("cnt").over(w_b).alias("cum_cnt")
    )
    meta = hist.agg(
        F.countDistinct("day").alias("n_days"),
        F.count(F.lit(1)).alias("n_hist_rows"),
    )
    qs = spark.createDataFrame(
        [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)],
        "q_label string, q double",
    )
    ranks = qs.crossJoin(tot).withColumn(
        "rank_target", F.ceil(F.col("q") * F.col("n_total")).cast("long")
    )
    pick = (
        ranks.select("q_label", "rank_target")
        .join(cum, cum["cum_cnt"] >= F.col("rank_target"))
        .groupBy("q_label")
        .agg(F.min("bucket").alias("bucket"))
    )
    vcc = vcc_src
    w_v = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vcum = vcc.select("vc", F.sum("cnt").over(w_v).alias("cum_cnt"))
    exact = (
        ranks.select("q_label", "rank_target")
        .join(vcum, vcum["cum_cnt"] >= F.col("rank_target"))
        .groupBy("q_label")
        .agg(F.min("vc").alias("exact_cents"))
    )
    # the PySpark shiftleft wrapper pins numBits to a Python int, but
    # the underlying ShiftLeft expression takes any column — go via SQL
    lower = F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    upper = F.expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1
    return (
        ranks.join(pick, "q_label")
        .join(exact, "q_label")
        .crossJoin(meta)
        .select(
            "q_label",
            "q",
            "n_total",
            "rank_target",
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(lower)
            .alias("lower_cents"),
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(upper)
            .alias("upper_cents"),
            "exact_cents",
            F.when(F.col("bucket") == 0, F.col("exact_cents") <= 0)
            .otherwise(
                (F.col("exact_cents") >= lower)
                & (F.col("exact_cents") <= upper)
            )
            .alias("within_bucket"),
            "n_days",
            "n_hist_rows",
        )
        .orderBy("q")
    )


@query(
    "events_ab_test_value_ztest",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 2 AS arm,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(30,18))), 0) AS DOUBLE) AS v
  FROM events GROUP BY user_id
),
m AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(ROUND(SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(30,18)) END), 2) AS DOUBLE) AS sum_a,
    CAST(ROUND(SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(30,18)) END), 2) AS DOUBLE) AS sum_b,
    CAST(ROUND(SUM(CASE WHEN arm = 0 THEN CAST(v * v AS DECIMAL(30,18)) END), 2) AS DOUBLE) AS sumsq_a,
    CAST(ROUND(SUM(CASE WHEN arm = 1 THEN CAST(v * v AS DECIMAL(30,18)) END), 2) AS DOUBLE) AS sumsq_b
  FROM per_user
)
SELECT n_a, n_b, sum_a, sum_b, sumsq_a, sumsq_b,
       ABS((sum_a / n_a - sum_b / n_b)
           / SQRT((sumsq_a / n_a - (sum_a / n_a) * (sum_a / n_a)) / n_a
                  + (sumsq_b / n_b - (sum_b / n_b) * (sum_b / n_b)) / n_b))
         >= 1.96 AS significant_95
FROM m
""",
)
def events_ab_test_value_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analytics: a two-sample z-test of per-USER total
    event value between deterministically hash-split arms — the
    decide-the-experiment query, computed at the statistically correct
    unit (users, not events: value is aggregated per user FIRST, so
    within-user correlation can't shrink the variance).

    Compared-surface doctrine (r8): the r7 driver row went red on a
    ROUND(…, 6) of the derived z statistic — a boundary-fragile float
    the local full-precision gate showed bit-identical, so the
    divergence was a rounding-boundary landmine in the driver's data.
    The surface is now the EXACT payload: arm sizes (integers) and the
    four decimal-exact moment sums, each ROUNDed at scale 2 IN DECIMAL
    (exact digit arithmetic, away-from-zero ties on both engines)
    before ONE double conversion — the r8 full-precision sweep proved
    that casting a >17-significant-digit decimal to double is itself
    engine-divergent (DuckDB double-rounds hugeint/10^s; the JVM
    rounds correctly), so the cast must only ever see <=15
    significant digits, which the decimal round guarantees — plus the
    decision the test exists to make, significant_95 =
    |z| >= 1.96, computed from IEEE-exact math (+,*,/,sqrt,abs only)
    on identical operands in both engines. A future mismatch
    localizes from the row alone: whichever moment differs names the
    diverging arm and power.

    Scale shape: one shuffle to the user grain, then ONE conditional
    aggregate over users produces every moment of both arms (no
    per-arm re-scan); everything downstream is O(1) driver-free
    column math."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    dec = "decimal(30,18)"
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.col("value").cast(dec)), F.lit(0).cast(dec))
        .cast("double")
        .alias("v")
    ).select(arm.alias("arm"), "v")
    v = F.col("v")
    is_a, is_b = F.col("arm") == 0, F.col("arm") == 1
    m = per_user.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("n_b"),
        F.round(F.sum(F.when(is_a, v.cast(dec))), 2)
        .cast("double")
        .alias("sum_a"),
        F.round(F.sum(F.when(is_b, v.cast(dec))), 2)
        .cast("double")
        .alias("sum_b"),
        F.round(F.sum(F.when(is_a, (v * v).cast(dec))), 2)
        .cast("double")
        .alias("sumsq_a"),
        F.round(F.sum(F.when(is_b, (v * v).cast(dec))), 2)
        .cast("double")
        .alias("sumsq_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("sum_a") / na, F.col("sum_b") / nb
    var_a = F.col("sumsq_a") / na - ma * ma
    var_b = F.col("sumsq_b") / nb - mb * mb
    return m.select(
        "n_a",
        "n_b",
        "sum_a",
        "sum_b",
        "sumsq_a",
        "sumsq_b",
        (
            F.abs((ma - mb) / F.sqrt(var_a / na + var_b / nb)) >= F.lit(1.96)
        ).alias("significant_95"),
    )


@query(
    "events_chi2_type_dow",
    oracle="""
WITH obs AS (
  SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
  FROM events GROUP BY 1, 2
),
tot AS (SELECT COUNT(*) AS n FROM events),
rows_ AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
cols_ AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
cells AS (
  SELECT obs.o,
         CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS e
  FROM obs JOIN rows_ USING (event_type) JOIN cols_ USING (dow), tot
)
SELECT (SELECT n FROM tot) AS n_events,
       (SELECT COUNT(*) FROM rows_) AS n_types,
       (SELECT COUNT(*) FROM cols_) AS n_dows,
       ((SELECT COUNT(*) FROM rows_) - 1) * ((SELECT COUNT(*) FROM cols_) - 1)
         AS dof,
       ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2
FROM cells
""",
)
def events_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between event type and
    day-of-week — the categorical-association screen (is traffic mix
    stable across the week?). Observed counts are exact integers on
    both engines, expected counts and the statistic are closed-form
    double math over them, so chi2 itself is compared cross-engine
    after round(6) — like the z-test, an EXACT oracle.

    Scale: one (type, dow) aggregate (35 cells here; bounded by the
    category product in general), then everything is arithmetic on the
    tiny contingency relation. dayofweek() runs under the loader's
    pinned UTC session, so the bucketing is environment-independent."""
    ev = load_table(spark, sf_dir, "events")
    # one-slot persisted: five consumers (row/col/total margins, cells,
    # the spine) read the 35-row contingency relation — uncached, each
    # one would rescan raw events (measured 6 scans in the static plan)
    obs = one_slot_persist(
        ev.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
            F.count(F.lit(1)).alias("o")
        ),
        slot="events-chi2-obs",
    )
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("r").cast("double")
                * F.col("c").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    o, e = F.col("o"), F.col("e")
    chi2 = cells.agg(F.round(F.sum((o - e) * (o - e) / e), 6).alias("chi2"))
    spine = (
        tot.crossJoin(rows.agg(F.count(F.lit(1)).alias("n_types")))
        .crossJoin(cols.agg(F.count(F.lit(1)).alias("n_dows")))
    )
    return spine.crossJoin(chi2).select(
        F.col("n").alias("n_events"),
        "n_types",
        "n_dows",
        ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("dof"),
        "chi2",
    )


@query(
    "events_cusum_daily_drift",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,18))) AS DOUBLE) / COUNT(value)
           AS m
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(SUM(CAST(m AS DECIMAL(30,18))) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(CAST(m * m AS DECIMAL(30,18))) AS DOUBLE) / COUNT(*) AS q
  FROM daily
)
SELECT day,
       ROUND(m, 6) AS daily_mean,
       ROUND(SUM((m - mu) / SQRT(q - mu * mu)) OVER (
         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 6) + 0.0 AS cusum
FROM daily, g
""",
)
def events_cusum_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitor over the daily mean event value — the
    change-point screen a production data pipeline runs on every
    metric (a sustained shift accumulates linearly in the CUSUM while
    noise mean-reverts). Daily means and the standardization moments
    are decimal-exact, and the running sum visits days in the same
    order on both engines, so the whole standardized CUSUM series is
    compared cross-engine after round(6) — exact oracle, no invariant.

    Scale: one day-grain aggregate (map-side partial), a broadcast of
    the two global moments, and a window over |days| rows — the window
    input is the DAILY relation, never raw events, so the single-
    partition global window is bounded by the calendar, not the data
    (the aggregate-then-window doctrine from the percentile rework)."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(30,18)"
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (
            F.sum(F.col("value").cast(dec)).cast("double")
            / F.count("value")
        ).alias("m")
    )
    m = F.col("m")
    g = daily.agg(
        (F.sum(m.cast(dec)).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum((m * m).cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "q"
        ),
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    z = (m - F.col("mu")) / F.sqrt(F.col("q") - F.col("mu") * F.col("mu"))
    return (
        daily.crossJoin(F.broadcast(g))
        .select(
            "day",
            F.round(m, 6).alias("daily_mean"),
            # + 0.0 normalizes IEEE negative zero: the full-series CUSUM
            # sums to ~-1e-15, which rounds to -0.0 on one engine and
            # 0.0 on the other (observed driver-style mismatch)
            (F.round(F.sum(z).over(w), 6) + F.lit(0.0)).alias("cusum"),
        )
    )


@query(
    "events_stickiness_ratio",
    oracle="""
WITH act AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM act),
dau AS (SELECT day, COUNT(*) AS dau FROM act GROUP BY day),
wau AS (
  SELECT d.day, COUNT(DISTINCT a.user_id) AS wau
  FROM days d JOIN act a
    ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
)
SELECT d.day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM days d JOIN dau USING (day) JOIN wau USING (day)
""",
)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product stickiness (DAU/WAU): per day, the distinct actives that
    day over the distinct actives of its trailing 7 days — the
    engagement-depth metric every product dashboard leads with. A
    trailing COUNT DISTINCT can't ride a window frame, so both engines
    use the same exact formulation: reduce raw events to the
    (user, day) activity grain ONCE, then a calendar range join over
    the day spine re-counts distincts per trailing week.

    Scale: the activity relation is |users x active days| (already
    tiny next to raw events), the range join is bounded by
    |days| x 7 spine pairs, and the expensive distinct is computed on
    that reduced relation — never on raw events. The ratio divides two
    exact integers, so round(6) compares bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    # one-slot persisted: the activity grain feeds the day spine, the
    # DAU agg, and the trailing-week range join
    act = one_slot_persist(
        ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct(),
        slot="events-activity-grain",
    )
    days = act.select("day").distinct()
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    a = act.select(F.col("day").alias("aday"), "user_id")
    wau = (
        days.join(
            a,
            (F.col("aday") >= F.date_sub(F.col("day"), 6))
            & (F.col("aday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@query(
    "events_value_quantile_rollup_by_type",
    oracle="""
WITH base AS (
  SELECT event_type, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc,
         CAST(ts AS DATE) AS day
  FROM events
),
hist AS (
  SELECT event_type, day,
         CASE WHEN vc <= 0 THEN 0 ELSE length(bin(vc)) END AS bucket,
         COUNT(*) AS cnt
  FROM base GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM hist GROUP BY event_type, bucket
),
tot AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_total
  FROM merged GROUP BY event_type
),
cum AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
           AS cum_cnt
  FROM merged
),
qs AS (
  SELECT q_label, CAST(q AS DOUBLE) AS q
  FROM (VALUES ('p50', 0.5), ('p95', 0.95), ('p99', 0.99))
    AS t(q_label, q)
),
ranks AS (
  SELECT t.event_type, q_label, q, n_total,
         CAST(CEIL(q * n_total) AS BIGINT) AS rank_target
  FROM qs, tot t
),
pick AS (
  SELECT r.event_type, r.q_label, MIN(c.bucket) AS bucket
  FROM ranks r
  JOIN cum c
    ON c.event_type = r.event_type AND c.cum_cnt >= r.rank_target
  GROUP BY r.event_type, r.q_label
),
vcc AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM base GROUP BY 1, 2
),
vcum AS (
  SELECT event_type, vc,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum_cnt
  FROM vcc
),
exact AS (
  SELECT r.event_type, r.q_label, MIN(v.vc) AS exact_cents
  FROM ranks r
  JOIN vcum v
    ON v.event_type = r.event_type AND v.cum_cnt >= r.rank_target
  GROUP BY r.event_type, r.q_label
)
SELECT r.event_type, r.q_label, r.q, r.n_total, r.rank_target,
       p.bucket,
       CASE WHEN p.bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(1 AS BIGINT) << (p.bucket - 1) END AS lower_cents,
       CASE WHEN p.bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << p.bucket) - 1 END AS upper_cents,
       e.exact_cents,
       CASE WHEN p.bucket = 0 THEN e.exact_cents <= 0
            ELSE e.exact_cents >= (CAST(1 AS BIGINT) << (p.bucket - 1))
             AND e.exact_cents <= (CAST(1 AS BIGINT) << p.bucket) - 1
       END AS within_bucket
FROM ranks r
JOIN pick p USING (event_type, q_label)
JOIN exact e USING (event_type, q_label)
ORDER BY r.event_type, r.q
""",
)
def events_value_quantile_rollup_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-GROUP mergeable quantile rollup — the production shape of
    `events_value_quantile_rollup` ("p95 by event type from stored
    state alone"): the persisted artifact generalizes to the
    (event_type, day, bucket) count grain, and per-type period
    quantiles come from SUMMING the stored histograms per type — the
    same exactly-mergeable-counts argument, now one independent
    bracket + certificate per (type, quantile). The exact-from-raw
    twin `events_value_p95_by_type` answers the same question by a
    full-pass percentile; this proves the answer from the mergeable
    artifact with a factor-2 bracket and an exact rank anchor riding
    along (within_bucket genuinely evaluated on both engines, 15/15
    true here). The streaming maintenance is unchanged: per-key count
    state over a wider key (`streaming.jobs.stream_rollup_maintain` is
    generic over group columns).

    Compared-surface doctrine as the global twin: every emitted column
    is an exact integer, a literal double (q), or a boolean; rank
    targets mirror CEIL(q * n_type) literally; bucket bounds are
    integer shifts. Plan (r16, size-adaptive like the global twin): at
    scale, ONE scan to the (type, day, cents) count grain — bounded by
    |types| x |days| x the value domain — from which the stored
    histogram (bucket = f(vc)) and the exact anchor grain are exact
    regroups, so the raw table is never scanned twice; at local test
    sizes, the measured-faster two-scan shape. Either way: per-type
    cumulative windows PARTITIONED BY event_type (parallel across
    types, each partition domain-bounded: ~16 buckets / ~50k distinct
    cents per type — never a row-grain global sort); the 3-row
    quantile spec joins via tiny-side broadcast."""
    day = F.col("ts").cast("date").alias("day")
    vc = F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("vc")
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_type", day, vc)
    bucket = (
        F.when(F.col("vc") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("vc"))))
        .alias("bucket")
    )
    # Size-adaptive scan count — same dispatch and crossover as the
    # global twin (see _VQ_GRAIN_SCAN_BYTES): big inputs build ONE
    # persisted (type, day, vc) count grain — bounded by |types| x
    # |days| x the cents domain — and derive BOTH the stored histogram
    # (bucket = f(vc), integer counts re-sum exactly) and the exact
    # anchor's (type, vc) grain from it; small inputs keep the
    # measured-faster two-scan shape. Only UNKNOWN size routes to the
    # grain path (r16 ADVICE: a 0-byte estimate is small, not unknown).
    ev_bytes = scan_size_bytes(ev)
    if ev_bytes is None or ev_bytes > _VQ_GRAIN_SCAN_BYTES:
        grain = one_slot_persist(
            base.groupBy("event_type", "day", "vc").agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            slot="events-vq-grain-by-type",
        )
        hist = grain.groupBy("event_type", "day", bucket).agg(
            F.sum("cnt").alias("cnt")
        )
        vcc_src = grain.groupBy("event_type", "vc").agg(
            F.sum("cnt").alias("cnt")
        )
    else:
        hist = one_slot_persist(
            base.groupBy("event_type", "day", bucket).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            slot="events-vq-hist-by-type",
        )
        vcc_src = base.groupBy("event_type", "vc").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    merged = hist.groupBy("event_type", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    tot = merged.groupBy("event_type").agg(F.sum("cnt").alias("n_total"))
    w_b = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        "event_type", "bucket", F.sum("cnt").over(w_b).alias("cum_cnt")
    )
    qs = spark.createDataFrame(
        [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)],
        "q_label string, q double",
    )
    ranks = qs.crossJoin(tot).withColumn(
        "rank_target", F.ceil(F.col("q") * F.col("n_total")).cast("long")
    )
    pick = (
        cum.withColumnRenamed("event_type", "et")
        .join(
            F.broadcast(
                ranks.select("event_type", "q_label", "rank_target")
            ),
            (F.col("et") == F.col("event_type"))
            & (F.col("cum_cnt") >= F.col("rank_target")),
        )
        .groupBy("event_type", "q_label")
        .agg(F.min("bucket").alias("bucket"))
    )
    vcc = vcc_src
    w_v = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vcum = vcc.select(
        "event_type", "vc", F.sum("cnt").over(w_v).alias("cum_cnt")
    )
    exact = (
        vcum.withColumnRenamed("event_type", "et")
        .join(
            F.broadcast(
                ranks.select("event_type", "q_label", "rank_target")
            ),
            (F.col("et") == F.col("event_type"))
            & (F.col("cum_cnt") >= F.col("rank_target")),
        )
        .groupBy("event_type", "q_label")
        .agg(F.min("vc").alias("exact_cents"))
    )
    lower = F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    upper = F.expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1
    return (
        ranks.join(F.broadcast(pick), ["event_type", "q_label"])
        .join(F.broadcast(exact), ["event_type", "q_label"])
        .select(
            "event_type",
            "q_label",
            "q",
            "n_total",
            "rank_target",
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(lower)
            .alias("lower_cents"),
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(upper)
            .alias("upper_cents"),
            "exact_cents",
            F.when(F.col("bucket") == 0, F.col("exact_cents") <= 0)
            .otherwise(
                (F.col("exact_cents") >= lower)
                & (F.col("exact_cents") <= upper)
            )
            .alias("within_bucket"),
        )
        .orderBy("event_type", "q")
    )


def _session_day_segments(ev):
    """Per-day-clipped session interval segments (day, seg_s, seg_e) —
    the shared relation under the two sweep-line queries
    (`events_concurrent_sessions`, `events_session_overlap_pairs`):
    gap-based sessions ([min ts, max ts] ms per (user, sid), the
    `events_sessionization` definition verbatim), split across the
    days they cover with endpoints clipped to day bounds, so every
    downstream running sum can window PER DAY instead of one global
    prefix-scan partition."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis("ts")
    flagged = ev.select(
        "user_id",
        "event_id",
        ts_ms.alias("ts_ms"),
        F.when(
            F.lag(ts_ms).over(w).isNull()
            | ((ts_ms - F.lag(ts_ms).over(w)) > SESSION_GAP_MS),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("is_new_session").over(
            Window.partitionBy("user_id")
            .orderBy("ts_ms", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("ts_ms").alias("s_ms"), F.max("ts_ms").alias("e_ms")
    )
    day = F.explode(
        F.sequence(
            F.to_date(F.timestamp_millis(F.col("s_ms"))),
            F.to_date(F.timestamp_millis(F.col("e_ms"))),
        )
    ).alias("day")
    day_start = F.unix_millis(F.col("day").cast("timestamp"))
    return iv.select("s_ms", "e_ms", day).select(
        "day",
        F.greatest("s_ms", day_start).alias("seg_s"),
        F.least("e_ms", day_start + F.lit(86399999)).alias("seg_e"),
    )


@query(
    "events_concurrent_sessions",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_ms,
         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new_session
  FROM ordered
),
sess AS (
  SELECT user_id, ts_ms,
         SUM(is_new_session) OVER
           (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
iv AS (
  SELECT user_id, sid, MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
  FROM sess GROUP BY user_id, sid
),
seg AS (
  SELECT CAST(d AS DATE) AS day,
         GREATEST(s_ms, epoch_ms(CAST(CAST(d AS DATE) AS TIMESTAMP)))
           AS seg_s,
         LEAST(e_ms, epoch_ms(CAST(CAST(d AS DATE) AS TIMESTAMP))
                     + 86399999) AS seg_e
  FROM iv, UNNEST(generate_series(
         CAST(epoch_ms(s_ms) AS DATE),
         CAST(epoch_ms(e_ms) AS DATE),
         INTERVAL 1 DAY)) AS t(d)
),
pts AS (
  SELECT day, seg_s AS t_ms, 1 AS s, 0 AS e FROM seg
  UNION ALL
  SELECT day, seg_e AS t_ms, 0 AS s, 1 AS e FROM seg
),
byts AS (
  SELECT day, t_ms, SUM(s) AS s, SUM(e) AS e
  FROM pts GROUP BY day, t_ms
),
run AS (
  SELECT day,
         SUM(s - e) OVER (PARTITION BY day ORDER BY t_ms
                          ROWS UNBOUNDED PRECEDING) + e AS peak,
         s
  FROM byts
)
SELECT day, CAST(MAX(peak) AS BIGINT) AS max_concurrent,
       CAST(SUM(s) AS BIGINT) AS n_session_segments
FROM run GROUP BY day ORDER BY day
""",
)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PEAK session concurrency by sweep-line over session
    intervals — the interval-stabbing operator (capacity planning's
    "how many users were on at once", licensing's max-seats, and the
    load profile a serving fleet is sized against). Algorithmically a
    different shape from everything else in the events family: the
    answer is an ORDER-STATISTIC OVER TIME of overlapping intervals,
    not a grouped aggregate — computed by the classic sweep: +1 at
    each interval start, -1 after each end, running-sum, max.

    Intervals are gap-based sessions (the `events_sessionization`
    definition verbatim: 30-min inactivity, [min ts, max ts] per
    session, inclusive ends — a session whose last event lands at
    instant t is still active AT t, so the peak at t adds back the
    ends that occur exactly there). Sessions crossing midnight are
    SPLIT per day (generate the covered days, clip endpoints to day
    bounds), which is what makes the operator scale: the running sum
    is windowed PER DAY, so no single global prefix-scan partition —
    days sweep in parallel, the 1000-executor shape for a year of
    events. Segment counts ride along (a midnight-crossing session
    counts once per covered day, documented by n_session_segments vs
    the sessionization row's n_sessions).

    Everything compared is an exact integer (ms endpoints, counts);
    the oracle replicates the whole chain — session assembly, day
    split, endpoint aggregation, running sum — in SQL."""
    seg = _session_day_segments(load_table(spark, sf_dir, "events"))
    pts = seg.select(
        "day", F.col("seg_s").alias("t_ms"), F.lit(1).alias("s"), F.lit(0).alias("e")
    ).unionAll(
        seg.select(
            "day", F.col("seg_e").alias("t_ms"), F.lit(0).alias("s"), F.lit(1).alias("e")
        )
    )
    byts = pts.groupBy("day", "t_ms").agg(
        F.sum("s").alias("s"), F.sum("e").alias("e")
    )
    wd = (
        Window.partitionBy("day")
        .orderBy("t_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = byts.select(
        "day",
        (F.sum(F.col("s") - F.col("e")).over(wd) + F.col("e")).alias("peak"),
        "s",
    )
    return (
        run.groupBy("day")
        .agg(
            F.max("peak").cast("long").alias("max_concurrent"),
            F.sum("s").cast("long").alias("n_session_segments"),
        )
        .orderBy("day")
    )


@query(
    "events_session_overlap_pairs",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_ms,
         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new_session
  FROM ordered
),
sess AS (
  SELECT user_id, ts_ms,
         SUM(is_new_session) OVER
           (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
iv AS (
  SELECT user_id, sid, MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
  FROM sess GROUP BY user_id, sid
),
seg AS (
  SELECT CAST(d AS DATE) AS day,
         GREATEST(s_ms, epoch_ms(CAST(CAST(d AS DATE) AS TIMESTAMP)))
           AS seg_s,
         LEAST(e_ms, epoch_ms(CAST(CAST(d AS DATE) AS TIMESTAMP))
                     + 86399999) AS seg_e
  FROM iv, UNNEST(generate_series(
         CAST(epoch_ms(s_ms) AS DATE),
         CAST(epoch_ms(e_ms) AS DATE),
         INTERVAL 1 DAY)) AS t(d)
),
segk AS (
  SELECT day, seg_s, seg_e,
         ROW_NUMBER() OVER (ORDER BY day, seg_s, seg_e) AS rid
  FROM seg
),
pairs AS (
  SELECT a.day, COUNT(*) AS n
  FROM segk a JOIN segk b
    ON a.day = b.day AND a.rid < b.rid
   AND a.seg_s <= b.seg_e AND b.seg_s <= a.seg_e
  GROUP BY a.day
),
days AS (SELECT day, COUNT(*) AS n_segments FROM seg GROUP BY day)
SELECT d.day, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_overlap_pairs,
       CAST(d.n_segments AS BIGINT) AS n_segments
FROM days d LEFT JOIN pairs p ON p.day = d.day
ORDER BY d.day
""",
)
def events_session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day count of OVERLAPPING session-segment pairs — the
    interval-overlap JOIN's census, computed WITHOUT the join: at each
    sweep timestamp with S starts, every starter overlaps the A
    segments that started earlier and have not yet ended (inclusive
    ends: a segment ending exactly at t still shares the instant), and
    the S simultaneous starters overlap pairwise —

        pairs(t) = S_t·A_t + C(S_t, 2),
        A_t = cumS(<t) − cumE(<t)

    summed per day. This is the sweep-line identity that turns the
    O(n²)-output-shaped overlap self-join into one sort + running sum
    per day — the co-presence statistic (simultaneous-usage pricing,
    contention analysis, concurrency billing) at the cost class of an
    aggregate.

    The ORACLE is deliberately the thing the Spark side avoids: a
    brute-force per-day overlap self-join (DuckDB IEJoin, 151k pairs
    from 95k segments at sf0.1) — count equality per day IS the proof
    that the sweep identity and its tie handling (simultaneous starts,
    end-at-start touches, zero-length sessions) are exactly right,
    the `docs_prefix_fuzzy_pairs_d2` completeness-proof pattern
    applied to interval joins. Segment construction is shared verbatim
    with `events_concurrent_sessions` (:func:`_session_day_segments`).

    Scale: day-partitioned windows (days sweep in parallel); the
    heaviest relation is the per-(day, ms) endpoint aggregate, linear
    in session count — never the pair relation itself."""
    seg = _session_day_segments(load_table(spark, sf_dir, "events"))
    pts = seg.select(
        "day", F.col("seg_s").alias("t_ms"), F.lit(1).alias("s"), F.lit(0).alias("e")
    ).unionAll(
        seg.select(
            "day", F.col("seg_e").alias("t_ms"), F.lit(0).alias("s"), F.lit(1).alias("e")
        )
    )
    byts = pts.groupBy("day", "t_ms").agg(
        F.sum("s").alias("s"), F.sum("e").alias("e")
    )
    wd = (
        Window.partitionBy("day")
        .orderBy("t_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = byts.select(
        "day",
        "s",
        (F.sum("s").over(wd) - F.col("s")).alias("cum_s_before"),
        (F.sum("e").over(wd) - F.col("e")).alias("cum_e_before"),
    )
    # C(s,2) via integral DIV, not `/` (r13 ADVICE): Spark's `/` is
    # true division, so s*(s-1)/2 would round-trip through double and
    # lose exactness once per-day pair totals pass 2^53; s*(s-1) is
    # always even, so DIV 2 is exact and keeps the census bigint
    # end-to-end against the integer-counting oracle.
    per_ts = stepped.select(
        "day",
        "s",
        (
            F.col("s") * (F.col("cum_s_before") - F.col("cum_e_before"))
            + F.expr("(s * (s - 1)) DIV 2")
        ).alias("pairs"),
    )
    return (
        per_ts.groupBy("day")
        .agg(
            F.sum("pairs").cast("long").alias("n_overlap_pairs"),
            F.sum("s").cast("long").alias("n_segments"),
        )
        .orderBy("day")
    )


@query(
    "events_daily_count_ewma",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
rec AS (
  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS ewma
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.event_type, x.day, x.n, x.i,
         (r.ewma + CAST(x.n AS DOUBLE)) / 2
  FROM rec r JOIN idx x
    ON x.event_type = r.event_type AND x.i = r.i + 1
)
SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
       ROUND(ewma, 6) AS ewma
FROM rec ORDER BY event_type, day
""",
)
def events_daily_count_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event counts per
    type (alpha = 1/2) — the RECURSIVE per-series state that SQL window
    frames cannot express (each smoothed value depends on the previous
    SMOOTHED value, not the previous raw rows; pandas' `ewm`, Flink's
    stateful per-key operators). Spark-first shape: one grouped count,
    then per series a sort + HIGHER-ORDER ARRAY FOLD
    (``aggregate(series, ..., (acc, x) -> append(acc, f(last(acc), x)))``)
    inside whole-stage codegen — state recursion as a pure column
    expression, no UDF, no driver loop, no window hack. Series are
    day-grain (30 elements per type here; bounded by calendar length,
    never by event volume), so the fold's memory is trivial and types
    process in parallel.

    alpha = 1/2 is chosen for CROSS-ENGINE EXACTNESS, not just
    convention: with integer daily counts, every smoothed value is a
    dyadic rational, exact in binary floating point on BOTH engines —
    the recursion accumulates zero rounding error, so the oracle (the
    same recurrence as a recursive CTE in DuckDB) matches at round(6)
    with no tolerance doctrine needed. The emitted surface is the
    whole smoothed series (type, day, count, ewma), not just the
    final value — any single mis-folded step breaks the row equality
    from that day onward."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("s")
    )
    folded = series.select(
        "event_type",
        F.explode(
            F.expr(
                "aggregate(s,"
                " cast(array() as array<struct<day:date,n:bigint,ewma:double>>),"
                " (acc, x) -> array_append(acc, named_struct("
                "   'day', x.day, 'n', x.n,"
                "   'ewma', CASE WHEN size(acc) = 0 THEN cast(x.n as double)"
                "        ELSE (element_at(acc, -1).ewma"
                "              + cast(x.n as double)) / 2 END)))"
            )
        ).alias("r"),
    )
    return folded.select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n_events"),
        F.round("r.ewma", 6).alias("ewma"),
    ).orderBy("event_type", "day")
