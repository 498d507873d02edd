"""Time-series analytics over the ``events`` table — the reference's
operator semantics (resample / interpolate / replace / align /
sessionize) applied at scale, partitioned by series key.

These are the same kernels the Signal API uses
(``operators/kernels.py``) — here driven with
``partition_cols=["event_type"]`` so a 100 TB events table spreads by
key instead of funneling into one window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meteaudata_spark.functions.epoch import epoch_seconds
from meteaudata_spark.operators import kernels
from meteaudata_spark.ext.asof import asof_join_backward
from meteaudata_spark.plans.opcache import cache_intermediate
from meteaudata_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _r6(col):
    """Cross-engine-safe 6-decimal rounding: round(x·1e6)/1e6 computed
    in DOUBLE on both engines.  Plain ROUND(x, 6) diverges between
    Spark (exact BigDecimal of the double, HALF_UP) and DuckDB
    (std::round on x·1e6) whenever the value sits exactly on a
    half-boundary — which interpolated rationals regularly do."""
    return F.round(col * F.lit(1000000.0), 0) / F.lit(1000000.0)


def ts_resample_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 5-minute tumbling mean with empty-bucket spine
    (the reference resample operator at scale)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp"), "value"
    )
    out = kernels.resample_mean(
        ev, "5min", partition_cols=["event_type"], exact_micros=2**20
    )
    return out.select(
        "event_type",
        F.col("timestamp").alias("bucket_ts"),
        _r6(F.col("value")).alias("avg_value"),
    )


TS_RESAMPLE_SQL = """
WITH b AS (
  SELECT event_type,
         date_trunc('day', MIN(ts)) AS origin,
         MIN(ts) AS mn, MAX(ts) AS mx
  FROM events GROUP BY event_type
),
agg AS (
  SELECT e.event_type,
         CAST(to_timestamp(epoch(b.origin) + floor((epoch(e.ts) - epoch(b.origin)) / 300) * 300) AS TIMESTAMP) AS bucket_ts,
         SUM(CAST(round(e.value * 1048576) AS BIGINT)) / (1048576.0 * COUNT(e.value)) AS avg_raw
  FROM events e JOIN b USING (event_type)
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         CAST(UNNEST(generate_series(
           CAST(to_timestamp(epoch(origin) + floor((epoch(mn) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           CAST(to_timestamp(epoch(origin) + floor((epoch(mx) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           INTERVAL 5 MINUTE)) AS TIMESTAMP) AS bucket_ts
  FROM b
)
SELECT s.event_type, s.bucket_ts, ROUND(a.avg_raw * 1000000.0) / 1000000.0 AS avg_value
FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket_ts = a.bucket_ts
ORDER BY s.event_type, s.bucket_ts
"""


def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to 1-minute buckets (sparse → gaps) then linearly
    interpolate per event type — the reference gap-filling operator
    partitioned by series key."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp"), "value"
    )
    res = kernels.resample_mean(
        ev, "1min", partition_cols=["event_type"], exact_micros=2**20
    )
    out = kernels.interpolate_linear(res, partition_cols=["event_type"])
    return out.select(
        "event_type",
        F.col("timestamp").alias("bucket_ts"),
        _r6(F.col("value")).alias("value_filled"),
    )


TS_INTERPOLATE_SQL = """
WITH b AS (
  SELECT event_type,
         date_trunc('day', MIN(ts)) AS origin,
         MIN(ts) AS mn, MAX(ts) AS mx
  FROM events GROUP BY event_type
),
agg AS (
  SELECT e.event_type,
         CAST(to_timestamp(epoch(b.origin) + floor((epoch(e.ts) - epoch(b.origin)) / 60) * 60) AS TIMESTAMP) AS bucket_ts,
         SUM(CAST(round(e.value * 1048576) AS BIGINT)) / (1048576.0 * COUNT(e.value)) AS avg_raw
  FROM events e JOIN b USING (event_type)
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         CAST(UNNEST(generate_series(
           CAST(to_timestamp(epoch(origin) + floor((epoch(mn) - epoch(origin)) / 60) * 60) AS TIMESTAMP),
           CAST(to_timestamp(epoch(origin) + floor((epoch(mx) - epoch(origin)) / 60) * 60) AS TIMESTAMP),
           INTERVAL 1 MINUTE)) AS TIMESTAMP) AS bucket_ts
  FROM b
),
resampled AS (
  SELECT s.event_type, s.bucket_ts, a.avg_raw AS value
  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket_ts = a.bucket_ts
),
pos AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_ts) AS p,
         CASE WHEN value IS NOT NULL THEN ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_ts) END AS vp
  FROM resampled
),
ctx AS (
  SELECT *,
         LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         LAST_VALUE(vp    IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
         FIRST_VALUE(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(vp    IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
  FROM pos
)
SELECT event_type, bucket_ts,
       ROUND((CASE
         WHEN value IS NOT NULL THEN value
         WHEN prev_v IS NULL THEN NULL
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v) * (p - prev_p) / (next_p - prev_p)
       END) * 1000000.0) / 1000000.0 AS value_filled
FROM ctx
ORDER BY event_type, bucket_ts
"""


def ts_replace_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask a maintenance window (reference replace_ranges at scale)."""
    ev = _events(spark, sf_dir)
    masked = kernels.replace_ranges(
        ev.select("event_id", F.col("ts").alias("timestamp"), "value"),
        [["2024-01-10 00:00:00", "2024-01-12 00:00:00"]],
        replace_with=None,
    )
    return masked.select(
        "event_id", F.col("value").alias("value_masked")
    )


TS_REPLACE_SQL = """
SELECT event_id,
       CASE WHEN ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'
            THEN NULL ELSE value END AS value_masked
FROM events
ORDER BY event_id
"""


def ts_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily aggregate battery (avg/min/max/count)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            _r6(F.avg("value")).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        
    )


TS_DAILY_SQL = """
SELECT event_type,
       date_trunc('day', ts) AS day,
       ROUND(AVG(value) * 1000000.0) / 1000000.0 AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY event_type, day
"""


def ts_aligned_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series mean: resample each event type to 5 minutes, then
    average across types per bucket (the reference average_signals
    semantics — null-skipping outer alignment)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp"), "value"
    )
    res = kernels.resample_mean(
        ev, "5min", partition_cols=["event_type"], exact_micros=2**20
    )
    # cross-engine determinism: round each inner mean to integer
    # micro-units BEFORE the outer average, which then runs as an
    # exact integer sum / count — one unordered-float layer instead
    # of two compounding ones (two layers measurably flipped a 1e-6
    # rounding boundary at sf0.1)
    inner_e6 = F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint")
    return (
        res.select("timestamp", inner_e6.alias("__v_e6"))
        .groupBy("timestamp")
        .agg(
            (
                F.sum("__v_e6").cast("double")
                / F.count("__v_e6")
                / F.lit(1000000.0)
            ).alias("avg_across_series")
        )
        .select(F.col("timestamp").alias("bucket_ts"), "avg_across_series")
    )


TS_ALIGNED_AVG_SQL = """
WITH b AS (
  SELECT event_type,
         date_trunc('day', MIN(ts)) AS origin,
         MIN(ts) AS mn, MAX(ts) AS mx
  FROM events GROUP BY event_type
),
agg AS (
  SELECT e.event_type,
         CAST(to_timestamp(epoch(b.origin) + floor((epoch(e.ts) - epoch(b.origin)) / 300) * 300) AS TIMESTAMP) AS bucket_ts,
         SUM(CAST(round(e.value * 1048576) AS BIGINT)) / (1048576.0 * COUNT(e.value)) AS avg_raw
  FROM events e JOIN b USING (event_type)
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         CAST(UNNEST(generate_series(
           CAST(to_timestamp(epoch(origin) + floor((epoch(mn) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           CAST(to_timestamp(epoch(origin) + floor((epoch(mx) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           INTERVAL 5 MINUTE)) AS TIMESTAMP) AS bucket_ts
  FROM b
),
resampled AS (
  SELECT s.event_type, s.bucket_ts, a.avg_raw AS value
  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket_ts = a.bucket_ts
)
SELECT bucket_ts,
       CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS DOUBLE)
         / COUNT(CAST(ROUND(value * 1000000.0) AS BIGINT)) / 1000000.0 AS avg_across_series
FROM resampled
GROUP BY bucket_ts
ORDER BY bucket_ts
"""


def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-minute gap per
    user (lag + running sum — one shuffle on user_id)."""
    return sessionize_events(_events(spark, sf_dir))


def sessionize_events(ev: DataFrame) -> DataFrame:
    """Core sessionization over any (user_id, ts, ...) DataFrame —
    split out so the timestamp-flavor matrix can drive it with NTZ /
    LTZ / CSV-parsed inputs (the gap arithmetic goes through
    ``epoch_seconds``)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    with_gap = ev.withColumn(
        "__new_session",
        F.when(
            epoch_seconds(F.col("ts")) - F.lag(epoch_seconds(F.col("ts"))).over(w)
            > 1800.0,
            1,
        )
        .otherwise(0),
    )
    sessions = with_gap.withColumn(
        "__session_no",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            (F.max("__session_no") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        
    )


TS_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM g
)
SELECT user_id, CAST(MAX(session_no) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s
GROUP BY user_id
ORDER BY user_id
"""


def ts_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach each user's most recent order date at event
    time (events.user_id ↔ orders.o_custkey)."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    return asof_last_order_events(ev, orders)


def asof_last_order_events(ev: DataFrame, orders: DataFrame) -> DataFrame:
    """Core as-of attach over any (event_id, user_id, ts) × (user_id,
    o_orderdate) pair — split out for the timestamp-flavor matrix."""
    joined = asof_join_backward(
        ev,
        orders,
        left_time="ts",
        right_time="o_orderdate",
        by=["user_id"],
        value_cols=["o_orderdate"],
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderdate").alias("last_order_date")
    )


TS_ASOF_SQL = """
SELECT e.event_id, e.user_id, MAX(o.o_orderdate) AS last_order_date
FROM events e
LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
GROUP BY e.event_id, e.user_id
ORDER BY e.event_id
"""


def ts_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving average per event type (the SMOOTHING
    operator at scale)."""
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", F.col("ts").alias("timestamp"), "value"
    )
    out = kernels.rolling_mean(
        ev, 5, partition_cols=["event_type"]
    )
    return out.select(
        "event_id", "event_type", _r6(F.col("value")).alias("smooth_value")
    )


TS_ROLLING_SQL = """
SELECT event_id, event_type,
       ROUND(AVG(value) OVER (PARTITION BY event_type ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 1000000.0) / 1000000.0
       AS smooth_value
FROM events
ORDER BY event_id
"""


def ts_detect_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensor-dropout detection: spacings above 30 minutes per event
    type (FAULT_DETECTION at scale)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp")
    )
    out = kernels.detect_gaps(ev, 1800.0, partition_cols=["event_type"])
    return out.select(
        "event_type", "gap_start", "gap_end",
        _r6(F.col("gap_seconds")).alias("gap_seconds"),
    )


TS_DETECT_GAPS_SQL = """
WITH d AS (
  SELECT event_type,
         LAG(ts) OVER (PARTITION BY event_type ORDER BY ts) AS gap_start,
         ts AS gap_end,
         epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY event_type ORDER BY ts)) AS delta
  FROM events
)
SELECT event_type, gap_start, gap_end,
       ROUND(delta * 1000000.0) / 1000000.0 AS gap_seconds
FROM d
WHERE delta > 1800.0
ORDER BY event_type, gap_start
"""


def ts_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide view: one row per day, one avg-value column per event type
    (the long→wide pivot; expressed as conditional aggregation so the
    oracle is dialect-portable and the plan is a single hash agg)."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", "ts").alias("day")
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        _r6(
            F.avg(F.when(F.col("event_type") == t, F.col("value")))
        ).alias(f"avg_{t}")
        for t in types
    ]
    return ev.groupBy(day).agg(*aggs)


TS_DAILY_PIVOT_SQL = """
SELECT date_trunc('day', ts) AS day,
       ROUND(AVG(CASE WHEN event_type = 'click'    THEN value END) * 1000000.0) / 1000000.0 AS avg_click,
       ROUND(AVG(CASE WHEN event_type = 'error'    THEN value END) * 1000000.0) / 1000000.0 AS avg_error,
       ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) * 1000000.0) / 1000000.0 AS avg_purchase,
       ROUND(AVG(CASE WHEN event_type = 'signup'   THEN value END) * 1000000.0) / 1000000.0 AS avg_signup,
       ROUND(AVG(CASE WHEN event_type = 'view'     THEN value END) * 1000000.0) / 1000000.0 AS avg_view
FROM events
GROUP BY 1
ORDER BY day
"""


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction from the ``props`` string column
    (multimodal/semi-structured plumbing: get_json_object stays
    JVM-side)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            _r6(F.avg("k")).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 1000000.0) / 1000000.0 AS avg_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def ts_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event values per type (data-quality /
    SLA-style aggregate).

    ``percentile`` is the exact interpolated quantile — it sorts each
    group, so at 100 TB prefer ``approx_percentile(value, q, 10000)``
    (t-digest-style sketch, one pass, mergeable across partitions);
    exact stays here because the oracle comparison demands
    determinism and the per-group sort parallelizes across types."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            *[
                F.expr(
                    f"round(percentile(value, {q}) * 1000000.0) / 1000000.0"
                ).alias(f"p{int(q * 100)}")
                for q in (0.5, 0.95, 0.99)
            ],
            F.count(F.lit(1)).alias("n"),
        )
    )


TS_PERCENTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5)  * 1000000.0) / 1000000.0 AS p50,
       ROUND(quantile_cont(value, 0.95) * 1000000.0) / 1000000.0 AS p95,
       ROUND(quantile_cont(value, 0.99) * 1000000.0) / 1000000.0 AS p99,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def ts_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day change of the daily mean per event type: an
    aggregate feeding an analytic window (lag).  The window partitions
    by type over already-aggregated days, so its sort input is tiny
    regardless of fact-table size — aggregate first, window second is
    the scale ordering."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("avg_raw"))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        _r6(F.col("avg_raw")).alias("avg_value"),
        _r6(F.col("avg_raw") - F.lag("avg_raw").over(w)).alias("delta_vs_prev_day"),
    )


TS_DAILY_DELTA_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, AVG(value) AS avg_raw
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       ROUND(avg_raw * 1000000.0) / 1000000.0 AS avg_value,
       ROUND((avg_raw - LAG(avg_raw) OVER (PARTITION BY event_type ORDER BY day)) * 1000000.0) / 1000000.0 AS delta_vs_prev_day
FROM daily
ORDER BY event_type, day
"""


def ts_seasonal_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deviation of every event from its type's hour-of-day seasonal
    profile — the aggregate-then-rejoin feature-engineering shape
    (profile table is tiny: types × 24 rows, broadcast back onto the
    fact stream; the fact table is scanned twice but never shuffled)."""
    ev = _events(spark, sf_dir)
    hour = F.hour("ts")
    profile = (
        ev.groupBy("event_type", hour.alias("hod"))
        .agg(F.avg("value").alias("hod_mean"))
    )
    return (
        ev.withColumn("hod", hour)
        .join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_id",
            "event_type",
            "hod",
            _r6(F.col("value") - F.col("hod_mean")).alias("deviation"),
        )
    )


TS_SEASONAL_DEV_SQL = """
WITH profile AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod, AVG(value) AS hod_mean
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, CAST(EXTRACT(hour FROM e.ts) AS INTEGER) AS hod,
       ROUND((e.value - p.hod_mean) * 1000000.0) / 1000000.0 AS deviation
FROM events e
JOIN profile p
  ON p.event_type = e.event_type AND p.hod = EXTRACT(hour FROM e.ts)
ORDER BY e.event_id
"""


def ts_outlier_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type IQR outlier counts: Tukey fences from exact quantiles
    (engine-deterministic, robust), fences broadcast back onto the
    stream (kernels.detect_outliers_iqr at scale)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp"), "value"
    )
    flags = kernels.detect_outliers_iqr(
        ev, partition_cols=["event_type"]
    )
    return flags.groupBy("event_type").agg(
        F.sum("value").cast("bigint").alias("n_outliers"),
        F.count("value").alias("n_events"),
    )


TS_OUTLIER_RATE_SQL = """
WITH fences AS (
  SELECT event_type,
         quantile_cont(value, 0.25) - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS lo,
         quantile_cont(value, 0.75) + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1.0 ELSE 0.0 END) AS BIGINT) AS n_outliers,
       COUNT(e.value) AS n_events
FROM events e JOIN fences f USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def ts_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute resample with empty buckets forward-filled (LOCF) —
    the GAP_FILLING strategy paired with linear interpolation
    (kernels.locf at scale; resample + fill is one fused lazy plan,
    the fact table is scanned twice and shuffled once)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").alias("timestamp"), "value"
    )
    res = kernels.resample_mean(
        ev, "5min", partition_cols=["event_type"], exact_micros=2**20
    )
    filled = kernels.locf(res, partition_cols=["event_type"])
    return filled.select(
        "event_type",
        F.col("timestamp").alias("bucket_ts"),
        _r6(F.col("value")).alias("filled_value"),
    )


TS_LOCF_SQL = """
WITH b AS (
  SELECT event_type,
         date_trunc('day', MIN(ts)) AS origin,
         MIN(ts) AS mn, MAX(ts) AS mx
  FROM events GROUP BY event_type
),
agg AS (
  SELECT e.event_type,
         CAST(to_timestamp(epoch(b.origin) + floor((epoch(e.ts) - epoch(b.origin)) / 300) * 300) AS TIMESTAMP) AS bucket_ts,
         SUM(CAST(round(e.value * 1048576) AS BIGINT)) / (1048576.0 * COUNT(e.value)) AS avg_raw
  FROM events e JOIN b USING (event_type)
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         CAST(UNNEST(generate_series(
           CAST(to_timestamp(epoch(origin) + floor((epoch(mn) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           CAST(to_timestamp(epoch(origin) + floor((epoch(mx) - epoch(origin)) / 300) * 300) AS TIMESTAMP),
           INTERVAL 5 MINUTE)) AS TIMESTAMP) AS bucket_ts
  FROM b
),
joined AS (
  SELECT s.event_type, s.bucket_ts, a.avg_raw
  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket_ts = a.bucket_ts
)
SELECT event_type, bucket_ts,
       ROUND(LAST_VALUE(avg_raw IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0) / 1000000.0
       AS filled_value
FROM joined
ORDER BY event_type, bucket_ts
"""


def ts_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows whose robust z-score |value − median| / IQR exceeds 2 per
    event type.  Median/IQR come from exact quantiles (engine-
    deterministic, like ts_value_percentiles), so the flag boundary is
    bit-stable — the reason to prefer robust z over mean/std anomaly
    flags when an oracle must agree; the quantile table (types × 3
    values) is broadcast back onto the stream."""
    ev = _events(spark, sf_dir)
    quants = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    # zero IQR (a constant type) must yield "no flags", not an ANSI
    # divide-by-zero job failure
    rz = F.when(
        F.col("q3") == F.col("q1"), F.lit(None).cast("double")
    ).otherwise(
        (F.col("value") - F.col("med")) / (F.col("q3") - F.col("q1"))
    )
    return (
        ev.join(F.broadcast(quants), "event_type")
        .withColumn("__rz", rz)
        .filter(F.abs(F.col("__rz")) > 2.0)
        .select(
            "event_id",
            "event_type",
            _r6(F.col("value")).alias("value"),
            _r6(F.col("__rz")).alias("robust_z"),
        )
    )


TS_ROBUST_ZSCORE_SQL = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.5)  AS med,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value * 1000000.0) / 1000000.0 AS value,
       ROUND((e.value - q.med) / (q.q3 - q.q1) * 1000000.0) / 1000000.0 AS robust_z
FROM events e JOIN q USING (event_type)
WHERE q.q3 <> q.q1 AND ABS((e.value - q.med) / (q.q3 - q.q1)) > 2.0
ORDER BY e.event_id
"""


def ts_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: 5-minute partials roll
    up to hourly, hourly rolls up to daily — each level aggregates the
    (tiny) level below, never the fact table, by carrying (sum, count)
    instead of averages.  This is the 100 TB shape for dashboard
    rollups: the raw stream is touched once; re-aggregation cost is
    proportional to the 5-minute partial table.

    Values are quantized to round(x·2²⁰) integers at the partial
    level, so every rollup level sums EXACTLY (bigints) and both
    engines divide the same two exact numbers — a float partial sum
    re-summed per level would drift with partition order (observed: a
    daily average landing precisely on the 6-decimal rounding
    boundary split between engines)."""
    return multires_rollup_events(_events(spark, sf_dir))


def multires_rollup_events(ev: DataFrame) -> DataFrame:
    """Core multi-resolution rollup over any (event_type, ts, value)
    DataFrame — split out for the timestamp-flavor matrix."""
    p5 = (
        ev.groupBy(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 300) * 300).alias("b5"),
        )
        .agg(
            F.sum(F.expr("CAST(round(value * 1048576) AS BIGINT)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # the hourly partial feeds BOTH output levels (directly and via
    # the daily rollup) — cache it (bounded registry) so the fact
    # table is scanned once, not once per union branch
    h1 = cache_intermediate(
        p5.groupBy(
            "event_type", (F.floor(F.col("b5") / 3600) * 3600).alias("bh")
        )
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    d1 = (
        h1.groupBy(
            "event_type", (F.floor(F.col("bh") / 86400) * 86400).alias("bd")
        )
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    avg = _r6(F.col("s").cast("double") / (F.lit(1048576.0) * F.col("n")))
    lvl_h = h1.select(
        F.lit("1h").alias("level"),
        "event_type",
        F.timestamp_seconds("bh").alias("bucket_ts"),
        F.col("n").alias("n_events"),
        avg.alias("avg_value"),
    )
    lvl_d = d1.select(
        F.lit("1d").alias("level"),
        "event_type",
        F.timestamp_seconds("bd").alias("bucket_ts"),
        F.col("n").alias("n_events"),
        avg.alias("avg_value"),
    )
    return lvl_h.unionByName(lvl_d)


TS_MULTIRES_SQL = """
WITH p5 AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         CAST(SUM(CAST(round(value * 1048576) AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
h1 AS (
  SELECT event_type, CAST(floor(b5 / 3600) * 3600 AS BIGINT) AS bh,
         CAST(SUM(s) AS BIGINT) AS s, CAST(SUM(n) AS BIGINT) AS n
  FROM p5 GROUP BY 1, 2
),
d1 AS (
  SELECT event_type, CAST(floor(bh / 86400) * 86400 AS BIGINT) AS bd,
         CAST(SUM(s) AS BIGINT) AS s, CAST(SUM(n) AS BIGINT) AS n
  FROM h1 GROUP BY 1, 2
)
SELECT '1h' AS level, event_type, to_timestamp(bh)::TIMESTAMP AS bucket_ts,
       n AS n_events,
       ROUND(CAST(s AS DOUBLE) / (1048576.0 * n) * 1000000.0) / 1000000.0 AS avg_value
FROM h1
UNION ALL
SELECT '1d' AS level, event_type, to_timestamp(bd)::TIMESTAMP AS bucket_ts,
       n AS n_events,
       ROUND(CAST(s AS DOUBLE) / (1048576.0 * n) * 1000000.0) / 1000000.0 AS avg_value
FROM d1
ORDER BY level, event_type, bucket_ts
"""


def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event types over
    aligned 5-minute bucket means.

    Numerically hardened for a cross-engine oracle: values are first
    centered by a per-type ROUNDED mean (a deterministic constant;
    Pearson is shift-invariant, so any center is exact), which removes
    the catastrophic n·Σxy − Σx·Σy cancellation that would otherwise
    amplify float-summation order noise past the rounding guard.
    Plan: one bucket aggregation, one tiny self-join on bucket
    (aligned pairs), one pair aggregation."""
    ev = _events(spark, sf_dir)
    mu = ev.groupBy("event_type").agg(_r6(F.avg("value")).alias("mu"))
    b = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 300) * 300).alias("b5"),
        )
        .agg(F.avg(F.col("value") - F.col("mu")).alias("m"))
    )
    a = b.select(
        F.col("event_type").alias("type_a"), "b5", F.col("m").alias("x")
    )
    c = b.select(
        F.col("event_type").alias("type_b"), "b5", F.col("m").alias("y")
    )
    pairs = a.join(c, "b5").filter(F.col("type_a") < F.col("type_b"))
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    corr = (
        F.col("n_buckets") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt(F.col("n_buckets") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n_buckets") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "type_a", "type_b", "n_buckets", _r6(corr).alias("corr")
    )


TS_CROSS_CORR_SQL = """
WITH mu AS (
  SELECT event_type, ROUND(AVG(value) * 1000000.0) / 1000000.0 AS mu
  FROM events GROUP BY event_type
),
b AS (
  SELECT e.event_type, CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) AS b5,
         AVG(e.value - mu.mu) AS m
  FROM events e JOIN mu USING (event_type)
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b, a.m AS x, c.m AS y
  FROM b a JOIN b c ON a.b5 = c.b5 AND a.event_type < c.event_type
),
agg AS (
  SELECT type_a, type_b, COUNT(*) AS n_buckets,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, n_buckets,
       ROUND((n_buckets * sxy - sx * sy)
             / (sqrt(n_buckets * sxx - sx * sx) * sqrt(n_buckets * syy - sy * sy))
             * 1000000.0) / 1000000.0 AS corr
FROM agg
ORDER BY type_a, type_b
"""


def ts_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each user's NEXT order date
    within 30 days of the event (the merge_asof direction='forward'
    analog — same single-sort union-and-carry plan, frame reversed)."""
    from meteaudata_spark.ext.asof import asof_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", F.col("ts"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    joined = asof_join(
        ev,
        orders,
        left_time="ts",
        right_time="o_orderdate",
        by=["user_id"],
        value_cols=["o_orderdate"],
        direction="forward",
        tolerance_seconds=30 * 86400.0,
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderdate").alias("next_order_date")
    )


TS_ASOF_NEXT_SQL = """
SELECT e.event_id, e.user_id, MIN(o.o_orderdate) AS next_order_date
FROM events e
LEFT JOIN orders o ON o.o_custkey = e.user_id
  AND o.o_orderdate >= e.ts
  AND epoch(o.o_orderdate) - epoch(e.ts) <= 30 * 86400.0
GROUP BY e.event_id, e.user_id
ORDER BY e.event_id
"""


def ts_cumulative_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type running total of value over time (cumulative window).

    Deterministic despite float addition: the running frame adds in
    ONE defined order (ts, then event_id as tiebreak), so both
    engines execute the identical sequential sum."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        _r6(F.sum("value").over(w)).alias("cum_value"),
        F.count(F.lit(1)).over(w).alias("cum_n"),
    )


TS_CUMULATIVE_SQL = """
SELECT event_id, event_type,
       ROUND(SUM(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0) / 1000000.0 AS cum_value,
       COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
FROM events
ORDER BY event_id
"""


def ts_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: per user, did each step happen
    AFTER the previous step (first qualifying event, 24 h windows)?

    The match_recognize-style sequential pattern as aggregate-then-
    carry: one pass computes each user's first view; clicks join
    against it (first click after the view), purchases against that —
    every stage is a per-user aggregate on the SAME user_id
    partitioning, so AQE plans one shuffle chain, no fact self-join
    explosion.  Output: users entering each funnel stage."""
    ev = _events(spark, sf_dir)
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        first_view.select(F.lit(1).alias("step"), F.lit("view").alias("stage"), "user_id"),
        first_click.select(F.lit(2).alias("step"), F.lit("click").alias("stage"), "user_id"),
        first_purchase.select(F.lit(3).alias("step"), F.lit("purchase").alias("stage"), "user_id"),
    ]
    funnel = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return (
        funnel.groupBy("step", "stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("step").cast("bigint").alias("step"), "stage", "n_users")
    )


TS_FUNNEL_SQL = """
WITH first_view AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
first_click AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN first_view v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 24 HOURS
  GROUP BY e.user_id
),
first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN first_click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 24 HOURS
  GROUP BY e.user_id
),
funnel AS (
  SELECT 1 AS step, 'view' AS stage, user_id FROM first_view
  UNION ALL
  SELECT 2, 'click', user_id FROM first_click
  UNION ALL
  SELECT 3, 'purchase', user_id FROM first_purchase
)
SELECT CAST(step AS BIGINT) AS step, stage, COUNT(*) AS n_users
FROM funnel GROUP BY step, stage
ORDER BY step
"""


def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-0 cohort retention: users grouped by first-seen day, counted
    by how many days after signup they were active.  All-integer
    (counts and day arithmetic) — the canonical product-analytics
    rollup, two aggregates on the same user partitioning."""
    ev = _events(spark, sf_dir)
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_day",
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active",
        )
    )


TS_RETENTION_SQL = """
WITH first_day AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
  FROM events e JOIN first_day f ON e.user_id = f.user_id
)
SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
       COUNT(*) AS n_active
FROM active GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


def ts_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (event_type → next event_type) bigram, the
    count and the transition probability.

    One window pass (lead over user_id ordered by ts with event_id as
    the deterministic tiebreaker) + one aggregation.  The per-source
    total comes from a second tiny window over the 25-row transition
    table, not from re-scanning the fact.  The probability is a single
    DOUBLE division of two exact bigints, identical in both engines."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_tot).cast("double")
        ).alias("probability"),
    )


TS_EVENT_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS probability
FROM counts
ORDER BY from_type, to_type
"""


def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of the daily total from its mean is largest
    in magnitude (argmax_k |Σ_{i<=k}(s_i − mean)|).

    Everything until the final report is EXACT integer math — daily
    sums are value·2²⁰ quantized bigints, and the deviation statistic
    is cross-multiplied (U_k = n·P_k − k·S, with P_k the bigint prefix
    sum) so no float accumulates across a window.  Both engines
    therefore agree bit-for-bit regardless of how their window
    operators order the running sum.  The reported magnitude is one
    final DOUBLE division."""
    ev = _events(spark, sf_dir)
    q = F.round(F.col("value") * F.lit(1048576.0), 0).cast("bigint")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum(q).alias("s"))
    )
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        (
            F.count(F.lit(1)).over(w_all) * F.sum("s").over(w_ord)
            - F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            * F.sum("s").over(w_all)
        ).alias("u"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u")).desc(), F.col("day")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            (
                F.abs(F.col("u")).cast("double")
                / (F.col("n_days") * F.lit(1048576.0))
            ).alias("max_cusum_dev"),
        )
    )


TS_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         SUM(CAST(round(value * 1048576.0) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         COUNT(*) OVER (PARTITION BY event_type)
           * SUM(s) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
           * SUM(s) OVER (PARTITION BY event_type) AS u,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
),
picked AS (
  SELECT event_type, day, u, n_days,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(u) DESC, day) AS rk
  FROM scored
)
SELECT event_type, day AS changepoint_day,
       CAST(ABS(u) AS DOUBLE) / (n_days * 1048576.0) AS max_cusum_dev
FROM picked WHERE rk = 1
ORDER BY event_type
"""


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition (classical, STL-lite) of
    each type's hourly series: trend = centered 25-bucket moving
    average, seasonal = per-hour-of-day mean of the detrended series,
    residual = the rest.  The standard diagnostic for environmental
    monitoring series (the reference's domain: daily/diurnal cycles in
    water-quality signals).

    Shape at scale: one keyed hash-agg to hourly buckets (map-side
    partial), one per-key window sort for the moving average, one tiny
    profile agg (types × 24 rows) broadcast back — the fact stream is
    never shuffled twice.  All arithmetic is JVM built-ins.
    """
    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
        )
        .agg(F.avg("value").alias("v"))
    )
    hourly = cache_intermediate(hourly)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-12, 12)
    )
    with_trend = hourly.withColumn("trend", F.avg("v").over(w)).withColumn(
        "hod", F.hour("bucket_ts")
    )
    profile = (
        with_trend.groupBy("event_type", "hod")
        .agg(F.avg(F.col("v") - F.col("trend")).alias("seasonal"))
    )
    return (
        with_trend.join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_type",
            "bucket_ts",
            _r6(F.col("v")).alias("hourly_avg"),
            _r6(F.col("trend")).alias("trend"),
            _r6(F.col("seasonal")).alias("seasonal"),
            _r6(F.col("v") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
    )


TS_SEASONAL_DECOMPOSE_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
trended AS (
  SELECT event_type, bucket_ts, v,
         AVG(v) OVER (PARTITION BY event_type ORDER BY bucket_ts
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
         EXTRACT(hour FROM bucket_ts) AS hod
  FROM hourly
),
profile AS (
  SELECT event_type, hod, AVG(v - trend) AS seasonal
  FROM trended GROUP BY 1, 2
)
SELECT t.event_type, t.bucket_ts,
       ROUND(t.v * 1000000.0) / 1000000.0 AS hourly_avg,
       ROUND(t.trend * 1000000.0) / 1000000.0 AS trend,
       ROUND(p.seasonal * 1000000.0) / 1000000.0 AS seasonal,
       ROUND((t.v - t.trend - p.seasonal) * 1000000.0) / 1000000.0 AS residual
FROM trended t
JOIN profile p ON p.event_type = t.event_type AND p.hod = t.hod
ORDER BY t.event_type, t.bucket_ts
"""


def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware fault detection: Tukey fences on the
    RESIDUAL of the additive decomposition, so diurnal cycles don't
    masquerade as anomalies (the failure mode of plain value fences
    on environmental series — the reference's core domain).

    Composes ``ts_seasonal_decompose`` with the same exact-quantile
    fence pattern as ``ts_outlier_rate``: per-type Q1/Q3 of the
    rounded residuals (a types-sized aggregate, broadcast back), flag
    |residual| outside 3·IQR.  Returns only flagged buckets — the
    actionable output — plus the fence values for context.

    Scale note: exact ``percentile`` buffers each group's values;
    fine here (fences aggregate hourly buckets, not raw events), but
    a deployment fencing RAW 100 TB streams should derive Q1/Q3 from
    ``sketches.hist_quantiles`` (mergeable, constant memory) or
    ``approx_percentile`` instead.
    """
    dec = ts_seasonal_decompose(spark, sf_dir)
    dec = cache_intermediate(dec)
    fences = dec.groupBy("event_type").agg(
        F.expr("percentile(residual, 0.25)").alias("q1"),
        F.expr("percentile(residual, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 3.0 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 3.0 * (F.col("q3") - F.col("q1"))
    return (
        dec.join(F.broadcast(fences), "event_type")
        .filter((F.col("residual") < lo) | (F.col("residual") > hi))
        .select(
            "event_type",
            "bucket_ts",
            "residual",
            _r6(lo).alias("fence_lo"),
            _r6(hi).alias("fence_hi"),
        )
    )


def _seasonal_anomaly_sql() -> str:
    inner = TS_SEASONAL_DECOMPOSE_SQL.strip()
    inner = inner[: inner.rindex("ORDER BY")]
    return f"""
WITH dec AS (
{inner}
),
fences AS (
  SELECT event_type,
         quantile_cont(residual, 0.25) AS q1,
         quantile_cont(residual, 0.75) AS q3
  FROM dec GROUP BY event_type
)
SELECT d.event_type, d.bucket_ts, d.residual,
       ROUND((f.q1 - 3.0 * (f.q3 - f.q1)) * 1000000.0) / 1000000.0 AS fence_lo,
       ROUND((f.q3 + 3.0 * (f.q3 - f.q1)) * 1000000.0) / 1000000.0 AS fence_hi
FROM dec d JOIN fences f ON f.event_type = d.event_type
WHERE d.residual < f.q1 - 3.0 * (f.q3 - f.q1)
   OR d.residual > f.q3 + 3.0 * (f.q3 - f.q1)
ORDER BY d.event_type, d.bucket_ts
"""


TS_SEASONAL_ANOMALY_SQL = _seasonal_anomaly_sql()


def m4_downsample(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 100,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per pixel-bucket
    keep first/last/min/max — the four points that make a line chart
    of the bucket pixel-identical to plotting every row.  THE
    scale path for plotting a 100 TB series: one keyed hash-agg with
    map-side partials reduces any row count to 4·n_buckets points per
    series; `viz.downsample_for_plot` covers the generic case, this
    is the visually-lossless one.

    Bucket index is exact integer math over microsecond epochs
    ((e−lo)·nb div (hi−lo+1)), so bucket boundaries can't drift
    between engines; min/max ties resolve by earliest/latest
    timestamp via struct ordering.
    """
    e_us = (epoch_seconds(F.col(ts_col)) * 1000000).cast("bigint")
    base = df.select(
        *group_cols, e_us.alias("e"), F.col(value_col).alias("value")
    )
    bounds = base.groupBy(*group_cols).agg(
        F.min("e").alias("lo"), F.max("e").alias("hi")
    )
    bucketed = base.join(F.broadcast(bounds), group_cols).withColumn(
        "bucket",
        F.expr(f"CAST((e - lo) * {n_buckets} AS BIGINT) div (hi - lo + 1)"),
    )
    agg = bucketed.groupBy(*group_cols, "bucket").agg(
        F.min(F.struct("e", "value")).alias("first_pt"),
        F.max(F.struct("e", "value")).alias("last_pt"),
        F.min(F.struct("value", "e")).alias("min_pt"),
        F.max(F.struct("value", "e")).alias("max_pt"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        *group_cols,
        "bucket",
        "n_rows",
        F.col("first_pt.e").alias("first_e"),
        _r6(F.col("first_pt.value")).alias("first_v"),
        F.col("last_pt.e").alias("last_e"),
        _r6(F.col("last_pt.value")).alias("last_v"),
        F.col("min_pt.e").alias("min_e"),
        _r6(F.col("min_pt.value")).alias("min_v"),
        F.col("max_pt.e").alias("max_e"),
        _r6(F.col("max_pt.value")).alias("max_v"),
    )


def ts_m4_downsample(
    spark: SparkSession, sf_dir: str, n_buckets: int = 100
) -> DataFrame:
    """Gate query: M4 reduction of the events table per type (see
    ``m4_downsample`` — the core is DataFrame-parameterized so scale
    smokes exercise the exact production code path)."""
    return m4_downsample(
        _events(spark, sf_dir), ["event_type"], n_buckets=n_buckets
    )


TS_M4_SQL = """
WITH base AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS e, value FROM events
),
bounds AS (
  SELECT event_type, MIN(e) AS lo, MAX(e) AS hi FROM base GROUP BY event_type
),
bucketed AS (
  SELECT b.event_type, b.e, b.value,
         ((b.e - bo.lo) * 100) // (bo.hi - bo.lo + 1) AS bucket
  FROM base b JOIN bounds bo ON bo.event_type = b.event_type
),
ranked AS (
  SELECT event_type, bucket, e, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY e, value) AS rf,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY e DESC, value DESC) AS rl,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY value, e) AS rmin,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY value DESC, e DESC) AS rmax,
         COUNT(*) OVER (PARTITION BY event_type, bucket) AS n_rows
  FROM bucketed
)
SELECT event_type, bucket, n_rows,
       MAX(CASE WHEN rf = 1 THEN e END) AS first_e,
       ROUND(MAX(CASE WHEN rf = 1 THEN value END) * 1000000.0) / 1000000.0 AS first_v,
       MAX(CASE WHEN rl = 1 THEN e END) AS last_e,
       ROUND(MAX(CASE WHEN rl = 1 THEN value END) * 1000000.0) / 1000000.0 AS last_v,
       MAX(CASE WHEN rmin = 1 THEN e END) AS min_e,
       ROUND(MAX(CASE WHEN rmin = 1 THEN value END) * 1000000.0) / 1000000.0 AS min_v,
       MAX(CASE WHEN rmax = 1 THEN e END) AS max_e,
       ROUND(MAX(CASE WHEN rmax = 1 THEN value END) * 1000000.0) / 1000000.0 AS max_v
FROM ranked
GROUP BY event_type, bucket, n_rows
ORDER BY event_type, bucket
"""


def ts_autocorr(spark: SparkSession, sf_dir: str, max_lag: int = 6) -> DataFrame:
    """Autocorrelation function per event type: Pearson r between the
    5-minute bucket-mean series and itself shifted by 1..max_lag
    buckets — the standard seasonality/periodicity probe that feeds
    lag selection for forecasting and anomaly models.

    Same numeric hardening as ``ts_cross_corr``: values are centered
    by a per-type ROUNDED mean before any multiplication, which keeps
    the nΣxy − ΣxΣy cancellation benign so the 6-decimal rounding is
    a stable cross-engine guard.

    Plan shape: one keyed bucket aggregation, a lag explode (narrow,
    fan-out = max_lag), then a self-join keyed on (event_type,
    shifted bucket) and one keyed pair aggregation — every shuffle is
    on (type, bucket), nothing quadratic, no global window.  At 100 TB
    the bucket table is already ~5 orders smaller than the raw events.
    """
    ev = _events(spark, sf_dir)
    mu = ev.groupBy("event_type").agg(_r6(F.avg("value")).alias("mu"))
    b = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy(
            "event_type",
            (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
            .cast("bigint")
            .alias("b5"),
        )
        .agg(F.avg(F.col("value") - F.col("mu")).alias("m"))
    )
    a = b.select(
        "event_type",
        "b5",
        F.col("m").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).withColumn("b5_ahead", F.col("b5") + F.col("lag") * 300)
    c = b.select(
        "event_type", F.col("b5").alias("b5_ahead"), F.col("m").alias("y")
    )
    pairs = a.join(c, ["event_type", "b5_ahead"])
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    corr = (
        F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt(F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        _r6(corr).alias("acf"),
    )


TS_AUTOCORR_SQL = """
WITH mu AS (
  SELECT event_type, ROUND(AVG(value) * 1000000.0) / 1000000.0 AS mu
  FROM events GROUP BY event_type
),
b AS (
  SELECT e.event_type, CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) AS b5,
         AVG(e.value - mu.mu) AS m
  FROM events e JOIN mu USING (event_type)
  GROUP BY 1, 2
),
lags AS (SELECT UNNEST(range(1, 7)) AS lag),
pairs AS (
  SELECT a.event_type, l.lag, a.m AS x, c.m AS y
  FROM b a
  CROSS JOIN lags l
  JOIN b c ON c.event_type = a.event_type AND c.b5 = a.b5 + l.lag * 300
),
agg AS (
  SELECT event_type, lag, COUNT(*) AS n_pairs,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
       ROUND((n_pairs * sxy - sx * sy)
             / (sqrt(n_pairs * sxx - sx * sx) * sqrt(n_pairs * syy - sy * sy))
             * 1000000.0) / 1000000.0 AS acf
FROM agg
ORDER BY event_type, lag
"""


def ts_ewma(spark: SparkSession, sf_dir: str, alpha: float = 0.25) -> DataFrame:
    """EWMA smoothing as an oracle-gated query: per-type exponential
    moving average over the 5-minute bucket-mean series — the
    reference's SMOOTHING operator (pandas ``ewm(adjust=False)``)
    driven through the per-key ``kernels.ewma`` fold.

    Determinism: bucket means are 6-decimal rounded BEFORE the
    recurrence, and both engines then evaluate the identical float
    expression e_t = (1−α)·e_{t−1} + α·x_t over the identical ordered
    inputs (pandas' adjust=False inner loop is exactly this fused
    form), so the trajectories match bit-for-bit.  α=0.25 keeps 1−α
    exactly representable.  Plan: one keyed bucket agg, then the
    per-key ``applyInPandas`` recurrence (parallel across types,
    sequential within one — inherent to EWMA; the chunk+carry
    decomposition in ``kernels.ewma_distributed`` is the
    one-giant-series path)."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5"),
    ).agg(_r6(F.avg("value")).alias("value"))
    sm = kernels.ewma(
        b, alpha=alpha, ts_col="b5", val_col="value",
        partition_cols=["event_type"],
    )
    return sm.select(
        "event_type", "b5", _r6(F.col("value")).alias("ewma")
    )


TS_EWMA_SQL = """
WITH RECURSIVE b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS m
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, b5, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b5) AS rn
  FROM b
),
rec AS (
  SELECT event_type, b5, m, rn, m AS e
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b5, s.m, s.rn,
         (1 - 0.25) * r.e + 0.25 * s.m
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, b5, ROUND(e * 1000000.0) / 1000000.0 AS ewma
FROM rec
ORDER BY event_type, b5
"""


def ts_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report per event type: exact p01/p99 fences,
    count of clipped values on each side, and the mean after clipping
    — the standard outlier-robust preprocessing (FILTERING family).

    The fences come from one exact-percentile agg (per-group sort
    parallelizes across types; swap in ``approx_percentile`` at
    100 TB like ``ts_value_percentiles`` documents); the clip pass
    re-joins the tiny per-type fence table by broadcast, so the big
    scan stays map-only.  Quantized comparisons keep the clip decision
    (and hence counts/means) identical across engines."""
    ev = _events(spark, sf_dir)
    fences = ev.groupBy("event_type").agg(
        F.expr("round(percentile(value, 0.01) * 1000000.0) / 1000000.0").alias("lo"),
        F.expr("round(percentile(value, 0.99) * 1000000.0) / 1000000.0").alias("hi"),
    )
    clipped = ev.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.col("value"),
        F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo")).alias("w"),
    )
    return clipped.groupBy("event_type").agg(
        F.first("lo").alias("p01"),
        F.first("hi").alias("p99"),
        F.sum((F.col("value") < F.col("lo")).cast("bigint")).alias("n_clipped_low"),
        F.sum((F.col("value") > F.col("hi")).cast("bigint")).alias("n_clipped_high"),
        _r6(F.avg("w")).alias("winsorized_mean"),
        F.count(F.lit(1)).alias("n"),
    )


TS_WINSORIZE_SQL = """
WITH fences AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.01) * 1000000.0) / 1000000.0 AS lo,
         ROUND(quantile_cont(value, 0.99) * 1000000.0) / 1000000.0 AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       MIN(f.lo) AS p01,
       MIN(f.hi) AS p99,
       CAST(SUM(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       ROUND(AVG(GREATEST(LEAST(e.value, f.hi), f.lo)) * 1000000.0) / 1000000.0
         AS winsorized_mean,
       COUNT(*) AS n
FROM events e JOIN fences f USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend: slope and intercept of value over time
    (units: value per hour) on the 5-minute bucket means — the
    drift/degradation detector that pairs with the seasonal
    decomposition.

    Numeric hardening mirrors ``ts_cross_corr``: x is the bucket index
    RELATIVE to the per-type minimum (small exact integers), y is
    centered by the rounded per-type mean, so the closed-form sums
    never suffer catastrophic cancellation and the 6-decimal rounding
    is a stable cross-engine guard.  Two keyed aggs + one broadcast
    join; no windows."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5"),
    ).agg(F.avg("value").alias("m"))
    ctr = b.groupBy("event_type").agg(
        F.min("b5").alias("b0"), _r6(F.avg("m")).alias("mu")
    )
    p = b.join(F.broadcast(ctr), "event_type").select(
        "event_type",
        ((F.col("b5") - F.col("b0")) / F.lit(300)).cast("double").alias("x"),
        (F.col("m") - F.col("mu")).alias("y"),
        "mu",
        "b0",
    )
    agg = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.first("mu").alias("mu"),
    )
    slope = (
        F.col("n_buckets") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.col("n_buckets") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n_buckets") + F.col("mu")
    return agg.select(
        "event_type",
        "n_buckets",
        # slope per bucket → per hour (×12 five-minute buckets)
        _r6(slope * 12).alias("slope_per_hour"),
        _r6(intercept).alias("intercept"),
    )


TS_TREND_SLOPE_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         AVG(value) AS m
  FROM events GROUP BY 1, 2
),
ctr AS (
  SELECT event_type, MIN(b5) AS b0,
         ROUND(AVG(m) * 1000000.0) / 1000000.0 AS mu
  FROM b GROUP BY event_type
),
p AS (
  SELECT b.event_type,
         CAST((b.b5 - ctr.b0) / 300 AS DOUBLE) AS x,
         b.m - ctr.mu AS y,
         ctr.mu
  FROM b JOIN ctr USING (event_type)
),
agg AS (
  SELECT event_type, COUNT(*) AS n_buckets,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
         MIN(mu) AS mu
  FROM p GROUP BY event_type
)
SELECT event_type, n_buckets,
       ROUND(((n_buckets * sxy - sx * sy) / (n_buckets * sxx - sx * sx)) * 12
             * 1000000.0) / 1000000.0 AS slope_per_hour,
       ROUND(((sy - ((n_buckets * sxy - sx * sy) / (n_buckets * sxx - sx * sx)) * sx)
              / n_buckets + mu) * 1000000.0) / 1000000.0 AS intercept
FROM agg
ORDER BY event_type
"""


def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: first-significant-digit distribution of event
    values per type vs Benford's law — the classic at-scale
    data-quality screen (fabricated, clipped, unit-mixed, or
    merge-duplicated numeric feeds bend the digit histogram long
    before summary stats move).  Per (event_type, digit 1–9): count,
    observed share, the Benford expectation log₁₀(1+1/d), and the
    delta — all in integer micros.

    Exactness: the first digit comes from the integer CENTS
    (``round(value·100)`` — the feed's own precision), so digit
    extraction is pure integer/string work on both engines; shares
    are integer floor-div micros; the Benford constant is the rounded
    micro value of a plain double log10 — identical cross-engine.
    Shape: one keyed count + one 5-row broadcast total join; the
    45-row digit spine guarantees zero-count digits surface.
    Reference analog: none (pure [EXT])."""
    ev = _events(spark, sf_dir)
    digits = ev.select(
        "event_type",
        F.expr(
            "cast(substring(cast(cast(round(value * 100) as bigint)"
            " as string), 1, 1) as bigint)"
        ).alias("digit"),
    )
    counts = digits.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    spine = (
        totals.select("event_type", "total")
        .crossJoin(
            F.broadcast(
                spark.range(1, 10).select(F.col("id").alias("digit"))
            )
        )
    )
    return (
        spine.join(counts, ["event_type", "digit"], "left")
        .select(
            "event_type",
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000000 div total")
            .cast("bigint")
            .alias("share_micros"),
            F.expr(
                "cast(round(log10(1.0 + 1.0 / digit) * 1000000) as bigint)"
            ).alias("benford_micros"),
            F.expr(
                "coalesce(n, 0) * 1000000 div total"
                " - cast(round(log10(1.0 + 1.0 / digit) * 1000000) as bigint)"
            )
            .cast("bigint")
            .alias("delta_micros"),
        )
    )


EVENTS_BENFORD_SQL = """
WITH digits AS (
  SELECT event_type,
         CAST(SUBSTRING(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR),
                        1, 1) AS BIGINT) AS digit
  FROM events
),
counts AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS n
  FROM digits GROUP BY event_type, digit
),
totals AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
  FROM counts GROUP BY event_type
),
spine AS (
  SELECT t.event_type, t.total, d.digit
  FROM totals t, (SELECT UNNEST(generate_series(1, 9)) AS digit) d
)
SELECT s.event_type, s.digit,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       CAST(COALESCE(c.n, 0) * 1000000 // s.total AS BIGINT) AS share_micros,
       CAST(ROUND(log10(1.0 + 1.0 / s.digit) * 1000000) AS BIGINT)
         AS benford_micros,
       CAST(COALESCE(c.n, 0) * 1000000 // s.total
            - CAST(ROUND(log10(1.0 + 1.0 / s.digit) * 1000000) AS BIGINT)
            AS BIGINT) AS delta_micros
FROM spine s LEFT JOIN counts c USING (event_type, digit)
ORDER BY s.event_type, s.digit
"""


_TS_PAIR_LAG = 12  # banded pairs: up to 12 five-minute buckets = 1 h


def _bucket_pairs(ev: DataFrame) -> DataFrame:
    """Banded bucket-pair relation shared by the robust-trend rows
    (``ts_theil_sen`` / ``ts_mann_kendall``): 5-minute bucket means
    per event type, paired with every bucket up to ``_TS_PAIR_LAG``
    steps ahead.

    Shape: the bucket relation is bounded by the TIME RANGE, not the
    row count (8 640 five-minute buckets per type per month no matter
    the SF), so the pair relation is buckets × lag — never the
    quadratic all-pairs of classical Theil-Sen.  The band rides an
    EQUI-join: the left side explodes the lag offsets 1..L and joins
    on the computed (event_type, i + d) key, so Catalyst plans a plain
    hash join (no range-condition post-filter over an all-pairs
    build).  Bucket means are 6-dp rounded BEFORE pairing so both
    engines difference identical doubles — sign statistics would
    otherwise flip on last-ulp AVG noise."""
    b = cache_intermediate(
        ev.groupBy(
            "event_type",
            (F.floor(epoch_seconds(F.col("ts")) / 300))
            .cast("bigint")
            .alias("bi"),
        ).agg(_r6(F.avg("value")).alias("y"))
    )
    left = (
        b.select("event_type", F.col("bi").alias("i"), F.col("y").alias("yi"))
        .withColumn("d", F.explode(F.expr(f"sequence(1, {_TS_PAIR_LAG})")))
        .withColumn("j", (F.col("i") + F.col("d")).cast("bigint"))
    )
    right = b.select(
        "event_type", F.col("bi").alias("j"), F.col("y").alias("yj")
    )
    return left.join(right, ["event_type", "j"])


def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: bounded-lag Theil–Sen robust trend per event type —
    the LOWER MEDIAN of pairwise slopes (value per hour, integer
    micros) over all bucket pairs up to one hour apart.  The median
    slope shrugs off the outliers that drag ``ts_trend_slope``'s OLS
    line; the two rows together are the classic robust-vs-classical
    drift panel.

    Exactness: slopes quantize to integer micros per pair
    (``round(((yj−yi)/d)·12·1e6)`` — identical doubles in, identical
    bigints out) and the median is DISCRETE (the sorted multiset's
    element at position ⌈n/2⌉ via row_number) — no interpolation, so
    no float averaging to diverge.  100 TB shape: the only input-sized
    work is the bucket agg; everything after runs on the
    range-bounded pair relation.  Reference analog: none ([EXT])."""
    return _theil_sen_from_pairs(_pairs_for(spark, sf_dir))


def _pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized banded bucket-pair relation shared by the two
    robust-trend gate rows (one bucket agg + one pair join serves
    both — the memo_relation compose-don't-recompute contract)."""
    from meteaudata_spark.plans.opcache import memo_relation

    return memo_relation(
        spark, sf_dir,
        ("ts_bucket_pairs", sf_dir),
        lambda: _bucket_pairs(_events(spark, sf_dir)),
    )


def theil_sen_trend(ev: DataFrame) -> DataFrame:
    """Library surface for ``ts_theil_sen`` over any events-shaped
    frame (event_type, ts, value)."""
    return _theil_sen_from_pairs(_bucket_pairs(ev))


def _theil_sen_from_pairs(pairs: DataFrame) -> DataFrame:
    slopes = pairs.select(
        "event_type",
        F.expr(
            "cast(round(((yj - yi) / d) * 12000000) as bigint)"
        ).alias("slope_micros"),
    )
    counts = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    ranked = slopes.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("slope_micros")
        ),
    )
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            "n_pairs",
            F.col("slope_micros").alias("median_slope_micros"),
        )
    )


def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: bounded-lag Mann–Kendall trend test per event type
    — concordant/discordant/tied pair counts, the S statistic, and the
    bounded-lag Kendall tau (S / n_pairs, integer micros) over the
    same banded pair relation as ``ts_theil_sen``.  Sign statistics
    are pure integer counts of sign(yj − yi) over 6-dp-rounded bucket
    means — exact cross-engine with no float aggregation at all.
    Reference analog: none ([EXT])."""
    return _mann_kendall_from_pairs(_pairs_for(spark, sf_dir))


def _mann_kendall_from_pairs(pairs: DataFrame) -> DataFrame:
    sgn = pairs.select(
        "event_type",
        F.expr(
            "cast(case when yj > yi then 1 when yj < yi then -1 else 0 end"
            " as bigint)"
        ).alias("s"),
    )
    return (
        sgn.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((F.col("s") == 1).cast("bigint")).alias("concordant"),
            F.sum((F.col("s") == -1).cast("bigint")).alias("discordant"),
            F.sum((F.col("s") == 0).cast("bigint")).alias("ties"),
            F.sum("s").cast("bigint").alias("s_stat"),
        )
        .select(
            "event_type",
            "n_pairs",
            "concordant",
            "discordant",
            "ties",
            "s_stat",
            F.expr(
                "cast(round(s_stat * 1000000.0 / n_pairs) as bigint)"
            ).alias("tau_micros"),
        )
    )


_TS_PAIRS_DUCK = f"""
b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) AS BIGINT) AS bi,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.y AS yi, c.y AS yj, c.bi - a.bi AS d
  FROM b a JOIN b c
    ON c.event_type = a.event_type
   AND c.bi > a.bi AND c.bi <= a.bi + {_TS_PAIR_LAG}
)
"""

TS_THEIL_SEN_SQL = f"""
WITH {_TS_PAIRS_DUCK},
slopes AS (
  SELECT event_type,
         CAST(ROUND(((yj - yi) / d) * 12000000) AS BIGINT) AS slope_micros
  FROM pairs
),
counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes GROUP BY event_type
),
ranked AS (
  SELECT event_type, slope_micros,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope_micros) AS rn
  FROM slopes
)
SELECT r.event_type, c.n_pairs,
       r.slope_micros AS median_slope_micros
FROM ranked r JOIN counts c USING (event_type)
WHERE r.rn = (c.n_pairs + 1) // 2
ORDER BY r.event_type
"""

TS_MANN_KENDALL_SQL = f"""
WITH {_TS_PAIRS_DUCK},
sgn AS (
  SELECT event_type,
         CAST(CASE WHEN yj > yi THEN 1 WHEN yj < yi THEN -1 ELSE 0 END
              AS BIGINT) AS s
  FROM pairs
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties,
       CAST(SUM(s) AS BIGINT) AS s_stat,
       CAST(ROUND(SUM(s) * 1000000.0 / COUNT(*)) AS BIGINT) AS tau_micros
FROM sgn
GROUP BY event_type
ORDER BY event_type
"""


def _holt_sm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Holt-smoothed relation over the 5-minute bucket means:
    (event_type, b5, value = rounded bucket mean, __level, __trend).
    r15 (guide §2.4): ``ts_forecast_eval`` used to re-aggregate the
    bucket means from a second events scan and join them back onto
    ``ts_holt``'s output — but the smoothing kernel already CARRIES
    the bucket mean through as ``value``, so both rows read this one
    relation and the eval row drops a scan + agg + sort-merge join."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5"),
    ).agg(_r6(F.avg("value")).alias("value"))
    return kernels.holt(
        b, alpha=0.5, beta=0.25, ts_col="b5", val_col="value",
        partition_cols=["event_type"],
    )


def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per event
    type over the 5-minute bucket means — the PREDICTION-family
    operator one step up from EWMA: the trend state gives one-step
    forecasts ``l + b``.

    Same determinism recipe as ``ts_ewma``: inputs pre-rounded,
    α=0.5 / β=0.25 exact binary fractions, and the DuckDB oracle is a
    recursive CTE evaluating the identical float expressions, so the
    (level, trend) trajectories match bit-for-bit."""
    sm = _holt_sm(spark, sf_dir)
    return sm.select(
        "event_type",
        "b5",
        _r6(F.col("__level")).alias("level"),
        _r6(F.col("__trend")).alias("trend"),
        _r6(F.col("__level") + F.col("__trend")).alias("forecast_next"),
    )


TS_HOLT_SQL = """
WITH RECURSIVE b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS m
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, b5, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b5) AS rn
  FROM b
),
rec AS (
  SELECT event_type, b5, m, rn, m AS l, CAST(0.0 AS DOUBLE) AS bt
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b5, s.m, s.rn,
         0.5 * s.m + 0.5 * (r.l + r.bt),
         0.25 * ((0.5 * s.m + 0.5 * (r.l + r.bt)) - r.l) + 0.75 * r.bt
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, b5,
       ROUND(l * 1000000.0) / 1000000.0 AS level,
       ROUND(bt * 1000000.0) / 1000000.0 AS trend,
       ROUND((l + bt) * 1000000.0) / 1000000.0 AS forecast_next
FROM rec
ORDER BY event_type, b5
"""


def ts_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow-weighted composite averaging — the wastewater-domain
    aggregate the reference's field (modelEAU) lives on: a
    concentration-like series averaged per day WEIGHTED by a
    flow-like series, on aligned 5-minute buckets.  Here 'view'
    events play the concentration and 'click' events the flow
    (value magnitudes are arbitrary; weights are shifted positive).

    Numerics: weights quantized to 6 decimals after the bucket mean,
    the weighted sum built from integer micro-unit products (exact,
    order-independent), division at the end — hash-stable.  Plan:
    two keyed bucket aggs → bucket-aligned inner join (keyed) → one
    daily agg.  No windows, no broadcast of anything big."""
    ev = _events(spark, sf_dir)
    b5 = (
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5")
    )
    conc = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(b5)
        .agg(_r6(F.avg("value")).alias("c"))
    )
    flow = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(b5)
        # shift to strictly positive so it behaves like a flow
        .agg(_r6(F.avg("value") + 100.0).alias("q"))
    )
    j = conc.join(flow, "b5").select(
        (F.floor(F.col("b5") / 86400) * 86400).cast("bigint").alias("day"),
        F.round(F.col("c") * F.col("q") * 1000000.0).cast("bigint").alias("cq_micros"),
        F.round(F.col("q") * 1000000.0).cast("bigint").alias("q_micros"),
    )
    return j.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        _r6(F.sum("cq_micros") / F.sum("q_micros")).alias("flow_weighted_mean"),
        _r6(F.sum("q_micros") / 1000000.0).alias("total_flow"),
    )


TS_WEIGHTED_AVG_SQL = """
WITH conc AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS c
  FROM events WHERE event_type = 'view' GROUP BY 1
),
flow AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         ROUND((AVG(value) + 100.0) * 1000000.0) / 1000000.0 AS q
  FROM events WHERE event_type = 'click' GROUP BY 1
),
j AS (
  SELECT CAST(floor(conc.b5 / 86400) * 86400 AS BIGINT) AS day,
         CAST(round(conc.c * flow.q * 1000000.0) AS BIGINT) AS cq_micros,
         CAST(round(flow.q * 1000000.0) AS BIGINT) AS q_micros
  FROM conc JOIN flow USING (b5)
)
SELECT day, COUNT(*) AS n_buckets,
       ROUND(CAST(SUM(cq_micros) AS DOUBLE) / SUM(q_micros) * 1000000.0) / 1000000.0
         AS flow_weighted_mean,
       ROUND(SUM(q_micros) / 1000000.0 * 1000000.0) / 1000000.0 AS total_flow
FROM j
GROUP BY day
ORDER BY day
"""


def ts_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness report per (event_type, day): samples
    received vs the 5-minute-grid expectation, the share of grid
    buckets covered, and the longest intra-day gap — the sensor-QA
    table every monitoring deployment publishes.

    One bucket agg + one day agg; the gap maximum runs as a keyed
    window lag per (type, day).  First/last days are reported against
    the full-day grid (288 buckets) like real QA reports do —
    deployment boundaries read as incomplete days by design."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5"),
    ).agg(F.count(F.lit(1)).alias("n_samples"))
    day = (F.floor(F.col("b5") / 86400) * 86400).cast("bigint").alias("day")
    w = Window.partitionBy("event_type", "day").orderBy("b5")
    gaps = b.select("event_type", "b5", "n_samples", day).withColumn(
        "gap_s", F.col("b5") - F.lag("b5").over(w)
    )
    return gaps.groupBy("event_type", "day").agg(
        F.sum("n_samples").alias("n_samples"),
        F.count(F.lit(1)).alias("n_buckets_covered"),
        _r6(F.count(F.lit(1)) / F.lit(288.0)).alias("grid_coverage"),
        F.max("gap_s").alias("max_gap_seconds"),
    )


TS_COMPLETENESS_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         COUNT(*) AS n_samples
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, b5, n_samples,
         CAST(floor(b5 / 86400) * 86400 AS BIGINT) AS day,
         b5 - LAG(b5) OVER (
           PARTITION BY event_type, CAST(floor(b5 / 86400) * 86400 AS BIGINT)
           ORDER BY b5
         ) AS gap_s
  FROM b
)
SELECT event_type, day,
       CAST(SUM(n_samples) AS BIGINT) AS n_samples,
       COUNT(*) AS n_buckets_covered,
       ROUND(COUNT(*) / 288.0 * 1000000.0) / 1000000.0 AS grid_coverage,
       MAX(gap_s) AS max_gap_seconds
FROM g
GROUP BY 1, 2
ORDER BY 1, 2
"""


def ts_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart x̄ control chart per event type: center line and ±3σ
    control limits computed from the 5-minute bucket means, then every
    bucket classified (in-control / above UCL / below LCL) — the SPC
    fault-detection staple that complements the IQR and seasonal
    detectors.

    Determinism: the center/limits derive from COUNT/SUM aggregates
    with the usual centered arithmetic (mean subtracted before the
    square sum, like ``ts_cross_corr``) and are 6-decimal rounded
    before the comparison, so the flag decisions replay exactly.
    Plan: one keyed bucket agg, one per-type stats agg broadcast back,
    one map-side classification — no windows."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
        .cast("bigint")
        .alias("b5"),
    ).agg(F.avg("value").alias("m"))
    mu0 = b.groupBy("event_type").agg(_r6(F.avg("m")).alias("mu0"))
    stats = (
        b.join(F.broadcast(mu0), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("mu0").alias("center"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("m") - F.col("mu0")) * (F.col("m") - F.col("mu0"))).alias("ss"),
        )
        .select(
            "event_type",
            "center",
            "n_buckets",
            _r6(F.sqrt(F.col("ss") / (F.col("n_buckets") - 1))).alias("sigma"),
        )
    )
    flagged = (
        b.join(F.broadcast(stats), "event_type")
        .withColumn("ucl", _r6(F.col("center") + 3 * F.col("sigma")))
        .withColumn("lcl", _r6(F.col("center") - 3 * F.col("sigma")))
        .withColumn("m_r", _r6(F.col("m")))
        .withColumn(
            "status",
            F.when(F.col("m_r") > F.col("ucl"), "above_ucl")
            .when(F.col("m_r") < F.col("lcl"), "below_lcl")
            .otherwise("in_control"),
        )
    )
    return flagged.groupBy("event_type", "status").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.first("center").alias("center"),
        F.first("ucl").alias("ucl"),
        F.first("lcl").alias("lcl"),
    )


TS_CONTROL_CHART_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         AVG(value) AS m
  FROM events GROUP BY 1, 2
),
mu0 AS (
  SELECT event_type, ROUND(AVG(m) * 1000000.0) / 1000000.0 AS mu0
  FROM b GROUP BY event_type
),
stats AS (
  SELECT b.event_type, MIN(mu0.mu0) AS center, COUNT(*) AS n_buckets,
         ROUND(sqrt(SUM((b.m - mu0.mu0) * (b.m - mu0.mu0)) / (COUNT(*) - 1))
               * 1000000.0) / 1000000.0 AS sigma
  FROM b JOIN mu0 USING (event_type)
  GROUP BY b.event_type
),
flagged AS (
  SELECT b.event_type,
         ROUND((s.center + 3 * s.sigma) * 1000000.0) / 1000000.0 AS ucl,
         ROUND((s.center - 3 * s.sigma) * 1000000.0) / 1000000.0 AS lcl,
         s.center,
         CASE
           WHEN ROUND(b.m * 1000000.0) / 1000000.0 > ROUND((s.center + 3 * s.sigma) * 1000000.0) / 1000000.0 THEN 'above_ucl'
           WHEN ROUND(b.m * 1000000.0) / 1000000.0 < ROUND((s.center - 3 * s.sigma) * 1000000.0) / 1000000.0 THEN 'below_lcl'
           ELSE 'in_control'
         END AS status
  FROM b JOIN stats s USING (event_type)
)
SELECT event_type, status, COUNT(*) AS n_buckets,
       MIN(center) AS center, MIN(ucl) AS ucl, MIN(lcl) AS lcl
FROM flagged
GROUP BY 1, 2
ORDER BY 1, 2
"""


def ts_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level behavioral statistics: the per-SESSION rollup the
    sessionizer's per-user summary skips — duration, size, and the
    corpus-level distribution (count, mean duration, p90 duration,
    mean events/session, single-event-session share).

    Plan: the same lag + running-sum session labeling as
    ``ts_sessionize`` (one keyed window per user), a per-(user,
    session) agg, then one global summary row — keyed shuffles only;
    the percentile is exact (swap ``approx_percentile`` at 100 TB as
    elsewhere)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    labeled = (
        ev.withColumn(
            "__new_session",
            F.when(
                epoch_seconds(F.col("ts"))
                - F.lag(epoch_seconds(F.col("ts"))).over(w)
                > 1800.0,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__session_no",
            F.sum("__new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per_session = labeled.groupBy("user_id", "__session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(epoch_seconds(F.col("ts"))) - F.min(epoch_seconds(F.col("ts")))
        ).alias("duration_s"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        _r6(F.avg("duration_s")).alias("mean_duration_s"),
        F.expr(
            "round(percentile(duration_s, 0.9) * 1000000.0) / 1000000.0"
        ).alias("p90_duration_s"),
        _r6(F.avg("n_events")).alias("mean_events_per_session"),
        _r6(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("single_event_share"),
    )


TS_SESSION_STATS_SQL = """
WITH labeled AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_no
  FROM labeled
),
per_session AS (
  SELECT user_id, session_no, COUNT(*) AS n_events,
         MAX(epoch(ts)) - MIN(epoch(ts)) AS duration_s
  FROM numbered GROUP BY 1, 2
)
SELECT COUNT(*) AS n_sessions,
       ROUND(AVG(duration_s) * 1000000.0) / 1000000.0 AS mean_duration_s,
       ROUND(quantile_cont(duration_s, 0.9) * 1000000.0) / 1000000.0 AS p90_duration_s,
       ROUND(AVG(CAST(n_events AS DOUBLE)) * 1000000.0) / 1000000.0 AS mean_events_per_session,
       ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0 AS single_event_share
FROM per_session
"""


def ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest as a query: per type, the mean absolute error
    of the Holt ONE-STEP forecast (level+trend at t predicting the
    bucket mean at t+1) against the naive last-value forecast — the
    MASE-style ratio every forecasting deployment monitors (<1 means
    the model beats persistence).

    Reuses the exact `ts_holt` recurrence (same α/β, same rounded
    inputs, so the oracle extends the same recursive CTE with a LEAD
    comparison); absolute errors quantized to integer micros before
    the sums, ratio at the end.

    r15 (guide §2.4 remove shuffles outright): the smoothing relation
    already carries the rounded bucket mean as ``value``, so the old
    second events scan + bucket re-aggregation + (event_type, b5)
    sort-merge join are gone — one keyed Python pass feeds the LEAD
    window directly (the window reuses the applyInPandas exchange)."""
    sm = _holt_sm(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("b5")
    hb = sm.select(
        "event_type",
        "b5",
        F.col("value").alias("m"),
        _r6(F.col("__level") + F.col("__trend")).alias("forecast_next"),
    )
    nxt = hb.withColumn("actual_next", F.lead("m").over(w)).filter(
        F.col("actual_next").isNotNull()
    )
    err = nxt.select(
        "event_type",
        F.round(F.abs(F.col("forecast_next") - F.col("actual_next")) * 1000000.0)
        .cast("bigint")
        .alias("holt_err_micros"),
        F.round(F.abs(F.col("m") - F.col("actual_next")) * 1000000.0)
        .cast("bigint")
        .alias("naive_err_micros"),
    )
    return err.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        (F.sum("holt_err_micros") / 1000000.0).alias("holt_mae_sum"),
        (F.sum("naive_err_micros") / 1000000.0).alias("naive_mae_sum"),
        _r6(
            F.sum("holt_err_micros") / F.sum("naive_err_micros")
        ).alias("mase_ratio"),
    )


TS_FORECAST_EVAL_SQL = """
WITH RECURSIVE b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS m
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, b5, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b5) AS rn
  FROM b
),
rec AS (
  SELECT event_type, b5, m, rn, m AS l, CAST(0.0 AS DOUBLE) AS bt
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b5, s.m, s.rn,
         0.5 * s.m + 0.5 * (r.l + r.bt),
         0.25 * ((0.5 * s.m + 0.5 * (r.l + r.bt)) - r.l) + 0.75 * r.bt
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
),
h AS (
  SELECT event_type, b5, m,
         ROUND(l * 1000000.0) / 1000000.0 AS level,
         ROUND((l + bt) * 1000000.0) / 1000000.0 AS forecast_next
  FROM rec
),
nxt AS (
  SELECT event_type, forecast_next, m,
         LEAD(m) OVER (PARTITION BY event_type ORDER BY b5) AS actual_next
  FROM h
),
err AS (
  SELECT event_type,
         CAST(round(ABS(forecast_next - actual_next) * 1000000.0) AS BIGINT) AS holt_err_micros,
         CAST(round(ABS(m - actual_next) * 1000000.0) AS BIGINT) AS naive_err_micros
  FROM nxt WHERE actual_next IS NOT NULL
)
SELECT event_type, COUNT(*) AS n_forecasts,
       SUM(holt_err_micros) / 1000000.0 AS holt_mae_sum,
       SUM(naive_err_micros) / 1000000.0 AS naive_mae_sum,
       ROUND(CAST(SUM(holt_err_micros) AS DOUBLE) / SUM(naive_err_micros) * 1000000.0) / 1000000.0 AS mase_ratio
FROM err
GROUP BY event_type
ORDER BY event_type
"""


def ts_weekly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal profile per type: mean/min/max value and sample
    count per (day-of-week, hour) cell — the heatmap table behind
    every monitoring dashboard's "when does this metric move" view
    (and the seasonal baseline the anomaly detectors difference
    against).

    Day-of-week comes from pure epoch arithmetic
    (floor(epoch/86400 + 4) % 7, 0 = Sunday; 1970-01-01 was a
    Thursday) instead of engine date functions, whose numbering
    conventions differ between Spark (1 = Sunday) and DuckDB
    (0 = Sunday).  One keyed hash-agg; embarrassingly parallel."""
    ev = _events(spark, sf_dir)
    es = epoch_seconds(F.col("ts"))
    return ev.groupBy(
        "event_type",
        (F.pmod(F.floor(es / 86400) + 4, F.lit(7))).cast("bigint").alias("dow"),
        (F.pmod(F.floor(es / 3600), F.lit(24))).cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.avg("value")).alias("mean_value"),
        _r6(F.min("value")).alias("min_value"),
        _r6(F.max("value")).alias("max_value"),
    )


TS_WEEKLY_PROFILE_SQL = """
SELECT event_type,
       CAST((((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7) + 7) % 7 AS BIGINT) AS dow,
       CAST(((CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24) + 24) % 24 AS BIGINT) AS hour,
       COUNT(*) AS n,
       ROUND(AVG(value) * 1000000.0) / 1000000.0 AS mean_value,
       ROUND(MIN(value) * 1000000.0) / 1000000.0 AS min_value,
       ROUND(MAX(value) * 1000000.0) / 1000000.0 AS max_value
FROM events
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between the
    'click' and 'view' event series over aligned DAILY bucket
    means — the co-movement monitor behind "are these two sensors
    still tracking each other?" dashboards (reference domain: paired
    wastewater sensors, types.py's multi-signal datasets).

    Scale/determinism design:
    - bucket means are quantized to integer MILLIS before any window
      arithmetic, so every windowed sum (Σx, Σxy, Σx², …) is exact
      bigint math — order-independent, hence cross-engine hashable
      (560e3² · 7 ≪ 2⁶³, no overflow at the data's value range);
    - the rolling window is an offset EXPLODE (7 slim rows per
      aligned day) + keyed re-aggregation on the anchor bucket —
      a keyed shuffle of an already-aggregated bounded-domain
      relation, NOT a single-partition global window, so the plan
      stays parallel at any raw-event scale;
    - only complete windows (n = 7) whose anchor is itself an
      aligned bucket are emitted, sidestepping edge-semantics
      divergence; corr guards zero variance to NULL explicitly."""
    ev = _events(spark, sf_dir)
    b = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 86400) * 86400).alias("b5"),
        )
        .agg(
            F.round(F.avg("value") * 1000.0).cast("bigint").alias("vm")
        )
    )
    x = b.filter(F.col("event_type") == "click").select(
        "b5", F.col("vm").alias("xm")
    )
    y = b.filter(F.col("event_type") == "view").select(
        "b5", F.col("vm").alias("ym")
    )
    aligned = x.join(y, "b5")
    contrib = aligned.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "b5",
        "xm",
        "ym",
    ).select(
        (F.col("b5") + F.col("off") * 86400).alias("anchor"), "xm", "ym"
    )
    w = contrib.groupBy("anchor").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("sx"),
        F.sum("ym").alias("sy"),
        F.sum(F.col("xm") * F.col("ym")).alias("sxy"),
        F.sum(F.col("xm") * F.col("xm")).alias("sxx"),
        F.sum(F.col("ym") * F.col("ym")).alias("syy"),
    )
    full = w.filter(F.col("n") == 7).join(
        aligned.select(F.col("b5").alias("anchor")), "anchor"
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    corr = F.when(
        (vx == 0) | (vy == 0), F.lit(None).cast("double")
    ).otherwise(
        _r6(num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))))
    )
    return full.select(
        F.col("anchor").alias("b5"), corr.alias("rolling_corr")
    )


TS_ROLLING_CORR_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS b5,
         CAST(ROUND(AVG(value) * 1000.0) AS BIGINT) AS vm
  FROM events
  WHERE event_type IN ('click', 'view')
  GROUP BY 1, 2
),
aligned AS (
  SELECT x.b5, x.vm AS xm, y.vm AS ym
  FROM (SELECT b5, vm FROM b WHERE event_type = 'click') x
  JOIN (SELECT b5, vm FROM b WHERE event_type = 'view') y USING (b5)
),
contrib AS (
  SELECT a.b5 + 86400 * off.o AS anchor, a.xm, a.ym
  FROM aligned a
  CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS o) off
),
w AS (
  SELECT anchor, COUNT(*) AS n,
         SUM(xm) AS sx, SUM(ym) AS sy, SUM(xm * ym) AS sxy,
         SUM(xm * xm) AS sxx, SUM(ym * ym) AS syy
  FROM contrib GROUP BY anchor
)
SELECT w.anchor AS b5,
       CASE WHEN (w.n * w.sxx - w.sx * w.sx) = 0
              OR (w.n * w.syy - w.sy * w.sy) = 0 THEN NULL
            ELSE ROUND(CAST(w.n * w.sxy - w.sx * w.sy AS DOUBLE)
                       / (sqrt(CAST(w.n * w.sxx - w.sx * w.sx AS DOUBLE))
                          * sqrt(CAST(w.n * w.syy - w.sy * w.sy AS DOUBLE)))
                       * 1000000.0) / 1000000.0
       END AS rolling_corr
FROM w
JOIN aligned a ON a.b5 = w.anchor
WHERE w.n = 7
ORDER BY b5
"""


def ts_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-state compaction: the most recent event per
    (user_id, event_type) key — the "current value" view every
    change-capture pipeline maintains (upsert-by-latest).

    One keyed ``max_by``-shaped aggregation: the struct-max trick
    carries the full payload through a single shuffle with map-side
    partial combine — no row_number window, no sort, no second scan.
    Ties on ts resolve to the highest event_id (struct comparison),
    deterministic on both engines."""
    ev = _events(spark, sf_dir)
    pick = F.max(
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.col("value"),
        )
    ).alias("p")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(pick)
        .select(
            "user_id",
            "event_type",
            F.col("p.event_id").alias("event_id"),
            F.col("p.ts").alias("ts"),
            F.col("p.value").alias("value"),
        )
    )


TS_LATEST_STATE_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1
ORDER BY user_id, event_type
"""


def rollup_partials(ev: DataFrame) -> DataFrame:
    """Mergeable 5-minute partial aggregates: (event_type, b5,
    sum_micros, n).  Values are quantized to integer micros BEFORE
    summing, so partials are exactly associative — merging any
    partition of the data reproduces the single-pass result bit for
    bit (the property incremental view maintenance needs)."""
    return ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 300) * 300).alias("b5"),
    ).agg(
        F.sum(F.round(F.col("value") * 1000000.0).cast("bigint")).alias(
            "sum_micros"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def merge_partials(*parts: DataFrame) -> DataFrame:
    """Combine partial-aggregate tables (same schema as
    ``rollup_partials``) into one: union + keyed re-sum.  This is the
    nightly "base ⊕ delta" merge of an incrementally-maintained
    rollup — the base table is never rescanned from raw events."""
    merged = parts[0]
    for p in parts[1:]:
        # by NAME: a partial table re-loaded from parquet may carry a
        # different column order, and positional unionAll would
        # silently add counts into sums
        merged = merged.unionByName(p)
    return merged.groupBy("event_type", "b5").agg(
        F.sum("sum_micros").alias("sum_micros"), F.sum("n").alias("n")
    )


def ts_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: incremental rollup maintenance — the corpus is
    split at a fixed cutoff into a "historical base" and a "new
    delta", each reduced to mergeable partials independently, then
    merged.  By partial associativity the result EQUALS the direct
    single-pass rollup (the oracle computes the direct form), which
    is exactly the invariant that lets a 100 TB pipeline maintain its
    rollups by touching only new data.

    Scale shape: each partial is one keyed aggregation with map-side
    combine over its (pruned, pushed-down) time slice; the merge
    shuffles only bucket rows, never raw events."""
    ev = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    base = rollup_partials(ev.filter(F.col("ts") < cutoff))
    delta = rollup_partials(ev.filter(F.col("ts") >= cutoff))
    merged = merge_partials(base, delta)
    return merged.select(
        "event_type",
        "b5",
        "n",
        _r6(F.col("sum_micros") / F.col("n") / 1000000.0).alias("avg_value"),
    )


TS_INCREMENTAL_ROLLUP_SQL = """
SELECT event_type,
       CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000.0 * 1000000.0) / 1000000.0 AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY event_type, b5
"""


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 24-slot daily seasonal)
    per event type over HOURLY bucket means — the seasonality-aware
    forecaster that completes the prediction family (EWMA → Holt →
    Holt-Winters), sized for the diurnal cycles the reference's
    monitoring domain lives on.

    Same exact-replay contract as ``ts_holt``: pre-rounded inputs,
    α=0.25 / β=0.125 / γ=0.25 exact binary fractions, zero-initialized
    seasonal state, and a DuckDB recursive CTE that carries the
    24-slot seasonal state as a LIST column and evaluates the
    identical float expressions — trajectories hash-match
    bit-for-bit.  Scale: parallel across keys, sequential within one
    (the documented applyInPandas recurrence exception); a single
    giant series would chunk like ``ewma_distributed``."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 3600) * 3600)
        .cast("bigint")
        .alias("b1h"),
    ).agg(_r6(F.avg("value")).alias("value"))
    sm = kernels.holt_winters(
        b,
        m=24,
        alpha=0.25,
        beta=0.125,
        gamma=0.25,
        ts_col="b1h",
        val_col="value",
        partition_cols=["event_type"],
    )
    return sm.select(
        "event_type",
        "b1h",
        _r6(F.col("__level")).alias("level"),
        _r6(F.col("__trend")).alias("trend"),
        _r6(F.col("__seasonal")).alias("seasonal"),
        _r6(F.col("__forecast_next")).alias("forecast_next"),
    )


TS_HOLT_WINTERS_SQL = """
WITH RECURSIVE b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b1h,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS m
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, b1h, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b1h) AS rn
  FROM b
),
rec AS (
  SELECT event_type, b1h, m, rn,
         m AS l, CAST(0.0 AS DOUBLE) AS bt, CAST(0.0 AS DOUBLE) AS st,
         list_transform(generate_series(1, 24),
                        k -> CAST(0.0 AS DOUBLE)) AS S
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b1h, s.m, s.rn,
         0.25 * (s.m - r.S[((s.rn - 1) % 24) + 1]) + 0.75 * (r.l + r.bt),
         0.125 * ((0.25 * (s.m - r.S[((s.rn - 1) % 24) + 1])
                   + 0.75 * (r.l + r.bt)) - r.l) + 0.875 * r.bt,
         0.25 * (s.m - r.l - r.bt) + 0.75 * r.S[((s.rn - 1) % 24) + 1],
         list_transform(generate_series(1, 24),
           k -> CASE WHEN k = ((s.rn - 1) % 24) + 1
                THEN 0.25 * (s.m - r.l - r.bt)
                     + 0.75 * r.S[((s.rn - 1) % 24) + 1]
                ELSE r.S[k] END)
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, b1h,
       ROUND(l * 1000000.0) / 1000000.0 AS level,
       ROUND(bt * 1000000.0) / 1000000.0 AS trend,
       ROUND(st * 1000000.0) / 1000000.0 AS seasonal,
       ROUND((l + bt + S[(rn % 24) + 1]) * 1000000.0) / 1000000.0
         AS forecast_next
FROM rec
ORDER BY event_type, b1h
"""


def ts_forecast_eval_hw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt vs Holt-Winters backtest on the HOURLY bucket means (the
    series with the diurnal cycle Holt-Winters exists for): per event
    type, the one-step-ahead absolute-error sums of both forecasters
    and their ratio — ``hw_vs_holt_ratio < 1`` means the 24-slot
    seasonal state earns its keep on this key.

    Both recurrences are the exact engine-replayable kernels already
    gated individually (``ts_holt`` α=0.5/β=0.25, ``ts_holt_winters``
    α=0.25/β=0.125/γ=0.25); errors are quantized to integer micros
    before the sums so the ratio is deterministic.  The first TWO
    seasons (48 hourly buckets) per key are burn-in and excluded:
    Holt-Winters starts from a zero seasonal state, so scoring its
    learning phase would measure initialization, not forecasting.
    Scale: parallel across keys, sequential within one (the
    documented applyInPandas recurrence exception).

    They run in ONE fused pass per key: one
    ``applyInPandas`` over the bucket relation puts each key's buckets
    in ``kernels.fold_order`` and calls ``kernels.holt_fold`` and
    ``kernels.holt_winters_fold`` on the same array — the folds the
    standalone ``kernels.holt`` / ``kernels.holt_winters`` kernels
    call, so the trajectories are theirs bit for bit — with no second
    bucket aggregation and no join; the LEAD/row_number window reuses
    the applyInPandas exchange."""
    ev = _events(spark, sf_dir)
    b = ev.groupBy(
        "event_type",
        (F.floor(epoch_seconds(F.col("ts")) / 3600) * 3600)
        .cast("bigint")
        .alias("b1h"),
    ).agg(_r6(F.avg("value")).alias("value"))

    def _fused(pdf):
        pdf = kernels.fold_order(pdf, "b1h", "value")
        (pdf["__holt_level"], pdf["__holt_trend"]), _ = kernels.holt_fold(
            pdf["value"], alpha=0.5, beta=0.25
        )
        (*_, pdf["__hw_forecast_next"]), _ = kernels.holt_winters_fold(
            pdf["value"], m=24, alpha=0.25, beta=0.125, gamma=0.25
        )
        return pdf

    fused = kernels.per_key(
        b,
        ["event_type"],
        _fused,
        "__holt_level double, __holt_trend double, __hw_forecast_next double",
    )
    w = Window.partitionBy("event_type").orderBy("b1h")
    j = (
        fused.select(
            "event_type",
            "b1h",
            F.col("value").alias("m"),
            _r6(F.col("__hw_forecast_next")).alias("hw_fc"),
            _r6(F.col("__holt_level") + F.col("__holt_trend")).alias(
                "holt_fc"
            ),
        )
        .withColumn("actual_next", F.lead("m").over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("actual_next").isNotNull() & (F.col("rn") > 48))
    )
    err = j.select(
        "event_type",
        F.round(F.abs(F.col("hw_fc") - F.col("actual_next")) * 1000000.0)
        .cast("bigint")
        .alias("hw_err_micros"),
        F.round(F.abs(F.col("holt_fc") - F.col("actual_next")) * 1000000.0)
        .cast("bigint")
        .alias("holt_err_micros"),
    )
    return err.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        (F.sum("hw_err_micros") / 1000000.0).alias("hw_mae_sum"),
        (F.sum("holt_err_micros") / 1000000.0).alias("holt_mae_sum"),
        _r6(
            F.sum("hw_err_micros") / F.sum("holt_err_micros")
        ).alias("hw_vs_holt_ratio"),
    )


TS_FORECAST_EVAL_HW_SQL = """
WITH RECURSIVE b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b1h,
         ROUND(AVG(value) * 1000000.0) / 1000000.0 AS m
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, b1h, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b1h) AS rn
  FROM b
),
rh AS (
  SELECT event_type, b1h, m, rn, m AS l, CAST(0.0 AS DOUBLE) AS bt
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b1h, s.m, s.rn,
         0.5 * s.m + 0.5 * (r.l + r.bt),
         0.25 * ((0.5 * s.m + 0.5 * (r.l + r.bt)) - r.l) + 0.75 * r.bt
  FROM rh r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
),
rw AS (
  SELECT event_type, b1h, m, rn,
         m AS l, CAST(0.0 AS DOUBLE) AS bt,
         list_transform(generate_series(1, 24),
                        k -> CAST(0.0 AS DOUBLE)) AS S
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.b1h, s.m, s.rn,
         0.25 * (s.m - r.S[((s.rn - 1) % 24) + 1]) + 0.75 * (r.l + r.bt),
         0.125 * ((0.25 * (s.m - r.S[((s.rn - 1) % 24) + 1])
                   + 0.75 * (r.l + r.bt)) - r.l) + 0.875 * r.bt,
         list_transform(generate_series(1, 24),
           k -> CASE WHEN k = ((s.rn - 1) % 24) + 1
                THEN 0.25 * (s.m - r.l - r.bt)
                     + 0.75 * r.S[((s.rn - 1) % 24) + 1]
                ELSE r.S[k] END)
  FROM rw r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
),
fc AS (
  SELECT h.event_type, h.b1h, h.m,
         ROUND((h.l + h.bt) * 1000000.0) / 1000000.0 AS holt_fc,
         ROUND((w.l + w.bt + w.S[(w.rn % 24) + 1]) * 1000000.0) / 1000000.0
           AS hw_fc
  FROM rh h JOIN rw w ON w.event_type = h.event_type AND w.rn = h.rn
),
nxt AS (
  SELECT event_type, holt_fc, hw_fc,
         LEAD(m) OVER (PARTITION BY event_type ORDER BY b1h) AS actual_next,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b1h) AS rn
  FROM fc
),
err AS (
  SELECT event_type,
         CAST(round(ABS(hw_fc - actual_next) * 1000000.0) AS BIGINT)
           AS hw_err_micros,
         CAST(round(ABS(holt_fc - actual_next) * 1000000.0) AS BIGINT)
           AS holt_err_micros
  FROM nxt WHERE actual_next IS NOT NULL AND rn > 48
)
SELECT event_type, COUNT(*) AS n_forecasts,
       SUM(hw_err_micros) / 1000000.0 AS hw_mae_sum,
       SUM(holt_err_micros) / 1000000.0 AS holt_mae_sum,
       ROUND(CAST(SUM(hw_err_micros) AS DOUBLE) / SUM(holt_err_micros)
             * 1000000.0) / 1000000.0 AS hw_vs_holt_ratio
FROM err
GROUP BY event_type
ORDER BY event_type
"""


def ts_attribution_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit
    of credit equally across the same user's clicks in the preceding
    hour; the output is the per-click credit ledger (how much revenue
    influence each touch accumulated) — the batch twin of
    ``streaming/attribution_stream.py``'s pairing.

    Plan: clicks ⋈ purchases is an EQUI join on user_id with the
    time-range as a post-filter (keyed shuffle, no nested loop —
    user_id equality carries the join), then two keyed aggs: per
    purchase (n_touches) and per click (credit sum).  Credit is
    round(1e6 / n_touches) micro-units per touch — deterministic
    integer arithmetic on both engines."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    # fractional epoch on BOTH engines: unix_timestamp would truncate
    # to seconds while DuckDB epoch() keeps micros — a 3600.4 s pair
    # would diverge at the window boundary
    pairs = purchases.join(
        clicks, F.col("cu") == F.col("user_id")
    ).filter(
        (F.col("cts") <= F.col("pts"))
        & (
            epoch_seconds(F.col("pts")) - epoch_seconds(F.col("cts"))
            <= 3600.0
        )
    )
    touches = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_touches")
    )
    credited = pairs.join(touches, "purchase_id").select(
        "click_id",
        "purchase_id",
        F.round(1000000.0 / F.col("n_touches")).cast("bigint").alias(
            "credit_micros"
        ),
    )
    return (
        credited.groupBy("click_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("credit_micros").alias("credit_micros"),
        )
    )


TS_ATTRIBUTION_SQL = """
WITH clicks AS (
  SELECT user_id AS cu, event_id AS click_id, ts AS cts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.purchase_id, c.click_id
  FROM purchases p JOIN clicks c ON c.cu = p.user_id
  WHERE c.cts <= p.pts AND epoch(p.pts) - epoch(c.cts) <= 3600
),
touches AS (
  SELECT purchase_id, COUNT(*) AS n_touches FROM pairs GROUP BY purchase_id
)
SELECT pr.click_id,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(ROUND(1000000.0 / t.n_touches) AS BIGINT)) AS BIGINT)
         AS credit_micros
FROM pairs pr JOIN touches t USING (purchase_id)
GROUP BY pr.click_id
ORDER BY pr.click_id
"""


def ts_event_trigrams(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Sequential pattern mining: the top-k most frequent 3-step
    event-type sequences within a user's click-stream (ordered by
    time, tie-broken by event_id) — the "what do users do next"
    episode table that extends the pairwise ``ts_event_transitions``.

    One keyed lag window per user (no global window), a hash count
    per trigram, distributed top-k via TakeOrderedAndProject.  Rank
    ties resolve lexicographically for engine stability."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = tri.orderBy(
        F.col("n").desc(), F.col("e1"), F.col("e2"), F.col("e3")
    ).limit(k)
    return top.select(
        "e1",
        "e2",
        "e3",
        "n",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("n").desc(), F.col("e1"), F.col("e2"), F.col("e3")
            )
        )
        .cast("bigint")
        .alias("rank"),
    )


TS_EVENT_TRIGRAMS_SQL = """
WITH seq AS (
  SELECT user_id,
         event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
),
tri AS (
  SELECT e1, e2, e3, COUNT(*) AS n
  FROM seq WHERE e3 IS NOT NULL
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT e1, e2, e3, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS rank
  FROM tri
)
SELECT e1, e2, e3, n, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
ORDER BY rank
"""


def ts_anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector ensemble: the three fault detectors the surface
    already ships (Shewhart 3σ control limits, Tukey IQR fences,
    robust z-score) voted per 5-minute bucket — consensus flagging is
    how monitoring deployments cut false-positive pages without
    losing real faults (a bucket flagged by ≥2 independent rules is
    worth waking someone up for).

    All three run on the SAME bucket-mean relation (one keyed agg,
    one scan), their thresholds derive from exact/percentile
    statistics broadcast back (each recipe identical to its standalone
    gate query), and every comparison is 6-dp-rounded on both sides —
    so the vote table is bit-stable.  Emits flagged buckets only.

    r15 (guide §5 cache the multiply-referenced intermediate): the
    bucket-mean relation feeds FOUR plan branches (mu0, the sigma
    stats, the percentile quantiles, and the flag join) — without a
    per-call persist each branch re-ran the events scan + agg."""
    ev = _events(spark, sf_dir)
    b = cache_intermediate(
        ev.groupBy(
            "event_type",
            (F.floor(epoch_seconds(F.col("ts")) / 300) * 300)
            .cast("bigint")
            .alias("b5"),
        ).agg(F.avg("value").alias("m"))
    )
    mu0 = b.groupBy("event_type").agg(_r6(F.avg("m")).alias("mu0"))
    stats = (
        b.join(F.broadcast(mu0), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("mu0").alias("center"),
            F.count(F.lit(1)).alias("nb"),
            F.sum(
                (F.col("m") - F.col("mu0")) * (F.col("m") - F.col("mu0"))
            ).alias("ss"),
        )
        .select(
            "event_type",
            "center",
            # single-bucket type: sigma undefined → 0 (never flags)
            F.when(F.col("nb") <= 1, F.lit(0.0)).otherwise(
                _r6(F.sqrt(F.col("ss") / (F.col("nb") - 1)))
            ).alias("sigma"),
        )
    )
    quants = b.groupBy("event_type").agg(
        F.expr("percentile(m, 0.5)").alias("med"),
        F.expr("percentile(m, 0.25)").alias("q1"),
        F.expr("percentile(m, 0.75)").alias("q3"),
    )
    j = (
        b.join(F.broadcast(stats), "event_type")
        .join(F.broadcast(quants), "event_type")
        .withColumn("m_r", _r6(F.col("m")))
    )
    iqr = F.col("q3") - F.col("q1")
    shewhart = (
        F.col("m_r") > _r6(F.col("center") + 3 * F.col("sigma"))
    ) | (F.col("m_r") < _r6(F.col("center") - 3 * F.col("sigma")))
    tukey = (F.col("m_r") > _r6(F.col("q3") + 1.5 * iqr)) | (
        F.col("m_r") < _r6(F.col("q1") - 1.5 * iqr)
    )
    robust = F.when(iqr == 0, F.lit(False)).otherwise(
        F.abs(_r6((F.col("m") - F.col("med")) / iqr)) > 2.0
    )
    out = j.select(
        "event_type",
        "b5",
        "m_r",
        shewhart.alias("shewhart"),
        tukey.alias("tukey"),
        robust.alias("robust_z"),
    ).withColumn(
        "votes",
        (
            F.col("shewhart").cast("int")
            + F.col("tukey").cast("int")
            + F.col("robust_z").cast("int")
        ).cast("bigint"),
    )
    return (
        out.filter(F.col("votes") >= 1)
        .select(
            "event_type",
            "b5",
            F.col("m_r").alias("bucket_mean"),
            "shewhart",
            "tukey",
            "robust_z",
            "votes",
        )
    )


TS_ANOMALY_CONSENSUS_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
         AVG(value) AS m
  FROM events GROUP BY 1, 2
),
mu0 AS (
  SELECT event_type, ROUND(AVG(m) * 1000000.0) / 1000000.0 AS mu0
  FROM b GROUP BY event_type
),
stats AS (
  SELECT b.event_type,
         MIN(mu0.mu0) AS center,
         CASE WHEN COUNT(*) <= 1 THEN 0.0
              ELSE ROUND(sqrt(SUM((b.m - mu0.mu0) * (b.m - mu0.mu0))
                         / (COUNT(*) - 1)) * 1000000.0) / 1000000.0
         END AS sigma
  FROM b JOIN mu0 USING (event_type)
  GROUP BY b.event_type
),
quants AS (
  SELECT event_type,
         quantile_cont(m, 0.5)  AS med,
         quantile_cont(m, 0.25) AS q1,
         quantile_cont(m, 0.75) AS q3
  FROM b GROUP BY event_type
),
j AS (
  SELECT b.event_type, b.b5, b.m,
         ROUND(b.m * 1000000.0) / 1000000.0 AS m_r,
         s.center, s.sigma, q.med, q.q1, q.q3
  FROM b JOIN stats s USING (event_type) JOIN quants q USING (event_type)
),
flags AS (
  SELECT event_type, b5, m_r,
         (m_r > ROUND((center + 3 * sigma) * 1000000.0) / 1000000.0
          OR m_r < ROUND((center - 3 * sigma) * 1000000.0) / 1000000.0)
           AS shewhart,
         (m_r > ROUND((q3 + 1.5 * (q3 - q1)) * 1000000.0) / 1000000.0
          OR m_r < ROUND((q1 - 1.5 * (q3 - q1)) * 1000000.0) / 1000000.0)
           AS tukey,
         CASE WHEN q3 = q1 THEN FALSE
              ELSE ABS(ROUND((m - med) / (q3 - q1) * 1000000.0)
                       / 1000000.0) > 2.0 END AS robust_z
  FROM j
)
SELECT event_type, b5, m_r AS bucket_mean, shewhart, tukey, robust_z,
       CAST(CAST(shewhart AS INT) + CAST(tukey AS INT)
            + CAST(robust_z AS INT) AS BIGINT) AS votes
FROM flags
WHERE CAST(shewhart AS INT) + CAST(tukey AS INT) + CAST(robust_z AS INT) >= 1
ORDER BY event_type, b5
"""


def ts_asof_tolerance(
    spark: SparkSession, sf_dir: str, tolerance_days: int = 8500
) -> DataFrame:
    """Tolerance-bounded as-of join (pandas ``merge_asof(...,
    tolerance=...)`` semantics): each event gets its user's most
    recent order date ONLY if that order falls within
    ``tolerance_days`` before the event — staleness-gated feature
    attachment (a 2-year-old "last order" is noise, not signal, to a
    next-purchase model).

    Backward as-of means the most recent match is the ONLY candidate:
    if it misses the tolerance window, every older order misses it
    too, so the gate is a post-join CASE on the attached date — the
    distributed as-of kernel (union + keyed LOCF window) is reused
    unchanged.  Output: (event_id, user_id, last_order_within_tol
    nullable, matched).

    The default tolerance is calibrated to the synthetic corpus
    (orders end 2001-08, events run in 2024, so per-event gaps span
    ~8,188-10,600 days): 8,500 days matches ~55-70% of events at
    every SF, exercising BOTH branches of the gate.

    Scale shape: identical to ``ts_asof_last_order`` (one keyed
    union-window pass, no extra shuffle for the gate).
    Reference analog: none (pure [EXT])."""
    from meteaudata_spark.ext.asof import asof_join_backward

    ev = _events(spark, sf_dir).select("event_id", "user_id", F.col("ts"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    joined = asof_join_backward(
        ev,
        orders,
        left_time="ts",
        right_time="o_orderdate",
        by=["user_id"],
        value_cols=["o_orderdate"],
    )
    within = F.col("o_orderdate").isNotNull() & (
        F.datediff(F.col("ts"), F.col("o_orderdate")) <= tolerance_days
    )
    return joined.select(
        "event_id",
        "user_id",
        F.when(within, F.col("o_orderdate")).alias("last_order_within_tol"),
        within.alias("matched"),
    )


TS_ASOF_TOLERANCE_SQL = """
WITH m AS (
  SELECT e.event_id, e.user_id, e.ts, MAX(o.o_orderdate) AS lo
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  GROUP BY e.event_id, e.user_id, e.ts
)
SELECT event_id, user_id,
       CASE WHEN lo IS NOT NULL
             AND date_diff('day', lo, CAST(ts AS DATE)) <= 8500
            THEN lo END AS last_order_within_tol,
       (lo IS NOT NULL
        AND date_diff('day', lo, CAST(ts AS DATE)) <= 8500) AS matched
FROM m
ORDER BY event_id
"""


def ts_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap DISTRIBUTION per event type — the completeness
    dashboard behind ``ts_detect_gaps``'s threshold alarm: instead of
    flagging gaps beyond one fence, histogram every consecutive gap
    into minute buckets (capped at 10+) so drifting cadence shows up
    before it trips the alarm.

    Gap arithmetic is pure integers: timestamps difference in
    microseconds, floor-divided to whole seconds, floor-divided to
    whole minutes, capped with LEAST — bit-identical across engines.

    Output: (event_type, gap_bucket_min 0..10, n_gaps,
    min_gap_sec, max_gap_sec).
    Scale shape: one keyed lag window per event type + one keyed
    hash-agg over the (type, bucket) pairs.
    Reference analog: none (pure [EXT])."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("event_type", F.col("ts"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_type")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the
            # cast binds the session's pinned UTC and the DIFFERENCE
            # is timezone-invariant regardless
            F.expr(
                "(unix_micros(cast(ts AS timestamp))"
                " - unix_micros(cast(prev_ts AS timestamp))) div 1000000"
            ).alias("gap_sec"),
        )
    )
    bucket = F.least(F.expr("gap_sec div 60"), F.lit(10))
    return (
        gaps.groupBy("event_type", bucket.alias("gap_bucket_min"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_sec").alias("min_gap_sec"),
            F.max("gap_sec").alias("max_gap_sec"),
        )
    )


TS_GAP_DISTRIBUTION_SQL = """
WITH g AS (
  SELECT event_type,
         date_diff('microsecond', LAG(ts) OVER w, ts) // 1000000 AS gap_sec
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_type)
),
b AS (
  SELECT event_type, LEAST(gap_sec // 60, 10) AS gap_bucket_min, gap_sec
  FROM g WHERE gap_sec IS NOT NULL
)
SELECT event_type, CAST(gap_bucket_min AS BIGINT) AS gap_bucket_min,
       COUNT(*) AS n_gaps,
       CAST(MIN(gap_sec) AS BIGINT) AS min_gap_sec,
       CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
FROM b
GROUP BY event_type, gap_bucket_min
ORDER BY event_type, gap_bucket_min
"""


def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength diagnostic (Hyndman & Athanasopoulos, FPP:
    ``F_s = max(0, 1 − Var(residual)/Var(seasonal+residual))``) per
    event type over the classical decomposition — the one number that
    says whether the diurnal profile is signal or noise, i.e. whether
    seasonal models (Holt-Winters, seasonal anomaly fences) apply to
    this series at all.

    Cross-engine determinism without trusting engine VAR(): the
    decompose output's 6-dp components quantize exactly to milli-unit
    INTEGERS (coarser than their own rounding, so no information
    loss); each variance numerator ``n·Σx² − (Σx)²`` is computed from
    those exact integer sums in double (same IEEE ops both sides),
    and only the final ratio rounds to micro-units.

    Output: (event_type, n_buckets, strength_micros).
    Scale shape: the decompose's shape + one keyed hash-agg.
    Reference analog: none (pure [EXT])."""
    dec = ts_seasonal_decompose(spark, sf_dir)
    q = dec.select(
        "event_type",
        F.round(F.col("residual") * 1000).cast("bigint").alias("r"),
        F.round((F.col("seasonal") + F.col("residual")) * 1000)
        .cast("bigint")
        .alias("sr"),
    )
    sums = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("r").alias("s_r"),
        F.sum(F.expr("r * r")).alias("s_r2"),
        F.sum("sr").alias("s_sr"),
        F.sum(F.expr("sr * sr")).alias("s_sr2"),
    )
    var_r = F.expr(
        "CAST(n_buckets AS DOUBLE) * CAST(s_r2 AS DOUBLE)"
        " - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE)"
    )
    var_sr = F.expr(
        "CAST(n_buckets AS DOUBLE) * CAST(s_sr2 AS DOUBLE)"
        " - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE)"
    )
    strength = F.greatest(
        F.lit(0.0), F.lit(1.0) - var_r / F.nullif(var_sr, F.lit(0.0))
    )
    return sums.select(
        "event_type",
        "n_buckets",
        F.round(strength * 1_000_000)
        .cast("bigint")
        .alias("strength_micros"),
    )


def _seasonal_strength_sql() -> str:
    inner = TS_SEASONAL_DECOMPOSE_SQL.strip()
    inner = inner[: inner.rindex("ORDER BY")]
    return f"""
WITH dec AS (
{inner}
),
q AS (
  SELECT event_type,
         CAST(ROUND(residual * 1000) AS BIGINT) AS r,
         CAST(ROUND((seasonal + residual) * 1000) AS BIGINT) AS sr
  FROM dec
),
sums AS (
  SELECT event_type, COUNT(*) AS n_buckets,
         SUM(r) AS s_r, SUM(r * r) AS s_r2,
         SUM(sr) AS s_sr, SUM(sr * sr) AS s_sr2
  FROM q GROUP BY event_type
)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(ROUND(GREATEST(0.0,
         1.0 - (CAST(n_buckets AS DOUBLE) * CAST(s_r2 AS DOUBLE)
                - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE))
             / NULLIF(CAST(n_buckets AS DOUBLE) * CAST(s_sr2 AS DOUBLE)
                - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE), 0.0)
       ) * 1000000) AS BIGINT) AS strength_micros
FROM sums
ORDER BY event_type
"""


TS_SEASONAL_STRENGTH_SQL = _seasonal_strength_sql()


def ts_downtime_report(
    spark: SparkSession, sf_dir: str, outage_sec: int = 120
) -> DataFrame:
    """Availability report per event type: outage count, longest
    outage, total downtime, and availability in basis points — the
    SLA rollup on top of the same integer gap stream
    ``ts_gap_distribution`` histograms (an outage is a gap longer
    than ``outage_sec``; downtime is the sum of those gaps).

    All arithmetic integer: gaps in whole seconds (micros floor-div),
    span = last−first event seconds, availability_bp =
    (span − downtime)·10000 div span.

    Output: (event_type, n_outages, longest_outage_sec,
    downtime_sec, span_sec, availability_bp).
    Scale shape: one keyed lag window + one keyed hash-agg.
    Reference analog: none (pure [EXT])."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("event_type", F.col("ts"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_type")
    gaps = ev.withColumn("prev_ts", F.lag("ts").over(w)).select(
        "event_type",
        "ts",
        F.expr(
            "(unix_micros(cast(ts AS timestamp))"
            " - unix_micros(cast(prev_ts AS timestamp))) div 1000000"
        ).alias("gap_sec"),
    )
    agg = gaps.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("gap_sec") > outage_sec, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outages"),
        F.coalesce(F.max(F.when(F.col("gap_sec") > outage_sec, F.col("gap_sec"))), F.lit(0))
        .cast("bigint")
        .alias("longest_outage_sec"),
        F.coalesce(
            F.sum(F.when(F.col("gap_sec") > outage_sec, F.col("gap_sec"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("downtime_sec"),
        F.expr(
            "(unix_micros(cast(max(ts) AS timestamp))"
            " - unix_micros(cast(min(ts) AS timestamp))) div 1000000"
        ).alias("span_sec"),
    )
    return agg.select(
        "event_type",
        "n_outages",
        "longest_outage_sec",
        "downtime_sec",
        "span_sec",
        # a single-event type has span 0 — vacuously fully available
        # (the NULLIF guard keeps ANSI mode from DIVIDE_BY_ZERO)
        F.coalesce(
            F.expr(
                "(span_sec - downtime_sec) * 10000 div nullif(span_sec, 0)"
            ),
            F.lit(10000),
        )
        .cast("bigint")
        .alias("availability_bp"),
    )


TS_DOWNTIME_REPORT_SQL = """
WITH g AS (
  SELECT event_type, ts,
         date_diff('microsecond', LAG(ts) OVER w, ts) // 1000000 AS gap_sec
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_type)
),
agg AS (
  SELECT event_type,
         SUM(CASE WHEN gap_sec > 120 THEN 1 ELSE 0 END) AS n_outages,
         COALESCE(MAX(CASE WHEN gap_sec > 120 THEN gap_sec END), 0)
           AS longest_outage_sec,
         COALESCE(SUM(CASE WHEN gap_sec > 120 THEN gap_sec END), 0)
           AS downtime_sec,
         date_diff('microsecond', MIN(ts), MAX(ts)) // 1000000 AS span_sec
  FROM g GROUP BY event_type
)
SELECT event_type,
       CAST(n_outages AS BIGINT) AS n_outages,
       CAST(longest_outage_sec AS BIGINT) AS longest_outage_sec,
       CAST(downtime_sec AS BIGINT) AS downtime_sec,
       CAST(span_sec AS BIGINT) AS span_sec,
       CAST(COALESCE((span_sec - downtime_sec) * 10000
              // NULLIF(span_sec, 0), 10000) AS BIGINT)
         AS availability_bp
FROM agg
ORDER BY event_type
"""


def ts_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst report per event type — hourly activity buckets
    whose count is ≥ 3× the mean of the trailing 24 ACTIVITY buckets
    (rows-based baseline: quiet hours produce no bucket, so the
    baseline is "recent activity", robust to gaps), with a 5-event
    minimum so an empty baseline can't promote noise.

    Pure integer predicate — ``cnt·24 ≥ 3·trailing_sum`` avoids any
    division; burst intensity is reported in basis points with the
    zero-baseline case NULL (a burst out of total silence has no
    finite ratio).

    Output: (event_type, n_buckets, n_bursts, max_intensity_bp,
    first_burst, last_burst).
    Scale shape: one keyed hash-agg to hourly buckets, then the lag
    window and report agg run on the BUCKET relation (≤ hours×types
    rows — tiny at any corpus size).  Reference analog: none ([EXT])."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    buckets = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-24, -1)
    )
    flagged = buckets.select(
        "event_type",
        "bucket_ts",
        "cnt",
        F.sum("cnt").over(w).alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
    ).withColumn(
        "is_burst",
        (F.col("n_prev") == 24)
        & (F.col("cnt") >= 5)
        & (F.col("cnt") * 24 >= 3 * F.col("trailing_sum")),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.col("is_burst").cast("bigint"))
            .cast("bigint")
            .alias("n_bursts"),
            F.max(
                F.when(
                    F.col("is_burst"),
                    F.expr(
                        "(cnt * 24 * 10000) div nullif(trailing_sum, 0)"
                    ),
                )
            )
            .cast("bigint")
            .alias("max_intensity_bp"),
            F.min(F.when(F.col("is_burst"), F.col("bucket_ts"))).alias(
                "first_burst"
            ),
            F.max(F.when(F.col("is_burst"), F.col("bucket_ts"))).alias(
                "last_burst"
            ),
        )
    )


TS_BURST_SQL = """
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         COUNT(*) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
flagged AS (
  SELECT event_type, bucket_ts, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trailing_sum,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
  FROM buckets
),
marked AS (
  SELECT *,
         (n_prev = 24 AND cnt >= 5 AND cnt * 24 >= 3 * trailing_sum)
           AS is_burst
  FROM flagged
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN is_burst THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bursts,
       CAST(MAX(CASE WHEN is_burst
                THEN (cnt * 24 * 10000) // NULLIF(trailing_sum, 0)
                END) AS BIGINT) AS max_intensity_bp,
       MIN(CASE WHEN is_burst THEN bucket_ts END) AS first_burst,
       MAX(CASE WHEN is_burst THEN bucket_ts END) AS last_burst
FROM marked GROUP BY event_type ORDER BY event_type
"""


# ----------------------------------------------------------------------
# dip/spike shape detection (MATCH_RECOGNIZE-style local patterns)


def dip_spike(
    df: DataFrame,
    partition_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    fence_bp: int = 2500,
) -> DataFrame:
    """Local V-shape detection — the simplest MATCH_RECOGNIZE pattern
    (``A down B up``) expressed as pure lag/lead windows: a point is a
    DIP when it sits more than ``fence_bp`` (basis points) below BOTH
    its neighbours in its series, a SPIKE when symmetric above.

    Determinism mechanics: values micro-quantize to BIGINT first and
    the fence compares via cross-multiplication against the
    neighbour's MAGNITUDE (``10000*cur < 10000*prev - fence*|prev|``),
    so the predicate is exact integer arithmetic in both engines AND
    stays meaningful for zero/negative series — the naive
    ``cur*10000 < prev*(10000-fence)`` form flips its inequality for
    negative neighbours and marks a flat all-negative series as both
    dip and spike everywhere.  For positive data the two forms are
    identical.  A zero neighbour degenerates to a strict compare
    (any strictly lower point dips vs 0).  Window order is (ts, id)
    so shared timestamps break ties identically.

    Returns the per-point frame with ``is_dip`` / ``is_spike`` and the
    neighbour-gap depth in micro-units (NULL at series edges).

    Scale shape: ONE window shuffle keyed by the series columns —
    partition by a high-cardinality series key (user × type), never a
    global order.  Everything else is map-side."""
    w = Window.partitionBy(*partition_cols).orderBy(ts_col, id_col)
    vm = F.round(F.col(value_col) * 1000000.0).cast("bigint")
    out = df.withColumn("__vm", vm).withColumn(
        "__pv", F.lag("__vm").over(w)
    ).withColumn("__nv", F.lead("__vm").over(w))
    cur10k = F.col("__vm") * 10000
    pv, nv = F.col("__pv"), F.col("__nv")
    is_dip = (cur10k < pv * 10000 - fence_bp * F.abs(pv)) & (
        cur10k < nv * 10000 - fence_bp * F.abs(nv)
    )
    is_spike = (cur10k > pv * 10000 + fence_bp * F.abs(pv)) & (
        cur10k > nv * 10000 + fence_bp * F.abs(nv)
    )
    depth = F.least("__pv", "__nv") - F.col("__vm")
    height = F.col("__vm") - F.greatest("__pv", "__nv")
    return (
        out.withColumn("is_dip", F.coalesce(is_dip, F.lit(False)))
        .withColumn("is_spike", F.coalesce(is_spike, F.lit(False)))
        .withColumn("dip_depth_micros",
                    F.when(is_dip, depth).cast("bigint"))
        .withColumn("spike_height_micros",
                    F.when(is_spike, height).cast("bigint"))
    )


def ts_dip_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 25%-fence dip/spike profile of every (user, type)
    event series, rolled up per event type — interior points, pattern
    counts, and the deepest excursion in micro-units."""
    ev = _events(spark, sf_dir)
    marked = dip_spike(ev, ["user_id", "event_type"])
    interior = F.col("__pv").isNotNull() & F.col("__nv").isNotNull()
    return (
        marked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(interior.cast("bigint")).alias("n_interior"),
            F.sum(F.col("is_dip").cast("bigint")).alias("n_dips"),
            F.sum(F.col("is_spike").cast("bigint")).alias("n_spikes"),
            F.max("dip_depth_micros").alias("max_dip_depth_micros"),
            F.max("spike_height_micros").alias("max_spike_height_micros"),
        )
    )


TS_DIP_SPIKE_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
  FROM events
),
w AS (
  SELECT *,
         lag(vm) OVER win AS pv, lead(vm) OVER win AS nv
  FROM e
  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
m AS (
  SELECT event_type,
         (pv IS NOT NULL AND nv IS NOT NULL) AS interior,
         COALESCE(vm * 10000 < pv * 10000 - 2500 * ABS(pv)
                  AND vm * 10000 < nv * 10000 - 2500 * ABS(nv),
                  FALSE) AS is_dip,
         COALESCE(vm * 10000 > pv * 10000 + 2500 * ABS(pv)
                  AND vm * 10000 > nv * 10000 + 2500 * ABS(nv),
                  FALSE) AS is_spike,
         LEAST(pv, nv) - vm AS depth,
         vm - GREATEST(pv, nv) AS height
  FROM w
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN interior THEN 1 ELSE 0 END) AS BIGINT)
         AS n_interior,
       CAST(SUM(CASE WHEN is_dip THEN 1 ELSE 0 END) AS BIGINT) AS n_dips,
       CAST(SUM(CASE WHEN is_spike THEN 1 ELSE 0 END) AS BIGINT)
         AS n_spikes,
       CAST(MAX(CASE WHEN is_dip THEN depth END) AS BIGINT)
         AS max_dip_depth_micros,
       CAST(MAX(CASE WHEN is_spike THEN height END) AS BIGINT)
         AS max_spike_height_micros
FROM m GROUP BY event_type ORDER BY event_type
"""


# ----------------------------------------------------------------------
# OHLC candle bars (open/high/low/close rollup)
# ----------------------------------------------------------------------
def ts_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type: open = first value of the
    day, close = last, plus high/low/volume — the downsampled bar
    representation charting and monitoring systems store instead of
    raw ticks (same family as ``ts_m4_downsample``, but keyed to the
    calendar grid and carrying trade-count volume).

    First/last are ``min_by``/``max_by`` over a zero-padded
    (epoch-micros, event_id) string key — a total order both engines
    compare identically (``arg_min``/``arg_max`` on the DuckDB side),
    so ties at the same microsecond resolve to the same row.  This is
    ONE hash aggregate: no window, no sort, no self-join — first/last
    as aggregates is the scale-correct shape (a window ordered by time
    would re-sort every group).

    Scale shape: map-side partial min_by/max_by fold per (type, day),
    one keyed shuffle.  Reference analog: none (pure [EXT])."""
    ev = _events(spark, sf_dir)
    # ts is TIMESTAMP_NTZ in the parquet; unix_micros needs TIMESTAMP
    # (session TZ is pinned UTC, so the cast is the identity epoch)
    key = F.concat(
        F.lpad(
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            20,
            "0",
        ),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "value",
            key.alias("k"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )
    )


TS_OHLC_SQL = """
WITH keyed AS (
  SELECT event_type, date_trunc('day', ts) AS day, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
         || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
  FROM events
)
SELECT event_type, day,
       arg_min(value, k) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, k) AS close,
       CAST(COUNT(*) AS BIGINT) AS volume
FROM keyed
GROUP BY event_type, day
ORDER BY event_type, day
"""
