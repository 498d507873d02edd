"""Pure DataFrame→DataFrame time-series kernels.

Each kernel is a declarative Catalyst plan builder parameterized by

    ts_col         — the time/index column
    val_col        — the value column
    partition_cols — optional grouping columns (e.g. series_name,
                     event_type): with them every window/aggregation
                     parallelizes across groups; without them the
                     kernel operates on one global series (single
                     window partition — inherent to the semantics).

The meteaudata-protocol operators (resample, interpolate, …) wrap
these kernels for the two-column TimeSeries plane; the [EXT] analytics
reuse the same kernels over long multi-series tables, where the
partition columns are what makes the plan scale: a 100 TB events
table with 1M distinct series keys spreads across all executors, and
no kernel below ever collects to the driver.

The window, resample, gap and outlier kernels are built-in
`pyspark.sql.functions` only, so their plans stay inside whole-stage
codegen.  The sequential smoothing recurrences cannot be: ``ewma``,
``ewma_distributed``, ``holt`` and ``holt_winters`` run one Python fold
per key group through an Arrow-batched ``applyInPandas``
(:func:`per_key`) — parallel across keys, sequential within one.
"""

from __future__ import annotations

from collections import deque
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from meteaudata_spark.functions.epoch import epoch_seconds, seconds_to_ts
from meteaudata_spark.functions.freq import to_seconds, to_spark_interval


def _win(partition_cols: Sequence[str], order_col: str):
    w = Window.orderBy(order_col)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
    return w


def nan_to_null(df: DataFrame, val_col: str):
    """``val_col`` with NaN mapped to null, so ``avg``/``count``/``last``
    skip it as pandas does (``skipna``); non-float columns pass
    through."""
    col = F.col(val_col)
    if dict(df.dtypes)[val_col] in ("double", "float"):
        return F.when(F.isnan(col), F.lit(None)).otherwise(col)
    return col


# ----------------------------------------------------------------------
# resample: tumbling-window mean with an empty-bucket spine
# ----------------------------------------------------------------------
def resample_mean(
    df: DataFrame,
    freq: str,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
    origin: str = "start_day",
    exact_micros: int = 0,
) -> DataFrame:
    """Tumbling-window mean matching ``pandas.Series.resample(freq).mean()``.

    ``exact_micros`` (e.g. ``2**20``): compute the mean as
    ``Σ round(value·Q) / (Q·n)`` — the per-value quantization makes the
    partial sums exact BIGINTs, so the bucket mean is INDEPENDENT of
    aggregation order and bit-identical across engines.  Float ``avg``
    (the default, pandas-parity) differs by ulps between engines when
    partial-sum order differs, which flips 6-dp rounding whenever a
    downstream value lands on a half boundary — observed at sf1 in
    ``ts_interpolate`` (9 of 1.3M interpolated rows).  The gate
    queries pass this; the library surface keeps pandas semantics
    (quantization error 2⁻²¹ ≪ the oracle's comparison tolerance,
    but parity is parity).

    Semantics (reference resample.py:47):
      * buckets are ``[origin + k·freq, origin + (k+1)·freq)`` where the
        default origin is midnight of the day of the FIRST point
        (pandas ``origin='start_day'``) — NOT epoch-aligned, so we
        compute the origin inside the plan from ``min(ts)``;
      * output rows are labeled with the bucket left edge;
      * every bucket between the first and last observed bucket is
        emitted — empty buckets become null rows (the spine join);
      * ``avg`` skips nulls, matching pandas ``mean(skipna=True)``.

    Scale notes: the per-bucket aggregation is a single hash
    aggregation with map-side partial combine.  Empty buckets are
    gap-filled AFTER the aggregation: a ``lag`` window over the (small,
    one-row-per-bucket) agg output finds each gap and ``sequence`` +
    ``posexplode`` emits the missing null buckets inline — so the fact
    table is scanned exactly twice (origin + agg), every subplan
    appears once, and nothing needs ``persist`` (an earlier version
    cached a bounds table and leaked the cache entry per call).
    """
    step_sec = to_seconds(freq)
    interval = to_spark_interval(freq)
    pcols = list(partition_cols)
    ts_dtype = dict(df.dtypes)[ts_col]

    try:
        _tz_utc = df.sparkSession.conf.get(
            "spark.sql.session.timeZone", ""
        ) in ("UTC", "Etc/UTC", "GMT", "+00:00")
    except Exception:  # noqa: BLE001 - conservative: keep the old path
        _tz_utc = False
    if (
        origin == "start_day"
        and _tz_utc
        and step_sec == int(step_sec)
        and step_sec > 0
        and 86400 % int(step_sec) == 0
    ):
        # r15 fast path (guide §2.4 — one fewer full scan): when the
        # step divides a day, the bucket edge is ORIGIN-INDEPENDENT.
        # origin = midnight of the first ts, so epoch(origin) = k·step
        # for integer k, and
        #   origin + floor((ts−origin)/step)·step
        #     = (floor(ts/step − k) + k)·step = floor(ts/step)·step
        # exactly (floor(x−k) = floor(x)−k for integer k).  The
        # per-group bounds aggregation and its join back are dropped —
        # the fact table is scanned ONCE; output buckets/labels are
        # bit-identical (pandas parity preserved: same left edges).
        joined = df
        bucket_expr = seconds_to_ts(
            F.floor(epoch_seconds(F.col(ts_col)) / F.lit(step_sec))
            * F.lit(step_sec),
            ts_dtype,
        )
    else:
        # origin per group: midnight of the first timestamp (tiny — one
        # row per group — so the join back is a broadcast)
        grp = df.groupBy(*pcols) if pcols else df.groupBy()
        bounds = grp.agg(F.date_trunc("day", F.min(ts_col)).alias("__origin"))

        if pcols:
            joined = df.join(F.broadcast(bounds), on=pcols, how="inner")
        else:
            joined = df.crossJoin(F.broadcast(bounds))

        # bucket left edge: origin + floor((ts-origin)/step)*step,
        # computed in epoch seconds (microsecond-exact; NTZ-safe via
        # epoch_seconds), cast back to the input's timestamp flavor
        # (NTZ in → NTZ out)
        off = epoch_seconds(F.col(ts_col)) - epoch_seconds(F.col("__origin"))
        bucket_expr = seconds_to_ts(
            epoch_seconds(F.col("__origin"))
            + F.floor(off / F.lit(step_sec)) * F.lit(step_sec),
            ts_dtype,
        )
    # avg must skip NaN like pandas: NaN→null before aggregating
    clean_val = nan_to_null(df, val_col)

    if exact_micros:
        q = F.lit(float(exact_micros))
        mean_expr = (
            F.sum(F.round(clean_val * q).cast("bigint")).cast("double")
            / (q * F.count(clean_val))
        )
        agg = (
            joined.withColumn("__bucket", bucket_expr)
            .groupBy(*pcols, "__bucket")
            .agg(
                F.when(F.count(clean_val) > 0, mean_expr).alias(val_col)
            )
        )
    else:
        agg = (
            joined.withColumn("__bucket", bucket_expr)
            .groupBy(*pcols, "__bucket")
            .agg(F.avg(clean_val).alias(val_col))
        )

    # gap-fill: for each observed bucket, explode the range
    # (prev_bucket+step .. bucket]; every element but the last is an
    # empty bucket (null value).  The window runs over the already-
    # aggregated rows — O(time-range / freq), independent of row count.
    w = (Window.partitionBy(*pcols) if pcols else Window.partitionBy()).orderBy(
        "__bucket"
    )
    step_iv = F.expr(f"INTERVAL {interval}")
    # lag in its own projection: a generator (explode) may not contain
    # a window expression directly
    with_from = agg.withColumn(
        "__from",
        F.coalesce(F.lag("__bucket").over(w) + step_iv, F.col("__bucket")),
    )
    filled = with_from.withColumn(
        "__fill", F.explode(F.sequence(F.col("__from"), F.col("__bucket"), step_iv))
    )
    return filled.select(
        *pcols,
        F.col("__fill").alias(ts_col),
        F.when(F.col("__fill") == F.col("__bucket"), F.col(val_col)).alias(val_col),
    )


# ----------------------------------------------------------------------
# linear interpolation (pandas method="linear": POSITION-weighted)
# ----------------------------------------------------------------------
def interpolate_linear(
    df: DataFrame,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Fill nulls like ``pandas.Series.interpolate(method="linear")``.

    pandas' "linear" method treats values as equally spaced — the
    weight is the ROW POSITION, not the timestamp (SURVEY §7.3).  With
    the default ``limit_direction="forward"``: interior nulls are
    linearly interpolated, leading nulls stay null, trailing nulls are
    filled with the last valid value.

    Pure window-function composition (no UDF): two cumulative passes
    (last non-null looking back, and the same over DESCENDING order
    for the forward neighbor) plus the position ratio.  Both passes
    use RUNNING frames (unboundedPreceding→currentRow), which Spark
    evaluates incrementally in O(n); a currentRow→unboundedFollowing
    frame would be recomputed per row — O(n²) per partition — and
    measured 50× slower on a 43k-row series.  With ``partition_cols``
    every group is an independent window partition and the whole
    thing parallelizes.
    """
    pcols = list(partition_cols)
    w_all = _win(pcols, ts_col)
    w_back = w_all.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # forward neighbor = backward pass over reversed sort order
    w_fwd_rev = (
        (Window.partitionBy(*pcols) if pcols else Window)
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    v = F.col(val_col)
    is_valid = v.isNotNull() & ~F.isnan(v) if dict(df.dtypes)[val_col] in ("double", "float") else v.isNotNull()
    valid_val = F.when(is_valid, v)
    valid_pos = F.when(is_valid, F.col("__pos"))

    # one DataFrame call per window level: each call re-analyses the
    # whole (often deep) input plan
    out = df.withColumn("__pos", F.row_number().over(w_all)).withColumns(
        {
            "__prev": F.last(valid_val, ignorenulls=True).over(w_back),
            "__prev_pos": F.last(valid_pos, ignorenulls=True).over(w_back),
            "__next": F.last(valid_val, ignorenulls=True).over(w_fwd_rev),
            "__next_pos": F.last(valid_pos, ignorenulls=True).over(w_fwd_rev),
        }
    )
    filled = (
        F.when(is_valid, v)
        .when(F.col("__prev").isNull(), F.lit(None))  # leading nulls stay
        .when(F.col("__next").isNull(), F.col("__prev"))  # trailing → ffill
        .otherwise(
            F.col("__prev")
            + (F.col("__next") - F.col("__prev"))
            * (F.col("__pos") - F.col("__prev_pos"))
            / (F.col("__next_pos") - F.col("__prev_pos"))
        )
    )
    return out.select(*pcols, ts_col, filled.alias(val_col))


# ----------------------------------------------------------------------
# masked range replacement
# ----------------------------------------------------------------------
def replace_ranges(
    df: DataFrame,
    index_pairs: Sequence[Sequence],
    replace_with=None,
    ts_col: str = "timestamp",
    val_col: str = "value",
) -> DataFrame:
    """Set ``value`` wherever ``ts`` falls in any [start, end] pair
    (inclusive both ends, matching pandas label slicing —
    reference replace.py:51-57).  An empty ``index_pairs`` is a no-op
    (pandas semantics: nothing selected, nothing replaced)."""
    if not index_pairs:
        return df
    cond = None
    for pair in index_pairs:
        if len(pair) != 2:
            raise ValueError(
                f"Each pair of indices must contain 2 values (start, end); "
                f"received {pair}."
            )
        start, end = pair
        c = F.col(ts_col).between(F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp"))
        cond = c if cond is None else (cond | c)
    fill = F.lit(None).cast("double") if replace_with is None or (
        isinstance(replace_with, float) and replace_with != replace_with
    ) else F.lit(replace_with)
    return df.withColumn(
        val_col, F.when(cond, fill).otherwise(F.col(val_col))
    )


# ----------------------------------------------------------------------
# dedup (ProcessingType.REMOVE_DUPLICATES — declared by the reference
# enum but never shipped; we ship it, SURVEY §2.6)
# ----------------------------------------------------------------------
def drop_duplicate_timestamps(
    df: DataFrame,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
    keep: str = "first",
    order_col: Optional[str] = None,
) -> DataFrame:
    """Keep one row per (partition, timestamp).

    ``keep="first"`` matches pandas ``~index.duplicated(keep='first')``;
    implemented as a window row_number filter (one shuffle on the group
    key; map-side safe under AQE).

    PRECONDITION (pandas-parity caveat): without ``order_col`` the
    tiebreaker is ``monotonically_increasing_id()``, which reflects
    original row order only while the input has NOT been shuffled
    (straight off a scan / ingest).  After joins or aggregations the
    kept row is nondeterministic — pass ``order_col`` (a stable ordinal
    captured at ingest, e.g. a ``row_number`` stamped before the
    shuffle) wherever exact pandas parity matters.
    """
    pcols = list(partition_cols)
    tie = F.col(order_col) if order_col is not None else F.monotonically_increasing_id()
    w = Window.partitionBy(*pcols, ts_col).orderBy(
        tie if keep == "first" else tie.desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ----------------------------------------------------------------------
# rolling-window smoothing (ProcessingType.SMOOTHING — declared by the
# reference enum, never shipped; we ship it)
# ----------------------------------------------------------------------
def rolling_mean(
    df: DataFrame,
    window_rows: int,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Trailing moving average over ``window_rows`` rows (current row
    inclusive), null-skipping — matches
    ``pandas.rolling(window_rows, min_periods=1).mean()``."""
    w = _win(list(partition_cols), ts_col).rowsBetween(
        -(window_rows - 1), Window.currentRow
    )
    return df.withColumn(val_col, F.avg(nan_to_null(df, val_col)).over(w))


def locf(
    df: DataFrame,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Last-observation-carried-forward: fill nulls with the most
    recent non-null value, like ``pandas.Series.ffill()``.  Leading
    nulls stay null.

    One ``last(ignorenulls)`` over a RUNNING frame — incremental O(n)
    per partition, parallel across ``partition_cols`` groups (same
    frame discipline as ``interpolate_linear``; a following-frame
    variant would be O(n²)).
    """
    pcols = list(partition_cols)
    w = _win(pcols, ts_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        val_col, F.last(nan_to_null(df, val_col), ignorenulls=True).over(w)
    )


# ----------------------------------------------------------------------
# gap detection (ProcessingType.FAULT_DETECTION application)
# ----------------------------------------------------------------------
def detect_gaps(
    df: DataFrame,
    max_gap_seconds: float,
    ts_col: str = "timestamp",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Rows (partition..., gap_start, gap_end, gap_seconds) for every
    consecutive-point spacing above ``max_gap_seconds`` — the sensor-
    dropout detector.  One sort per key group via lag()."""
    pcols = list(partition_cols)
    w = _win(pcols, ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    delta = epoch_seconds(F.col(ts_col)) - epoch_seconds(prev)
    return (
        df.select(*pcols, F.col(ts_col), prev.alias("__prev"), delta.alias("__delta"))
        .filter(F.col("__delta") > max_gap_seconds)
        .select(
            *pcols,
            F.col("__prev").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            F.col("__delta").alias("gap_seconds"),
        )
    )


# ----------------------------------------------------------------------
# previous-point prediction view
# ----------------------------------------------------------------------
def shift_index(
    df: DataFrame,
    freq: str,
    steps: int = 1,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Shift the index forward by ``steps × freq`` — the honest
    "prediction" view of the reference's predict_previous_point
    (prediction.py:45 copies data; the shift happens at plot time,
    types.py:435-448)."""
    interval = to_spark_interval(freq)
    shifted = F.col(ts_col)
    for _ in range(steps):
        shifted = shifted + F.expr(f"INTERVAL {interval}")
    return df.withColumn(ts_col, shifted)


# ----------------------------------------------------------------------
# multi-series alignment + row-wise aggregation (long layout)
# ----------------------------------------------------------------------
def aligned_agg(
    df_long: DataFrame,
    agg: str = "avg",
    ts_col: str = "timestamp",
    val_col: str = "value",
    series_col: str = "series_name",
) -> DataFrame:
    """Row-wise aggregate across series aligned on the index.

    The reference's ``pd.concat(axis=1).mean(axis=1)`` (average.py:61)
    is, in long layout, just a groupBy on the timestamp: outer
    alignment is implicit (absent points simply contribute no row) and
    null-skipping matches pandas ``skipna=True``.  One shuffle on the
    timestamp; partial aggregation map-side.
    """
    fn = {"avg": F.avg, "mean": F.avg, "sum": F.sum, "min": F.min,
          "max": F.max, "count": F.count}[agg]
    return df_long.groupBy(ts_col).agg(
        fn(nan_to_null(df_long, val_col)).alias(val_col)
    )


# ----------------------------------------------------------------------
# sequential smoothing recurrences (EWMA, Holt, Holt-Winters): one fold
# each, taking the carried state and returning outputs + new state.
# The batch kernels, the gate rows and the stateful streams all call
# them on a key's rows in ``fold_order``, so a stream equals its batch
# twin and a re-run equals the first run.
# ----------------------------------------------------------------------
def fold_order(pdf: pd.DataFrame, ts_col: str, val_col: str) -> pd.DataFrame:
    """A key's rows by ``(ts_col, val_col)``, stable, NaN/null last
    within a timestamp — ``timeseries.collect_sorted``'s order, so rows
    that share a timestamp fold the same way whatever order the
    executors sent them in."""
    return pdf.sort_values([ts_col, val_col], kind="stable").reset_index(
        drop=True
    )


def per_key(
    df: DataFrame,
    partition_cols: Sequence[str],
    fn,
    extra: str = "",
) -> DataFrame:
    """``fn`` (pandas → pandas) over each key group's rows through one
    ``applyInPandas``; the output schema is ``df``'s columns plus the
    ``extra`` DDL fields.  Without ``partition_cols`` the whole frame is
    one group, keyed by a real constant column (an integer literal in
    groupBy parses as an ordinal) that ``fn`` never sees."""
    schema = df.schema
    if extra:
        schema = StructType(schema.fields + StructType.fromDDL(extra).fields)
    if partition_cols:
        return df.groupBy(*partition_cols).applyInPandas(fn, schema)
    return (
        df.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(lambda pdf: fn(pdf.drop(columns="__g")), schema)
    )


def ewma_fold(xs, alpha: float, seed: float = np.nan):
    """pandas ``ewm(alpha, adjust=False, ignore_na=True).mean()`` of
    ``xs`` continued from ``seed``, the mean after the rows before
    ``xs`` (NaN: none yet).  Returns ``(means, seed to carry)``.  The
    seed goes in as a prepended observation that is dropped from the
    output: with ``adjust=False`` the mean is the recurrence's whole
    state, so this reproduces the uninterrupted run bit for bit."""
    xs = np.asarray(xs, dtype=float)
    seeded = not np.isnan(seed)
    if seeded:
        xs = np.concatenate(([seed], xs))
    means = pd.Series(xs).ewm(alpha=alpha, adjust=False, ignore_na=True).mean()
    means = means.to_numpy()
    if seeded:
        means = means[1:]
    return means, (means[-1] if len(means) else seed)


def holt_fold(xs, alpha: float, beta: float, level=0.0, trend=0.0, seeded=False):
    """Holt's level/trend recurrence over ``xs`` from the carried
    ``(level, trend, seeded)``; the first row of an unseeded fold sets
    l = x, b = 0.  Returns ``((levels, trends), (level, trend,
    seeded))``.  A NaN observation makes the state NaN from there on."""
    levels, trends = np.empty(len(xs)), np.empty(len(xs))
    for i, x in enumerate(np.asarray(xs, dtype=float).tolist()):
        if seeded:
            prev_l = level
            level = alpha * x + (1 - alpha) * (level + trend)
            trend = beta * (level - prev_l) + (1 - beta) * trend
        else:
            level, trend, seeded = x, 0.0, True
        levels[i], trends[i] = level, trend
    return (levels, trends), (level, trend, seeded)


def holt_winters_fold(
    xs, m: int, alpha: float, beta: float, gamma: float,
    level=0.0, trend=0.0, seeded=False, season=None,
):
    """Additive Holt-Winters over ``xs`` from the carried ``(level,
    trend, seeded, season)``.  ``season`` holds the ``m`` seasonal
    slots, the next row's slot first (``None``: the zero cold start).
    Returns ``((levels, trends, seasonals, forecasts), (level, trend,
    seeded, season))``; the forecast is l + b + the next row's slot
    after the update."""
    season = deque([0.0] * m if season is None else season)
    levels, trends, seas, fcst = (np.empty(len(xs)) for _ in range(4))
    for i, x in enumerate(np.asarray(xs, dtype=float).tolist()):
        s_old = season.popleft()
        if seeded:
            s_new = gamma * (x - level - trend) + (1 - gamma) * s_old
            prev_l = level
            level = alpha * (x - s_old) + (1 - alpha) * (level + trend)
            trend = beta * (level - prev_l) + (1 - beta) * trend
        else:
            level, trend, seeded, s_new = x, 0.0, True, s_old
        season.append(s_new)
        levels[i], trends[i], seas[i] = level, trend, s_new
        fcst[i] = level + trend + season[0]
    return (levels, trends, seas, fcst), (level, trend, seeded, list(season))


def ewma(
    df: DataFrame,
    alpha: float = 0.3,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Exponentially weighted moving average per key group, matching
    pandas ``ewm(alpha, adjust=False, ignore_na=True).mean()`` over
    each key's rows in :func:`fold_order`.

    EWMA is a sequential recurrence (e_t = α·x_t + (1−α)·e_{t−1}),
    which no window frame expresses without numerically exploding
    (the closed form needs (1−α)^(−t) factors).  So it runs as
    :func:`ewma_fold` inside :func:`per_key`'s ``applyInPandas`` —
    parallel across keys, sequential within one (inherent to the
    operator).  For one series too big for a task,
    :func:`ewma_distributed` implements the chunk + boundary-carry
    decomposition.  The runnable streaming twin is
    ``streaming/stateful.py:stream_ewma_state``: the same fold with
    its mean carried across micro-batches, equal to this kernel over
    the same rows."""

    def kernel(pdf):
        pdf = fold_order(pdf, ts_col, val_col)
        pdf[val_col] = ewma_fold(pdf[val_col], alpha)[0]
        return pdf

    return per_key(df, partition_cols, kernel)


def detect_outliers_iqr(
    df: DataFrame,
    k: float = 1.5,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """IQR outlier indicator: 1.0 where value falls outside
    [q1 − k·IQR, q3 + k·IQR] of its key group, else 0.0 (null stays
    null).  Quantile fences, not z-scores: exact percentiles are
    sort-based and engine-deterministic where stddev's unordered
    float sum is not, and the fences are robust to the outliers
    themselves.  Plan: one exact-percentile aggregation per group
    (tiny result) broadcast back onto the stream — the fact data is
    never shuffled."""
    pcols = list(partition_cols)
    grp = df.groupBy(*pcols) if pcols else df.groupBy()
    fences = grp.agg(
        F.expr(f"percentile({val_col}, 0.25)").alias("__q1"),
        F.expr(f"percentile({val_col}, 0.75)").alias("__q3"),
    ).select(
        *pcols,
        (F.col("__q1") - k * (F.col("__q3") - F.col("__q1"))).alias("__lo"),
        (F.col("__q3") + k * (F.col("__q3") - F.col("__q1"))).alias("__hi"),
    )
    joined = (
        df.join(F.broadcast(fences), on=pcols, how="inner")
        if pcols
        else df.crossJoin(F.broadcast(fences))
    )
    flag = (
        F.when(F.col(val_col).isNull() | F.isnan(F.col(val_col)), F.lit(None))
        .when(
            (F.col(val_col) < F.col("__lo")) | (F.col(val_col) > F.col("__hi")),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
    )
    return joined.select(*pcols, ts_col, flag.alias(val_col))


def ewma_distributed(
    df: DataFrame,
    alpha: float = 0.3,
    chunk_seconds: float = 86400.0,
    ts_col: str = "timestamp",
    val_col: str = "value",
) -> DataFrame:
    """``ewma`` for ONE series too large for a single task — the
    boundary-carry decomposition the plain kernel's docstring
    promises.

    The recurrence is linear in its seed, so a chunk's EWMA is

        e_t = e0_t + (1−α)^{j_t} · s        (j_t = non-null count
                                             so far in the chunk)

    with e0 the zero-seed chunk EWMA and s the carried EWMA entering
    the chunk.  pandas' adjust=False seeding (first observation IS
    the mean) falls out by defining the first chunk's incoming seed
    as the first observation itself.

    Stages, all executor-side:
      A. per-chunk zero-seed EWMA (:func:`ewma_fold` from seed 0.0
         over the chunk's rows in :func:`fold_order`) + non-null
         prefix counts — chunks run in parallel (chunk length is the
         task bound);
      B. chunk-stats table (one row per chunk): closing zero-seed
         mean, non-null count, first value — the seed recurrence
         s_k = e0L_k + (1−α)^{n_k}·s_{k−1} folds over this TINY
         table in one single-group pandas pass (no driver collect);
      C. seeds broadcast back; the final value is a pure column
         expression.  Differential-tested against the plain kernel.
    """
    chunked = df.withColumn(
        "__chunk", F.floor(epoch_seconds(F.col(ts_col)) / F.lit(chunk_seconds))
    )

    # A: zero-seed EWMA + prefix counts per chunk
    def local_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = fold_order(pdf, ts_col, val_col)
        vals = pdf[val_col].to_numpy(dtype=float)
        pdf["__e0"] = ewma_fold(vals, alpha, seed=0.0)[0]
        pdf["__j"] = np.cumsum(~np.isnan(vals))
        return pdf

    local = per_key(chunked, ["__chunk"], local_pass, "__e0 double, __j bigint")

    # B: chunk-stats + sequential seed fold over the tiny table.  The
    # zero-seed mean changes only at observations, so every row holding
    # the chunk's largest j carries its closing mean, and the first
    # observation is the one observed row with j == 1 (the Arrow return
    # path surfaces NaN as NULL, and isnan(NULL) is NULL: guard both).
    v = F.col(val_col)
    stats = local.groupBy("__chunk").agg(
        F.max_by("__e0", "__j").alias("__e0_last"),
        F.max("__j").alias("__n"),
        F.max(F.when(v.isNotNull() & ~F.isnan(v) & (F.col("__j") == 1), v)).alias(
            "__first_val"
        ),
    )

    def seed_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__chunk").reset_index(drop=True)
        seeds = np.empty(len(pdf))
        boot = np.zeros(len(pdf), dtype=bool)
        s = np.nan  # no seed until the first observation exists
        for i, (fv, n, e0_last) in enumerate(
            zip(pdf["__first_val"], pdf["__n"], pdf["__e0_last"])
        ):
            if np.isnan(s) and not pd.isna(fv):
                # this chunk holds the global first observation: it
                # bootstraps its own seed (pandas: first obs IS the mean)
                s, boot[i] = float(fv), True
            seeds[i] = s  # seed ENTERING this chunk
            if not np.isnan(s) and n > 0:
                s = e0_last + (1 - alpha) ** int(n) * s
        pdf["__seed"] = seeds
        pdf["__boot"] = boot
        return pdf

    seeds = per_key(stats, (), seed_pass, "__seed double, __boot boolean").select(
        "__chunk", "__seed", "__boot"
    )

    # C: correction.  The formula covers j == 0 naturally (e0 = 0,
    # (1−α)^0·s = s — the carried mean, matching pandas at NaN rows
    # across chunk boundaries).  A NULL seed means the chunk precedes
    # the first global observation entirely — those rows stay null.
    has_seed = F.col("__seed").isNotNull() & ~F.isnan(F.col("__seed"))
    # in the bootstrap chunk, rows before its first observation
    # (j == 0) predate the seed and stay null — everywhere else j == 0
    # rows carry the incoming mean, matching pandas across boundaries
    out_val = F.when(
        has_seed & ~(F.col("__boot") & (F.col("__j") == 0)),
        F.col("__e0") + F.pow(F.lit(1 - alpha), F.col("__j")) * F.col("__seed"),
    )
    return (
        local.join(F.broadcast(seeds), "__chunk")
        .select(*[c for c in df.columns if c != val_col], out_val.alias(val_col))
    )


def holt(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Holt double-exponential smoothing per key group: level and
    trend recurrences

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    with l_1 = x_1, b_1 = 0 (:func:`holt_fold` over each key's rows in
    :func:`fold_order`).  Like :func:`ewma` this is a sequential
    recurrence (the documented applyInPandas exception): parallel
    across keys, sequential within one.  Pick α, β as exact binary
    fractions (0.5, 0.25, …) when a cross-engine oracle replays the
    recurrence — then both engines evaluate identical float ops.
    Adds ``__level`` and ``__trend`` columns; the streaming twin is
    ``streaming/stateful.py:stream_holt_state``."""

    def kernel(pdf):
        pdf = fold_order(pdf, ts_col, val_col)
        (pdf["__level"], pdf["__trend"]), _ = holt_fold(
            pdf[val_col], alpha, beta
        )
        return pdf

    return per_key(df, partition_cols, kernel, "__level double, __trend double")


def holt_winters(
    df: DataFrame,
    m: int = 24,
    alpha: float = 0.25,
    beta: float = 0.125,
    gamma: float = 0.25,
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Additive Holt-Winters triple-exponential smoothing per key
    group: level, trend, and an m-slot seasonal state

        s_old = S[i mod m]                     (0-initialized)
        l_t = α·(x_t − s_old) + (1−α)·(l + b)
        b_t = β·(l_t − l) + (1−β)·b
        s_t = γ·(x_t − l − b) + (1−γ)·s_old    (previous l, b)
        S[i mod m] ← s_t

    with l_1 = x_1, b_1 = 0, S ≡ 0 (the fully deterministic cold
    start — the first season learns the profile from zero), folded by
    :func:`holt_winters_fold` over each key's rows in
    :func:`fold_order`.  Like :func:`holt`, sequential within a key /
    parallel across keys, and α, β, γ must be exact binary fractions
    when a cross-engine oracle replays the recurrence.  Adds
    ``__level``, ``__trend``, ``__seasonal``, and ``__forecast_next``
    (= l + b + next seasonal slot AFTER the update)."""

    def kernel(pdf):
        pdf = fold_order(pdf, ts_col, val_col)
        (
            pdf["__level"],
            pdf["__trend"],
            pdf["__seasonal"],
            pdf["__forecast_next"],
        ), _ = holt_winters_fold(pdf[val_col], m, alpha, beta, gamma)
        return pdf

    return per_key(
        df,
        partition_cols,
        kernel,
        "__level double, __trend double, __seasonal double, "
        "__forecast_next double",
    )
