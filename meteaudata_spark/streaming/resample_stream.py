"""Structured Streaming analogs of the batch time-series operators
(SURVEY §2.8 — absent in the reference; the natural Spark extension).

The batch resample kernel (``operators/kernels.py:resample_mean``) maps
onto a watermarked tumbling-window aggregation; late data is handled
by the watermark instead of the batch spine join (a stream has no
"final" spine — emitted windows ARE the spine, and empty windows
simply never materialize).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteaudata_spark.functions.freq import to_spark_interval
from meteaudata_spark.operators.kernels import nan_to_null


def stream_resample_mean(
    stream_df: DataFrame,
    freq: str,
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming tumbling-window mean: the streaming analog of the
    reference's resample operator.

    Returns an unbounded DataFrame suitable for ``writeStream`` in
    append mode (watermark closes windows).  NaNs are normalized to
    null so the mean skips them, matching the batch/pandas semantics.
    """
    interval = to_spark_interval(freq)
    clean = nan_to_null(stream_df, val_col)
    grouped = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            *list(partition_cols),
            F.window(F.col(ts_col), interval).alias("__w"),
        )
        .agg(F.avg(clean).alias(val_col))
    )
    return grouped.select(
        *list(partition_cols),
        F.col("__w.start").alias(ts_col),
        F.col(val_col),
    )


def stream_sliding_mean(
    stream_df: DataFrame,
    window: str,
    slide: str,
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
    val_col: str = "value",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Sliding (hopping) window mean: each event contributes to
    ``window/slide`` overlapping windows.  The smoothing analog for
    streams — a streaming moving average with explicit window
    semantics instead of row frames (streams have no stable row
    order to frame over)."""
    w = to_spark_interval(window)
    s = to_spark_interval(slide)
    clean = nan_to_null(stream_df, val_col)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            *list(partition_cols),
            F.window(F.col(ts_col), w, s).alias("__w"),
        )
        .agg(F.avg(clean).alias(val_col), F.count(clean).alias("n"))
        .select(
            *list(partition_cols),
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            val_col,
            "n",
        )
    )


def stream_dedup(
    stream_df: DataFrame,
    keys: Sequence[str],
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins;
    duplicate state is dropped once older than the watermark, so
    state size is bounded by (dup rate × watermark horizon) instead
    of the whole stream — the property that makes exact dedup viable
    on an unbounded 100 TB/day feed.

    ``dropDuplicatesWithinWatermark`` (Spark ≥ 3.5) deduplicates
    events whose keys collide within the watermark delay even when
    their event-times differ — the right semantics for at-least-once
    sources, where retransmissions carry fresh timestamps.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "timestamp",
    right_ts: str = "timestamp",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi-join with a time-interval predicate:
    right events within ``[left_ts - upper, left_ts - lower]`` (the
    streaming as-of/enrichment pattern, e.g. joining clicks to the
    impression that preceded them).

    Both sides are watermarked so Spark can bound the join state;
    the range condition tells it exactly how much of each side to
    retain.  Inner join only — outer stream-stream joins need the
    same bounds plus null emission at watermark expiry, which Spark
    also supports but downstream consumers rarely want here.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lcol = F.col(f"__l.{left_ts}")
    rcol = F.col(f"__r.{right_ts}")
    cond = (
        (F.col(f"__l.{on}") == F.col(f"__r.{on}"))
        & (rcol >= lcol - F.expr(f"INTERVAL {upper}"))
        & (rcol <= lcol - F.expr(f"INTERVAL {lower}"))
    )
    return lw.alias("__l").join(rw.alias("__r"), cond, "inner")
