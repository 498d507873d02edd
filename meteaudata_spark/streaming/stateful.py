"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.8 — the extension point for operators Spark's built-in
windowed aggs can't express).

``stream_running_stats``: per-key exponentially-less-naive running
statistics (count / mean / M2 via Welford) carried across micro-
batches in GroupState — the streaming analog of a cumulative
per-series statistics operator, and the template for stateful
gap-filling or online anomaly scoring.

``stream_ewma_state`` / ``stream_holt_state``: the streaming twins of
``kernels.ewma`` / ``kernels.holt``.  They hold no recurrence of their
own: each micro-batch calls the kernel's fold (``kernels.ewma_fold``,
``kernels.holt_fold``) on the key's rows in ``kernels.fold_order``,
continued from the state carried in GroupState."""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from meteaudata_spark.operators import kernels

_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_total", LongType()),
        StructField("mean", DoubleType()),
        StructField("variance", DoubleType()),
        StructField("batch_n", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)


def _update_running_stats(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, mean, m2 = state.get
    else:
        n, mean, m2 = 0, 0.0, 0.0
    batch_n = 0
    for pdf in pdfs:
        for v in pdf["value"].dropna():
            n += 1
            batch_n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
    state.update((n, mean, m2))
    variance = m2 / (n - 1) if n > 1 else 0.0
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "n_total": [n],
            "mean": [mean],
            "variance": [variance],
            "batch_n": [batch_n],
        }
    )


def stream_running_stats(
    stream_df: DataFrame, key_col: str = "event_type", val_col: str = "value"
) -> DataFrame:
    """Per-key Welford running stats carried across micro-batches.

    Output (update mode): one row per key per batch with cumulative
    count/mean/variance.  State is O(1) per key — three doubles — so
    key cardinality, not stream length, bounds memory."""
    from pyspark.sql import functions as F

    renamed = stream_df.select(
        F.col(key_col).alias("key"), F.col(val_col).alias("value")
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _update_running_stats,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EWMA_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [StructField("last", DoubleType()), StructField("seeded", LongType())]
)


def stream_ewma_state(
    stream_df: DataFrame,
    alpha: float = 0.5,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-key EWMA carried across micro-batches on the EXECUTABLE
    stateful API (``applyInPandasWithState``) — the runtime
    counterpart of ``transform_state.stream_ewma``, whose
    ``transformWithState`` protocol needs protobuf this environment
    lacks.  Each micro-batch runs ``kernels.ewma_fold`` (pandas
    ``ewm(alpha, adjust=False, ignore_na=True)``) over the key's rows
    in ``kernels.fold_order``, continued from the mean carried in
    state, so when micro-batches arrive in event-time order the output
    equals ``kernels.ewma`` over the same rows exactly: a NaN or null
    value carries the mean, and the first observation seeds it.  One
    double of state per key (``seeded`` = 1 once a mean exists).
    Emits every event with its smoothed value (append)."""

    def update(key, pdfs, state):
        last, seeded = state.get if state.exists else (0.0, 0)
        pdf = _rows_in_fold_order(pdfs)
        means, last = kernels.ewma_fold(
            pdf["value"], alpha, last if seeded else np.nan
        )
        if not np.isnan(last):
            state.update((last, 1))
        yield pd.DataFrame(
            {"key": key[0], "ts": pdf["ts"], "value": pdf["value"], "ewma": means}
        )

    return _per_key_state(
        stream_df, key_col, ts_col, val_col, update,
        _EWMA_OUT_SCHEMA, _EWMA_STATE_SCHEMA,
    )


_HOLT_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_next", DoubleType()),
    ]
)

_HOLT_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("seeded", LongType()),
    ]
)


def stream_holt_state(
    stream_df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-key Holt double-exponential smoothing carried across
    micro-batches — the ONLINE FORECASTER: every arriving event emits
    its smoothed level, trend, and one-step forecast (level + trend),
    with two doubles of state per key.  Each micro-batch runs
    ``kernels.holt_fold`` (l₁ = x₁, b₁ = 0) over the key's rows in
    ``kernels.fold_order`` from the carried state, so it equals
    ``kernels.holt`` over the same rows when micro-batches arrive in
    event-time order."""

    def update(key, pdfs, state):
        level, trend, seeded = state.get if state.exists else (0.0, 0.0, 0)
        pdf = _rows_in_fold_order(pdfs)
        (levels, trends), (level, trend, seeded) = kernels.holt_fold(
            pdf["value"], alpha, beta, level, trend, bool(seeded)
        )
        state.update((level, trend, int(seeded)))
        out = pd.DataFrame(
            {"key": key[0], "ts": pdf["ts"], "value": pdf["value"],
             "level": levels, "trend": trends}
        )
        out["forecast_next"] = out["level"] + out["trend"]
        yield out

    return _per_key_state(
        stream_df, key_col, ts_col, val_col, update,
        _HOLT_OUT_SCHEMA, _HOLT_STATE_SCHEMA,
    )


def _rows_in_fold_order(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """One key's rows of a micro-batch: every Arrow chunk concatenated
    FIRST, then put in ``kernels.fold_order`` (sorting each chunk on
    its own would fold in an arrival-dependent order)."""
    return kernels.fold_order(
        pd.concat(list(pdfs), ignore_index=True), "ts", "value"
    )


def _per_key_state(
    stream_df, key_col, ts_col, val_col, update, out_schema, state_schema
) -> DataFrame:
    """``update`` per key over ``(key, ts: long, value: double)`` with
    ``applyInPandasWithState`` in append mode."""
    from pyspark.sql import functions as F

    renamed = stream_df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(val_col).cast("double").alias("value"),
    )
    return renamed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
