"""Univariate transform functions (the reference's operator set, plus
the SORTING / REMOVE_DUPLICATES ops its enum declares but never ships).

Every function follows the Signal transform protocol
(``signal.SignalTransformFunctionProtocol``): takes
``list[TimeSeries]``, returns ``list[(TimeSeries, [ProcessingStep])]``
with outputs named ``{signal}_{SUFFIX}`` — version numbers are
assigned by ``Signal.process`` on registration.

Reference parity targets:
  resample              — reference processing_steps/univariate/resample.py:12-51
  linear_interpolation  — .../interpolate.py:12-52
  replace_ranges        — .../replace.py:14-61
  predict_previous_point— .../prediction.py:12-51
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteaudata_spark.metadata import (
    FunctionInfo,
    Parameters,
    ProcessingStep,
    ProcessingType,
)
from meteaudata_spark.functions.epoch import epoch_seconds
from meteaudata_spark.naming import split_full_name
from meteaudata_spark.operators import kernels
from meteaudata_spark.timeseries import TimeSeries

_REFERENCE_URL = "www.github.com/modelEAU/meteaudata"

_TIME_INDEX_TYPES = ("DatetimeIndex", "TimedeltaIndex")


def _require_time_index(ts: TimeSeries) -> None:
    if ts.index_metadata.type not in _TIME_INDEX_TYPES:
        raise IndexError(
            f"Series {ts.name} has index type {ts.index_metadata.type}. "
            "Please provide either pd.DatetimeIndex or pd.TimedeltaIndex"
        )


def _outputs(
    input_series: list[TimeSeries],
    step: ProcessingStep,
    build: Callable[[DataFrame], DataFrame],
    dtype: Optional[str] = None,
    frequency: Optional[str] = None,
    time_index: bool = True,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """One output per input series: ``build(ts.df)`` named
    ``{signal}_{step.suffix}``, with the input's index metadata
    (``frequency`` replaces its frequency when given) and ``dtype``
    (``None`` keeps the input's).  ``time_index`` requires a
    Datetime/Timedelta index first."""
    outputs = []
    for ts in input_series:
        if time_index:
            _require_time_index(ts)
        meta = ts.index_metadata.model_copy(deep=True)
        if frequency is not None:
            meta.frequency = frequency
        signal_part, _ = split_full_name(ts.name)
        out = TimeSeries(
            df=build(ts.df),
            index_metadata=meta,
            values_dtype=dtype or ts.values_dtype,
            name=f"{signal_part}_{step.suffix}",
        )
        outputs.append((out, [step]))
    return outputs


def _make_step(
    ptype: ProcessingType,
    description: str,
    fname: str,
    suffix: str,
    inputs: list[str],
    parameters: Optional[Parameters] = None,
    step_distance: int = 0,
    func: Any = None,
) -> ProcessingStep:
    info = FunctionInfo(
        name=fname, version="0.1", author="meteaudata-spark",
        reference=_REFERENCE_URL,
    )
    if func is not None:
        info.capture_source(func)
    return ProcessingStep(
        type=ptype,
        description=description,
        run_datetime=datetime.datetime.now(),
        requires_calibration=False,
        function_info=info,
        parameters=parameters,
        step_distance=step_distance,
        suffix=suffix,
        input_series_names=inputs,
    )


def resample(
    input_series: list[TimeSeries], frequency: str, *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Tumbling-window mean at ``frequency`` (pandas offset alias)."""
    step = _make_step(
        ProcessingType.RESAMPLING,
        "A simple processing function that resamples a series to a given frequency",
        "resample",
        "RESAMPLED",
        [ts.name for ts in input_series],
        Parameters(frequency=frequency),
        func=resample,
    )
    return _outputs(
        input_series, step, lambda df: kernels.resample_mean(df, frequency),
        dtype="float64", frequency=frequency,
    )


def linear_interpolation(
    input_series: list[TimeSeries], *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Fill gaps like ``pandas.interpolate(method="linear")``."""
    step = _make_step(
        ProcessingType.GAP_FILLING,
        "A simple processing function that linearly interpolates a series",
        "linear interpolation",
        "LIN-INT",
        [ts.name for ts in input_series],
        Parameters(),
        func=linear_interpolation,
    )
    return _outputs(input_series, step, kernels.interpolate_linear)


def forward_fill(
    input_series: list[TimeSeries], *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Fill gaps by carrying the last observation forward
    (``pandas.Series.ffill()`` — the second GAP_FILLING strategy next
    to linear interpolation)."""
    step = _make_step(
        ProcessingType.GAP_FILLING,
        "A processing function that forward-fills missing values",
        "forward fill",
        "FFILL",
        [ts.name for ts in input_series],
        Parameters(),
        func=forward_fill,
    )
    return _outputs(input_series, step, kernels.locf)


def replace_ranges(
    input_series: list[TimeSeries],
    index_pairs: Sequence[Sequence[Any]],
    reason: str,
    replace_with: float = float("nan"),
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Replace values in [start, end] label ranges (inclusive both ends)."""
    replace_repr = (
        str(replace_with)
        if isinstance(replace_with, float) and np.isnan(replace_with)
        else replace_with
    )
    step = _make_step(
        ProcessingType.FILTERING,
        "A function for replacing ranges of values with another (fixed) value.",
        "replace_ranges",
        "REPLACED-RANGES",
        [ts.name for ts in input_series],
        Parameters(
            index_pairs=[list(p) for p in index_pairs],
            reason=reason,
            replace_with=replace_repr,
        ),
        func=replace_ranges,
    )
    return _outputs(
        input_series, step,
        lambda df: kernels.replace_ranges(df, index_pairs, replace_with),
        time_index=False,
    )


def predict_previous_point(
    input_series: list[TimeSeries], *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Previous-point forecast: data is stored unchanged with
    ``step_distance=1`` (exact reference parity — prediction.py:45);
    the shifted view is available via ``TimeSeries``+
    ``kernels.shift_index`` at presentation time."""
    step = _make_step(
        ProcessingType.PREDICTION,
        "A simple processing function that predicts the next point in a series using the last point",
        "Previous point prediction",
        "PREV-PRED",
        [ts.name for ts in input_series],
        Parameters(),
        step_distance=1,
        func=predict_previous_point,
    )
    return _outputs(input_series, step, lambda df: df)


def moving_average(
    input_series: list[TimeSeries], window: int = 5, *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Trailing moving-average smoothing — ships the reference's
    declared-but-unimplemented ProcessingType.SMOOTHING
    (types.py:186)."""
    step = _make_step(
        ProcessingType.SMOOTHING,
        f"Trailing moving average over {window} points",
        "moving_average",
        "SMOOTH",
        [ts.name for ts in input_series],
        Parameters(window=window),
        func=moving_average,
    )
    return _outputs(
        input_series, step, lambda df: kernels.rolling_mean(df, window),
        dtype="float64",
    )


def detect_gaps(
    input_series: list[TimeSeries],
    max_gap: str = "15min",
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Gap/dropout detection (ProcessingType.FAULT_DETECTION,
    types.py:191): output series marks each point with 1.0 when the
    spacing from the previous point exceeds ``max_gap``, else 0.0 —
    a fault-indicator series that flows through the normal lineage."""
    from pyspark.sql import Window as W

    from meteaudata_spark.functions.freq import to_seconds

    gap_sec = to_seconds(max_gap)
    step = _make_step(
        ProcessingType.FAULT_DETECTION,
        f"Flags points arriving more than {max_gap} after their predecessor",
        "detect_gaps",
        "GAP-FLAG",
        [ts.name for ts in input_series],
        Parameters(max_gap=max_gap),
        func=detect_gaps,
    )
    delta = epoch_seconds(F.col("timestamp")) - epoch_seconds(
        F.lag(F.col("timestamp")).over(W.orderBy("timestamp"))
    )
    flag = F.when(delta > gap_sec, 1.0).otherwise(0.0).alias("value")
    return _outputs(
        input_series, step, lambda df: df.select("timestamp", flag),
        dtype="float64",
    )


def transform_values(
    input_series: list[TimeSeries],
    expression: str,
    suffix: str = "TRANS",
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Scalar map over values — the reference's documented custom-UDF
    pattern (README.md:262-272, ``series.apply(lambda x: x*2)``) as a
    declarative column expression, e.g. ``transform_values(ts,
    "value * 2")``.  Stays JVM-side (no Python per row); arbitrary
    Python belongs in operators/pandas_compat instead."""
    step = _make_step(
        ProcessingType.TRANSFORMATION,
        f"Applies the scalar expression {expression!r} to each value",
        "transform_values",
        suffix,
        [ts.name for ts in input_series],
        Parameters(expression=expression, suffix=suffix),
        func=transform_values,
    )
    return _outputs(
        input_series, step,
        lambda df: df.withColumn("value", F.expr(expression)),
        time_index=False,
    )


def sort_index(
    input_series: list[TimeSeries], ascending: bool = True, *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """ProcessingType.SORTING — declared by the reference enum
    (types.py:184) with no shipped implementation; we ship it."""
    step = _make_step(
        ProcessingType.SORTING,
        "Sorts a series by its index",
        "sort_index",
        "SORTED",
        [ts.name for ts in input_series],
        Parameters(ascending=ascending),
        func=sort_index,
    )
    col = F.col("timestamp").asc() if ascending else F.col("timestamp").desc()
    return _outputs(
        input_series, step, lambda df: df.orderBy(col), time_index=False
    )


def remove_duplicates(
    input_series: list[TimeSeries], keep: str = "first", *args: Any, **kwargs: Any
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """ProcessingType.REMOVE_DUPLICATES — declared by the reference enum
    (types.py:185) with no shipped implementation; we ship it."""
    step = _make_step(
        ProcessingType.REMOVE_DUPLICATES,
        "Removes rows with duplicate index values",
        "remove_duplicates",
        "DEDUPED",
        [ts.name for ts in input_series],
        Parameters(keep=keep),
        func=remove_duplicates,
    )
    return _outputs(
        input_series, step,
        lambda df: kernels.drop_duplicate_timestamps(df, keep=keep),
        time_index=False,
    )


def exponential_smoothing(
    input_series: list[TimeSeries],
    alpha: float = 0.3,
    chunk_seconds: float | None = None,
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """EWMA smoothing (ProcessingType.SMOOTHING, types.py:186 —
    declared but unshipped in the reference).  Matches pandas
    ``ewm(alpha, adjust=False).mean()``; see ``kernels.ewma`` for the
    recurrence/scale discussion.

    ``chunk_seconds``: when set, the series runs through
    ``kernels.ewma_distributed`` (chunk + boundary-carry) — choose it
    so one chunk fits a task; the default single-pass path funnels
    the whole series through one worker, which is fine below ~10M
    rows and exact either way."""
    step = _make_step(
        ProcessingType.SMOOTHING,
        f"Exponential smoothing with alpha={alpha}",
        "exponential_smoothing",
        "EWMA",
        [ts.name for ts in input_series],
        Parameters(alpha=alpha, chunk_seconds=chunk_seconds),
        func=exponential_smoothing,
    )

    def build(df):
        if chunk_seconds is None:
            return kernels.ewma(df, alpha=alpha)
        return kernels.ewma_distributed(
            df, alpha=alpha, chunk_seconds=chunk_seconds
        )

    return _outputs(input_series, step, build, dtype="float64")


def detect_outliers(
    input_series: list[TimeSeries],
    k: float = 1.5,
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """IQR outlier flags (ProcessingType.FAULT_DETECTION,
    types.py:191): indicator series marking points outside the
    Tukey fences [q1 − k·IQR, q3 + k·IQR] — see
    ``kernels.detect_outliers_iqr`` for the quantile-fence rationale."""
    step = _make_step(
        ProcessingType.FAULT_DETECTION,
        f"IQR outlier detection with k={k}",
        "detect_outliers",
        "OUTLIERS",
        [ts.name for ts in input_series],
        Parameters(k=k),
        func=detect_outliers,
    )
    return _outputs(
        input_series, step, lambda df: kernels.detect_outliers_iqr(df, k=k),
        dtype="float64",
    )


def double_exponential_smoothing(
    input_series: list[TimeSeries],
    alpha: float = 0.5,
    beta: float = 0.25,
    *args: Any,
    **kwargs: Any,
) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
    """Holt double-exponential smoothing (ProcessingType.SMOOTHING):
    the level state becomes the output series; the trend state rides
    along in the step parameters' description of the method.  See
    ``kernels.holt`` for the recurrence and the exact-binary-fraction
    determinism note.  PREDICTION use: the one-step forecast is
    level + trend — pair with ``predict_previous_point`` semantics by
    shifting downstream."""
    step = _make_step(
        ProcessingType.SMOOTHING,
        f"Holt double-exponential smoothing with alpha={alpha}, beta={beta}",
        "double_exponential_smoothing",
        "HOLT",
        [ts.name for ts in input_series],
        Parameters(alpha=alpha, beta=beta),
        func=double_exponential_smoothing,
    )
    return _outputs(
        input_series, step,
        lambda df: kernels.holt(df, alpha=alpha, beta=beta).select(
            "timestamp", F.col("__level").alias("value")
        ),
        dtype="float64",
    )
