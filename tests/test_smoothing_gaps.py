"""Smoothing + gap-detection operators (the reference enum's declared-
but-unshipped ProcessingTypes) vs pandas oracles."""

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.operators import kernels
from meteaudata_spark.operators.univariate import detect_gaps, moving_average
from meteaudata_spark.signal import Signal


def _to_spark(spark, ser):
    return spark.createDataFrame(
        pd.DataFrame({"timestamp": ser.index, "value": ser.values})
    )


def test_rolling_mean_matches_pandas(spark):
    rng = np.random.default_rng(5)
    vals = rng.standard_normal(100)
    vals[[3, 4, 10, 50]] = np.nan
    ser = pd.Series(
        vals, index=pd.date_range("2020-01-01", freq="1min", periods=100)
    )
    got = (
        kernels.rolling_mean(_to_spark(spark, ser), 5)
        .orderBy("timestamp")
        .toPandas()["value"]
        .values
    )
    ref = ser.rolling(5, min_periods=1).mean().values
    assert np.allclose(got, ref, equal_nan=True)


def test_moving_average_operator(spark, sample_series, provenance):
    sig = Signal(
        input_data=sample_series, name="M", units="x",
        provenance=provenance, spark=spark,
    )
    sig.process(["M#1_RAW#1"], moving_average, window=3)
    assert "M#1_SMOOTH#1" in sig.all_time_series
    got = sig.time_series["M#1_SMOOTH#1"].to_pandas()
    ref = sample_series.rolling(3, min_periods=1).mean()
    assert np.allclose(got.values, ref.values)
    assert sig.time_series["M#1_SMOOTH#1"].processing_steps[-1].type.value == "smoothing"


def test_detect_gaps_operator(spark, provenance):
    idx = pd.DatetimeIndex(
        [
            "2020-01-01 00:00", "2020-01-01 00:05", "2020-01-01 01:00",
            "2020-01-01 01:05", "2020-01-01 03:00",
        ]
    )
    ser = pd.Series(np.arange(5.0), index=idx, name="RAW")
    sig = Signal(
        input_data=ser, name="G", units="x", provenance=provenance, spark=spark
    )
    sig.process(["G#1_RAW#1"], detect_gaps, max_gap="15min")
    flags = sig.time_series["G#1_GAP-FLAG#1"].to_pandas()
    assert flags.values.tolist() == [0.0, 0.0, 1.0, 0.0, 1.0]
    assert (
        sig.time_series["G#1_GAP-FLAG#1"].processing_steps[-1].type.value
        == "fault_detection"
    )


def test_detect_gaps_kernel_partitioned(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b"],
            "timestamp": pd.to_datetime(
                ["2020-01-01 00:00", "2020-01-01 00:05", "2020-01-01 02:00",
                 "2020-01-01 00:00", "2020-01-01 05:00"]
            ),
        }
    )
    out = (
        kernels.detect_gaps(
            spark.createDataFrame(pdf), 1800.0, partition_cols=["k"]
        )
        .orderBy("k")
        .toPandas()
    )
    assert len(out) == 2
    assert out["gap_seconds"].tolist() == [6900.0, 18000.0]


def test_exponential_smoothing_matches_pandas(spark, provenance):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators.univariate import exponential_smoothing
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=120)
    vals = np.random.default_rng(9).standard_normal(120)
    vals[10:14] = np.nan  # NaN handling: ignore_na matches pandas default
    ser = pd.Series(vals, index=idx, name="RAW")
    sig = Signal(input_data=ser, name="E", units="x", provenance=provenance, spark=spark)
    sig.process(["E#1_RAW#1"], exponential_smoothing, alpha=0.25)
    got = sig.time_series["E#1_EWMA#1"].to_pandas()
    ref = ser.ewm(alpha=0.25, adjust=False, ignore_na=True).mean()
    assert np.allclose(got.values, ref.values, equal_nan=True)
    assert sig.time_series["E#1_EWMA#1"].processing_steps[-1].suffix == "EWMA"


def test_ewma_kernel_partitioned(spark):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators import kernels

    idx = pd.date_range("2024-01-01", freq="1min", periods=40)
    pdf = pd.DataFrame(
        {
            "k": ["a" if i % 2 else "b" for i in range(40)],
            "timestamp": idx,
            "value": np.arange(40.0),
        }
    )
    out = (
        kernels.ewma(spark.createDataFrame(pdf), alpha=0.5, partition_cols=["k"])
        .toPandas()
        .sort_values(["k", "timestamp"])
        .reset_index(drop=True)
    )
    ref = []
    for k, g in pdf.groupby("k"):
        ref.append(
            g.sort_values("timestamp")
            .assign(ref=lambda x: x["value"].ewm(alpha=0.5, adjust=False).mean())
        )
    ref = pd.concat(ref).sort_values(["k", "timestamp"]).reset_index(drop=True)
    assert np.allclose(out["value"].values, ref["ref"].values)


def test_detect_outliers_iqr_matches_pandas(spark, provenance):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators.univariate import detect_outliers
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=100)
    vals = np.random.default_rng(12).standard_normal(100)
    vals[7] = 40.0   # blatant outliers
    vals[55] = -35.0
    vals[20] = np.nan
    ser = pd.Series(vals, index=idx, name="RAW")
    sig = Signal(input_data=ser, name="O", units="x", provenance=provenance, spark=spark)
    sig.process(["O#1_RAW#1"], detect_outliers, k=1.5)
    got = sig.time_series["O#1_OUTLIERS#1"].to_pandas()
    q1, q3 = ser.quantile(0.25), ser.quantile(0.75)
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    ref = ((ser < lo) | (ser > hi)).astype(float)
    ref[ser.isna()] = np.nan
    assert np.allclose(got.values, ref.values, equal_nan=True)
    assert got.values[7] == 1.0 and got.values[55] == 1.0
    step = sig.time_series["O#1_OUTLIERS#1"].processing_steps[-1]
    assert step.type.value == "fault_detection"


def test_exponential_smoothing_distributed_path(spark, provenance):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators.univariate import exponential_smoothing
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=200)
    ser = pd.Series(np.random.default_rng(5).standard_normal(200), index=idx, name="RAW")
    sig = Signal(input_data=ser, name="ED", units="x", provenance=provenance, spark=spark)
    sig.process(["ED#1_RAW#1"], exponential_smoothing, alpha=0.4, chunk_seconds=3600.0)
    got = sig.time_series["ED#1_EWMA#1"].to_pandas()
    ref = ser.ewm(alpha=0.4, adjust=False, ignore_na=True).mean()
    assert np.allclose(got.values, ref.values, equal_nan=True)


def test_double_exponential_smoothing_signal_api(spark, provenance):
    """Holt through the lineage layer: level trajectory matches the
    hand recurrence, suffix/versioning follow the naming grammar."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators.univariate import (
        double_exponential_smoothing,
    )
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=80)
    vals = 3.0 + 0.2 * np.arange(80)  # linear ramp
    ser = pd.Series(vals, index=idx, name="RAW")
    sig = Signal(input_data=ser, name="H", units="x", provenance=provenance, spark=spark)
    sig.process(["H#1_RAW#1"], double_exponential_smoothing, alpha=0.5, beta=0.25)
    got = sig.time_series["H#1_HOLT#1"].to_pandas()

    l, b = vals[0], 0.0
    ref = [l]
    for x in vals[1:]:
        l_new = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (l_new - l) + 0.75 * b
        l = l_new
        ref.append(l)
    assert np.allclose(got.values, np.array(ref))
    # on a ramp the level converges to the data
    assert abs(got.values[-1] - vals[-1]) < 0.05
    step = sig.time_series["H#1_HOLT#1"].processing_steps[-1]
    assert step.suffix == "HOLT"
    assert step.parameters.alpha == 0.5


def _tied_rows(reverse):
    """Five rows, two pairs sharing a timestamp, in one of two orders."""
    idx = pd.to_datetime(["2024-01-01 00:00"] * 2 + ["2024-01-01 00:01"] * 2
                         + ["2024-01-01 00:02"])
    ser = pd.Series([1.0, 3.0, 2.0, 5.0, 4.0], index=idx, name="RAW")
    return ser.iloc[::-1] if reverse else ser


_SMOOTHERS = {
    "ewma": (lambda df: kernels.ewma(df, alpha=0.5), ["value"]),
    "ewma_distributed": (
        lambda df: kernels.ewma_distributed(df, alpha=0.5, chunk_seconds=60.0),
        ["value"],
    ),
    "holt": (lambda df: kernels.holt(df), ["__level", "__trend"]),
    "holt_winters": (
        lambda df: kernels.holt_winters(df, m=2),
        ["__level", "__trend", "__seasonal", "__forecast_next"],
    ),
}


@pytest.mark.parametrize("name", sorted(_SMOOTHERS))
def test_smoothing_kernel_ignores_input_row_order(spark, name):
    """Rows that share a timestamp fold in (timestamp, value) order,
    so the same rows in another order smooth to the same series."""
    from meteaudata_spark.timeseries import TimeSeries, series_data_equal

    kernel, cols = _SMOOTHERS[name]
    a, b = (
        kernel(_to_spark(spark, _tied_rows(reverse)).coalesce(1))
        for reverse in (False, True)
    )
    for col in cols:
        assert series_data_equal(
            TimeSeries(a.select("timestamp", col)),
            TimeSeries(b.select("timestamp", col)),
        ), col


@pytest.mark.parametrize(
    "op, kwargs, suffix",
    [
        ("exponential_smoothing", {"alpha": 0.5}, "EWMA"),
        ("exponential_smoothing", {"alpha": 0.5, "chunk_seconds": 60.0}, "EWMA"),
        ("double_exponential_smoothing", {}, "HOLT"),
    ],
)
def test_smoothing_operator_ignores_input_row_order(
    spark, provenance, op, kwargs, suffix
):
    from meteaudata_spark.operators import univariate
    from meteaudata_spark.timeseries import series_data_equal

    outs = []
    for reverse in (False, True):
        sig = Signal(input_data=_tied_rows(reverse), name="T", units="x",
                     provenance=provenance, spark=spark)
        sig.process(["T#1_RAW#1"], getattr(univariate, op), **kwargs)
        outs.append(sig.time_series[f"T#1_{suffix}#1"])
    assert series_data_equal(*outs)
