"""Differential tests: every kernel vs its pandas oracle
(SURVEY §5 test plan item 2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from meteaudata_spark.operators import kernels


def _to_spark(spark, ser: pd.Series):
    pdf = pd.DataFrame({"timestamp": ser.index, "value": ser.values})
    return spark.createDataFrame(pdf)


def _collect(df):
    pdf = df.orderBy("timestamp").toPandas()
    return pd.Series(pdf["value"].values, index=pd.DatetimeIndex(pdf["timestamp"]))


@pytest.mark.parametrize("freq", ["5min", "10min", "1h", "7min"])
def test_resample_matches_pandas(spark, freq):
    rng = np.random.default_rng(7)
    idx = pd.date_range("2020-01-01 00:03:00", freq="6min", periods=200)
    ser = pd.Series(rng.standard_normal(200), index=idx)
    got = _collect(kernels.resample_mean(_to_spark(spark, ser), freq))
    ref = ser.resample(freq).mean()
    assert len(got) == len(ref)
    assert (got.index == ref.index).all()
    assert np.allclose(got.values, ref.values, equal_nan=True)


def test_resample_emits_empty_buckets(spark):
    # two points an hour apart at 5min buckets -> 13 rows, 11 null
    idx = pd.DatetimeIndex(["2020-01-01 00:00:00", "2020-01-01 01:00:00"])
    ser = pd.Series([1.0, 2.0], index=idx)
    got = _collect(kernels.resample_mean(_to_spark(spark, ser), "5min"))
    ref = ser.resample("5min").mean()
    assert len(got) == 13
    assert np.allclose(got.values, ref.values, equal_nan=True)


def test_resample_skips_nan_like_pandas(spark):
    idx = pd.date_range("2020-01-01", freq="1min", periods=10)
    ser = pd.Series([1.0, np.nan, 3.0, np.nan, np.nan, 6.0, 7.0, 8.0, np.nan, 10.0], index=idx)
    got = _collect(kernels.resample_mean(_to_spark(spark, ser), "5min"))
    ref = ser.resample("5min").mean()
    assert np.allclose(got.values, ref.values, equal_nan=True)


def test_resample_non_day_divisible_freq_uses_start_day_origin(spark):
    # 7min does not divide 24h: epoch-aligned buckets would differ from
    # pandas origin='start_day'
    idx = pd.date_range("2021-03-02 05:11:00", freq="13min", periods=97)
    ser = pd.Series(np.arange(97, dtype="float64"), index=idx)
    got = _collect(kernels.resample_mean(_to_spark(spark, ser), "7min"))
    ref = ser.resample("7min").mean()
    assert (got.index == ref.index).all()
    assert np.allclose(got.values, ref.values, equal_nan=True)


@pytest.mark.parametrize(
    "values",
    [
        [1.0, np.nan, 3.0],
        [np.nan, 2.0, np.nan],
        [np.nan, np.nan, np.nan],
        [1.0, np.nan, np.nan, 7.0, np.nan],
        [np.nan, np.nan, 5.0, np.nan, 1.0, np.nan, np.nan],
        [4.0, 5.0, 6.0],
    ],
)
def test_interpolate_matches_pandas(spark, values):
    idx = pd.date_range("2020-01-01", freq="5min", periods=len(values))
    ser = pd.Series(values, index=idx)
    got = _collect(kernels.interpolate_linear(_to_spark(spark, ser)))
    ref = ser.interpolate(method="linear")
    assert np.allclose(got.values, ref.values, equal_nan=True)


def test_interpolate_is_position_weighted(spark):
    # irregular spacing: pandas 'linear' ignores the index
    idx = pd.DatetimeIndex(
        ["2020-01-01 00:00", "2020-01-01 00:01", "2020-01-01 05:00"]
    )
    ser = pd.Series([0.0, np.nan, 10.0], index=idx)
    got = _collect(kernels.interpolate_linear(_to_spark(spark, ser)))
    ref = ser.interpolate(method="linear")
    assert np.allclose(got.values, ref.values)  # midpoint 5.0, not time-weighted
    assert got.values[1] == 5.0


def test_interpolate_partitioned(spark):
    # same kernel parallelizes across series keys
    rng = np.random.default_rng(3)
    frames = []
    for key in ["a", "b", "c"]:
        vals = rng.standard_normal(50)
        vals[rng.integers(0, 50, 10)] = np.nan
        idx = pd.date_range("2020-01-01", freq="1min", periods=50)
        frames.append(pd.DataFrame({"k": key, "timestamp": idx, "value": vals}))
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf)
    got = kernels.interpolate_linear(df, partition_cols=["k"]).orderBy("k", "timestamp").toPandas()
    for key, grp in pdf.groupby("k"):
        ref = pd.Series(grp["value"].values).interpolate(method="linear")
        g = got[got["k"] == key]["value"].values
        assert np.allclose(g, ref.values, equal_nan=True)


def test_replace_ranges_inclusive(spark):
    idx = pd.date_range("2020-01-01", freq="1h", periods=10)
    ser = pd.Series(np.arange(10, dtype="float64"), index=idx)
    got = _collect(
        kernels.replace_ranges(
            _to_spark(spark, ser),
            [["2020-01-01 02:00:00", "2020-01-01 04:00:00"]],
            replace_with=np.nan,
        )
    )
    ref = ser.copy()
    ref.loc["2020-01-01 02:00:00":"2020-01-01 04:00:00"] = np.nan
    assert np.allclose(got.values, ref.values, equal_nan=True)
    assert np.isnan(got.values[2]) and np.isnan(got.values[4])  # both ends


def test_replace_with_constant(spark):
    idx = pd.date_range("2020-01-01", freq="1h", periods=5)
    ser = pd.Series(np.arange(5, dtype="float64"), index=idx)
    got = _collect(
        kernels.replace_ranges(
            _to_spark(spark, ser),
            [["2020-01-01 01:00:00", "2020-01-01 02:00:00"]],
            replace_with=-1.0,
        )
    )
    assert list(got.values) == [0.0, -1.0, -1.0, 3.0, 4.0]


def test_drop_duplicate_timestamps(spark):
    pdf = pd.DataFrame(
        {
            "timestamp": pd.DatetimeIndex(
                ["2020-01-01", "2020-01-01", "2020-01-02"]
            ),
            "value": [1.0, 2.0, 3.0],
        }
    )
    out = kernels.drop_duplicate_timestamps(spark.createDataFrame(pdf))
    assert out.count() == 2


def test_shift_index(spark):
    idx = pd.date_range("2020-01-01", freq="5min", periods=3)
    ser = pd.Series([1.0, 2.0, 3.0], index=idx)
    got = _collect(kernels.shift_index(_to_spark(spark, ser), "5min", steps=1))
    assert (got.index == idx + pd.Timedelta("5min")).all()


def test_aligned_agg_avg(spark):
    idx1 = pd.date_range("2020-01-01", freq="5min", periods=4)
    idx2 = pd.date_range("2020-01-01 00:05:00", freq="5min", periods=4)
    a = pd.DataFrame({"timestamp": idx1, "value": [1.0, 2.0, np.nan, 4.0]})
    b = pd.DataFrame({"timestamp": idx2, "value": [10.0, 20.0, 30.0, 40.0]})
    long_df = spark.createDataFrame(pd.concat([a, b]))
    got = _collect(kernels.aligned_agg(long_df, "avg"))
    ref = pd.concat(
        [
            pd.Series([1.0, 2.0, np.nan, 4.0], index=idx1),
            pd.Series([10.0, 20.0, 30.0, 40.0], index=idx2),
        ],
        axis=1,
    ).mean(axis=1)
    assert np.allclose(got.values, ref.values, equal_nan=True)


# ----------------------------------------------------------------------
# round-2 ADVICE regressions
# ----------------------------------------------------------------------
def test_resample_leaves_no_cache_behind(spark):
    """resample_mean must not leak persisted RDDs (ADVICE r1: the old
    bounds.persist() was never unpersisted)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    idx = pd.date_range("2020-01-01", freq="6min", periods=50)
    ser = pd.Series(np.arange(50.0), index=idx)
    kernels.resample_mean(_to_spark(spark, ser), "15min").count()
    # no NEW persistent entries (other tests' localCheckpoints may
    # legitimately live in the shared session)
    assert jsc.getPersistentRDDs().size() == before


def test_replace_ranges_empty_pairs_is_noop(spark):
    idx = pd.date_range("2020-01-01", freq="5min", periods=10)
    ser = pd.Series(np.arange(10.0), index=idx)
    got = _collect(kernels.replace_ranges(_to_spark(spark, ser), []))
    assert np.allclose(got.values, ser.values)


def test_drop_duplicates_explicit_tiebreaker(spark):
    """With order_col, keep=first/last is deterministic even after a
    shuffle scrambles physical row order (ADVICE r1)."""
    idx = pd.DatetimeIndex(
        ["2020-01-01 00:00", "2020-01-01 00:00", "2020-01-01 00:05"] * 2
    )
    pdf = pd.DataFrame(
        {"timestamp": idx, "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
         "ord": [0, 1, 2, 3, 4, 5]}
    )
    df = spark.createDataFrame(pdf).repartition(8, "value")  # scramble
    first = kernels.drop_duplicate_timestamps(df, order_col="ord", keep="first")
    last = kernels.drop_duplicate_timestamps(df, order_col="ord", keep="last")
    f = {r["timestamp"]: r["value"] for r in first.collect()}
    l = {r["timestamp"]: r["value"] for r in last.collect()}
    ts0 = pd.Timestamp("2020-01-01 00:00")
    ts1 = pd.Timestamp("2020-01-01 00:05")
    assert f[ts0] == 1.0 and f[ts1] == 3.0
    assert l[ts0] == 5.0 and l[ts1] == 6.0


def test_locf_matches_pandas_ffill(spark):
    idx = pd.date_range("2020-01-01", freq="5min", periods=12)
    vals = [np.nan, 1.0, np.nan, np.nan, 4.0, np.nan, 6.0, np.nan, np.nan, np.nan, 10.0, np.nan]
    ser = pd.Series(vals, index=idx)
    got = _collect(kernels.locf(_to_spark(spark, ser)))
    ref = ser.ffill()
    assert np.allclose(got.values, ref.values, equal_nan=True)
    # leading NaN must stay NaN
    assert np.isnan(got.values[0])


def test_forward_fill_operator_names_and_fills(spark):
    from meteaudata_spark import DataProvenance, Signal
    from meteaudata_spark.operators.univariate import forward_fill

    idx = pd.date_range("2020-01-01", freq="5min", periods=6)
    ser = pd.Series([1.0, np.nan, np.nan, 4.0, np.nan, 6.0], index=idx, name="RAW")
    sig = Signal(
        input_data=ser, name="F", units="mg/l",
        provenance=DataProvenance(), spark=spark,
    )
    sig.process(["F#1_RAW#1"], forward_fill)
    got = sig.time_series["F#1_FFILL#1"].to_pandas()
    assert np.allclose(got.values, ser.ffill().values, equal_nan=True)
    step = sig.time_series["F#1_FFILL#1"].processing_steps[-1]
    assert step.type.value == "gap_filling"


def test_holt_winters_single_point(spark):
    from meteaudata_spark.operators.kernels import holt_winters

    d = spark.createDataFrame(
        [("a", 0, 5.0)], "k string, b1h long, value double"
    )
    out = holt_winters(
        d, m=24, ts_col="b1h", val_col="value", partition_cols=["k"]
    ).collect()
    assert len(out) == 1
    assert out[0]["__level"] == 5.0 and out[0]["__trend"] == 0.0
    assert out[0]["__forecast_next"] == 5.0


def test_resample_non_utc_session_takes_general_path(spark):
    """In a non-UTC session the day-aligned fast path does not hold
    (local midnight is not a multiple of the step in epoch time), so
    ``resample_mean`` must take the origin-join path.  At +05:30 the
    fast path would label hourly buckets at :30 local; pandas, on the
    naive local timestamps Spark round-trips, labels them on the hour."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        idx = pd.date_range("2024-03-09 22:10:00", freq="7min", periods=60)
        ser = pd.Series(np.arange(60, dtype="float64"), index=idx)
        got = _collect(kernels.resample_mean(_to_spark(spark, ser), "1h"))
        ref = ser.resample("1h").mean()
        assert (got.index == ref.index).all()
        assert np.allclose(got.values, ref.values, equal_nan=True)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ewma_distributed_matches_plain_kernel(spark):
    """Chunked EWMA must equal the single-pass kernel exactly —
    including NaN runs, an empty chunk (gap > chunk span), and
    leading NaNs."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.operators import kernels

    rng = np.random.default_rng(21)
    n = 5000
    idx = pd.date_range("2024-01-01", freq="1min", periods=n)
    vals = rng.standard_normal(n)
    vals[:7] = np.nan           # leading NaNs
    vals[100:160] = np.nan      # interior NaN run
    pdf = pd.DataFrame({"timestamp": idx, "value": vals})
    # empty chunk: drop two whole hours of rows
    pdf = pdf[~((pdf.timestamp >= "2024-01-01 10:00") & (pdf.timestamp < "2024-01-01 12:00"))]
    sdf = spark.createDataFrame(pdf)

    plain = (
        kernels.ewma(sdf, alpha=0.23)
        .toPandas().sort_values("timestamp").reset_index(drop=True)
    )
    dist = (
        kernels.ewma_distributed(sdf, alpha=0.23, chunk_seconds=3600.0)
        .toPandas().sort_values("timestamp").reset_index(drop=True)
    )
    assert len(plain) == len(dist)
    assert np.allclose(
        plain["value"].values, dist["value"].values, equal_nan=True, rtol=1e-9
    )
    ref = pd.Series(pdf["value"].values).ewm(alpha=0.23, adjust=False, ignore_na=True).mean()
    assert np.allclose(dist["value"].values, ref.values, equal_nan=True, rtol=1e-9)
