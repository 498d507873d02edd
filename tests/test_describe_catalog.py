"""TimeSeries.describe data-quality summary + SQL catalog views."""

import numpy as np
import pandas as pd

from meteaudata_spark.signal import Signal
from meteaudata_spark.sources import catalog


def test_describe(spark, provenance):
    idx = pd.DatetimeIndex(
        ["2020-01-01 00:00", "2020-01-01 00:05", "2020-01-01 00:05",
         "2020-01-01 00:10", "2020-01-01 00:20"]
    )
    ser = pd.Series([1.0, np.nan, 3.0, 4.0, 5.0], index=idx, name="RAW")
    sig = Signal(
        input_data=ser, name="Q", units="x", provenance=provenance, spark=spark
    )
    stats = sig.time_series["Q#1_RAW#1"].describe()
    assert stats["n_rows"] == 5
    assert stats["n_missing"] == 1
    assert stats["missing_ratio"] == 0.2
    assert stats["n_duplicate_index"] == 1
    assert stats["value_min"] == 1.0
    assert stats["value_max"] == 5.0
    assert stats["median_spacing_seconds"] in (300.0, 0.0)  # approx median


def test_sql_catalog_benchmark(spark):
    views = catalog.register_benchmark_tables(spark, "/root/testdata/sf0.001")
    assert "lineitem" in views
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0]["n"]
    assert n > 0
    # events view got the nanos normalization: ts is a usable timestamp
    row = spark.sql("SELECT MIN(ts) AS mn FROM events").collect()[0]
    assert row["mn"].year == 2024


def test_sql_catalog_signal(spark, provenance, sample_series):
    from meteaudata_spark.operators.univariate import resample

    sig = Signal(
        input_data=sample_series, name="SQ", units="x",
        provenance=provenance, spark=spark,
    )
    sig.process(["SQ#1_RAW#1"], resample, "5min")
    views = catalog.register_signal(sig)
    assert any("RESAMPLED" in v for v in views)
    out = spark.sql(
        "SELECT COUNT(*) AS n FROM SQ_1_RESAMPLED_1 WHERE value IS NOT NULL"
    ).collect()[0]["n"]
    assert out > 0
    long_n = spark.sql(
        "SELECT COUNT(DISTINCT series_name) AS n FROM SQ_1_long"
    ).collect()[0]["n"]
    assert long_n == 2


def test_sql_catalog_dataset(spark, provenance, sample_series):
    from meteaudata_spark.dataset import Dataset
    from meteaudata_spark.operators.univariate import resample

    signals = {}
    for name in ("DA", "DB"):
        sig = Signal(
            input_data=sample_series, name=name, units="x",
            provenance=provenance, spark=spark,
        )
        signals[sig.name] = sig
    signals["DA#1"].process(["DA#1_RAW#1"], resample, "5min")
    ds = Dataset(name="DSQ", signals=signals)
    views = catalog.register_dataset(ds)
    assert all(spark.catalog.tableExists(v) for v in views), views
    long_n = spark.sql("SELECT COUNT(*) AS n FROM DSQ_long").collect()[0]["n"]
    assert long_n == sum(
        ts.df.count()
        for sig in ds.signals.values()
        for ts in sig.time_series.values()
    )
