"""Dataset batch processing (resample_all / interpolate_all /
smooth_all): the same outputs and lineage as per-series
Signal.process."""

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.dataset import Dataset
from meteaudata_spark.operators import univariate as uv
from meteaudata_spark.signal import Signal
from meteaudata_spark.timeseries import series_data_equal


@pytest.fixture()
def multi_dataset(spark, provenance):
    rng = np.random.default_rng(21)
    idx = pd.date_range("2020-01-01", freq="6min", periods=120)
    signals = {}
    data = {}
    for name in ["A", "B", "C"]:
        ser = pd.Series(rng.standard_normal(120), index=idx, name="RAW")
        data[name] = ser
        sig = Signal(
            input_data=ser, name=name, units="mg/l",
            provenance=provenance, spark=spark,
        )
        signals[sig.name] = sig
    return Dataset(name="d", signals=signals), data


def test_resample_all_matches_per_series(multi_dataset):
    ds, data = multi_dataset
    ds.resample_all("5min")
    for name in ["A", "B", "C"]:
        got = ds.signals[f"{name}#1"].time_series[f"{name}#1_RESAMPLED#1"].to_pandas()
        ref = data[name].resample("5min").mean()
        assert np.allclose(got.values, ref.values, equal_nan=True), name
        # lineage recorded per series
        steps = ds.signals[f"{name}#1"].time_series[f"{name}#1_RESAMPLED#1"].processing_steps
        assert steps[-1].suffix == "RESAMPLED"
        assert steps[-1].input_series_names == [f"{name}#1_RAW#1"]


def test_chain_all_matches_pandas(multi_dataset):
    ds, data = multi_dataset
    ds.resample_all("5min")
    ds.interpolate_all(names=[f"{n}#1_RESAMPLED#1" for n in "ABC"])
    for name in ["A", "B", "C"]:
        got = ds.signals[f"{name}#1"].time_series[f"{name}#1_LIN-INT#1"].to_pandas()
        ref = data[name].resample("5min").mean().interpolate(method="linear")
        assert np.allclose(got.values, ref.values, equal_nan=True), name
        assert (
            len(ds.signals[f"{name}#1"].time_series[f"{name}#1_LIN-INT#1"].processing_steps)
            == 2
        )


def test_batch_chain_matches_signal_process(spark, provenance, multi_dataset):
    """resample_all -> interpolate_all -> smooth_all records exactly
    what the same chain through Signal.process records: data, dtype,
    index metadata (the new frequency) and every step."""
    ds, data = multi_dataset
    names = ds.all_series_names()
    for run in (
        lambda n: ds.resample_all("5min", names=n),
        lambda n: ds.interpolate_all(names=n),
        lambda n: ds.smooth_all(0.3, names=n),
    ):
        before = set(ds.all_series_names())
        run(names)
        names = [n for n in ds.all_series_names() if n not in before]
        assert len(names) == 3
    assert names == [f"{n}#1_EWMA#1" for n in "ABC"]

    for name in "ABC":
        sig = Signal(input_data=data[name], name=name, units="mg/l",
                     provenance=provenance, spark=spark)
        full = f"{name}#1_RAW#1"
        for fn, args in ((uv.resample, ("5min",)), (uv.linear_interpolation, ()),
                         (uv.exponential_smoothing, (0.3,))):
            sig.process([full], fn, *args)
            full = sig.all_time_series[-1]
            got = ds.signals[f"{name}#1"].time_series[full]
            want = sig.time_series[full]
            assert series_data_equal(got, want), full
            assert got.values_dtype == want.values_dtype, full
            assert got.index_metadata == want.index_metadata, full
            assert got.index_metadata.frequency == "5min", full
            assert [s.model_dump(exclude={"run_datetime"}) for s in got.processing_steps] == [
                s.model_dump(exclude={"run_datetime"}) for s in want.processing_steps
            ], full


def test_rerun_bumps_versions(multi_dataset):
    ds, _ = multi_dataset
    ds.resample_all("5min")
    ds.resample_all("5min")
    assert "A#1_RESAMPLED#2" in ds.signals["A#1"].all_time_series


def test_long_store_feeds_one_job_processing(spark, provenance, tmp_path):
    """The consolidated store composes with resample_all: load the
    long table lazily, resample every series, and values match the
    per-signal path."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.dataset import Dataset
    from meteaudata_spark.signal import Signal
    from meteaudata_spark.sources.store import (
        load_dataset_long,
        save_dataset_long,
    )

    idx = pd.date_range("2020-01-01", freq="6min", periods=80)
    rng = np.random.default_rng(8)
    signals = {}
    for nm in ["X", "Y", "Z"]:
        sig = Signal(
            input_data=pd.Series(rng.standard_normal(80), index=idx, name="RAW"),
            name=nm, units="mg/l", provenance=provenance, spark=spark,
        )
        signals[sig.name] = sig
    ds = Dataset(name="COMPOSE", description="", owner="", purpose="",
                 project="", signals=signals)
    out_dir = save_dataset_long(ds, str(tmp_path))
    ds2 = load_dataset_long(spark, out_dir)
    ds2.resample_all("5min")
    for nm in ["X#1", "Y#1", "Z#1"]:
        got = ds2.signals[nm].time_series[f"{nm}_RESAMPLED#1"].to_pandas()
        src = ds.signals[nm].time_series[f"{nm}_RAW#1"].to_pandas()
        ref = src.resample("5min").mean()
        assert np.allclose(got.values, ref.values, equal_nan=True)
        # lineage recorded on the reloaded dataset too
        steps = ds2.signals[nm].time_series[f"{nm}_RESAMPLED#1"].processing_steps
        assert steps[-1].suffix == "RESAMPLED"


def test_smooth_all_one_job(spark, provenance):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.dataset import Dataset
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=60)
    rng = np.random.default_rng(13)
    signals = {}
    for nm in ["S", "T"]:
        sig = Signal(
            input_data=pd.Series(rng.standard_normal(60), index=idx, name="RAW"),
            name=nm, units="x", provenance=provenance, spark=spark,
        )
        signals[sig.name] = sig
    ds = Dataset(name="SM", description="", owner="", purpose="",
                 project="", signals=signals)
    ds.smooth_all(alpha=0.35)
    for nm in ["S#1", "T#1"]:
        got = ds.signals[nm].time_series[f"{nm}_EWMA#1"].to_pandas()
        src = ds.signals[nm].time_series[f"{nm}_RAW#1"].to_pandas()
        ref = src.ewm(alpha=0.35, adjust=False, ignore_na=True).mean()
        assert np.allclose(got.values, ref.values, equal_nan=True)
        steps = ds.signals[nm].time_series[f"{nm}_EWMA#1"].processing_steps
        assert steps[-1].suffix == "EWMA"
