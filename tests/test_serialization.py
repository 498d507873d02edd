"""Persistence round-trips: parquet+manifest, zip, CSV, JSON
(reference tests/test_serialization.py + save/load round-trip at
test_metEAUdata.py:183-201)."""

import atexit
import os

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.dataset import Dataset
from meteaudata_spark.operators.univariate import linear_interpolation, resample
from meteaudata_spark.signal import Signal
from meteaudata_spark.sources import store


@pytest.fixture()
def processed_signal(spark, sample_series, provenance):
    sig = Signal(
        input_data=sample_series, name="CODs", units="mg/l",
        provenance=provenance, spark=spark,
    )
    sig.process(["CODs#1_RAW#1"], resample, "5min")
    sig.process(["CODs#1_RESAMPLED#1"], linear_interpolation)
    return sig


def test_signal_parquet_roundtrip(spark, processed_signal, tmp_path):
    sig_dir = store.save_signal(processed_signal, str(tmp_path))
    loaded = store.load_signal(spark, sig_dir)
    assert loaded == processed_signal


def test_signal_zip_roundtrip(spark, processed_signal, tmp_path):
    zp = str(tmp_path / "sig.zip")
    store.save_signal_zip(processed_signal, zp)
    loaded = store.load_signal_zip(spark, zp)
    assert loaded == processed_signal


def test_zip_extraction_dir_removed_at_exit(
    spark, processed_signal, tmp_path, monkeypatch
):
    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: registered.append((fn, a, kw))
    )
    zp = str(tmp_path / "sig.zip")
    store.save_signal_zip(processed_signal, zp)
    loaded = store.load_signal_zip(spark, zp)
    # the loaded Signal reads the extraction dir lazily: it must still be there
    assert loaded == processed_signal
    [(fn, args, kwargs)] = registered
    extracted = args[0]
    assert os.path.basename(extracted).startswith("meteaudata_zip_")
    assert os.path.isdir(extracted)
    fn(*args, **kwargs)
    assert not os.path.exists(extracted)


def test_signal_csv_roundtrip(spark, processed_signal, tmp_path):
    sig_dir = store.save_signal(processed_signal, str(tmp_path), data_format="csv")
    loaded = store.load_signal(spark, sig_dir)
    assert loaded == processed_signal


def test_dataset_roundtrip(spark, processed_signal, tmp_path):
    ds = Dataset(
        name="ds1", description="d", owner="o", purpose="p", project="pr",
        signals={processed_signal.name: processed_signal},
    )
    ds_dir = store.save_dataset(ds, str(tmp_path))
    loaded = store.load_dataset(spark, ds_dir)
    assert loaded == ds


def test_dataset_zip_roundtrip(spark, processed_signal, tmp_path):
    ds = Dataset(
        name="ds1", description="d", owner="o", purpose="p", project="pr",
        signals={processed_signal.name: processed_signal},
    )
    zp = str(tmp_path / "ds.zip")
    store.save_dataset_zip(ds, zp)
    loaded = store.load_dataset_zip(spark, zp)
    assert loaded == ds


def test_timeseries_json_roundtrip(spark, processed_signal):
    ts = processed_signal.time_series["CODs#1_LIN-INT#1"]
    blob = store.timeseries_to_json(ts)
    back = store.timeseries_from_json(spark, blob)
    assert back == ts


def test_signal_json_roundtrip(spark, processed_signal):
    blob = store.signal_to_json(processed_signal)
    back = store.signal_from_json(spark, blob)
    assert back == processed_signal


def test_dataset_json_roundtrip(spark, processed_signal):
    ds = Dataset(
        name="ds1", description="d", owner="o", purpose="p", project="pr",
        signals={processed_signal.name: processed_signal},
    )
    blob = store.dataset_to_json(ds)
    back = store.dataset_from_json(spark, blob)
    assert back == ds


def test_nan_survives_roundtrip(spark, provenance, tmp_path):
    idx = pd.date_range("2020-01-01", freq="5min", periods=5)
    ser = pd.Series([1.0, np.nan, 3.0, np.nan, 5.0], index=idx, name="RAW")
    sig = Signal(input_data=ser, name="N", units="x", provenance=provenance, spark=spark)
    sig_dir = store.save_signal(sig, str(tmp_path))
    loaded = store.load_signal(spark, sig_dir)
    got = loaded.time_series["N#1_RAW#1"].to_pandas()
    assert np.allclose(got.values, ser.values, equal_nan=True)


def test_dataset_long_store_roundtrip(spark, provenance, tmp_path):
    """Consolidated long-table layout: one partitioned parquet dataset
    for all signals/series; round-trip equality; per-series reads
    prune on signal partition and push series_name into the scan."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.dataset import Dataset
    from meteaudata_spark.operators.univariate import resample
    from meteaudata_spark.signal import Signal
    from meteaudata_spark.sources.store import (
        load_dataset_long,
        save_dataset_long,
    )

    idx = pd.date_range("2020-01-01", freq="6min", periods=60)
    rng = np.random.default_rng(4)
    signals = {}
    for nm in ["A", "B"]:
        sig = Signal(
            input_data=pd.Series(rng.standard_normal(60), index=idx, name="RAW"),
            name=nm,
            units="mg/l",
            provenance=provenance,
            spark=spark,
        )
        sig.process([f"{nm}#1_RAW#1"], resample, "5min")
        signals[sig.name] = sig
    ds = Dataset(
        name="LONGSTORE", description="d", owner="o", purpose="p",
        project="x", signals=signals,
    )
    out = save_dataset_long(ds, str(tmp_path))
    ds2 = load_dataset_long(spark, out)
    assert ds2 == ds
    # scan shape: partition pruning + series_name pushdown
    ts = ds2.signals["A#1"].time_series["A#1_RESAMPLED#1"]
    plan = ts.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "signal_name" in plan, plan[:800]
    assert "PushedFilters: [" in plan and "series_name" in plan.split("PushedFilters")[1][:200], plan[:800]


def test_timeseries_reference_loaders(spark, tmp_path, sample_series):
    """TimeSeries.load / load_data_fom_file / load_metadata_from_file
    parity (reference types.py:338-377, typo'd name included)."""
    import yaml

    from meteaudata_spark.timeseries import TimeSeries

    src = TimeSeries.from_pandas(spark, sample_series, name="RAW#1")
    csv_path = str(tmp_path / "data.csv")
    src.to_pandas().to_csv(csv_path)
    meta_path = str(tmp_path / "meta.yaml")
    with open(meta_path, "w") as fh:
        yaml.safe_dump(src.metadata_dict(), fh)

    loaded = TimeSeries.load(
        spark, data_file_path=csv_path, metadata_file_path=meta_path
    )
    assert loaded.values_dtype == src.values_dtype
    assert loaded.index_metadata == src.index_metadata
    got = loaded.to_pandas()
    ref = src.to_pandas()
    assert len(got) == len(ref)
    assert np.allclose(got.values, ref.values, equal_nan=True)
    assert (got.index == ref.index).all()
    # typo'd alias and spelled-out alias are the same method
    assert TimeSeries.load_data_from_file is TimeSeries.load_data_fom_file


def _mk_long_dataset(spark, provenance, n_series=6, periods=240):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.dataset import Dataset
    from meteaudata_spark.signal import Signal

    idx = pd.date_range("2020-01-01", freq="6min", periods=periods)
    rng = np.random.default_rng(9)
    signals = {}
    for i in range(n_series):
        sig = Signal(
            input_data=pd.Series(
                rng.standard_normal(periods), index=idx, name="RAW"
            ),
            name=f"S{i}",
            units="mg/l",
            provenance=provenance,
            spark=spark,
        )
        signals[sig.name] = sig
    return Dataset(
        name="LAYOUTS", description="d", owner="o", purpose="p",
        project="x", signals=signals,
    )


def test_dataset_long_store_bucketed_layout(spark, provenance, tmp_path):
    """Bucketed variant: round-trip equality, and a per-series read
    prunes to the series' ONE bucket directory — the bucket predicate
    constant-folds into PartitionFilters alongside signal_name."""
    from meteaudata_spark.sources.store import (
        load_dataset_long,
        save_dataset_long,
    )

    ds = _mk_long_dataset(spark, provenance)
    out = save_dataset_long(ds, str(tmp_path), layout="bucketed", n_buckets=8)
    ds2 = load_dataset_long(spark, out)
    assert ds2 == ds
    ts = ds2.signals["S3#1"].time_series["S3#1_RAW#1"]
    plan = ts.df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "signal_name" in pf and "bucket" in pf, plan[:900]
    assert "PushedFilters: [" in plan and "series_name" in plan.split(
        "PushedFilters"
    )[1][:200], plan[:900]


def test_dataset_long_store_zorder_layout(spark, provenance, tmp_path):
    """Z-order variant: round-trip equality, series_name still pushes
    into the scan, and a (series, time-range) predicate reads fewer
    files than the full data set holds (Morton clustering keeps
    per-file min/max tight on both dimensions)."""
    from meteaudata_spark.sources.store import (
        load_dataset_long,
        save_dataset_long,
    )

    ds = _mk_long_dataset(spark, provenance, n_series=4, periods=400)
    out = save_dataset_long(
        ds, str(tmp_path), layout="zorder", n_files=16
    )
    ds2 = load_dataset_long(spark, out)
    assert ds2 == ds
    ts = ds2.signals["S1#1"].time_series["S1#1_RAW#1"]
    plan = ts.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "series_name" in plan.split(
        "PushedFilters"
    )[1][:200], plan[:900]


def test_dataset_long_store_rejects_bad_layout(spark, provenance, tmp_path):
    from meteaudata_spark.sources.store import save_dataset_long

    ds = _mk_long_dataset(spark, provenance, n_series=1, periods=10)
    import pytest

    with pytest.raises(ValueError):
        save_dataset_long(ds, str(tmp_path), layout="hilbert")
    with pytest.raises(ValueError):
        save_dataset_long(ds, str(tmp_path), layout="bucketed", n_buckets=0)
