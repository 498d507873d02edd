"""Batched Signal data actions: one Parquet write per series schema on
save, no schema-inference job on load, one collect per schema for
``==`` — and the same on-disk tree and round trips as before."""

import os

import shutil

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.metadata import dump_yaml, load_yaml
from meteaudata_spark.signal import Signal
from meteaudata_spark.sources import store
from meteaudata_spark.timeseries import (
    TimeSeries,
    collect_sorted,
    series_data_equal,
)


def _signal(spark, provenance, columns):
    idx = pd.date_range("2020-01-01", freq="6min", periods=40)
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {c: rng.standard_normal(len(idx)) for c in columns}, index=idx
    )
    return Signal(
        input_data=pdf, name="B", units="x", provenance=provenance, spark=spark
    )


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _roundtrip_jobs(spark, sig, path, tag, data_format="parquet"):
    sig_dir, save = _jobs(
        spark, f"save-{tag}", lambda: store.save_signal(sig, path, data_format)
    )
    loaded, load = _jobs(spark, f"load-{tag}", lambda: store.load_signal(spark, sig_dir))
    equal, eq = _jobs(spark, f"eq-{tag}", lambda: loaded == sig)
    assert equal
    return save, load, eq


def _small_and_large_jobs(spark, provenance, tmp_path, data_format):
    """The (save, load, ==) job counts of a 2- and a 6-series Signal."""
    return [
        _roundtrip_jobs(
            spark,
            _signal(spark, provenance, columns),
            str(tmp_path / f"{data_format}{len(columns)}"),
            f"{data_format}{len(columns)}",
            data_format,
        )
        for columns in (["A", "B"], ["A", "B", "C", "D", "E", "F"])
    ]


def test_job_counts_do_not_grow_with_series(spark, provenance, tmp_path):
    counts_small, counts_large = _small_and_large_jobs(
        spark, provenance, tmp_path, "parquet"
    )
    assert counts_small == counts_large
    # the manifest's schemas spare the load its inference jobs
    assert counts_large[1] == 0


def test_job_counts_do_not_grow_with_series_csv(spark, provenance, tmp_path):
    # the CSV save collects all the Signal's series in one job per schema
    counts_small, counts_large = _small_and_large_jobs(
        spark, provenance, tmp_path, "csv"
    )
    assert counts_small == counts_large


def test_mixed_dtypes_roundtrip(spark, provenance, tmp_path):
    idx = pd.date_range("2020-01-01", freq="1h", periods=6)
    pdf = pd.DataFrame(
        {
            "F": np.linspace(0.0, 1.0, 6),
            "S": list("abcdef"),
            "I": np.arange(6, dtype="int64"),
        },
        index=idx,
    )
    sig = Signal(input_data=pdf, name="M", units="x", provenance=provenance, spark=spark)
    loaded = store.load_signal(spark, store.save_signal(sig, str(tmp_path)))
    assert loaded == sig
    for name, ts in sig.time_series.items():
        back = loaded.time_series[name]
        assert back.df.dtypes == ts.df.dtypes
        assert back.to_pandas().dtype == ts.to_pandas().dtype


def test_empty_placeholder_roundtrip(spark, tmp_path):
    sig = Signal(name="E", spark=spark)
    sig_dir = store.save_signal(sig, str(tmp_path))
    # an empty dir marks the empty series; only a missing one is an error
    assert os.listdir(os.path.join(sig_dir, "data", store._enc("E#1_RAW#1"))) == []
    loaded = store.load_signal(spark, sig_dir)
    assert loaded == sig
    ts = loaded.time_series["E#1_RAW#1"]
    assert ts.count() == 0
    assert ts.df.dtypes == sig.time_series["E#1_RAW#1"].df.dtypes


def test_missing_series_dir_fails_the_load(spark, provenance, tmp_path):
    # what a save cut off between its manifest and its data leaves
    sig = _signal(spark, provenance, ["A", "B"])
    sig_dir = store.save_signal(sig, str(tmp_path))
    shutil.rmtree(os.path.join(sig_dir, "data", store._enc("B#1_B#1")))
    with pytest.raises(Exception, match="(?i)path does not exist"):
        store.load_signal(spark, sig_dir)


def test_save_over_own_source_is_refused(spark, provenance, tmp_path):
    from meteaudata_spark.operators.univariate import resample

    sig = _signal(spark, provenance, ["A"])
    sig_dir = store.save_signal(sig, str(tmp_path))
    loaded = store.load_signal(spark, sig_dir)
    loaded.process(["B#1_A#1"], resample, "30min")
    with pytest.raises(ValueError, match="reads from it"):
        store.save_signal(loaded, str(tmp_path))
    # nothing was replaced: the store and the loaded frames still read
    assert store.load_signal(spark, sig_dir) == sig
    assert loaded.time_series["B#1_A#1"].count() == 40
    other = store.save_signal(loaded, str(tmp_path / "elsewhere"))
    assert store.load_signal(spark, other) == loaded


def test_manifest_without_schemas_loads(spark, provenance, tmp_path):
    sig = _signal(spark, provenance, ["A", "B"])
    sig_dir = store.save_signal(sig, str(tmp_path))
    path = os.path.join(sig_dir, "manifest.yaml")
    with open(path) as fh:
        manifest = load_yaml(fh)
    del manifest["series_schemas"]
    with open(path, "w") as fh:
        dump_yaml(manifest, fh)
    assert store.load_signal(spark, sig_dir) == sig


def test_save_twice_into_one_path(spark, provenance, tmp_path):
    from meteaudata_spark.operators.univariate import resample

    sig = _signal(spark, provenance, ["A"])
    store.save_signal(sig, str(tmp_path))
    sig.process(["B#1_A#1"], resample, "30min")
    sig_dir = store.save_signal(sig, str(tmp_path))
    assert sorted(os.listdir(os.path.join(sig_dir, "data"))) == sorted(
        store._enc(n) for n in sig.all_time_series
    )
    assert store.load_signal(spark, sig_dir) == sig


def test_duplicate_timestamps_in_any_order_are_equal(spark):
    idx = pd.to_datetime(
        ["2020-01-01", "2020-01-01", "2020-01-02", "2020-01-02", "2020-01-03"]
    )
    dup = pd.Series([1.0, 2.0, 3.0, 4.0, 5.0], index=idx, name="RAW")
    a = TimeSeries.from_pandas(spark, dup)
    b = TimeSeries.from_pandas(spark, dup.iloc[::-1])
    assert series_data_equal(a, b)
    assert a.to_pandas().equals(b.to_pandas())
    c = TimeSeries.from_pandas(spark, dup.iloc[::-1] + 1.0)
    assert not series_data_equal(a, c)
    # string values take the pandas sort
    words = pd.Series(list("badce"), index=idx, name="RAW")
    assert series_data_equal(
        TimeSeries.from_pandas(spark, words),
        TimeSeries.from_pandas(spark, words.iloc[::-1]),
    )


def test_collect_sorted_unorderable_values(spark):
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.timestamp_seconds(F.lit(0) + (3 - F.col("id")) * 60).alias("timestamp"),
        F.struct(F.col("id").alias("a")).alias("value"),
    )
    nums = spark.range(3).select(
        F.timestamp_seconds(F.col("id")).alias("timestamp"),
        (F.col("id") * 1.5).alias("value"),
    )
    structs, floats = collect_sorted([df, nums])
    assert [row["a"] for row in structs["value"]] == [3, 2, 1, 0]
    assert floats["value"].tolist() == [0.0, 1.5, 3.0]


def test_dataset_roundtrip_batched(spark, provenance, tmp_path):
    from meteaudata_spark.dataset import Dataset

    sigs = {}
    for name in ["P", "Q"]:
        sig = _signal(spark, provenance, ["A", "B"])
        sig.rename(name)
        sigs[sig.name] = sig
    empty = Signal(name="R", spark=spark)
    sigs[empty.name] = empty
    ds = Dataset(name="D", description="d", owner="o", purpose="p", project="x",
                 signals=sigs)
    ds_dir = store.save_dataset(ds, str(tmp_path))
    assert not [n for n in os.listdir(ds_dir) if n.startswith("_")]
    assert store.load_dataset(spark, ds_dir) == ds
