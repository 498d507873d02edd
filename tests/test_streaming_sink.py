"""Streaming ingestion into the native store: stream → Parquet series
dir → Signal.load round trip, with exactly-once restart semantics, and
the series-dir layouts a load reads: flat files, stream ``__batch=``
dirs and the time-partitioned dirs of older saves, alone or mixed."""

import os
import shutil

import numpy as np
import pandas as pd

from meteaudata_spark import viz
from meteaudata_spark.signal import Signal
from meteaudata_spark.sources import store
from meteaudata_spark.streaming.sink import stream_to_series_store


def test_stream_ingest_then_load(spark, provenance, tmp_path):
    # bootstrap a signal whose series will be stream-fed
    idx = pd.date_range("2024-01-01", freq="1min", periods=10)
    seed = pd.Series(np.arange(10.0), index=idx, name="RAW")
    sig = Signal(
        input_data=seed, name="LIVE", units="x",
        provenance=provenance, spark=spark,
    )
    sig_dir = store.save_signal(sig, str(tmp_path))

    # stream two more files of data into the same series dir
    src = str(tmp_path / "incoming")
    later = pd.date_range("2024-01-01 00:10:00", freq="1min", periods=20)
    pdf = pd.DataFrame({"timestamp": later, "value": np.arange(10.0, 30.0)})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_to_series_store(stream, sig_dir, "LIVE#1_RAW#1")
    assert q.awaitTermination(120)

    loaded = store.load_signal(spark, sig_dir)
    got = loaded.time_series["LIVE#1_RAW#1"].to_pandas()
    assert len(got) == 30
    assert got.values.tolist() == list(map(float, range(30)))

    # restart with the same checkpoint: no duplicates (exactly-once)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = stream_to_series_store(stream2, sig_dir, "LIVE#1_RAW#1")
    assert q2.awaitTermination(120)
    again = store.load_signal(spark, sig_dir)
    assert again.time_series["LIVE#1_RAW#1"].count() == 30


def _time_partition(spark, series_dir):
    """Rewrite a saved series dir as older time-partitioned saves laid
    it out: ``__tpart=yyyy-MM-dd`` Hive dirs and no root files."""
    from pyspark.sql import functions as F

    staged = series_dir + ".tpart"
    (
        spark.read.parquet(series_dir)
        .withColumn("__tpart", F.date_format("timestamp", "yyyy-MM-dd"))
        .write.partitionBy("__tpart")
        .parquet(staged)
    )
    shutil.rmtree(series_dir)
    os.rename(staged, series_dir)
    names = os.listdir(series_dir)
    assert not [n for n in names if n.endswith(".parquet")]
    assert len([n for n in names if n.startswith("__tpart=")]) == 3


def _three_day_signal(spark, provenance, name):
    idx = pd.date_range("2024-01-01", freq="6h", periods=12)
    seed = pd.Series(np.arange(12.0), index=idx, name="RAW")
    return Signal(
        input_data=seed, name=name, units="x", provenance=provenance, spark=spark
    )


def test_legacy_time_partitioned_dir_loads(spark, provenance, tmp_path):
    from meteaudata_spark.operators.univariate import resample

    sig = _three_day_signal(spark, provenance, "OLD")
    sig.process(["OLD#1_RAW#1"], resample, "12h")
    sig_dir = store.save_signal(sig, str(tmp_path))
    for name in sig.all_time_series:
        _time_partition(spark, os.path.join(sig_dir, "data", store._enc(name)))
    assert store.load_signal(spark, sig_dir) == sig


def test_stream_append_into_time_partitioned_dir_loads(spark, provenance, tmp_path):
    sig = _three_day_signal(spark, provenance, "MIX")
    sig_dir = store.save_signal(sig, str(tmp_path))
    _time_partition(spark, os.path.join(sig_dir, "data", store._enc("MIX#1_RAW#1")))

    src = str(tmp_path / "incoming")
    later = pd.date_range("2024-01-04", freq="6h", periods=4)
    pdf = pd.DataFrame({"timestamp": later, "value": np.arange(12.0, 16.0)})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = stream_to_series_store(stream, sig_dir, "MIX#1_RAW#1")
    assert q.awaitTermination(120)

    got = store.load_signal(spark, sig_dir).time_series["MIX#1_RAW#1"].to_pandas()
    assert got.values.tolist() == list(map(float, range(16)))


def test_dataset_plot_spec(spark, provenance):
    from meteaudata_spark.dataset import Dataset

    idx = pd.date_range("2020-01-01", freq="1min", periods=30)
    sigs = {}
    for n in ["A", "B"]:
        s = Signal(
            input_data=pd.Series(np.arange(30.0), index=idx, name="RAW"),
            name=n, units="x", provenance=provenance, spark=spark,
        )
        sigs[s.name] = s
    ds = Dataset(name="d", signals=sigs)
    result = viz.plot_dataset(ds)
    if isinstance(result, dict):
        assert set(result) == {"A#1", "B#1"}
        assert result["A#1"]["data"][0]["name"] == "A#1_RAW#1"
