"""applyInPandasWithState: state must carry across micro-batches."""

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.streaming.stateful import stream_running_stats


def test_running_stats_accumulate_across_batches(spark, tmp_path, drain):
    rng = np.random.default_rng(13)
    src = str(tmp_path / "src")
    # two files -> (with maxFilesPerTrigger=1) two micro-batches
    pdf1 = pd.DataFrame(
        {"event_type": ["x"] * 50 + ["y"] * 30, "value": rng.normal(10, 2, 80)}
    )
    pdf2 = pd.DataFrame(
        {"event_type": ["x"] * 20, "value": rng.normal(10, 2, 20)}
    )
    spark.createDataFrame(pdf1).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_running_stats(stream)
    got = drain(out, "update").toPandas()

    # final cumulative row per key must equal the full-dataset stats
    all_pdf = pd.concat([pdf1, pdf2])
    for key, grp in all_pdf.groupby("event_type"):
        rows = got[got["key"] == key]
        final = rows.loc[rows["n_total"].idxmax()]
        assert final["n_total"] == len(grp)
        assert abs(final["mean"] - grp["value"].mean()) < 1e-9
        assert abs(final["variance"] - grp["value"].var(ddof=1)) < 1e-9
    # state actually crossed batches: key x appears with two cumulative counts
    x_counts = sorted(got[got["key"] == "x"]["n_total"])
    assert x_counts == [50, 70]


def test_stream_hll_matches_batch(spark, tmp_path, drain):
    """Drained-stream HLL estimate must EQUAL the batch operator's on
    the same rows (same integer registers, same final division)."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.dedup import _h60
    from meteaudata_spark.ext.sketches import hll_distinct
    from meteaudata_spark.streaming.hll_stream import stream_hll_distinct

    src = str(tmp_path / "hll_src")
    base = spark.range(20000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("key"),
        F.pmod(_h60((F.col("id") % 5000).cast("string")), F.lit(1 << 60)).alias("h"),
    )
    # two files -> two micro-batches
    base.filter(F.col("id") % 4 < 2).coalesce(1).write.parquet(src)
    base.filter(F.col("id") % 4 >= 2).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = drain(stream_hll_distinct(stream), "update").toPandas()

    batch = {
        r["grp"]: r["hll_distinct"]
        for r in hll_distinct(spark.read.parquet(src).withColumnRenamed("key", "grp"), "grp").collect()
    }
    for key in ("a", "b"):
        rows = got[got["key"] == key]
        # last emitted row per key = cumulative estimate
        final_est = rows.iloc[-1]["hll_distinct"]
        assert final_est == batch[key], (key, final_est, batch[key])


def _two_batch_stream(spark, tmp_path, df):
    """``df``'s first and second halves (by ``ts``) as two parquet files
    with increasing mtimes, read back as a stream of two micro-batches."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    n = df.count()
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    halves = (df.filter(F.col("ts") < n // 2), df.filter(F.col("ts") >= n // 2))
    for bi, part in enumerate(halves):
        staging = str(tmp_path / f"stage{bi}")
        part.coalesce(1).write.mode("overwrite").parquet(staging)
        f = next(x for x in os.listdir(staging) if x.endswith(".parquet"))
        dst = f"{src}/{bi}.parquet"
        shutil.copy(f"{staging}/{f}", dst)
        os.utime(dst, (now - 300 + bi * 60,) * 2)
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )


def _ewma_stream_vs_batch(spark, tmp_path, drain, df):
    from pyspark.sql import functions as F

    from meteaudata_spark.operators import kernels
    from meteaudata_spark.streaming.stateful import stream_ewma_state

    stream = _two_batch_stream(spark, tmp_path, df)
    got = (
        drain(stream_ewma_state(stream, alpha=0.25))
        .orderBy("key", "ts")
        .toPandas()
    )
    batch = (
        kernels.ewma(
            df.select("event_type", F.col("ts").alias("timestamp"), "value"),
            alpha=0.25,
            partition_cols=["event_type"],
        )
        .orderBy("event_type", "timestamp")
        .toPandas()
    )
    return got, batch


def test_stream_ewma_state_matches_batch_kernel(spark, tmp_path, drain):
    """The executable stateful EWMA must reproduce kernels.ewma
    trajectories exactly, with state carrying across micro-batches."""
    rng = np.random.default_rng(21)
    n = 240
    pdf = pd.DataFrame(
        {
            "event_type": ["a" if i % 2 else "b" for i in range(n)],
            "ts": np.arange(n, dtype=np.int64),
            "value": rng.standard_normal(n),
        }
    )
    got, batch = _ewma_stream_vs_batch(
        spark, tmp_path, drain, spark.createDataFrame(pdf)
    )
    assert len(got) == n
    assert np.array_equal(got["ewma"].to_numpy(), batch["value"].to_numpy())


def test_stream_ewma_state_carries_mean_over_nan_and_null(spark, tmp_path, drain):
    """A NaN or a null value in the first micro-batch carries the mean,
    as in ``kernels.ewma``; a leading one stays NaN until the first
    observation seeds the mean."""
    from pyspark.sql import functions as F

    n = 40
    vals = np.sin(np.arange(n, dtype=float))
    vals[1] = np.nan  # key "a"'s first row
    vals[8] = np.nan  # key "b", mid-series
    pdf = pd.DataFrame(
        {
            "event_type": ["a" if i % 2 else "b" for i in range(n)],
            "ts": np.arange(n, dtype=np.int64),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.when(F.col("ts") != 5, F.col("value"))  # a null for "a"
    )
    got, batch = _ewma_stream_vs_batch(spark, tmp_path, drain, df)
    assert len(got) == n
    assert np.isnan(got["ewma"].iloc[0])  # "a" before its first observation
    assert np.array_equal(
        got["ewma"].to_numpy(), batch["value"].to_numpy(), equal_nan=True
    )
    assert not np.isnan(got["ewma"].iloc[1:].to_numpy()).any()


def test_stream_holt_state_matches_batch_kernel(spark, tmp_path, drain):
    """Online Holt must equal the batch kernel's (level, trend)
    trajectory with state carried across micro-batches."""
    from pyspark.sql import functions as F

    from meteaudata_spark.operators import kernels
    from meteaudata_spark.streaming.stateful import stream_holt_state

    n = 160
    pdf = pd.DataFrame(
        {
            "event_type": ["r"] * n,
            "ts": np.arange(n, dtype=np.int64),
            "value": 2.0 + 0.3 * np.arange(n) + np.sin(np.arange(n) / 5),
        }
    )
    df = spark.createDataFrame(pdf)
    stream = _two_batch_stream(spark, tmp_path, df)
    got = (
        drain(stream_holt_state(stream, alpha=0.5, beta=0.25))
        .orderBy("ts")
        .toPandas()
    )

    batch = (
        kernels.holt(
            df.select("event_type", F.col("ts").alias("timestamp"), "value"),
            alpha=0.5,
            beta=0.25,
            partition_cols=["event_type"],
        )
        .orderBy("timestamp")
        .toPandas()
    )
    assert len(got) == n
    assert np.array_equal(got["level"].to_numpy(), batch["__level"].to_numpy())
    assert np.array_equal(got["trend"].to_numpy(), batch["__trend"].to_numpy())
    # the trend tracks the ramp slope within the sine term's ±0.2
    # derivative envelope
    assert abs(got["trend"].iloc[-1] - 0.3) < 0.25
