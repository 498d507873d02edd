"""Streaming histogram quantiles (streaming/histq_stream.py): drained
stream estimates match the batch histogram computed over the same
windows, within one bin width of the exact order statistic."""

import math

import pandas as pd
from pyspark.sql import functions as F


def _mk_events(spark, path):
    ev = spark.range(600).select(
        F.expr("concat('k', cast(id % 2 as string))").alias("event_type"),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,cast(id div 2 as int))"
        ).alias("ts"),
        (F.pmod(F.col("id") * 37, F.lit(1000)).cast("double") / 10.0).alias(
            "value"
        ),
    )
    ev.write.parquet(path)
    return ev


def test_stream_histq_within_bin_width_of_exact(spark, tmp_path, drain):
    from meteaudata_spark.streaming.histq_stream import stream_hist_quantiles

    src = str(tmp_path / "src")
    _mk_events(spark, src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = stream_hist_quantiles(
        stream, lo=0.0, hi=100.0, n_bins=50,
        window="1 minute", watermark="0 seconds",
    )
    got = {
        (r["event_type"], r["window_start"]): r
        for r in drain(out).collect()
    }
    assert got, "no windows finalized"

    rows = spark.read.parquet(src).collect()
    by_win = {}
    for r in rows:
        ws = r["ts"].replace(second=0, microsecond=0)
        by_win.setdefault((r["event_type"], ws), []).append(r["value"])
    width = 100.0 / 50
    for key, r in got.items():
        vals = sorted(by_win[key])
        assert r["n_rows"] == len(vals)
        for q_, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            exact = vals[math.ceil(q_ * len(vals)) - 1]
            assert abs(r[col] - exact) <= width + 1e-9, (key, col, r[col], exact)


def test_stream_histq_clamps_out_of_range(spark, tmp_path, drain):
    from meteaudata_spark.streaming.histq_stream import stream_hist_quantiles

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {
            "event_type": ["a"] * 4,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01"] * 2 + ["2024-01-01 00:00:02"] * 2
            ),
            "value": [-50.0, 5.0, 5.0, 500.0],  # two out-of-range
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = stream_hist_quantiles(
        stream, lo=0.0, hi=10.0, n_bins=10,
        window="1 minute", watermark="0 seconds",
    )
    drain(out)
    # the single window never finalizes in append mode without a later
    # event — run the SAME transformation in batch instead (it is a
    # plain DataFrame program) to pin the clamping math
    batch = stream_hist_quantiles(
        spark.read.parquet(src), lo=0.0, hi=10.0, n_bins=10,
        window="1 minute", watermark="0 seconds",
    ).collect()
    assert len(batch) == 1
    r = batch[0]
    assert r["n_rows"] == 4
    # clamped: -50 -> bin 0, 500 -> bin 9; p50 target rank 2 lands on
    # the 5.0 values
    assert 5.0 <= r["p50"] <= 6.0
    assert r["p99"] >= 9.0
