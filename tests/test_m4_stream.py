"""Streaming M4 (streaming/m4_stream.py): drained stream equals the
same aggregation computed in batch, per (key, window)."""

import os

import pandas as pd
from pyspark.sql import functions as F


def test_stream_m4_matches_batch(spark, tmp_path, drain):
    from meteaudata_spark.streaming.m4_stream import stream_m4

    # 3 keys × 300 seconds of data, 1-minute windows
    src = str(tmp_path / "src")
    ev = spark.range(900).select(
        F.expr("concat('k', cast(id % 3 as string))").alias("event_type"),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,cast(id div 3 as int))"
        ).alias("ts"),
        (F.sin(F.col("id").cast("double")) * 100).alias("value"),
    )
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = stream_m4(stream, window="1 minute", watermark="0 seconds")
    got = {
        (r["event_type"], r["window_start"]): tuple(r)[2:]
        for r in drain(out).collect()
    }

    batch = (
        spark.read.parquet(src)
        .groupBy("event_type", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.min(
                F.struct(
                    (F.col("ts").cast("timestamp_ltz").cast("double") * 1000000)
                    .cast("bigint")
                    .alias("__e"),
                    F.col("value").alias("__v"),
                )
            ).alias("first_pt"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    # append mode only emits windows the watermark has CLOSED: the
    # final per-key window stays open at end-of-stream (no later event
    # advances the watermark past its end), so compare closed windows
    import datetime

    last_start = datetime.datetime(2024, 1, 1, 0, 4)
    closed = {
        (r["event_type"], r["win"]["start"]): (r["n"], r["first_pt"]["__e"])
        for r in batch
        if r["win"]["start"] < last_start
    }
    assert set(got) >= set(closed)
    for k, (n, first_e) in closed.items():
        assert got[k][0] == n
        assert got[k][1] == first_e
    # at least 4 of the 5 windows per key must have finalized
    for key in ("k0", "k1", "k2"):
        assert len([1 for (et, _) in got if et == key]) >= 4
