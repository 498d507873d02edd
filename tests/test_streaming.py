"""Structured Streaming operators vs their batch kernels."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from meteaudata_spark.operators import kernels
from meteaudata_spark.streaming.resample_stream import stream_resample_mean
from meteaudata_spark.streaming.sessionize_stream import stream_sessionize

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def event_stream_dir(spark, tmp_path):
    rng = np.random.default_rng(11)
    idx = pd.date_range("2024-01-01", freq="37s", periods=500)
    pdf = pd.DataFrame(
        {
            "event_type": ["a" if i % 2 else "b" for i in range(500)],
            "timestamp": idx,
            "value": rng.standard_normal(500),
        }
    )
    path = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).write.parquet(path)
    return path, pdf


def test_stream_resample_matches_batch(spark, event_stream_dir, drain):
    path, pdf = event_stream_dir
    batch_df = spark.read.parquet(path)
    schema = batch_df.schema

    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_resample_mean(
        stream, "5min", partition_cols=["event_type"]
    )
    got = (
        drain(out, "complete")
        .orderBy("event_type", "timestamp")
        .toPandas()
    )

    # batch oracle: same tumbling windows (F.window is epoch-aligned,
    # matching the streaming window; compare against pandas resample
    # with origin='epoch' per group)
    ref_parts = []
    for key, grp in pdf.groupby("event_type"):
        ser = pd.Series(grp["value"].values, index=grp["timestamp"])
        r = ser.resample("5min", origin="epoch").mean().dropna()
        ref_parts.append(
            pd.DataFrame(
                {"event_type": key, "timestamp": r.index, "value": r.values}
            )
        )
    ref = (
        pd.concat(ref_parts)
        .sort_values(["event_type", "timestamp"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ref)
    assert np.allclose(got["value"].values, ref["value"].values)


def test_stream_sessionize_runs(spark, event_stream_dir, drain):
    path, _ = event_stream_dir
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_sessionize(
        stream.withColumnRenamed("event_type", "user_id"),
        gap="10 minutes",
        user_col="user_id",
        ts_col="timestamp",
    )
    got = drain(out, "complete").toPandas()
    assert len(got) >= 2
    assert set(got.columns) == {
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    }


def test_stream_sliding_mean_matches_batch_windows(
    spark, event_stream_dir, drain
):
    from meteaudata_spark.streaming.resample_stream import stream_sliding_mean

    path, pdf = event_stream_dir
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_sliding_mean(
        stream, "10min", "5min", partition_cols=["event_type"]
    )
    got = drain(out, "complete").toPandas()
    # every event lands in window/slide = 2 overlapping windows, so the
    # per-group row count must exceed the tumbling-window count
    assert (got["window_end"] - got["window_start"]).eq(pd.Timedelta("10min")).all()
    tumbling = got[got["window_start"].dt.minute % 10 == 0]
    assert len(got) > len(tumbling)
    # spot-check one window against pandas
    g = got[(got["event_type"] == "a")].sort_values("window_start").iloc[2]
    mask = (
        (pdf["event_type"] == "a")
        & (pdf["timestamp"] >= g["window_start"])
        & (pdf["timestamp"] < g["window_end"])
    )
    assert np.isclose(pdf.loc[mask, "value"].mean(), g["value"])


def test_stream_dedup_drops_retransmissions(spark, tmp_path, drain):
    from meteaudata_spark.streaming.resample_stream import stream_dedup

    idx = pd.date_range("2024-01-01", freq="1min", periods=20)
    pdf = pd.DataFrame(
        {
            "event_id": [i // 2 for i in range(20)],  # every id twice
            "timestamp": idx,
            "value": np.arange(20.0),
        }
    )
    path = str(tmp_path / "dup_src")
    spark.createDataFrame(pdf).write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_dedup(stream, ["event_id"], watermark="30 minutes")
    got = drain(out).toPandas()
    assert len(got) == 10
    assert sorted(got["event_id"]) == list(range(10))


def test_stream_interval_join_click_to_impression(spark, tmp_path, drain):
    from meteaudata_spark.streaming.resample_stream import stream_interval_join

    imp = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "timestamp": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:20", "2024-01-01 10:00"]
            ),
            "ad": ["x", "y", "z"],
        }
    )
    clk = pd.DataFrame(
        {
            "user_id": [1, 2],
            "timestamp": pd.to_datetime(
                ["2024-01-01 10:05", "2024-01-01 10:45"]
            ),
            "target": ["t1", "t2"],
        }
    )
    pi, pc = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(imp).write.parquet(pi)
    spark.createDataFrame(clk).write.parquet(pc)
    s_imp = spark.readStream.schema(spark.read.parquet(pi).schema).parquet(pi)
    s_clk = spark.readStream.schema(spark.read.parquet(pc).schema).parquet(pc)
    out = stream_interval_join(
        s_clk, s_imp, on="user_id", upper="10 minutes"
    ).selectExpr("__l.user_id AS user_id", "target", "ad")
    got = drain(out).toPandas().sort_values("user_id")
    # click@10:05 matches impression@10:00 (within 10min); click@10:45
    # matches nothing (both impressions too old)
    assert got["ad"].tolist() == ["x"]


def test_chunk_text_works_unchanged_on_streams(spark, tmp_path, drain):
    """RAG chunking is a pure narrow projection (split → sequence →
    explode → slice), so the SAME operator runs on a streaming frame
    with no streaming-specific code — pin that property and the
    batch/stream row equality."""
    from meteaudata_spark.ext.corpus_ops import chunk_text

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [" ".join(f"d{i}w{j}" for j in range(5 + (i * 7) % 90)) for i in range(40)],
        }
    )
    path = str(tmp_path / "docs_src")
    spark.createDataFrame(pdf).write.parquet(path)
    batch_df = spark.read.parquet(path)

    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = chunk_text(stream, window=16, stride=11)
    assert out.isStreaming
    got = sorted(
        tuple(r) for r in drain(out).collect()
    )
    want = sorted(
        tuple(r) for r in chunk_text(batch_df, window=16, stride=11).collect()
    )
    assert got == want and len(got) > 40


def test_stream_dedup_matches_batch_windowed_distinct(spark, tmp_path):
    """Batch<->stream differential: dropDuplicatesWithinWatermark with
    a watermark spanning the feed keeps exactly one event per
    (user, type, value) key — the batch row's n_distinct total."""
    from meteaudata_spark.streaming.resample_stream import stream_dedup

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_id") < 2000)
        .select("ts", "user_id", "event_type", "value")
    )
    src = str(tmp_path / "feed")
    ev.write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_dedup(
        stream,
        ["user_id", "event_type", "value"],
        watermark="365 days",
        ts_col="ts",
    )
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(sink).count()
    want = ev.select("user_id", "event_type", "value").distinct().count()
    assert got == want
