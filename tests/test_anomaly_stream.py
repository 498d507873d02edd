"""Streaming anomaly flags equal the batch classification under the
same trained fences; planted spikes flag, normal traffic doesn't."""

from pyspark.sql import functions as F

from meteaudata_spark.streaming.anomaly_stream import (
    stream_anomaly_flags,
    train_fences,
)


def test_stream_flags_match_batch_and_catch_spikes(spark, tmp_path, drain):
    hist_p = str(tmp_path / "hist")
    live_p = str(tmp_path / "live")
    # history: values ~ N-ish around 50 per type; live: same + spikes
    spark.range(20_000).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-08-01' + make_interval(0,0,0,0,0,0,cast(id as int))"
        ).alias("ts"),
        (F.col("id") % 13).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        (40.0 + (F.col("id") % 21)).alias("value"),  # 40..60
        F.lit("{}").alias("props"),
    ).write.parquet(hist_p)

    live = spark.range(3_000).select(
        (F.col("id") + 100_000).alias("event_id"),
        F.expr(
            "timestamp '2024-08-02' + make_interval(0,0,0,0,0,0,cast(id as int))"
        ).alias("ts"),
        (F.col("id") % 13).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        F.when(F.col("id") % 500 == 7, 500.0)  # planted spikes
        .otherwise(40.0 + (F.col("id") % 21))
        .alias("value"),
        F.lit("{}").alias("props"),
    )
    live.write.parquet(live_p)

    fences = train_fences(spark.read.parquet(hist_p))
    stream = spark.readStream.schema(
        spark.read.parquet(live_p).schema
    ).parquet(live_p)
    got = {
        r["event_id"]: r["status"]
        for r in drain(stream_anomaly_flags(stream, fences)).collect()
    }

    batch = {
        r["event_id"]: r["status"]
        for r in stream_anomaly_flags(
            spark.read.parquet(live_p), fences
        ).collect()
    }
    assert got == batch
    spikes = {100_000 + i for i in range(3000) if i % 500 == 7}
    for e, s in got.items():
        if e in spikes:
            assert s == "above_ucl", (e, s)
        else:
            assert s == "in_control", (e, s)
