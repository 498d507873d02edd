"""Streaming OHLC differential: a drained stream's final candles must
equal the batch ``ts_ohlc_daily`` on the same rows — open/close fold
as struct min/max over the shared total-order key, so the streaming
aggregation state merges to the identical result regardless of
micro-batch boundaries."""

from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF = "/root/testdata/sf0.001"


def test_streamed_ohlc_equals_batch(spark, tmp_path):
    from meteaudata_spark.ext.timeseries_queries import ts_ohlc_daily
    from meteaudata_spark.streaming.ohlc_stream import stream_ohlc_daily

    src = str(tmp_path / "ev_src")
    base = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    # interleave days across two micro-batches so candle state merges
    base.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    base.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "sink")

    def write_updates(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink)

    q = (
        stream_ohlc_daily(stream)
        .writeStream.foreachBatch(write_updates)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    # final candle per key = row from the LAST batch that touched it
    drained = spark.read.parquet(sink)
    final = (
        drained.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "day").orderBy(
                    F.col("batch_id").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk", "batch_id")
    )
    streamed = {
        (r["event_type"], str(r["day"])): (
            r["open"],
            r["high"],
            r["low"],
            r["close"],
            r["volume"],
        )
        for r in final.collect()
    }
    batch = {
        (r["event_type"], str(r["day"])): (
            r["open"],
            r["high"],
            r["low"],
            r["close"],
            r["volume"],
        )
        for r in ts_ohlc_daily(spark, SF).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_streamed_ohlc_watermark_append_closes_candles(spark, tmp_path, drain):
    """With a watermark, candles emit append-mode; the union of
    emitted candles over a drained bounded stream still covers every
    (type, day) with the batch values."""
    from meteaudata_spark.ext.timeseries_queries import ts_ohlc_daily
    from meteaudata_spark.streaming.ohlc_stream import stream_ohlc_daily

    src = str(tmp_path / "ev_src2")
    spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    ).orderBy("ts").coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = {
        (r["event_type"], str(r["day"])): (
            r["open"],
            r["high"],
            r["low"],
            r["close"],
            r["volume"],
        )
        for r in drain(stream_ohlc_daily(stream, watermark="1 day")).collect()
    }
    batch = {
        (r["event_type"], str(r["day"])): (
            r["open"],
            r["high"],
            r["low"],
            r["close"],
            r["volume"],
        )
        for r in ts_ohlc_daily(spark, SF).collect()
    }
    # append mode emits only candles the watermark closed; every
    # emitted candle must match the batch value exactly
    assert len(got) > 0
    for k, v in got.items():
        assert batch[k] == v
