"""Streaming latest-state: the drained complete-mode table equals the
batch struct-max compaction, including ts ties."""

from pyspark.sql import functions as F

from meteaudata_spark.streaming.latest_state_stream import stream_latest_state


def test_stream_latest_state_matches_batch(spark, tmp_path, drain):
    src = str(tmp_path / "ev")
    ev = spark.range(2000).select(
        F.col("id").alias("event_id"),
        # deliberate ts collisions: same second for every 4 ids
        F.expr(
            "timestamp '2024-06-01' + make_interval(0,0,0,0,0,0,"
            "cast(id div 4 as int))"
        ).alias("ts"),
        (F.col("id") % 25).alias("user_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias(
            "event_type"
        ),
        (F.col("id") % 13).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{src}/events.parquet")

    stream = spark.readStream.schema(
        spark.read.parquet(f"{src}/events.parquet").schema
    ).parquet(f"{src}/events.parquet")
    got = sorted(
        map(tuple, drain(stream_latest_state(stream), "complete").collect())
    )

    from meteaudata_spark.ext.timeseries_queries import ts_latest_state

    expect = sorted(map(tuple, ts_latest_state(spark, src).collect()))
    assert got == expect
    assert len(got) == 50  # 25 users × 2 types
