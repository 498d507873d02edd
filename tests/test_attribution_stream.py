"""Stream-stream attribution join: drained stream equals the batch
time-range join, and clicks outside the window never attribute."""

from pyspark.sql import functions as F

from meteaudata_spark.streaming.attribution_stream import stream_attribution


def _mk_events(spark, path):
    # 10 users; clicks every 25 min, purchases every 90 min offset 10
    # min — some purchases have 2-3 in-window clicks, some have none
    ev = spark.range(600).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        F.when((F.col("id") % 3) < 2, "click").otherwise("purchase").alias(
            "event_type"
        ),
        F.expr(
            "timestamp '2024-05-01 00:00:00' + make_interval(0,0,0,0,0,"
            "cast(CASE WHEN id % 3 < 2 THEN (id div 10) * 25"
            "     ELSE (id div 10) * 90 + 10 END as int),0)"
        ).alias("ts"),
        (F.col("id") % 50).cast("double").alias("value"),
    )
    ev.write.parquet(path)
    return ev


def test_stream_attribution_matches_batch(spark, tmp_path, drain):
    src = str(tmp_path / "ev")
    _mk_events(spark, src)
    schema = spark.read.parquet(src).schema

    def read_stream():
        return spark.readStream.schema(schema).parquet(src)

    clicks = read_stream().filter(F.col("event_type") == "click")
    purchases = read_stream().filter(F.col("event_type") == "purchase")
    got = {
        (r["purchase_id"], r["click_id"]): r["lag_seconds"]
        for r in drain(
            stream_attribution(clicks, purchases, "1 hour", "0 seconds")
        ).collect()
    }

    ev = spark.read.parquet(src)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    batch = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
    ).select(
        "purchase_id",
        "click_id",
        (F.unix_timestamp("pts") - F.unix_timestamp("cts")).alias("lag"),
    )
    expect = {
        (r["purchase_id"], r["click_id"]): r["lag"] for r in batch.collect()
    }
    assert expect, "batch join must be non-empty for the test to mean anything"
    assert got == expect
    # window semantics: every attributed lag within [0, 3600]
    assert all(0 <= v <= 3600 for v in got.values())
