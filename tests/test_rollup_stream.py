"""Streaming rollup partials merge with a batch base into exactly the
full-recompute table (the lambda-architecture invariant)."""

from pyspark.sql import functions as F

from meteaudata_spark.ext.timeseries_queries import (
    merge_partials,
    rollup_partials,
)
from meteaudata_spark.streaming.rollup_stream import stream_rollup_partials


def test_stream_partials_merge_with_batch_base(spark, tmp_path, drain):
    base_p = str(tmp_path / "base")
    live_p = str(tmp_path / "live")

    def mk(offset, n):
        return spark.range(n).select(
            (F.col("id") + offset).alias("event_id"),
            F.expr(
                f"timestamp '2024-07-01' + make_interval(0,0,0,0,0,0,"
                f"cast((id + {offset}) % 86400 as int))"
            ).alias("ts"),
            (F.col("id") % 9).alias("user_id"),
            F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias(
                "event_type"
            ),
            ((F.col("id") % 31) / 3.0).alias("value"),
            F.lit("{}").alias("props"),
        )

    mk(0, 20_000).write.parquet(base_p)
    mk(20_000, 10_000).write.parquet(live_p)

    base = rollup_partials(spark.read.parquet(base_p))

    stream = spark.readStream.schema(
        spark.read.parquet(live_p).schema
    ).parquet(live_p)
    live = drain(stream_rollup_partials(stream, watermark="0 seconds"))

    # append mode holds back windows the watermark never closed; merge
    # what emitted and compare on the closed buckets, then check the
    # final-window holdback is the only difference
    merged = merge_partials(base, live)
    full = merge_partials(
        rollup_partials(spark.read.parquet(base_p)),
        rollup_partials(spark.read.parquet(live_p)),
    )
    got = {
        (r["event_type"], r["b5"]): (r["sum_micros"], r["n"])
        for r in merged.collect()
    }
    expect = {
        (r["event_type"], r["b5"]): (r["sum_micros"], r["n"])
        for r in full.collect()
    }
    diffs = {k for k in expect if got.get(k) != expect[k]}
    # every differing key must be in the final (still-open) 5-min
    # bucket of the live slice
    live_max_b5 = max(
        r["b5"]
        for r in rollup_partials(spark.read.parquet(live_p)).collect()
    )
    assert all(k[1] >= live_max_b5 - 300 for k in diffs), diffs
    # and the overwhelming majority of buckets merged exactly
    assert len(diffs) <= 8, len(diffs)
    assert len(expect) > 300
