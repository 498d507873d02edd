"""Streaming sessionization (streaming/sessionize_stream.py): the
session_window aggregation reproduces the batch gap rule — same
session count per user, same per-session event counts — and the
boundary case (gap exactly at the threshold) merges on both sides.
"""

from pyspark.sql import functions as F

from meteaudata_spark.ext.timeseries_queries import sessionize_events
from meteaudata_spark.streaming.sessionize_stream import stream_sessionize


def _drain(spark, drain, src, gap="30 minutes"):
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        src
    )
    return drain(stream_sessionize(stream, gap=gap, watermark="0 seconds"))


def test_stream_sessionize_matches_batch(spark, tmp_path, drain):
    # 20 users; event k of a user lands at t0 + 13k + 35·(k div 2)
    # minutes, so intra-user gaps alternate 13 min / 48 min — pairs of
    # events form sessions and every other gap crosses the 30-min rule
    src = str(tmp_path / "ev")
    ev = spark.range(400).select(
        (F.col("id") % 20).alias("user_id"),
        F.expr(
            "timestamp '2024-03-01 00:00:00' + make_interval(0,0,0,0,0,"
            "cast((id div 20) * 13 + ((id div 20) div 2) * 35 as int),0)"
        ).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    ev.write.parquet(src)

    got = _drain(spark, drain, src)
    # append mode: with availableNow the final watermark passes every
    # event, but sessions whose close the watermark never crossed stay
    # open — here watermark=0s and the last event closes all but each
    # user's final session, so compare session STARTS that did emit
    # against the batch session table and require exact agreement on
    # (user, start, n_events) for the emitted subset, plus the total
    # session-count bound.
    batch = spark.read.parquet(src)
    w_sessions = (
        sessionize_events(batch)
        .select("user_id", "n_sessions")
        .collect()
    )
    batch_counts = {r["user_id"]: r["n_sessions"] for r in w_sessions}

    # replay the batch labeling to get per-session (start, n_events)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    lab = (
        batch.withColumn(
            "new_s",
            F.when(
                F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
                > 1800,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "s_no",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "s_no")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
    )
    batch_sessions = {
        (r["user_id"], r["session_start"]): r["n"] for r in lab.collect()
    }

    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        key = (r["user_id"], r["session_start"])
        assert key in batch_sessions, f"stream emitted unknown session {key}"
        assert batch_sessions[key] == r["n_events"], key
    # every user's emitted sessions ≤ batch sessions, and at least
    # n_sessions - 1 emitted (only the final open session may be held)
    per_user = {}
    for r in emitted:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    for u, n_batch in batch_counts.items():
        n_emit = per_user.get(u, 0)
        assert n_batch - 1 <= n_emit <= n_batch, (u, n_emit, n_batch)


def test_session_gap_boundary_merges(spark, tmp_path, drain):
    # two events exactly 1800s apart: batch keeps them in ONE session
    # (rule is strictly greater), session_window must merge them too
    src = str(tmp_path / "edge")
    ev = spark.createDataFrame(
        [
            (1, "2024-03-01 00:00:00", 1.0),
            (1, "2024-03-01 00:30:00", 2.0),  # exactly gap
            (1, "2024-03-01 01:30:01", 3.0),  # gap + 1s → new session
        ],
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    ev.write.parquet(src)

    got = _drain(spark, drain, src).collect()
    starts = sorted(r["session_start"] for r in got)
    counts = {r["session_start"]: r["n_events"] for r in got}
    # first session (2 events) must have closed and emitted
    assert any(counts[s] == 2 for s in starts)
    n_batch = (
        sessionize_events(spark.read.parquet(src)).collect()[0]["n_sessions"]
    )
    assert n_batch == 2
