"""Streaming dip/spike (streaming/dipspike_stream.py): the streamed
per-point flags must equal the batch detector's interior
classification on the same events — same fences, same integer math.
"""

import pandas as pd
from pyspark.sql import functions as F

from meteaudata_spark.ext.timeseries_queries import dip_spike
from meteaudata_spark.streaming.dipspike_stream import stream_dip_spike


def _drain(spark, drain, src):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    return drain(stream_dip_spike(stream))


def test_stream_matches_batch_interior(spark, tmp_path, drain):
    src = str(tmp_path / "ev")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(src)

    got = {
        (r["user_id"], r["event_type"], r["event_id"]): (
            r["is_dip"], r["is_spike"]
        )
        for r in _drain(spark, drain, src).collect()
    }

    marked = dip_spike(ev, ["user_id", "event_type"])
    interior = marked.filter(
        F.col("__pv").isNotNull() & F.col("__nv").isNotNull()
    ).select("user_id", "event_type", "event_id", "is_dip", "is_spike")
    want = {
        (r["user_id"], r["event_type"], r["event_id"]): (
            r["is_dip"], r["is_spike"]
        )
        for r in interior.collect()
    }

    assert len(got) == len(want) and len(want) > 0
    assert got == want


def test_stream_state_spans_microbatches(spark, tmp_path, drain):
    # the same series split across TWO batches (maxFilesPerTrigger=1):
    # the triple straddling the file boundary must still classify
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    rows_a = [(0, t0, 1, "a", 100.0), (1, t0 + dt.timedelta(minutes=1), 1, "a", 100.0)]
    rows_b = [
        (2, t0 + dt.timedelta(minutes=2), 1, "a", 10.0),
        (3, t0 + dt.timedelta(minutes=3), 1, "a", 100.0),
    ]
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE"
    )
    src = str(tmp_path / "ev2")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = {
        r["event_id"]: (r["is_dip"], r["is_spike"])
        for r in drain(stream_dip_spike(stream)).collect()
    }
    # interior points 1 and 2 classified; the dip at id=2 found even
    # though its neighbours arrived in different micro-batches
    assert out[1] == (False, False)
    assert out[2] == (True, False)
    assert 3 not in out  # last point has no successor yet
