"""Streaming segment dedup (streaming/segdedup_stream.py): single-batch
replay reproduces the batch operator's keep set exactly; first arrival
wins across micro-batches; knob validation."""

import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_single_batch_matches_batch_operator(spark, tmp_path, drain):
    """availableNow over a static corpus (one micro-batch): the kept
    segment set equals batch segment_dedup's lowest-(doc_id, seg_idx)
    rule — per-doc kept counts AND reassembled dedup hashes match."""
    from meteaudata_spark.ext.dedup import segment_dedup
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = {
        r["doc_id"]: (r["n_kept"], r["dedup_hash"])
        for r in segment_dedup(docs, seg_words=8).collect()
    }

    src = str(tmp_path / "src")
    docs.select("doc_id", "text").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_segment_dedup(stream, seg_words=8)
    assert out.isStreaming
    got = (
        drain(out)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list(struct(seg_idx, segment))), s -> s.segment)"
                    ),
                )
            ).alias("dedup_hash"),
        )
        .collect()
    )
    got = {r["doc_id"]: (r["n_kept"], r["dedup_hash"]) for r in got}
    # stream emits only docs that kept >=1 segment; batch reports all
    batch_nonzero = {k: v for k, v in batch.items() if v[0] > 0}
    assert got == batch_nonzero and len(got) > 0


def test_first_arrival_wins_across_batches(spark, tmp_path, drain):
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup,
    )

    text = "a b c d e f g h i j k l m n o p"  # two 8-word segments
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    schema = None
    # doc 9 arrives FIRST (higher id), doc 1 re-sends the same text later
    for i, (doc_id, t) in enumerate([(9, text), (1, text), (3, "q r s t u v w x")]):
        staging = str(tmp_path / f"st{i}")
        spark.createDataFrame(
            pd.DataFrame([(doc_id, t)], columns=["doc_id", "text"])
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    kept = {
        (r["doc_id"], r["seg_idx"])
        for r in drain(stream_segment_dedup(stream)).collect()
    }
    # doc 9 arrived first and keeps both segments; doc 1's identical
    # text keeps nothing; doc 3 is fresh
    assert kept == {(9, 0), (9, 1), (3, 0)}


def test_stream_segment_dedup_validates_knobs(spark):
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup,
    )

    d = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        stream_segment_dedup(d, seg_words=0)
    with pytest.raises(ValueError):
        stream_segment_dedup(d, state_shards=0)


def test_event_time_horizon_evicts_and_readmits(spark, tmp_path, drain):
    """evict_after_us: a segment unseen for longer than the horizon is
    dropped from the seen set and its next occurrence re-admits; a
    segment kept fresh by recurring dups stays fenced (recency
    refreshes on every occurrence)."""
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup,
    )

    seg_a = "a b"          # recurs every batch -> stays fenced
    seg_b = "x y"          # silent past the horizon -> re-admitted
    hours = 3_600_000_000  # us
    batches = [
        # (doc_id, text, ts)
        [(1, f"{seg_a} {seg_b}", "2024-01-01 00:00:00")],
        [(2, f"{seg_a}", "2024-01-01 01:00:00")],   # a refreshed; b ages
        [(3, f"{seg_a} {seg_b}", "2024-01-01 05:00:00")],
        # horizon 3h: b last seen 00:00, max now 05:00 -> evicted,
        # so b re-admits (kept for doc 3); a seen 01:00... also >3h?
        # a refreshed at 01:00, 05:00-01:00=4h > 3h -> a ALSO evicted
        # and re-admitted. Use a tighter cadence for a:
    ]
    # rebuild: a recurs hourly (always fresh), b silent 5 hours
    batches = [
        [(1, f"{seg_a} {seg_b}", "2024-01-01 00:00:00")],
        [(2, seg_a, "2024-01-01 01:00:00")],
        [(3, seg_a, "2024-01-01 02:00:00")],
        [(4, seg_a, "2024-01-01 03:00:00")],
        [(5, seg_a, "2024-01-01 04:00:00")],
        [(6, f"{seg_a} {seg_b}", "2024-01-01 05:00:00")],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        now = time.time()
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                p = os.path.join(src, f)
                if os.path.getmtime(p) > now - 1:
                    os.utime(p, (now - 600 + i * 10,) * 2)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_segment_dedup(
        stream, seg_words=2, evict_after_us=3 * hours
    )
    got = drain(out).toPandas()
    kept = sorted(
        map(tuple, got[["doc_id", "segment"]].itertuples(index=False))
    )
    # seg_a kept once (doc 1), refreshed by every dup -> never again;
    # seg_b kept at doc 1 AND re-admitted at doc 6 (aged out)
    assert kept == [(1, seg_a), (1, seg_b), (6, seg_b)], kept


def test_horizon_and_ttl_mutually_exclusive(spark):
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup,
    )

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a"]}))
    with pytest.raises(ValueError, match="mutually exclusive"):
        stream_segment_dedup(df, ttl_minutes=5, evict_after_us=1)
    with pytest.raises(ValueError, match="positive"):
        stream_segment_dedup(df, evict_after_us=0)
