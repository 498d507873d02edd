"""Streaming near-dup detector (streaming/neardup_stream.py): exact
duplicates always collide (all bands), unique docs don't, state
carries across micro-batches, and the band math matches the batch
MinHash pipeline exactly."""

import os
import shutil
import time

import pandas as pd
import pytest


def test_stream_flags_exact_dup_across_batches(spark, tmp_path, drain):
    from meteaudata_spark.streaming.neardup_stream import (
        stream_near_dup_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different words about spark catalyst tungsten arrow"

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = None
    # one doc per file, mtimes strictly increasing so the file stream
    # processes doc 1 → 2 → 3 deterministically (maxFilesPerTrigger=1
    # puts the re-sent text in a LATER micro-batch than the original,
    # so the collision crosses state between batches)
    now = time.time()
    for i, (doc_id, text) in enumerate([(1, base), (2, uniq), (3, base)]):
        staging = str(tmp_path / f"stage{i}")
        pdf = pd.DataFrame([(doc_id, text)], columns=["doc_id", "text"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_near_dup_candidates(stream)
    got = drain(out).toPandas()
    # doc 3 collides with doc 1 in EVERY band (identical text), with
    # the state carried from an earlier micro-batch
    flagged = got[got["doc_id"] == 3]
    assert len(flagged) == 4, got  # bands
    assert (flagged["first_doc_id"] == 1).all(), got
    assert (flagged["n_seen_in_bucket"] == 2).all(), got
    # the unique doc is never flagged, and the first-seen doc isn't
    assert (got["doc_id"] == 3).all(), got


def test_stream_band_math_matches_batch(spark):
    """A doc must collide with its batch-pipeline self: the streaming
    band signatures equal the batch minhash band buckets."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext import dedup as dd
    from meteaudata_spark.ext.dedup import _MERSENNE
    from meteaudata_spark.streaming.neardup_stream import _band_signatures

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    sh = dd._md5_shingles(d, 3)
    h = F.pmod(F.col("h"), F.lit(_MERSENNE))
    sig_cols = [
        F.min(
            F.pmod((F.lit(2 * j + 1) * h + F.lit(7919 * (j + 1))), F.lit(_MERSENNE))
        ).alias(f"mh_{j}")
        for j in range(16)
    ]
    row = sh.groupBy("doc_id").agg(*sig_cols).collect()[0]
    batch_bands = [
        "-".join(str(row[f"mh_{b * 4 + r}"]) for r in range(4)) for b in range(4)
    ]
    assert _band_signatures(text, 16, 4, 3) == batch_bands


def test_stream_near_dup_validates_bands():
    from meteaudata_spark.streaming.neardup_stream import (
        stream_near_dup_candidates,
    )

    with pytest.raises(ValueError):
        stream_near_dup_candidates(None, num_hashes=10, bands=4)


def test_vectorized_batch_signatures_match_reference():
    """The numpy segment-min hot path must be bit-identical to the
    per-doc reference across edge shapes: empty text, sub-shingle
    docs, repeated texts, and unicode."""
    from meteaudata_spark.streaming.neardup_stream import (
        _band_signatures,
        _band_signatures_batch,
    )

    texts = [
        "",
        "one",
        "one two",
        "one two three",
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",  # exact repeat
        "héllo wörld ünïcode shingles here now",
        " ".join(f"w{i % 7}" for i in range(50)),  # repeated shingles
    ]
    got = _band_signatures_batch(texts, 16, 4, 3)
    want = [_band_signatures(t, 16, 4, 3) for t in texts]
    assert got == want
    assert _band_signatures_batch([], 16, 4, 3) == []
    # non-default knobs
    got2 = _band_signatures_batch(texts, 12, 6, 2)
    want2 = [_band_signatures(t, 12, 6, 2) for t in texts]
    assert got2 == want2


def test_event_time_horizon_evicts_buckets(spark, tmp_path, drain):
    """evict_after_us: an exact re-send AFTER the horizon re-seeds its
    buckets instead of being flagged (the pre-gap occupant aged out on
    its stored recency); a re-send INSIDE the horizon is flagged."""
    from meteaudata_spark.streaming.neardup_stream import (
        stream_near_dup_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark catalyst tungsten arrow"
    rows = [
        # (doc_id, text, event ts)
        (1, base, "2024-01-01 00:00:00"),
        (2, other, "2024-01-01 01:00:00"),
        (3, other, "2024-01-01 02:00:00"),   # inside horizon -> flagged
        (4, base, "2024-01-01 09:00:00"),    # 9h gap > 3h -> re-seeded
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    schema = None
    for i, (doc_id, text, ts) in enumerate(rows):
        staging = str(tmp_path / f"stage{i}")
        pdf = pd.DataFrame(
            [(doc_id, text, ts)], columns=["doc_id", "text", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + i * 60,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_near_dup_candidates(
        stream, evict_after_us=3 * 3_600_000_000
    )
    got = drain(out).toPandas()
    # doc 3 flagged against doc 2 (inside horizon, all 4 bands);
    # doc 4 NOT flagged anywhere: doc 1's buckets aged out
    assert set(got["doc_id"]) == {3}, got
    assert (got[got["doc_id"] == 3]["first_doc_id"] == 2).all(), got


def test_neardup_horizon_knob_validation(spark):
    from meteaudata_spark.streaming.neardup_stream import (
        stream_near_dup_candidates,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c"]})
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        stream_near_dup_candidates(df, ttl_minutes=5, evict_after_us=1)
    with pytest.raises(ValueError, match="positive"):
        stream_near_dup_candidates(df, evict_after_us=-1)
