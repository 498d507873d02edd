"""Streaming Bloom contamination filter
(streaming/contamination_stream.py): flags match the batch operator
exactly on the same corpus, planted leaks are caught across
micro-batches, and clean docs pass."""

import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F


def _write_stream_files(spark, tmp_path, rows):
    """One doc per file with increasing mtimes (deterministic order)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = None
    now = time.time()
    for i, (doc_id, text) in enumerate(rows):
        staging = str(tmp_path / f"stage{i}")
        pdf = pd.DataFrame([(doc_id, text)], columns=["doc_id", "text"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))
    return src, schema


def test_stream_flags_match_batch_bloom(spark, tmp_path):
    from meteaudata_spark.ext.corpus_ops import contamination_bloom
    from meteaudata_spark.streaming.contamination_stream import (
        build_bloom_bits,
        stream_contamination_flags,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)

    bits = build_bloom_bits(bench)
    # stateless mapInPandas runs identically on a batch frame — pin the
    # stream path's math against the relational batch operator
    got = {
        r["doc_id"]: (r["n_grams"], r["n_flagged"])
        for r in stream_contamination_flags(corpus, bits).collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["n_flagged"])
        for r in contamination_bloom(corpus, bench).collect()
    }
    assert got == want


def test_stream_catches_planted_leak_across_batches(spark, tmp_path, drain):
    from meteaudata_spark.streaming.contamination_stream import (
        build_bloom_bits,
        stream_contamination_flags,
    )

    bench = spark.createDataFrame(
        pd.DataFrame(
            [(0, "alpha beta gamma delta epsilon zeta eta theta")],
            columns=["doc_id", "text"],
        )
    )
    bits = build_bloom_bits(bench)
    rows = [
        (10, "clean words with no benchmark overlap at all today"),
        (11, "prefix alpha beta gamma delta epsilon suffix words here"),
        (12, "another totally clean document streaming through the filter"),
    ]
    src, schema = _write_stream_files(spark, tmp_path, rows)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_contamination_flags(stream, bits)
    got = {
        r["doc_id"]: r["contaminated"]
        for r in drain(out).collect()
    }
    assert got == {10: False, 11: True, 12: False}


def test_stream_skips_gramless_and_null_docs(spark):
    from meteaudata_spark.streaming.contamination_stream import (
        build_bloom_bits,
        stream_contamination_flags,
    )

    bench = spark.createDataFrame(
        pd.DataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            columns=["doc_id", "text"],
        )
    )
    bits = build_bloom_bits(bench)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [
                (10, "too short"),          # < 5 words: no grams
                (11, None),                 # null text: no grams, no crash
                (12, "prefix alpha beta gamma delta epsilon suffix"),
            ],
            columns=["doc_id", "text"],
        )
    )
    got = {r["doc_id"]: r for r in stream_contamination_flags(corpus, bits).collect()}
    # batch parity: gram-less docs are absent, not emitted as zero rows
    assert set(got) == {12}
    assert got[12]["contaminated"]
