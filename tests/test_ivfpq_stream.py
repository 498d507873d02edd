"""Streaming IVF-PQ ingestion (VERDICT r13 #5): stream-built index ==
batch rebuild across >=3 micro-batches — the frozen-codebook
equivalence gate, online edition."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_append_matches_batch_rebuild(spark, tmp_path):
    from meteaudata_spark.ext.simsearch import (
        build_ivfpq_index,
        ivfpq_search,
    )
    from meteaudata_spark.streaming.ivfpq_stream import stream_append_ivfpq

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    is_delta = (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 200)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)

    full_idx = str(tmp_path / "full")
    inc_idx = str(tmp_path / "inc")
    build_ivfpq_index(emb, full_idx)
    build_ivfpq_index(base, inc_idx)

    # lay the delta out as >=3 files so maxFilesPerTrigger=1 gives
    # >=3 micro-batches
    src = str(tmp_path / "delta_src")
    delta.repartition(3).write.parquet(src)
    files = spark.read.parquet(src)
    assert files.rdd.getNumPartitions() >= 3

    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_ivfpq(
        stream, inc_idx, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    assert q.lastProgress is not None
    n_batches = int(q.lastProgress["batchId"]) + 1
    assert n_batches >= 3, n_batches

    queries = emb.filter(F.col("vec_id") < 3)
    got = [tuple(r) for r in ivfpq_search(spark, inc_idx, queries).collect()]
    want = [tuple(r) for r in ivfpq_search(spark, full_idx, queries).collect()]
    assert got == want
    assert len(got) == 30
    # every vector has exactly its 8 code rows — no replay duplicates
    per_vec = (
        spark.read.parquet(f"{inc_idx}/codes")
        .groupBy("vec_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 8 for r in per_vec)


def test_stream_append_with_periodic_compaction(spark, tmp_path):
    """compact_every bounds per-list file count while preserving
    exact search equivalence with a batch rebuild."""
    import os

    from meteaudata_spark.ext.simsearch import (
        build_ivfpq_index,
        ivfpq_search,
    )
    from meteaudata_spark.streaming.ivfpq_stream import stream_append_ivfpq

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    is_delta = (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 200)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)

    full_idx = str(tmp_path / "full")
    inc_idx = str(tmp_path / "inc")
    build_ivfpq_index(emb, full_idx)
    build_ivfpq_index(base, inc_idx)

    src = str(tmp_path / "delta_src")
    delta.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_ivfpq(
        stream,
        inc_idx,
        str(tmp_path / "ckpt"),
        compact_every=2,
        max_files_per_list=1,
    )
    assert q.awaitTermination(300)

    for d in os.listdir(f"{inc_idx}/codes"):
        if not d.startswith("centroid_id="):
            continue
        n = len(
            [
                f
                for f in os.listdir(f"{inc_idx}/codes/{d}")
                if f.endswith(".parquet")
            ]
        )
        # bound: compact_every + max_files_per_list
        assert n <= 3, (d, n)

    queries = emb.filter(F.col("vec_id") < 3)
    got = [tuple(r) for r in ivfpq_search(spark, inc_idx, queries).collect()]
    want = [tuple(r) for r in ivfpq_search(spark, full_idx, queries).collect()]
    assert got == want


def test_stream_append_rejects_wrong_columns(spark):
    import pytest

    from meteaudata_spark.streaming.ivfpq_stream import stream_append_ivfpq

    bad = spark.readStream.format("rate").load()  # (timestamp, value)
    with pytest.raises(ValueError, match="vec_id"):
        stream_append_ivfpq(bad, "/nonexistent", "/nonexistent")
