"""Streaming standing-query BM25 (streaming/bm25_stream.py): scores
equal the batch ranker under the same frozen stats, arriving docs
score per micro-batch statelessly, and zero-hit docs never emit."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_stream_scores_equal_batch_ranker(spark, tmp_path, drain):
    from meteaudata_spark.ext.textstats import (
        _BM25_QUERY,
        bm25_search,
        build_bm25_index,
    )
    from meteaudata_spark.streaming.bm25_stream import (
        bm25_query_stats,
        stream_bm25_score,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    idx = str(tmp_path / "bm25")
    build_bm25_index(docs, idx)
    stats = bm25_query_stats(spark, idx, _BM25_QUERY)

    # batch reference: every matching doc (k larger than the corpus)
    batch = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in bm25_search(docs, _BM25_QUERY, k=10_000).collect()
    }
    # same operator applied to a STREAM of the same corpus
    src = str(tmp_path / "src")
    docs.select("doc_id", "text").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_bm25_score(stream, _BM25_QUERY, stats)
    assert out.isStreaming
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in drain(out).collect()
    }
    assert got == batch
    assert len(got) > 0


def test_stream_min_score_and_zero_hit_filtering(spark, tmp_path):
    from meteaudata_spark.ext.textstats import build_bm25_index
    from meteaudata_spark.streaming.bm25_stream import (
        bm25_query_stats,
        stream_bm25_score,
    )

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "alerts about spark jobs failing",
                    "spark spark spark everywhere",
                    "nothing relevant whatsoever",
                ],
                "lang": ["en"] * 3,
                "source": ["t"] * 3,
                "n_chars": [10] * 3,
            }
        )
    )
    idx = str(tmp_path / "idx")
    build_bm25_index(corpus, idx)
    stats = bm25_query_stats(spark, idx, ["spark"])
    scored = stream_bm25_score(
        corpus.select("doc_id", "text"), ["spark"], stats
    ).collect()  # batch frame through the same code path
    ids = {r["doc_id"] for r in scored}
    assert ids == {0, 1}  # the zero-hit doc never emits
    by_id = {r["doc_id"]: r["bm25"] for r in scored}
    assert by_id[1] > by_id[0]  # higher tf wins

    high_bar = stream_bm25_score(
        corpus.select("doc_id", "text"), ["spark"], stats,
        min_score=by_id[1],
    ).collect()
    assert {r["doc_id"] for r in high_bar} == {1}


def test_stats_require_nonempty_query(spark, tmp_path):
    from meteaudata_spark.streaming.bm25_stream import (
        bm25_query_stats,
        stream_bm25_score,
    )

    with pytest.raises(ValueError):
        bm25_query_stats(spark, str(tmp_path), [])
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}))
    with pytest.raises(ValueError):
        stream_bm25_score(df, [], {"n_docs": 1, "avgdl": 1, "df": {}})


def test_nondefault_bucket_count_read_from_meta(spark, tmp_path):
    """An index built with a non-default n_buckets must serve correctly
    WITHOUT the caller restating the bucket count: the build persists
    it in meta and both the stats freeze and the index search read it
    back.  (Pruning with the wrong modulus reads the wrong partitions
    and silently scores every term as absent.)"""
    from meteaudata_spark.ext.textstats import (
        bm25_index_search,
        bm25_search,
        build_bm25_index,
    )
    from meteaudata_spark.streaming.bm25_stream import (
        bm25_query_stats,
        stream_bm25_score,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(4),
                "text": [
                    "spark engine for data",
                    "pandas data frame",
                    "spark spark streaming",
                    "nothing relevant here",
                ],
            }
        )
    )
    idx = str(tmp_path / "bm25_nb7")
    build_bm25_index(docs, idx, n_buckets=7)
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    assert meta["n_buckets"] == 7

    query = ["spark", "data"]
    batch = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in bm25_search(docs, query, k=100).collect()
    }
    served = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in bm25_index_search(spark, idx, query, k=100).collect()
    }
    assert served == batch and len(served) == 3

    stats = bm25_query_stats(spark, idx, query)
    assert set(stats["df"]) == {"spark", "data"}
    scored = {
        r["doc_id"]: (r["bm25"], r["n_terms_hit"])
        for r in stream_bm25_score(
            docs.select("doc_id", "text"), query, stats
        ).collect()
    }
    assert scored == batch
