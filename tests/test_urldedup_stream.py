"""Streaming URL dedup (streaming/urldedup_stream.py): the update-mode
ledger converges to the batch operator's exact table under ANY
micro-batch split (min/count are order-insensitive), and the plan is
pure JVM (built-in streaming agg, no Python stage)."""

import pandas as pd
from pyspark.sql import functions as F


def _final_ledger(t):
    """Latest row per norm_url from an update-mode memory sink."""
    # memory sink in update mode appends every update; the final state
    # per key is the row with the max n_docs (counts only grow)
    return (
        t.groupBy("norm_url")
        .agg(
            F.min("kept_doc_id").alias("kept_doc_id"),
            F.max("n_docs").alias("n_docs"),
            F.max("n_removed").alias("n_removed"),
        )
        .toPandas()
        .sort_values("norm_url")
        .reset_index(drop=True)
    )


def test_any_split_matches_batch_operator(spark, tmp_path, drain):
    """Two arbitrary parquet chunks → two micro-batches: the final
    ledger equals doc_url_dedup's batch table row for row."""
    from meteaudata_spark.ext.dedup import doc_url_dedup
    from meteaudata_spark.streaming.urldedup_stream import stream_url_dedup

    sf = "/root/testdata/sf0.001"
    batch = (
        doc_url_dedup(spark, sf)
        .toPandas()
        .sort_values("norm_url")
        .reset_index(drop=True)
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    src = str(tmp_path / "src")
    # adversarial split: even ids land in chunk 1, odd in chunk 2, so
    # most normalized-URL groups straddle the micro-batch boundary
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_url_dedup(stream)
    assert out.isStreaming
    got = _final_ledger(drain(out, "update"))
    pd.testing.assert_frame_equal(
        got, batch[got.columns.tolist()].sort_values("norm_url").reset_index(drop=True)
    )


def test_stream_plan_is_pure_jvm(spark, tmp_path):
    """No Python stage anywhere: normalization is codegen, the ledger
    is the built-in stateful agg."""
    from meteaudata_spark.streaming.urldedup_stream import stream_url_dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")
    # static-plan proxy: same logical plan, inspectable without a sink
    out = stream_url_dedup(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_explicit_url_column(spark):
    """When the stream carries a real URL column, variants of the same
    page collapse: case, trailing slash, utm params, fragment."""
    from meteaudata_spark.streaming.urldedup_stream import stream_url_dedup

    rows = pd.DataFrame(
        {
            "doc_id": [10, 11, 12, 13, 14],
            "url": [
                "https://A.example.com/x",
                "https://a.EXAMPLE.com/x/",
                "https://a.example.com/x?utm_source=z",
                "https://a.example.com/x#frag",
                "https://a.example.com/y",
            ],
        }
    )
    out = (
        stream_url_dedup(spark.createDataFrame(rows), url_col="url")
        .toPandas()
        .sort_values("norm_url")
        .reset_index(drop=True)
    )
    assert out.norm_url.tolist() == [
        "https://a.example.com/x",
        "https://a.example.com/y",
    ]
    assert out.kept_doc_id.tolist() == [10, 14]
    assert out.n_docs.tolist() == [4, 1]
    assert out.n_removed.tolist() == [3, 0]


def test_windowed_horizon_ledger(spark, tmp_path):
    """horizon: the ledger keys become tumbling windows behind a
    watermark — a URL recurring in a later window is re-admitted as
    that window's keeper (bounded-state revival trade-off), while
    same-window repeats dedup as usual.  Static-frame run pins the
    windowed aggregation semantics."""
    import pandas as pd

    from meteaudata_spark.streaming.urldedup_stream import stream_url_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "url": [
                "https://ex.com/a?utm_source=x",
                "https://ex.com/a",
                "https://ex.com/a",
            ],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:10:00",
                    "2024-01-01 00:20:00",
                    "2024-01-02 05:00:00",
                ]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = stream_url_dedup(
        df, url_col="url", horizon="1 day"
    ).toPandas().sort_values("win_start")
    assert list(out.columns) == [
        "win_start", "win_end", "norm_url", "kept_doc_id", "n_docs",
        "n_removed",
    ]
    # day 1: docs 10+11 normalize together -> keeper 10, one removed;
    # day 2: doc 12 re-admitted as its window's keeper
    assert len(out) == 2, out
    assert list(out["kept_doc_id"]) == [10, 12], out
    assert list(out["n_docs"]) == [2, 1], out
    assert list(out["n_removed"]) == [1, 0], out
