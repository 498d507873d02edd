"""Streaming pattern census equals the batch per-doc counts."""

from pyspark.sql import functions as F

from meteaudata_spark.streaming.pattern_stream import stream_pattern_flags


def test_stream_pattern_counts_match_batch(spark, tmp_path, drain):
    src = str(tmp_path / "docs")
    rows = [
        (0, "visit https://a.example.org/x and http://b.example.net now", "en"),
        (1, "mail me at user1@example.com or admin@test.org", "en"),
        (2, "numbers 42 and 1999 and 7", "de"),
        (3, "plain text only", "de"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    got = {r["doc_id"]: (r["n_urls"], r["n_emails"], r["n_numbers"])
           for r in drain(stream_pattern_flags(stream)).collect()}
    batch = {r["doc_id"]: (r["n_urls"], r["n_emails"], r["n_numbers"])
             for r in stream_pattern_flags(spark.read.parquet(src)).collect()}
    assert got == batch
    assert got[0] == (2, 0, 0)
    assert got[1] == (0, 2, 1)  # 'user1' carries a digit token
    assert got[2] == (0, 0, 3)
    assert got[3] == (0, 0, 0)
