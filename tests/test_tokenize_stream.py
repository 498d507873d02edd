"""Streaming tokenizer encode == batch doc_unigram_lm_encode: train
the vocabulary batch-side, stream the same corpus through
stream_token_counts, and match the per-lang totals EXACTLY."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_token_counts_matches_batch_encode(spark, tmp_path, drain):
    from meteaudata_spark.ext.textstats import (
        _docs,
        doc_unigram_lm_encode,
        doc_unigram_lm_train,
    )
    from meteaudata_spark.streaming.tokenize_stream import (
        stream_token_counts,
    )

    vocab = [
        (r["piece"], r["logp_micros"])
        for r in doc_unigram_lm_train(spark, SF).collect()
    ]
    batch = (
        doc_unigram_lm_encode(spark, SF)
        .toPandas()
        .set_index("lang")
        .sort_index()
    )

    src = str(tmp_path / "src")
    _docs(spark, SF).select("lang", "text").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    out = stream_token_counts(stream, vocab)
    got = (
        drain(out)
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    assert list(got.index) == list(batch.index)
    for lang in got.index:
        assert got.loc[lang, "n_words"] == batch.loc[lang, "n_words"], lang
        assert got.loc[lang, "n_chars"] == batch.loc[lang, "n_char_tokens"], lang
        assert (
            got.loc[lang, "n_tokens"] == batch.loc[lang, "n_unigram_tokens"]
        ), lang


def test_stream_token_counts_rejects_empty_vocab(spark):
    from meteaudata_spark.streaming.tokenize_stream import (
        stream_token_counts,
    )

    with pytest.raises(ValueError, match="vocab"):
        stream_token_counts(None, [])


def test_viterbi_len_oov_char_returns_sentinel_not_typeerror():
    # ADVICE r13 (medium): a word with a character absent from the
    # frozen vocabulary must be flagged non-encodable, not raise
    # TypeError (None + int) inside mapInArrow.
    from meteaudata_spark.streaming.tokenize_stream import _viterbi_len

    lp = {"a": -1, "b": -2, "ab": -2}
    assert _viterbi_len("ab", lp, 2) == 1
    assert _viterbi_len("aba", lp, 2) == 2
    assert _viterbi_len("axb", lp, 2) == -1  # 'x' not in vocab
    assert _viterbi_len("x", lp, 2) == -1
    assert _viterbi_len("xab", lp, 2) == -1  # unreachable prefix


def test_stream_oov_words_metered_not_crashing(spark, tmp_path, drain):
    # End-to-end: stream documents containing out-of-vocabulary
    # characters through the frozen vocabulary — the query must
    # complete, exclude those words from the token counts (the batch
    # join-miss semantics) and meter them in n_oov_words.
    from meteaudata_spark.streaming.tokenize_stream import (
        stream_token_counts,
    )

    vocab = [("a", -1), ("b", -2), ("ab", -2)]
    src = str(tmp_path / "oov_src")
    pdf = pd.DataFrame(
        {"lang": ["xx", "xx", "yy"], "text": ["ab aZb a", "b✗ ab", "ba"]}
    )
    spark.createDataFrame(pdf).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    got = (
        drain(stream_token_counts(stream, vocab))
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_oov_words").alias("n_oov"),
        )
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    # xx: encodable words {ab, a, ab} -> 3 words, tokens 1+1+1;
    #     OOV {aZb, b✗} -> 2
    assert got.loc["xx", "n_words"] == 3
    assert got.loc["xx", "n_tokens"] == 3
    assert got.loc["xx", "n_oov"] == 2
    # yy: {ba} -> 2 tokens (b,a), no OOV
    assert got.loc["yy", "n_words"] == 1
    assert got.loc["yy", "n_tokens"] == 2
    assert got.loc["yy", "n_oov"] == 0


def test_viterbi_memo_is_capped():
    # ADVICE r13 (low): the worker-local memo must not grow without
    # bound on high-cardinality word streams.
    import meteaudata_spark.streaming.tokenize_stream as m

    assert m._MEMO_CAP >= 1024  # sane floor
