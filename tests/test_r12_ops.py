"""Round-12 operators: the unigram-LM (SentencePiece-style) tokenizer
trainer.  Differential strategy mirrors doc_bpe_train's: Spark ==
plain-Python reference trainer (same integer-quantized Viterbi-EM) on
the real corpus AND on adversarial planted corpora; the DuckDB oracle
equivalence is the driver gate's job."""

import math

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _round_half_away(x: float) -> int:
    # Spark round() / DuckDB ROUND quantization (python round() is
    # banker's and provably diverges on .5 boundaries)
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _py_unigram(words, L=4, seed=80, rounds=3, target_multi=24,
                return_pruned=False):
    """Reference trainer: the exact algorithm in plain Python."""
    spans = {}
    for w, c in words.items():
        n = len(w)
        for i in range(1, n + 1):
            for ln in range(1, min(L, i) + 1):
                sub = w[i - ln:i]
                spans[sub] = spans.get(sub, 0) + c
    alpha = {p: c for p, c in spans.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in spans.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:seed]
    pieces = dict(alpha)
    pieces.update(dict(multi))

    def logp_table(pc):
        tot = sum(pc.values())
        return {
            p: _round_half_away(math.log(c / tot) * 1e6)
            for p, c in pc.items()
        }

    def attribute(lp):
        raw = {}
        for w, c in words.items():
            n = len(w)
            best = [0] * (n + 1)
            for i in range(1, n + 1):
                b = None
                for ln in range(1, min(L, i) + 1):
                    p = w[i - ln:i]
                    if p in lp:
                        v = best[i - ln] + lp[p]
                        if b is None or v > b:
                            b = v
                best[i] = b
            pos = n
            while pos > 0:
                chosen = 1
                for ln in range(min(L, pos), 1, -1):
                    p = w[pos - ln:pos]
                    if p in lp and best[pos - ln] + lp[p] == best[pos]:
                        chosen = ln
                        break
                piece = w[pos - chosen:pos]
                raw[piece] = raw.get(piece, 0) + c
                pos -= chosen
        pc = {p: max(raw.get(p, 0), 1) for p in alpha}
        pc.update({p: c2 for p, c2 in raw.items() if len(p) > 1})
        return pc

    lp = logp_table(pieces)
    pc = pieces
    for _ in range(rounds):
        pc = attribute(lp)
        lp = logp_table(pc)
    multi_k = sorted(
        ((p, c) for p, c in pc.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:target_multi]
    pruned = {p: lp[p] for p in pc if len(p) == 1}
    pruned.update({p: lp[p] for p, _ in multi_k})
    fin = attribute(pruned)
    if return_pruned:
        return pruned
    tot = sum(fin.values())
    return sorted(
        (
            (p, len(p), c, _round_half_away(math.log(c / tot) * 1e6))
            for p, c in fin.items()
        ),
        key=lambda t: (-t[2], t[0]),
    )


def _word_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from meteaudata_spark.sources.tables import _docs

    rows = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= 32))
        .groupBy("word")
        .count()
        .collect()
    )
    return {r["word"]: r["count"] for r in rows}


def test_unigram_lm_matches_python_reference_on_corpus(spark):
    from meteaudata_spark.ext.textstats import doc_unigram_lm_train

    got = doc_unigram_lm_train(spark, SF).toPandas()
    ref = pd.DataFrame(
        _py_unigram(_word_counts(spark, SF)),
        columns=["piece", "piece_len", "final_count", "logp_micros"],
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False
    )


@pytest.mark.parametrize(
    "texts",
    [
        # same-char runs: every span is a power of one char
        ["aaaa aaaa aa a", "aaa a aaaa"],
        # singleton chars + a dominating repeated word
        ["xy xy xy xy z q", "xy xy w"],
        # words at and past typical piece length
        ["abcdefgh abcd efgh abcdefgh", "ab cd ef gh"],
    ],
)
def test_unigram_lm_matches_python_reference_planted(spark, texts, tmp_path):
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.textstats import unigram_lm_train

    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = unigram_lm_train(df).toPandas()
    words = {}
    for t in texts:
        for w in t.split(" "):
            if w and len(w) <= 32:
                words[w] = words.get(w, 0) + 1
    ref = pd.DataFrame(
        _py_unigram(words),
        columns=["piece", "piece_len", "final_count", "logp_micros"],
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), ref, check_dtype=False
    )


def test_unigram_lm_single_chars_never_pruned(spark):
    from meteaudata_spark.ext.textstats import doc_unigram_lm_train

    got = doc_unigram_lm_train(spark, SF).toPandas()
    alphabet = {
        ch
        for w in _word_counts(spark, SF)
        for ch in w
    }
    kept = set(got[got.piece_len == 1].piece)
    assert alphabet <= kept
    assert (got[got.piece_len == 1].final_count >= 1).all()


def test_unigram_lm_encode_matches_python_reference(spark):
    """Encode == reference: per-group token counts from the reference
    trainer's final-vocab Viterbi paths."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.textstats import doc_unigram_lm_encode
    from meteaudata_spark.sources.tables import _docs

    got = doc_unigram_lm_encode(spark, SF).toPandas()

    words = _word_counts(spark, SF)
    vocab_rows = _py_unigram(words)
    lp = {p: logp for p, _, _, logp in vocab_rows}

    def viterbi_len(w, L=4):
        n = len(w)
        best = [0] * (n + 1)
        for i in range(1, n + 1):
            b = None
            for ln in range(1, min(L, i) + 1):
                p = w[i - ln:i]
                if p in lp:
                    v = best[i - ln] + lp[p]
                    if b is None or v > b:
                        b = v
            best[i] = b
        pos, cnt = n, 0
        while pos > 0:
            chosen = 1
            for ln in range(min(L, pos), 1, -1):
                p = w[pos - ln:pos]
                if p in lp and best[pos - ln] + lp[p] == best[pos]:
                    chosen = ln
                    break
            cnt += 1
            pos -= chosen
        return cnt

    wt = {w: viterbi_len(w) for w in words}
    rows = (
        _docs(spark, SF)
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= 32))
        .collect()
    )
    agg = {}
    for r in rows:
        lang, w = r["lang"], r["word"]
        nw, nc, nt = agg.get(lang, (0, 0, 0))
        agg[lang] = (nw + 1, nc + len(w), nt + wt[w])
    ref = sorted(
        (
            lang,
            nw,
            nc,
            nt,
            (nc - nt) * 10000 // nc,
        )
        for lang, (nw, nc, nt) in agg.items()
    )
    got_rows = sorted(map(tuple, got.itertuples(index=False)))
    assert got_rows == ref


def test_unigram_lm_rejects_max_piece_len_over_8(spark):
    # span keys pack as pos*8 + len — injective only for len <= 8;
    # beyond that keys collide IDENTICALLY on both engines, so the
    # differential gate could never catch the corruption (ADVICE r12).
    # Both the Spark core and the DuckDB oracle builder must refuse.
    from meteaudata_spark.ext.textstats import (
        _unigram_lm_core,
        _unigram_lm_sql,
        unigram_lm_train,
    )

    d = spark.createDataFrame([("hello world",)], ["text"])
    with pytest.raises(ValueError, match="max_piece_len"):
        unigram_lm_train(d, max_piece_len=9)
    with pytest.raises(ValueError, match="max_piece_len"):
        _unigram_lm_core(d, max_piece_len=9)
    with pytest.raises(ValueError, match="max_piece_len"):
        _unigram_lm_sql(max_piece_len=9)
    # the boundary itself stays legal
    assert "8" in _unigram_lm_sql(max_piece_len=8)


def test_tokenizer_eval_matches_python_reference(spark):
    """doc_tokenizer_eval vs a plain-Python reference: train the
    pruned vocabulary with _py_unigram, Viterbi-segment every corpus
    word in Python, and aggregate coverage / fertility / compression /
    single-token share per lang with exact integer floor-division."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.textstats import doc_tokenizer_eval
    from meteaudata_spark.sources.tables import _docs

    got = (
        doc_tokenizer_eval(spark, SF)
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    lp = _py_unigram(_word_counts(spark, SF), return_pruned=True)
    L = 4

    def n_tok(w):
        n = len(w)
        best = [0] * (n + 1)
        for i in range(1, n + 1):
            b = None
            for ln in range(1, min(L, i) + 1):
                p = w[i - ln:i]
                if p in lp:
                    v = best[i - ln] + lp[p]
                    if b is None or v > b:
                        b = v
            best[i] = b
        cnt, pos = 0, n
        while pos > 0:
            chosen = 1
            for ln in range(min(L, pos), 1, -1):
                p = w[pos - ln:pos]
                if p in lp and best[pos - ln] + lp[p] == best[pos]:
                    chosen = ln
                    break
            cnt += 1
            pos -= chosen
        return cnt

    rows = (
        _docs(spark, SF)
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .collect()
    )
    agg: dict = {}
    for r in rows:
        a = agg.setdefault(r["lang"], [0, 0, 0, 0, 0])
        a[0] += 1  # n_words
        if len(r["word"]) <= 32:
            t = n_tok(r["word"])
            a[1] += 1            # n_encodable
            a[2] += len(r["word"])  # chars
            a[3] += t            # tokens
            a[4] += 1 if t == 1 else 0
    assert sorted(agg) == list(got.index)
    for lang, (nw, ne, nc, nt, ns) in sorted(agg.items()):
        g = got.loc[lang]
        assert g["n_words"] == nw and g["n_encodable"] == ne, lang
        assert g["coverage_bp"] == ne * 10000 // nw, lang
        assert g["fertility_micros"] == nt * 1000000 // ne, lang
        assert g["compression_micros"] == nc * 1000000 // nt, lang
        assert g["single_token_bp"] == ns * 10000 // ne, lang
