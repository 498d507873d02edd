"""Text statistics (ext/textstats.py): DSIR, NDCG, BM25, hash embeddings,
the unigram-LM tokenizer and its evaluation rows, the Gopher ablation
and MMR reranking, each against a plain-Python reference on the sf0.001
corpus or a planted corpus."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from meteaudata_spark.ext import textstats
from meteaudata_spark.ext.textstats import dsir_weights

SF = "/root/testdata/sf0.001"


def test_dsir_separates_target_vocabulary(spark):
    # target docs use vocabulary A, raw-only docs vocabulary B; a new
    # doc written in A must outweigh one written in B
    rows = []
    for i in range(40):
        rows.append((i, " ".join(f"tgt{j}" for j in range(10)), "en"))
    for i in range(40, 80):
        rows.append((i, " ".join(f"bg{j}" for j in range(10)), "de"))
    # probes: same length, not in the target set themselves
    rows.append((100, " ".join(f"tgt{j}" for j in range(10)), "de"))
    rows.append((101, " ".join(f"bg{j}" for j in range(10)), "de"))
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {
        r["doc_id"]: r["dsir_micros"]
        for r in dsir_weights(d, F.col("lang") == "en").collect()
    }
    assert w[100] > w[101]
    # weights are per-token sums: doubling the doc doubles the weight
    d2 = spark.createDataFrame(
        [(200, " ".join(f"tgt{j}" for j in range(10) for _ in range(2)), "de")],
        "doc_id long, text string, lang string",
    )
    w2 = dsir_weights(d.union(d2), F.col("lang") == "en").collect()
    by_id = {r["doc_id"]: r for r in w2}
    assert by_id[200]["n_tokens"] == 20


def test_ndcg_perfect_ranking_is_one(spark, tmp_path):
    import shutil

    sf = str(tmp_path)
    # corpus where exactly 20 docs contain all 5 query terms many
    # times and everything else contains none: BM25's top-20 == the
    # ideal top-20 → nDCG must be exactly 1.0 (1e6 micros)
    q = "spark table row data query"
    rows = [(i, (q + " ") * 3 + f"filler{i}", "en", "s", 10) for i in range(20)]
    rows += [
        (i, f"unrelated text body {i} nothing here", "en", "s", 10)
        for i in range(20, 200)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    from meteaudata_spark.ext.textstats import doc_bm25_ndcg

    r = doc_bm25_ndcg(spark, sf).collect()[0]
    assert r["ndcg_micros"] == 1000000, r
    assert r["dcg_micros"] == r["idcg_micros"] > 0
    shutil.rmtree(f"{sf}/documents.parquet")


def test_bm25_multi_equals_single_query(spark):
    from meteaudata_spark.ext.textstats import (
        _MULTI_QUERIES,
        bm25_multi_search,
        bm25_search,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = spark.createDataFrame(
        [(qid, t) for qid, ts_ in _MULTI_QUERIES for t in ts_],
        "query_id long, term string",
    )
    multi = bm25_multi_search(docs, q, k=10).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["bm25"], r["n_terms_hit"])
        )
    for qid, terms in _MULTI_QUERIES:
        single = [
            (r["rank"], r["doc_id"], r["bm25"], r["n_terms_hit"])
            for r in bm25_search(docs, terms, k=10).collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(single), qid


def test_hash_embedding_feeds_lsh_stack(spark):
    """Text → hashed vectors → the embedding LSH miner finds planted
    text near-dups (the model-free bridge into ext/simsearch)."""
    from meteaudata_spark.ext.simsearch import lsh_near_pairs
    from meteaudata_spark.ext.textstats import doc_hash_embedding

    base = [
        (i, " ".join(f"w{i}x{j}" for j in range(30)))
        for i in range(200)
    ]
    # docs 500+i: copy of doc i with 2 words changed → high cosine
    near = [
        (500 + i, base[i][1].rsplit(" ", 2)[0] + " zz1 zz2")
        for i in range(20)
    ]
    d = spark.createDataFrame(base + near, "doc_id long, text string")
    emb = doc_hash_embedding(d)
    assert emb.count() == 220
    pairs = lsh_near_pairs(
        emb, n_planes=6, n_tables=8, threshold=0.8
    ).collect()
    found = {(r["vec_a"], r["vec_b"]) for r in pairs}
    recovered = sum(1 for i in range(20) if (i, 500 + i) in found)
    assert recovered >= 18, recovered
    # and no cross-pairs between unrelated base docs
    assert all(b - a == 500 for a, b in found), sorted(found)[:5]


def _round_half_away(x: float) -> int:
    # Spark round() / DuckDB ROUND quantization (python round() is
    # banker's and provably diverges on .5 boundaries)
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _py_segment(w, lp, L=4):
    """Viterbi-segment ``w`` with the log-prob table ``lp``: the best
    total log-prob over pieces of length <= ``L``, backtracked from the
    end with ties going to the longest piece.  Returns the piece list in
    position order (the reference decode just concatenates it)."""
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
    pieces, pos = [], n
    while pos > 0:
        chosen = 1
        for ln in range(min(L, pos), 1, -1):
            p = w[pos - ln:pos]
            if p in lp and best[pos - ln] + lp[p] == best[pos]:
                chosen = ln
                break
        pieces.append(w[pos - chosen:pos])
        pos -= chosen
    return list(reversed(pieces))


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
            for piece in _py_segment(w, lp, L):
                raw[piece] = raw.get(piece, 0) + c
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

    wt = {w: len(_py_segment(w, lp)) for w in words}
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
            t = len(_py_segment(r["word"], lp))
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


def test_tokenizer_compare_consistent_with_component_rows(spark):
    """doc_tokenizer_compare == exact floor-div recombination of the
    two encode gate rows (same memoized cores, one lang join)."""
    from meteaudata_spark.ext.textstats import (
        doc_bpe_encode,
        doc_tokenizer_compare,
        doc_unigram_lm_encode,
    )

    got = doc_tokenizer_compare(spark, SF).toPandas().set_index("lang")
    bpe = doc_bpe_encode(spark, SF).toPandas().set_index("lang")
    ulm = doc_unigram_lm_encode(spark, SF).toPandas().set_index("lang")
    # row SET compare (no presentation sort on the gate rows)
    assert sorted(got.index) == sorted(set(bpe.index) & set(ulm.index))
    for lang in got.index:
        b, u, g = bpe.loc[lang], ulm.loc[lang], got.loc[lang]
        bf = b["n_bpe_tokens"] * 1000000 // b["n_words"]
        uf = u["n_unigram_tokens"] * 1000000 // u["n_words"]
        bc = b["n_char_tokens"] * 1000000 // b["n_bpe_tokens"]
        uc = u["n_char_tokens"] * 1000000 // u["n_unigram_tokens"]
        assert g["bpe_fertility_micros"] == bf, lang
        assert g["ulm_fertility_micros"] == uf, lang
        assert g["bpe_compression_micros"] == bc, lang
        assert g["ulm_compression_micros"] == uc, lang
        want = "unigram" if uc > bc else ("bpe" if bc > uc else "tie")
        assert g["compression_winner"] == want, lang


def test_gopher_ablation_consistent_with_flag_table(spark):
    """Ablation row == exact recombination of the per-doc flag table:
    per rule, failed/exclusive doc and word counts."""
    from meteaudata_spark.ext.textstats import (
        _GOPHER_RULE_NAMES,
        doc_gopher_ablation,
        doc_gopher_rules,
    )

    flags = doc_gopher_rules(spark, SF).toPandas()
    got = doc_gopher_ablation(spark, SF).toPandas().set_index("rule")
    # row SET compare (no presentation sort on the gate row)
    assert sorted(got.index) == sorted(_GOPHER_RULE_NAMES)
    n_docs = len(flags)
    for r in _GOPHER_RULE_NAMES:
        fail = ~flags[r]
        others = flags[[o for o in _GOPHER_RULE_NAMES if o != r]].all(axis=1)
        excl = fail & others
        g = got.loc[r]
        assert g["n_failed"] == int(fail.sum()), r
        assert g["n_exclusive"] == int(excl.sum()), r
        assert g["failed_words"] == int(flags.loc[fail, "n_words"].sum()), r
        assert g["exclusive_words"] == int(flags.loc[excl, "n_words"].sum()), r
        assert g["failed_bp"] == int(fail.sum()) * 10000 // n_docs, r
        assert g["n_exclusive"] <= g["n_failed"]


def _py_roundtrip_table(rows, lp, max_word_len=32):
    agg: dict = {}
    for lang, word in rows:
        a = agg.setdefault(lang, [0, 0, 0, 0, 0])
        a[0] += 1                 # n_words
        a[3] += len(word)         # n_chars_total
        if len(word) <= max_word_len:
            a[1] += 1             # n_encodable
            a[2] += 1 if "".join(_py_segment(word, lp)) == word else 0
        else:
            a[4] += len(word)     # chars_lost
    out = {}
    for lang, (nw, ne, nrt, nc, lost) in agg.items():
        out[lang] = (
            nw,
            ne,
            nrt,
            nrt * 10000 // ne if ne else None,
            lost,
            lost * 10000 // nc if nc else None,
        )
    return out


def test_tokenizer_roundtrip_matches_python_reference(spark):
    """doc_tokenizer_roundtrip vs the plain-Python reference on the
    real corpus: train with _py_unigram, segment + decode every word
    occurrence in Python, aggregate per lang."""
    from meteaudata_spark.ext.textstats import doc_tokenizer_roundtrip
    from meteaudata_spark.sources.tables import _docs

    got = {
        r["lang"]: (
            r["n_words"],
            r["n_encodable"],
            r["n_roundtrip"],
            r["roundtrip_bp"],
            r["chars_lost"],
            r["chars_lost_bp"],
        )
        for r in doc_tokenizer_roundtrip(spark, SF).collect()
    }
    lp = _py_unigram(_word_counts(spark, SF), return_pruned=True)
    rows = [
        (r["lang"], r["word"])
        for r in _docs(spark, SF)
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .collect()
    ]
    want = _py_roundtrip_table(rows, lp)
    assert got == want
    # the certificate itself: every encodable word decodes back exactly
    assert all(v[3] == 10000 for v in got.values())


def test_tokenizer_roundtrip_quantifies_out_of_fence_loss(spark):
    """Planted corpus with words LONGER than the trainer fence: the
    loss columns must count exactly those characters (the gate corpus
    has no out-of-fence words, so this path is only exercised here)."""
    from meteaudata_spark.ext.textstats import unigram_lm_roundtrip_stats

    long_word = "x" * 40  # > max_word_len=32 -> never encodable
    df = spark.createDataFrame(
        [
            ("aa", "the cat sat on the mat " + long_word),
            ("aa", "the cat " + long_word + " " + long_word),
            ("bb", "wholly encodable words only here"),
        ],
        ["lang", "text"],
    )
    got = {
        r["lang"]: (
            r["n_words"],
            r["n_encodable"],
            r["n_roundtrip"],
            r["roundtrip_bp"],
            r["chars_lost"],
            r["chars_lost_bp"],
        )
        for r in unigram_lm_roundtrip_stats(df).collect()
    }
    words = {}
    rows = []
    for lang, text in [
        ("aa", "the cat sat on the mat " + long_word),
        ("aa", "the cat " + long_word + " " + long_word),
        ("bb", "wholly encodable words only here"),
    ]:
        for w in text.split(" "):
            if w:
                rows.append((lang, w))
                if len(w) <= 32:
                    words[w] = words.get(w, 0) + 1
    lp = _py_unigram(words, return_pruned=True)
    want = _py_roundtrip_table(rows, lp)
    assert got == want
    # 3 planted long words x 40 chars land in lang 'aa'
    assert got["aa"][4] == 120 and got["bb"][4] == 0
    assert got["aa"][1] == got["aa"][0] - 3  # 3 non-encodable occurrences
    assert 0 < got["aa"][5] < 10000


# ----------------------------------------------------------------------
# MMR re-ranking
# ----------------------------------------------------------------------
def test_mmr_rerank_prefers_diversity_over_redundant_runner_up(spark):
    # doc 1 and doc 2 are near-identical high-relevance docs; doc 3 is
    # less relevant but diverse.  Plain BM25 ranks (1, 2, 3); MMR must
    # pick 1 first, then skip the redundant 2 in favour of 3.
    # docs 1-3 score identical BM25 (same tf/dl), so relevance alone
    # would rank (1, 2, 3) on the doc_id tiebreak; MMR's redundancy
    # penalty (doc 2 is an exact dup of 1: sim=1e6 vs doc 3's 3/7)
    # must flip the second pick to the diverse doc 3.
    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry date fig"),
            (2, "apple banana cherry date fig"),
            (3, "apple banana cherry melon plum"),
            (4, "unrelated words entirely different topic"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "apple"), (0, "banana"), (0, "cherry")],
        "query_id long, term string",
    )
    out = textstats.mmr_rerank(docs, q, n_candidates=4, k=3).toPandas()
    picks = out.sort_values("mmr_rank")["doc_id"].tolist()
    assert picks[0] == 1
    assert picks[1] == 3, picks
    # the redundant near-dup only enters at rank 3
    assert picks[2] == 2
    # rank 1 carries no similarity penalty by construction
    assert out.loc[out["mmr_rank"] == 1, "max_sim_micros"].iloc[0] == 0


def test_mmr_rerank_scores_are_integer_exact(spark):
    out = textstats.doc_mmr_rerank(spark, SF).toPandas()
    assert (out["mmr_score"] == 7 * out["rel_unit_micros"] - 3 * out["max_sim_micros"]).all()
    assert (out.groupby("query_id")["mmr_rank"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1))
    )).all()
