"""Round-14 operators: tokenizer round-trip fidelity (VERDICT r13 #6).

Strategy mirrors the r12 tokenizer rows: Spark == plain-Python
reference (same integer-quantized Viterbi + decode) on the real corpus
AND on a planted corpus that exercises the out-of-fence loss path the
gate corpus cannot (every sf word fits the 32-char fence); the DuckDB
oracle equivalence is the driver gate's job."""

from pyspark.sql import functions as F

from tests.test_r12_ops import _py_unigram, _word_counts

SF = "/root/testdata/sf0.001"
L = 4


def _q64_np(v):
    """Spark round() emulation: half AWAY FROM ZERO (np.round is
    banker's and diverges on exact .5 products)."""
    import numpy as np

    x = v * (1 << 20)
    return np.copysign(np.floor(np.abs(x) + 0.5), x)


def _py_segment(w, lp):
    """Viterbi-segment ``w`` with the trained log-prob table ``lp``;
    returns the piece list in position order (the reference decode
    just concatenates it)."""
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


def _py_trend(rows, lag=12):
    """Reference bounded-lag Theil-Sen + Mann-Kendall over
    (event_type, ts_epoch, value) rows, mirroring the 6-dp bucket-mean
    rounding and integer-micros quantization."""
    import math

    buckets: dict = {}
    for et, ep, v in rows:
        buckets.setdefault(et, {}).setdefault(int(ep // 300), []).append(v)
    out = {}
    for et, bs in buckets.items():
        ys = {
            i: round(sum(vs) / len(vs) * 1e6) / 1e6 for i, vs in bs.items()
        }
        slopes, s_cnt = [], [0, 0, 0]  # conc, disc, ties
        for i in sorted(ys):
            for d in range(1, lag + 1):
                j = i + d
                if j not in ys:
                    continue
                diff = ys[j] - ys[i]
                x = (diff / d) * 12000000
                slopes.append(
                    int(math.copysign(math.floor(abs(x) + 0.5), x))
                )
                if diff > 0:
                    s_cnt[0] += 1
                elif diff < 0:
                    s_cnt[1] += 1
                else:
                    s_cnt[2] += 1
        slopes.sort()
        n = len(slopes)
        s_stat = s_cnt[0] - s_cnt[1]
        t = s_stat * 1e6 / n
        out[et] = {
            "n_pairs": n,
            "median_slope_micros": slopes[(n + 1) // 2 - 1],
            "concordant": s_cnt[0],
            "discordant": s_cnt[1],
            "ties": s_cnt[2],
            "s_stat": s_stat,
            "tau_micros": int(math.copysign(math.floor(abs(t) + 0.5), t)),
        }
    return out


def test_trend_rows_match_python_reference(spark):
    from meteaudata_spark.ext.timeseries_queries import (
        _events,
        ts_mann_kendall,
        ts_theil_sen,
    )

    rows = [
        (r["event_type"], r["ep"], r["value"])
        for r in _events(spark, SF)
        .select(
            "event_type",
            F.unix_timestamp("ts").alias("ep"),
            "value",
        )
        .collect()
    ]
    want = _py_trend(rows)
    ts_rows = {r["event_type"]: r for r in ts_theil_sen(spark, SF).collect()}
    mk_rows = {r["event_type"]: r for r in ts_mann_kendall(spark, SF).collect()}
    assert set(ts_rows) == set(want) == set(mk_rows)
    for et, w in want.items():
        assert ts_rows[et]["n_pairs"] == w["n_pairs"], et
        assert (
            ts_rows[et]["median_slope_micros"] == w["median_slope_micros"]
        ), et
        for k in ("concordant", "discordant", "ties", "s_stat", "tau_micros"):
            assert mk_rows[et][k] == w[k], (et, k)


def test_theil_sen_is_robust_where_ols_is_not(spark):
    """Planted series: a clean +1/bucket trend with one colossal
    outlier.  The pairwise-median slope stays at the true trend while
    the OLS estimate is dragged far off — the reason this row exists
    next to ts_trend_slope."""
    import datetime

    from meteaudata_spark.ext.timeseries_queries import theil_sen_trend

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        v = float(i)
        if i == 30:
            v = 1e6  # the outlier bucket
        rows.append(("s", base + datetime.timedelta(minutes=5 * i), v))
    ev = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    got = theil_sen_trend(ev).collect()
    assert len(got) == 1
    # true slope: +1 per bucket = +12/hour = 12_000_000 micros
    assert got[0]["median_slope_micros"] == 12_000_000
    # OLS on the same data is dragged orders of magnitude away
    import numpy as np

    xs = np.arange(60, dtype=float)
    ys = np.array([1e6 if i == 30 else float(i) for i in range(60)])
    ols = np.polyfit(xs, ys, 1)[0] * 12
    assert abs(ols - 12) > 100  # dragged ~28x off the true +12/h


def test_ivfpq_arrow_encode_bit_identical_to_expression_encode(spark):
    """The Arrow-vectorized append-path encode must match the
    expression-fold encode row-for-row (same coarse assignment, same
    PQ codes, same tie-breaks) — integer-exact float64 GEMM vs the
    SQL fold.  Codebooks trained on a SUBSET so plenty of encoded
    vectors sit far from training data (stressing ties/ordering)."""
    from meteaudata_spark.ext import simsearch as ss

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    coarse, rcb, _ = ss._ivfpq_index(emb.filter(F.col("vec_id") < 300))
    cb_arr, rcb_arr = ss._ivfpq_cb_arrays(coarse, rcb)
    q = emb.select("vec_id", ss._q64("embedding").alias("qe"))
    a = sorted(map(tuple, ss._ivfpq_encode(q, cb_arr, rcb_arr).collect()))
    b = sorted(
        map(tuple, ss._ivfpq_encode_arrow(q, cb_arr, rcb_arr).collect())
    )
    assert len(a) == emb.count() * 8
    assert a == b


def test_events_benford_matches_python_reference(spark):
    import math

    from meteaudata_spark.ext.timeseries_queries import (
        _events,
        events_benford,
    )

    got = {
        (r["event_type"], r["digit"]): (
            r["n"],
            r["share_micros"],
            r["benford_micros"],
            r["delta_micros"],
        )
        for r in events_benford(spark, SF).collect()
    }
    agg: dict = {}
    for r in _events(spark, SF).select("event_type", "value").collect():
        cents = int(
            math.copysign(
                math.floor(abs(r["value"] * 100) + 0.5), r["value"] * 100
            )
        )
        d = int(str(cents)[0])
        agg[(r["event_type"], d)] = agg.get((r["event_type"], d), 0) + 1
    totals: dict = {}
    for (et, _d), n in agg.items():
        totals[et] = totals.get(et, 0) + n
    want = {}
    for et in totals:
        for d in range(1, 10):
            n = agg.get((et, d), 0)
            share = n * 1000000 // totals[et]
            x = math.log10(1.0 + 1.0 / d) * 1000000
            bf = int(math.copysign(math.floor(abs(x) + 0.5), x))
            want[(et, d)] = (n, share, bf, share - bf)
    assert got == want
    # every type has the full 1..9 spine and shares sum to ~1e6
    for et in totals:
        s = sum(got[(et, d)][1] for d in range(1, 10))
        assert 1000000 - 9 <= s <= 1000000


def test_probe_sweep_invariants(spark):
    """Candidate coverage must be monotone non-decreasing in n_probe
    per query, post-PQ-ranking hits can never exceed coverage, and the
    deepest sweep point's coverage equals |exact top-10 ∩ all probed
    lists| recomputed independently."""
    from meteaudata_spark.ext import simsearch as ss

    rows = ss.emb_ivfpq_probe_sweep(spark, SF).collect()
    by_q: dict = {}
    for r in rows:
        assert r["hits"] <= r["cand_hits"], tuple(r)
        assert r["recall_bp"] == r["hits"] * 1000
        assert r["cand_recall_bp"] == r["cand_hits"] * 1000
        by_q.setdefault(r["query_id"], []).append(
            (r["n_probe"], r["cand_hits"])
        )
    for q, pts in by_q.items():
        pts.sort()
        assert [p for p, _ in pts] == sorted(ss._PROBE_SWEEP), q
        covs = [c for _, c in pts]
        assert covs == sorted(covs), (q, covs)


def test_pq_distortion_matches_numpy_reference(spark):
    """Per-list distortion rollup vs a NumPy recomputation of
    Σ_subs min_code ||resid_sub − codeword||² for every vector."""
    import numpy as np

    from meteaudata_spark.ext import simsearch as ss

    got = {
        r["centroid_id"]: (
            r["n_vecs"],
            r["total_distortion"],
            r["avg_distortion"],
            r["max_distortion"],
        )
        for r in ss.emb_pq_distortion(spark, SF).collect()
    }
    store = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    cents = {
        cid: store[cid] for cid in range(100, 100 + ss._IVFPQ_COARSE)
    }
    cid_sorted = sorted(cents)
    C = np.array([cents[c] for c in cid_sorted])

    def assign(v):
        d = ((v - C) ** 2).sum(axis=1)
        return cid_sorted[int(d.argmin())]

    # codebook = residual subvectors of the training vectors (<16)
    cb: dict = {}
    for vid in range(ss._PQ_CODES):
        r = store[vid] - cents[assign(store[vid])]
        for s in range(ss._PQ_SUBS):
            cb.setdefault(s, []).append(
                r[s * ss._PQ_SUBDIM : (s + 1) * ss._PQ_SUBDIM]
            )
    agg: dict = {}
    for vid, v in store.items():
        c = assign(v)
        resid = v - cents[c]
        dist = 0
        for s in range(ss._PQ_SUBS):
            sub = resid[s * ss._PQ_SUBDIM : (s + 1) * ss._PQ_SUBDIM]
            dist += int(
                min(((sub - w) ** 2).sum() for w in cb[s])
            )
        a = agg.setdefault(c, [0, 0, 0])
        a[0] += 1
        a[1] += dist
        a[2] = max(a[2], dist)
    want = {
        c: (n, tot, tot // n, mx) for c, (n, tot, mx) in agg.items()
    }
    assert got == want


def test_trend_rows_plan_one_scan_banded_equijoin(spark):
    """The pair relation must ride the cached bucket agg (one events
    scan total) and an EQUI-join on the computed lag key — never a
    cartesian/range-filtered all-pairs build."""
    import re

    from meteaudata_spark.ext import timeseries_queries as tsq
    from meteaudata_spark.plans import inspect

    for fn in (tsq.ts_theil_sen, tsq.ts_mann_kendall):
        plan = inspect.formatted_plan(fn(spark, SF))
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans <= 1, (fn.__name__, n_scans)
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_ivfpq_refine_distances_are_exact_and_reorder_approx(spark):
    """The refine tail must (a) report TRUE quantized squared-L2
    distances (verified against a NumPy recomputation), (b) rank by
    them, and (c) actually differ from the PQ-approximate row —
    otherwise it is a shadow of emb_ivfpq_topk."""
    import numpy as np

    from meteaudata_spark.ext.simsearch import (
        emb_ivfpq_refine_topk,
        emb_ivfpq_topk,
    )

    got = emb_ivfpq_refine_topk(spark, SF).collect()
    emb = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    for r in got:
        d = emb[r["query_id"]] - emb[r["vec_id"]]
        assert int((d * d).sum()) == r["exact_sqdist"], (r["query_id"], r["vec_id"])
    # ranks ascend by exact distance within each query
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["exact_sqdist"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [x[0] for x in rows] == list(range(1, len(rows) + 1)), q
        assert all(a[1] <= b[1] for a, b in zip(rows, rows[1:])), q
    approx = [
        (r["query_id"], r["vec_id"]) for r in emb_ivfpq_topk(spark, SF).collect()
    ]
    refined = [(r["query_id"], r["vec_id"]) for r in got]
    assert approx != refined  # compression error visibly corrected


def test_ivfpq_refine_recovers_exact_topk_within_probed_lists(spark):
    """With the candidate pool widened to the whole probed-list
    population, the refined top-10 equals the EXACT top-10 over those
    lists — the recall-recovery certificate for the refine stage."""
    import numpy as np
    from pyspark.sql import Window

    from meteaudata_spark.ext import simsearch as ss

    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = ss._emb(spark, SF)
    coarse, rcb, codes = ss._ivfpq_index(emb)
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), ss._q64("embedding").alias("q_qe")
    )
    big_c = emb_df.count()  # candidate pool = everything PQ can see
    cand = ss._ivfpq_search_relations(
        coarse, rcb, codes, qv, big_c, ss._IVFPQ_NPROBE
    )
    pool = {
        (r["query_id"], r["vec_id"]) for r in cand.collect()
    }
    store = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in emb_df.collect()
    }
    # exact refine over the widened pool (reuse the production tail)
    exact = (
        emb.select("vec_id", ss._q64("embedding").alias("qe"))
        .join(F.broadcast(cand.select("query_id", "vec_id")), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "exact_sqdist", F.expr(ss._PQ_SQDIST.format(a="q_qe", b="qe"))
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "exact_sqdist", F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rank") <= 10)
        .collect()
    )
    got = {
        q: [v for _, v in sorted((r["rank"], r["vec_id"]) for r in exact if r["query_id"] == q)]
        for q in {r["query_id"] for r in exact}
    }
    for q in got:
        dists = sorted(
            (int(((store[q] - store[v]) ** 2).sum()), v)
            for (qq, v) in pool
            if qq == q
        )
        want = [v for _, v in dists[:10]]
        assert got[q] == want, q


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
