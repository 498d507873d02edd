"""Round-11 regression tests for the ADVICE r10 fixes: zipf_fit
BIGINT overflow, dip_spike negative-value fences, streaming HALF_UP
quantization, and parameterized oracle builders."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------------------
# zipf_fit: large-vocabulary overflow regression (ADVICE medium)
# ----------------------------------------------------------------------
def test_zipf_large_vocab_no_overflow(spark):
    """~1500 types/group: the old BIGINT products (n_types*sxy, sx*sy)
    exceed int64 and silently wrap; the DECIMAL(38,0) path must equal
    exact Python big-int arithmetic."""
    n = 1500
    counts = {f"tok{r:05d}": (3 if r <= n // 2 else 1) for r in range(1, n + 1)}
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    docs = spark.createDataFrame(
        [(1, text, "en")], "doc_id LONG, text STRING, lang STRING"
    )
    from meteaudata_spark.ext.textstats import zipf_fit

    row = zipf_fit(docs).collect()[0]
    assert row["n_types"] == n

    # replicate the operator's integer math exactly (Python ints never
    # overflow): rank by (count desc, token asc)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [round(math.log(r) * 1e6) for r in range(1, n + 1)]
    ys = [round(math.log(c) * 1e6) for _, c in ranked]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    # products genuinely exceed int64 — the scenario under test
    assert max(abs(n * sxx), abs(sx * sx)) > 2**63
    assert row["zipf_slope_micros"] == round(float(num) / float(den) * 1e6)


def test_zipf_large_vocab_matches_duckdb(spark):
    """Cross-engine: Spark DECIMAL(38,0) vs DuckDB HUGEINT must agree
    at a vocabulary size where int64 would have wrapped."""
    import duckdb

    from meteaudata_spark.ext.textstats import DOC_ZIPF_FIT_SQL, zipf_fit

    n = 1200
    rows = []
    for r in range(1, n + 1):
        c = 1 + (r % 7)
        rows.append((r, " ".join([f"w{r:05d}"] * c), "xx"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    got = zipf_fit(docs).collect()[0]

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(DOC_ZIPF_FIT_SQL).fetchone()
    assert (got["lang"], got["n_types"], got["n_tokens"],
            got["zipf_slope_micros"]) == want


# ----------------------------------------------------------------------
# dip_spike: negative-series fences (ADVICE low)
# ----------------------------------------------------------------------
def _mk_series(spark, values):
    import datetime as dt

    rows = [
        (1, "t", i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), v)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "user_id LONG, event_type STRING, event_id LONG, "
        "ts TIMESTAMP, value DOUBLE"
    )


def test_dip_spike_flat_negative_series_is_quiet(spark):
    """A flat all-negative series must have ZERO dips/spikes — the old
    cross-multiplication fence flipped its inequality for negative
    neighbours and flagged every interior point as both."""
    from meteaudata_spark.ext.timeseries_queries import dip_spike

    out = dip_spike(
        _mk_series(spark, [-5.0] * 6), ["user_id", "event_type"]
    ).collect()
    assert not any(r["is_dip"] or r["is_spike"] for r in out)


def test_dip_spike_negative_v_shapes(spark):
    """Planted V's in negative territory classify by magnitude: −200
    between −100s is a dip (100% below by |neighbour|); −100 between
    −200s is a spike."""
    from meteaudata_spark.ext.timeseries_queries import dip_spike

    dip = dip_spike(
        _mk_series(spark, [-100.0, -200.0, -100.0]),
        ["user_id", "event_type"],
    ).orderBy("event_id").collect()
    assert [r["is_dip"] for r in dip] == [False, True, False]
    assert not any(r["is_spike"] for r in dip)

    spike = dip_spike(
        _mk_series(spark, [-200.0, -100.0, -200.0]),
        ["user_id", "event_type"],
    ).orderBy("event_id").collect()
    assert [r["is_spike"] for r in spike] == [False, True, False]
    assert not any(r["is_dip"] for r in spike)


def test_dip_spike_positive_semantics_unchanged(spark):
    """For positive data the |neighbour| fence is algebraically the
    old (10000−f)·prev form — planted positives still classify."""
    from meteaudata_spark.ext.timeseries_queries import dip_spike

    out = dip_spike(
        _mk_series(spark, [100.0, 70.0, 100.0, 130.0, 100.0]),
        ["user_id", "event_type"],
    ).orderBy("event_id").collect()
    assert [r["is_dip"] for r in out] == [False, True, False, False, False]
    assert [r["is_spike"] for r in out] == [False, False, False, True, False]
    # exactly-at-fence (75 vs 100 = exactly 25% below) must NOT flag:
    # strict inequality on both engines
    edge = dip_spike(
        _mk_series(spark, [100.0, 75.0, 100.0]), ["user_id", "event_type"]
    ).orderBy("event_id").collect()
    assert not any(r["is_dip"] for r in edge)


def test_dip_spike_sql_fence_matches_spark_on_negatives(spark):
    """The gate oracle's ABS fence must agree with Spark on a corpus
    containing negative values (the shipped events are positive, so
    this is the only guard on the generalized predicate)."""
    import duckdb

    from meteaudata_spark.ext.timeseries_queries import (
        TS_DIP_SPIKE_SQL,
        dip_spike,
    )

    vals = [-100.0, -200.0, -100.0, -5.0, -5.0, -5.0, 10.0, 2.0, 10.0]
    df = _mk_series(spark, vals)
    marked = dip_spike(df, ["user_id", "event_type"])
    got = (
        marked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum((F.col("__pv").isNotNull() & F.col("__nv").isNotNull())
                  .cast("bigint")).alias("n_interior"),
            F.sum(F.col("is_dip").cast("bigint")).alias("n_dips"),
            F.sum(F.col("is_spike").cast("bigint")).alias("n_spikes"),
            F.max("dip_depth_micros").alias("max_dip_depth_micros"),
            F.max("spike_height_micros").alias("max_spike_height_micros"),
        )
        .collect()[0]
    )
    con = duckdb.connect()
    con.register("events", df.toPandas())
    want = con.execute(TS_DIP_SPIKE_SQL).fetchone()
    assert tuple(got)[:1] + tuple(got)[1:] == want[:1] + want[1:]
    assert (got["n_dips"], got["n_spikes"]) == (want[3], want[4])


# ----------------------------------------------------------------------
# streaming quantization: HALF_UP parity with F.round (ADVICE low)
# ----------------------------------------------------------------------
def test_stream_quantization_matches_spark_round(spark):
    """np.floor(|v|·1e6+0.5)·sign must equal F.round(v·1e6) on a grid
    of adversarial values including exact .5 micro boundaries, where
    pandas .round() (half-to-even) diverges."""
    from meteaudata_spark.streaming.dipspike_stream import _round_half_up

    vals = [k * 1e-7 for k in range(-55, 56)] + [
        0.0000005, 0.0000015, 0.0000025, -0.0000005, -0.0000015,
        1.0000005, -1.0000005, 2.5e-6, 3.5e-6, -2.5e-6,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
    want = [
        r["vm"]
        for r in sdf.select(
            F.round(F.col("value") * 1000000.0).cast("bigint").alias("vm")
        ).collect()
    ]
    got = _round_half_up(np.array(vals)).tolist()
    assert got == want
    # prove the old pandas path actually differs somewhere on this grid
    old = (pd.Series(vals) * 1000000.0).round().astype("int64").tolist()
    assert old != want


def test_stream_eviction_bounds_state(spark, tmp_path, drain):
    """evict_after_us drops series older than the horizon; the stream
    still classifies fresh series and holds no stale ones."""
    import datetime as dt

    from meteaudata_spark.streaming.dipspike_stream import stream_dip_spike

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # stale series: user 1 finishes early
    for i, v in enumerate([100.0, 70.0, 100.0]):
        rows.append((1, "a", i, t0 + dt.timedelta(seconds=i), v))
    # fresh series: user 2 much later
    for i, v in enumerate([100.0, 130.0, 100.0]):
        rows.append(
            (2, "a", 100 + i, t0 + dt.timedelta(hours=10, seconds=i), v)
        )
    df = spark.createDataFrame(
        rows, "user_id LONG, event_type STRING, event_id LONG, "
        "ts TIMESTAMP, value DOUBLE"
    )
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    got = {
        (r["user_id"], r["event_id"]): (r["is_dip"], r["is_spike"])
        for r in drain(
            stream_dip_spike(stream, n_shards=4, evict_after_us=3_600_000_000)
        ).collect()
    }
    # both interior points classified (eviction happens after emit)
    assert got[(1, 1)] == (True, False)
    assert got[(2, 101)] == (False, True)


# ----------------------------------------------------------------------
# parameterized oracle builders (ADVICE low)
# ----------------------------------------------------------------------
def test_cohort_ltv_builder_parameterizes_clamp(spark):
    import duckdb

    from meteaudata_spark.ext.relational import (
        ORDERS_COHORT_LTV_SQL,
        _cohort_ltv_sql,
        orders_cohort_ltv,
    )

    assert _cohort_ltv_sql(12) == ORDERS_COHORT_LTV_SQL
    sf = "/root/testdata/sf0.001"
    got = orders_cohort_ltv(spark, sf, max_months=3).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'"
    )
    want = con.execute(_cohort_ltv_sql(3)).df()
    assert got["months_since"].max() <= 3
    assert len(got) == len(want)
    # value-set compare, order-insensitive (the gate row carries no
    # presentation sort; the driver hash is order-insensitive too)
    keys = ["cohort_month", "months_since"]
    got_s = got.sort_values(keys).reset_index(drop=True)
    want_s = want.sort_values(keys).reset_index(drop=True)
    assert got_s["revenue_cents"].tolist() == want_s["revenue_cents"].tolist()


def test_shuffle_shards_builder_parameterizes(spark):
    import duckdb

    from meteaudata_spark.ext.corpus_ops import (
        DOC_SHUFFLE_SHARDS_SQL,
        _shuffle_shards_sql,
        shuffle_shards,
    )

    assert _shuffle_shards_sql(8, "shuffle") == DOC_SHUFFLE_SHARDS_SQL
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = (
        shuffle_shards(docs, n_shards=4, salt="epoch1")
        .orderBy("shard", "pos")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = con.execute(_shuffle_shards_sql(4, "epoch1")).df()
    assert got["shard"].tolist() == want["shard"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


# ----------------------------------------------------------------------
# iterated BPE trainer (VERDICT r10 #3)
# ----------------------------------------------------------------------
def _ref_bpe(texts, n_merges):
    """Sennrich-style reference trainer in plain Python (greedy
    left-to-right merge application, count-desc/lex tie-breaks)."""
    import collections

    words = collections.Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    seqs = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for w, c in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((len(merges) + 1, a, b, c))
        for w in words:
            s = seqs[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


_BPE_TEXTS = [
    "the cat sat on the mat", "the dog and the cat", "banana bandana",
    "aaaa aaa aa", "low lower lowest", "new newer newest news",
]


def test_bpe_train_matches_reference_and_oracle(spark):
    import duckdb

    from meteaudata_spark.ext.textstats import _bpe_train_sql, bpe_train

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_TEXTS)], "doc_id LONG, text STRING"
    )
    for n in (1, 5, 12):
        want = _ref_bpe(_BPE_TEXTS, n)
        got = [
            (r["merge_rank"], r["tok1"], r["tok2"], r["pair_count"])
            for r in bpe_train(docs, n_merges=n).orderBy("merge_rank").collect()
        ]
        assert got == want, n
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        duck = [
            (int(a), b, c, int(d))
            for a, b, c, d in con.execute(_bpe_train_sql(n)).fetchall()
        ]
        assert duck == want, n


def test_bpe_train_greedy_same_symbol_runs(spark):
    """(a,a) over 'aaaa' must merge even offsets only — [aa, aa]; the
    follow-up round then learns (aa, aa)."""
    from meteaudata_spark.ext.textstats import bpe_train

    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id LONG, text STRING")
    rows = bpe_train(docs, n_merges=2).orderBy("merge_rank").collect()
    # round 1: 3 overlapping (a,a) slots per word × 2 words = 6 counted,
    # but applying greedily yields [aa, aa] per word...
    assert (rows[0]["tok1"], rows[0]["tok2"], rows[0]["pair_count"]) == (
        "a", "a", 6)
    # ...so round 2 sees exactly ONE (aa,aa) pair per word — the even-
    # offset greedy application is what this count certifies
    assert (rows[1]["tok1"], rows[1]["tok2"], rows[1]["pair_count"]) == (
        "aa", "aa", 2)


def test_bpe_train_early_stop(spark):
    """A vocabulary of single characters exhausts after 0 merges; the
    trainer returns an empty (schema-stable) merge table instead of
    erroring."""
    from meteaudata_spark.ext.textstats import bpe_train

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
    out = bpe_train(docs, n_merges=5)
    assert out.columns == ["merge_rank", "tok1", "tok2", "pair_count"]
    assert out.count() == 0
    # min_pair_count fence stops below the threshold
    docs2 = spark.createDataFrame([(1, "ab ab cd")], "doc_id LONG, text STRING")
    got = bpe_train(docs2, n_merges=5, min_pair_count=2).collect()
    assert len(got) == 1 and (got[0]["tok1"], got[0]["tok2"]) == ("a", "b")


# ----------------------------------------------------------------------
# incremental SemDeDup ledger (VERDICT r10 #5)
# ----------------------------------------------------------------------
def test_incremental_semdedup_equals_full_recompute(spark):
    """The unioned shard deltas, aggregated to the (drop_id, keep_id)
    table, must equal the full semdedup recompute EXACTLY — the
    ledger's correctness contract."""
    from meteaudata_spark.ext.simsearch import (
        emb_incremental_semdedup,
        emb_semdedup,
    )

    sf = "/root/testdata/sf0.001"
    ledger = emb_incremental_semdedup(spark, sf)
    got = (
        ledger.groupBy(F.col("vec_b").alias("drop_id"), "centroid_id")
        .agg(
            F.min("vec_a").alias("keep_id"),
            F.count(F.lit(1)).alias("n_matches"),
            F.max("cosine").alias("max_cos"),
        )
        .select("drop_id", "keep_id", "centroid_id", "n_matches", "max_cos")
        .orderBy("drop_id")
        .collect()
    )
    want = emb_semdedup(spark, sf).orderBy("drop_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0


def test_incremental_semdedup_mints_each_pair_once(spark):
    """No pair appears in two shard deltas, and minted_shard is the
    later member's arrival round."""
    from meteaudata_spark.ext.simsearch import emb_incremental_semdedup

    rows = emb_incremental_semdedup(spark, "/root/testdata/sf0.001").collect()
    seen = {}
    for r in rows:
        key = (r["vec_a"], r["vec_b"])
        assert key not in seen, key
        seen[key] = r["minted_shard"]
        assert r["minted_shard"] == max(r["vec_a"] % 3, r["vec_b"] % 3)


def test_incremental_semdedup_store_roundtrip(spark, tmp_path):
    """Persisting the assignment store between shards reproduces the
    in-memory ledger: open with shard 0, write store, reload, delta
    shard 1 — pairs match the two-shard in-memory run."""
    from meteaudata_spark.ext.simsearch import (
        _q64,
        incremental_semdedup_pairs,
        read_semdedup_store,
        semdedup_n_clusters,
        write_semdedup_store,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    k = semdedup_n_clusters(emb.count())
    q = emb.select("vec_id", _q64("embedding").alias("qe"))
    cents = [
        (r["vec_id"], r["qe"])
        for r in q.filter(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + k)
        ).collect()
    ]
    s0 = emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
    s1 = emb.filter(F.pmod("vec_id", F.lit(2)) == 1)

    d0, store = incremental_semdedup_pairs(None, s0, cents)
    path = str(tmp_path / "store")
    write_semdedup_store(store, path)
    reloaded = read_semdedup_store(spark, path)
    d1_disk, _ = incremental_semdedup_pairs(reloaded, s1, cents)
    d1_mem, _ = incremental_semdedup_pairs(store, s1, cents)
    key = lambda r: (r["vec_a"], r["vec_b"], r["cosine"])
    assert sorted(map(key, d1_disk.collect())) == sorted(
        map(key, d1_mem.collect())
    )


# ----------------------------------------------------------------------
# describe(): chunk-and-carry spacing, no global data window
# (VERDICT r10 #7)
# ----------------------------------------------------------------------
def _describe_plan(spark):
    """Optimized plan of the describe aggregation input."""
    import datetime as dt

    from meteaudata_spark.timeseries import TimeSeries

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")
    return TimeSeries(df=df, name="t"), df


def test_describe_no_global_data_window(spark):
    """The corpus-sized relation must never pass through a window
    ordered by raw timestamp without a partition key: every
    windowspecdefinition mentioning the timestamp column must lead
    with the __chunk partition; the only unpartitioned window runs on
    the per-chunk boundary relation."""
    import datetime as dt

    from meteaudata_spark.timeseries import TimeSeries

    ts, df = _describe_plan(spark)
    # reconstruct the plan describe() aggregates over (same code path)
    from pyspark.sql import Window

    from meteaudata_spark.functions.epoch import epoch_seconds

    chunked = df.withColumn(
        "__e", epoch_seconds(F.col("timestamp"))
    ).withColumn("__chunk", F.floor(F.col("__e") / F.lit(86400.0)))
    bounds = chunked.groupBy("__chunk").agg(F.max("__e").alias("__last_e"))
    carry = bounds.select(
        "__chunk",
        F.lag("__last_e").over(Window.orderBy("__chunk")).alias("__p"),
    )
    w = Window.partitionBy("__chunk").orderBy("timestamp")
    plan = (
        chunked.join(F.broadcast(carry), "__chunk", "left")
        .withColumn(
            "__delta",
            F.col("__e") - F.coalesce(F.lag("__e").over(w), F.col("__p")),
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "timestamp" in spec:
            assert spec.strip().startswith("__chunk"), spec


def test_describe_deltas_match_global_window(spark):
    """Chunk-and-carry median spacing equals the single-window answer
    on an irregular series spanning many chunks."""
    import datetime as dt

    from meteaudata_spark.timeseries import TimeSeries

    rng = np.random.default_rng(11)
    t = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(5000):
        t += dt.timedelta(seconds=int(rng.integers(1, 7200)))
        rows.append((t, float(i)))
    # plant duplicates and a NaN
    rows.append((rows[100][0], 1.5))
    rows.append((rows[200][0], float("nan")))
    df = spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")
    got = TimeSeries(df=df, name="t").describe()

    pdf = df.toPandas().sort_values("timestamp")
    deltas = pdf["timestamp"].diff().dt.total_seconds().dropna()
    assert got["n_rows"] == len(rows)
    assert got["n_duplicate_index"] == 2
    assert got["n_missing"] == 1
    # percentile_approx returns an actual delta near the median (pandas
    # interpolates between the two middle values on even counts)
    assert (
        deltas.quantile(0.49) <= got["median_spacing_seconds"]
        <= deltas.quantile(0.51)
    )


# ----------------------------------------------------------------------
# BPE encode (tokenize with the learned merge table)
# ----------------------------------------------------------------------
def test_bpe_encode_matches_reference(spark):
    """Per-group token counts after applying the learned merges must
    equal the Python reference trainer's final tokenization."""
    from meteaudata_spark.ext.textstats import bpe_encode_stats

    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(_BPE_TEXTS)],
        "doc_id LONG, text STRING, lang STRING",
    )
    n = 6
    # reference: learn merges, then tokenize every word occurrence
    import collections

    words = collections.Counter()
    for t in _BPE_TEXTS:
        for w in t.split(" "):
            if w:
                words[w] += 1
    seqs = {w: list(w) for w in words}
    for _, a, b, _c in _ref_bpe(_BPE_TEXTS, n):
        for w in words:
            s = seqs[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    n_words = sum(words.values())
    n_chars = sum(len(w) * c for w, c in words.items())
    n_bpe = sum(len(seqs[w]) * c for w, c in words.items())

    row = bpe_encode_stats(docs, n_merges=n).collect()[0]
    assert (row["n_words"], row["n_char_tokens"], row["n_bpe_tokens"]) == (
        n_words, n_chars, n_bpe)
    assert row["saving_bp"] == (n_chars - n_bpe) * 10000 // n_chars


def test_bpe_encode_oracle_agrees(spark):
    import duckdb

    from meteaudata_spark.ext.textstats import (
        _bpe_encode_sql,
        bpe_encode_stats,
    )

    docs = spark.createDataFrame(
        [(i, t, "l%d" % (i % 2)) for i, t in enumerate(_BPE_TEXTS)],
        "doc_id LONG, text STRING, lang STRING",
    )
    got = [tuple(r) for r in bpe_encode_stats(docs, n_merges=4).collect()]
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = [
        (a, int(b), int(c), int(d), int(e))
        for a, b, c, d, e in con.execute(_bpe_encode_sql(4)).fetchall()
    ]
    assert got == want and len(got) == 2


# ----------------------------------------------------------------------
# mixture plan
# ----------------------------------------------------------------------
def test_mixture_plan_planted(spark):
    """Two domains, 3:1 token imbalance, uniform target at constant
    budget: the scarce domain upsamples (2 epochs), the abundant one
    subsamples, and required tokens split the budget by share."""
    from meteaudata_spark.ext.corpus_ops import mixture_plan

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 300), "en"), (2, " ".join(["w"] * 100), "fr")],
        "doc_id LONG, text STRING, lang STRING",
    )
    rows = {r["lang"]: r for r in mixture_plan(docs).collect()}
    assert rows["en"]["available_tokens"] == 300
    assert rows["fr"]["available_tokens"] == 100
    assert rows["en"]["target_share_bp"] == 5000
    assert rows["fr"]["target_share_bp"] == 5000
    assert rows["en"]["required_tokens"] == 200
    assert rows["fr"]["required_tokens"] == 200
    assert rows["en"]["rate_micros"] == 666666  # subsample 2/3
    assert rows["fr"]["rate_micros"] == 2000000  # 2x upsample
    assert rows["fr"]["epochs"] == 2 and rows["en"]["epochs"] == 1


def test_mixture_plan_explicit_shares_and_budget(spark):
    from meteaudata_spark.ext.corpus_ops import mixture_plan

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 50), "en"), (2, " ".join(["w"] * 50), "fr")],
        "doc_id LONG, text STRING, lang STRING",
    )
    rows = {
        r["lang"]: r
        for r in mixture_plan(
            docs, target_shares_bp={"en": 9000, "fr": 1000},
            budget_tokens=1000,
        ).collect()
    }
    assert rows["en"]["required_tokens"] == 900
    assert rows["fr"]["required_tokens"] == 100
    assert rows["en"]["epochs"] == 18
    assert rows["fr"]["rate_micros"] == 2000000
