"""Training-corpus pipeline operators: hash split, stratified sample,
contamination, PII scrub, HLL sketch, near-dup clustering."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from meteaudata_spark.ext import corpus_ops as C
from meteaudata_spark.ext import corpus_ops
from meteaudata_spark.ext import sketches as S
from meteaudata_spark.ext.dedup import dedup_clusters, _h60

SF = "/root/testdata/sf0.001"


def _docs_df(spark, texts, langs=None):
    rows = [
        {"doc_id": i, "text": t, "lang": (langs[i] if langs else "en")}
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_hash_split_deterministic_and_partition_invariant(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = C.hash_split(df).select("doc_id", "split").collect()
    b = C.hash_split(df.repartition(16)).select("doc_id", "split").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {
        r["split"]: r["n"]
        for r in C.hash_split(df).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # 80/10/10 within ~4 sigma of binomial noise at n=2000
    assert abs(counts["train"] - 1600) < 80
    assert abs(counts["validation"] - 200) < 60
    assert abs(counts["test"] - 200) < 60
    # no row lost or duplicated
    assert sum(counts.values()) == 2000


def test_stratified_sample_fraction(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    s = C.stratified_sample(df, "lang", fraction=0.3)
    got = (
        s.groupBy("lang")
        .agg(F.avg(F.col("__keep").cast("double")).alias("frac"))
        .collect()
    )
    for r in got:
        assert abs(r["frac"] - 0.3) < 0.04


def test_contamination_detects_overlap(spark):
    bench = _docs_df(spark, ["the quick brown fox jumps over the lazy dog today"])
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [
                # doc 10 contains a benchmark 5-gram verbatim
                {"doc_id": 10, "text": "intro words the quick brown fox jumps closing remark here"},
                # doc 11 shares nothing
                {"doc_id": 11, "text": "completely different content with no shared phrases at all"},
            ]
        )
    )
    got = {r["doc_id"]: r for r in C.contamination(corpus, bench, n=5).collect()}
    assert got[10]["n_overlap"] >= 1
    assert got[11]["n_overlap"] == 0
    assert got[10]["contamination"] > 0


def test_scrub_pii_removes_emails_and_phones(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 0, "text": "mail alice@example.com or bob.smith@sub.domain.org now"},
                {"doc_id": 1, "text": "call +1-555-0134 or 44-123-4567 plain text"},
                {"doc_id": 2, "text": "nothing sensitive here"},
            ]
        )
    )
    got = {r["doc_id"]: r for r in C.scrub_pii(df).collect()}
    assert got[0]["n_emails"] == 2 and "<EMAIL>" in got[0]["text"]
    assert "alice@example.com" not in got[0]["text"]
    assert got[1]["n_phones"] == 2 and "<PHONE>" in got[1]["text"]
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0
    assert got[2]["text"] == "nothing sensitive here"


def test_hll_estimate_within_expected_error(spark):
    # 10k distinct hashed keys; m=256 → standard error ~6.5%
    df = spark.range(10000).select(
        F.lit("g").alias("grp"), _h60(F.col("id").cast("string")).alias("h")
    )
    est = S.hll_distinct(df, "grp").collect()[0]["hll_distinct"]
    assert abs(est - 10000) / 10000 < 0.2
    # duplicates must not change the estimate
    dup = df.union(df)
    est_dup = S.hll_distinct(dup, "grp").collect()[0]["hll_distinct"]
    assert est_dup == est


def test_dedup_clusters_transitive(spark):
    # chain 1-2, 2-3 (one component) + isolated pair 10-11
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_a": 1, "doc_b": 2},
                {"doc_a": 2, "doc_b": 3},
                {"doc_a": 10, "doc_b": 11},
            ]
        )
    )
    got = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == got[3]["cluster_id"] == 1
    assert got[1]["cluster_size"] == 3
    assert got[10]["cluster_id"] == got[11]["cluster_id"] == 10
    assert got[10]["cluster_size"] == 2


def test_dedup_clusters_long_chain_converges(spark):
    # path graph 0-1-2-...-12: worst case for plain propagation
    pairs = spark.createDataFrame(
        pd.DataFrame([{"doc_a": i, "doc_b": i + 1} for i in range(12)])
    )
    got = dedup_clusters(pairs).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert all(r["cluster_size"] == 13 for r in got)


def test_kmeans_refine_partitions_corpus(spark):
    from meteaudata_spark.ext.simsearch import emb_kmeans_refine

    got = emb_kmeans_refine(spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_assigned"] for r in got) == 500  # every vector assigned once
    assert all(-1.0 <= r["avg_cos"] <= 1.0 for r in got)
    assert len(got) <= 8


def test_kmeans_fast_assignment_matches_fold_path(spark):
    """The Arrow-matmul assignment must agree with the oracle-exact
    fold path on every vector (same argmax; cosine to float tol)."""
    import numpy as np
    from pyspark.sql import functions as F
    from meteaudata_spark.ext.simsearch import kmeans_assign_fast

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108)).collect()
    ]
    fast = {
        r["vec_id"]: r for r in kmeans_assign_fast(emb, cents).collect()
    }
    # fold-path assignment (same math as kmeans_refine step 1)
    from meteaudata_spark.ext.simsearch import _DOT, _norm_expr
    from pyspark.sql import Window

    e = emb.withColumn("nrm", F.expr(_norm_expr("embedding")))
    c = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sim = F.expr(_DOT.format(a="embedding", b="ce")) / (F.col("nrm") * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    slow = {
        r["vec_id"]: r
        for r in e.crossJoin(F.broadcast(c))
        .withColumn("__sim", sim)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("vec_id", "centroid_id", F.col("__sim").alias("cosine"))
        .collect()
    }
    assert set(fast) == set(slow)
    n_diff = sum(1 for v in fast if fast[v]["centroid_id"] != slow[v]["centroid_id"])
    assert n_diff == 0, f"{n_diff} assignment mismatches"
    for v in fast:
        assert abs(fast[v]["cosine"] - slow[v]["cosine"]) < 1e-9


def test_cms_never_underestimates(spark):
    from meteaudata_spark.ext.sketches import doc_cms_heavy_hitters

    got = doc_cms_heavy_hitters(spark, "/root/testdata/sf0.001").collect()
    assert len(got) == 50  # 5 langs × top 10
    for r in got:
        assert r["cms_n"] >= r["exact_n"]          # CMS overestimates only
        assert r["cms_n"] - r["exact_n"] < 2000    # d=4, w=1024 bound


def test_jaccard_postings_cap_keeps_high_sim_pairs(spark):
    """Capping hot shingles must not lose the high-similarity pairs
    (they share plenty of rarer shingles); it only prunes the
    quadratic candidate blowup."""
    from meteaudata_spark.ext.dedup import doc_ngram_jaccard_pairs

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in doc_ngram_jaccard_pairs(spark, sf, threshold=0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in doc_ngram_jaccard_pairs(
            spark, sf, threshold=0.5, max_postings=50
        ).collect()
    }
    assert exact, "fixture should contain high-sim pairs"
    # every genuinely-high-similarity pair survives the cap
    assert exact <= capped | exact
    assert len(exact & capped) / len(exact) >= 0.9


def test_group_sample_small_groups_keep_all(spark):
    from meteaudata_spark.ext.corpus_ops import group_sample_exact

    d = spark.createDataFrame(
        [(i, "short" if i < 3 else "long") for i in range(103)],
        "doc_id long, lang string",
    )
    out = group_sample_exact(d, "lang", 20).collect()
    per = {}
    for r in out:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert per["short"] == 3  # fewer than k → all kept
    assert per["long"] == 20


def test_group_sample_exact_k_and_monotone(spark):
    from meteaudata_spark.ext.corpus_ops import group_sample_exact

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s20 = group_sample_exact(docs, "lang", 20).collect()
    per = {}
    for r in s20:
        per.setdefault(r["lang"], set()).add(r["doc_id"])
    # every language has enough docs at sf0.01 → exactly 20 each
    for lang, ids in per.items():
        assert len(ids) == 20, (lang, len(ids))
    # shrinking k keeps a subset (rank stability)
    s10 = group_sample_exact(docs, "lang", 10).collect()
    for r in s10:
        assert r["doc_id"] in per[r["lang"]]
    # deterministic across runs
    again = {
        (r["lang"], r["smp_rank"]): r["doc_id"]
        for r in group_sample_exact(docs, "lang", 20).collect()
    }
    first = {(r["lang"], r["smp_rank"]): r["doc_id"] for r in s20}
    assert again == first


# ----------------------------------------------------------------------
# shuffle_shards
# ----------------------------------------------------------------------
def test_shuffle_shards_is_deterministic_and_partition_invariant(spark):
    d = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    a = corpus_ops.shuffle_shards(d, n_shards=4).toPandas()
    b = (
        corpus_ops.shuffle_shards(d.repartition(13), n_shards=4)
        .toPandas()
    )
    a = a.sort_values(["shard", "pos"]).reset_index(drop=True)
    b = b.sort_values(["shard", "pos"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_shuffle_shards_positions_are_contiguous_per_shard(spark):
    d = spark.range(0, 257).withColumnRenamed("id", "doc_id")
    out = corpus_ops.shuffle_shards(d, n_shards=8).toPandas()
    assert len(out) == 257
    for shard, grp in out.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))
    # hash sharding at n=257 should not starve any of 8 shards
    assert out["shard"].nunique() == 8


def test_shuffle_shards_salt_reshuffles_epoch_order(spark):
    d = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    e0 = corpus_ops.shuffle_shards(d, salt="epoch0").toPandas()
    e1 = corpus_ops.shuffle_shards(d, salt="epoch1").toPandas()
    k0 = e0.sort_values(["shard", "pos"])["doc_id"].tolist()
    k1 = e1.sort_values(["shard", "pos"])["doc_id"].tolist()
    assert sorted(k0) == sorted(k1) == list(range(200))
    assert k0 != k1  # a different salt is a different permutation


# ----------------------------------------------------------------------
# k_anonymity_report
# ----------------------------------------------------------------------
def test_k_anonymity_planted_groups(spark):
    # group A: 10 rows, group B: 3 rows, group C: 1 row
    rows = (
        [("en", "web") for _ in range(10)]
        + [("en", "book") for _ in range(3)]
        + [("fr", "web")]
    )
    df = spark.createDataFrame(rows, "lang string, source string")
    out = (
        corpus_ops.k_anonymity_report(df, ["lang", "source"], [2, 5])
        .toPandas()
        .set_index("k")
    )
    # k=2: only the singleton violates
    assert out.loc[2, "violating_groups"] == 1
    assert out.loc[2, "suppressed_rows"] == 1
    assert out.loc[2, "suppression_bp"] == 1 * 10000 // 14
    # k=5: the 3-row group and the singleton violate
    assert out.loc[5, "violating_groups"] == 2
    assert out.loc[5, "suppressed_rows"] == 4
    assert out.loc[5, "n_groups"] == 3
    assert out.loc[5, "suppression_bp"] == 4 * 10000 // 14


# ----------------------------------------------------------------------
# corpus data card
# ----------------------------------------------------------------------
def test_corpus_datacard_consistent_with_exact_dedup(spark):
    from meteaudata_spark.ext import dedup

    card = corpus_ops.doc_corpus_datacard(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # volume columns must reconcile with the raw table
    assert card["n_docs"].sum() == docs.count()
    per_lang = (
        docs.groupBy("lang").agg(F.sum("n_chars").alias("tc")).toPandas()
        .set_index("lang")["tc"]
    )
    for _, row in card.iterrows():
        assert row["total_chars"] == per_lang[row["lang"]]
    # dup_excess must equal the exact-dedup excess corpus-wide
    excess = (
        dedup.doc_exact_dedup(spark, SF)
        .agg(F.sum(F.col("n_copies") - 1))
        .collect()[0][0]
    )
    assert card["dup_excess"].sum() == excess
    assert ((card["mean_quality_micros"] >= 0) & (card["mean_quality_micros"] <= 1000000)).all()


# ----------------------------------------------------------------------
# windowed event dedup (batch row + streaming twin differential)
# ----------------------------------------------------------------------
def test_events_windowed_dedup_reconciles_totals(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = corpus_ops.events_windowed_dedup(spark, SF).toPandas()
    assert out["n_events"].sum() == ev.count()
    assert (out["n_dups"] == out["n_events"] - out["n_distinct"]).all()
    assert (out["dup_bp"] <= 10000).all()
