"""Compose-don't-recompute (VERDICT r8 #3): shared composition
upstreams (minhash pairs, dedup clusters, quality scores, domain
pagerank) are memoized per session, and the composing operators accept
precomputed inputs.  Pins both the reuse (same DataFrame object → same
persisted relation, no re-mining) and result equality between the
default and precomputed-input paths."""

import os
import shutil

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _cold_caches():
    from meteaudata_spark.plans.opcache import release_operator_caches

    release_operator_caches()
    yield
    release_operator_caches()


def test_minhash_pairs_memoized(spark):
    from meteaudata_spark.ext import dedup

    a = dedup.doc_minhash_lsh_pairs(spark, SF)
    b = dedup.doc_minhash_lsh_pairs(spark, SF)
    assert a is b  # memo hit: the SAME persisted relation
    # different params -> different relation
    c = dedup.doc_minhash_lsh_pairs(spark, SF, threshold=0.5)
    assert c is not a


def test_memo_cleared_by_release(spark):
    from meteaudata_spark.ext import dedup
    from meteaudata_spark.plans.opcache import release_operator_caches

    a = dedup.doc_minhash_lsh_pairs(spark, SF)
    release_operator_caches()
    b = dedup.doc_minhash_lsh_pairs(spark, SF)
    assert a is not b


def test_keep_best_accepts_precomputed_inputs(spark):
    from meteaudata_spark.ext import dedup, textstats

    clusters = dedup.doc_dedup_clusters(spark, SF)
    quality = textstats.doc_quality_score(spark, SF)
    default = (
        dedup.doc_dedup_keep_best(spark, SF)
        .toPandas().sort_values("cluster_id").reset_index(drop=True)
    )
    composed = (
        dedup.doc_dedup_keep_best(spark, SF, clusters=clusters, quality=quality)
        .toPandas().sort_values("cluster_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(default, composed)
    assert len(default) > 0


def test_split_leakage_accepts_precomputed_pairs(spark):
    from meteaudata_spark.ext import corpus_ops, dedup

    pairs = dedup.doc_minhash_lsh_pairs(spark, SF)
    cols = ["split_a", "split_b"]
    default = (
        corpus_ops.doc_split_leakage(spark, SF)
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    composed = (
        corpus_ops.doc_split_leakage(spark, SF, pairs=pairs)
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(default, composed)


def test_crawl_priority_accepts_precomputed_inputs(spark):
    from meteaudata_spark.ext import graph
    from meteaudata_spark.ext.textstats import doc_quality_score

    rank = graph.doc_domain_pagerank(spark, SF).select("domain", "rank")
    quality = doc_quality_score(spark, SF)
    default = graph.doc_crawl_priority(spark, SF).toPandas()
    composed = graph.doc_crawl_priority(
        spark, SF, rank=rank, quality=quality
    ).toPandas()
    pd.testing.assert_frame_equal(default, composed)
    assert len(default) > 0


def test_memo_is_fifo_bounded(spark):
    from meteaudata_spark.plans import opcache

    base = len(opcache._memo)
    for i in range(opcache._MEMO_CAP + 5):
        opcache.memo_relation(
            spark, SF, ("bounded-test", i), lambda: spark.range(1)
        )
    assert len(opcache._memo) <= opcache._MEMO_CAP


def test_lsh_scored_pairs_shared_across_thresholds(spark):
    """The scored (pre-threshold) LSH pair relation is memoized per
    sf_dir, so consumers at DIFFERENT thresholds (the 0.35 gate row
    vs doc_embedding_dups' 0.4) share one bucketize+verify pass and
    differ only in the final filter."""
    from meteaudata_spark.ext import simsearch
    from meteaudata_spark.plans import opcache

    a = simsearch.emb_lsh_near_pairs(spark, SF, threshold=0.35)
    n_memo = len(opcache._memo)
    b = simsearch.emb_lsh_near_pairs(spark, SF, threshold=0.4)
    assert len(opcache._memo) == n_memo  # no second build
    # the 0.4 set is exactly the >=0.4 subset of the 0.35 set
    pa = a.toPandas().sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    sub = pa[pa.cosine >= 0.4].reset_index(drop=True)
    pd.testing.assert_frame_equal(sub, pb)


def test_memo_isolated_per_application(spark):
    """A restarted Spark session (new applicationId) must REBUILD
    memoized relations, never reuse a DataFrame whose persist belongs
    to a dead session — the memo key embeds the application id
    (VERDICT r9 #8)."""
    from meteaudata_spark.plans import opcache

    builds = []

    def build():
        builds.append(1)
        return spark.range(3).selectExpr("id AS v")

    a = opcache.memo_relation(spark, SF, ("restart_probe", "x"), build)
    a2 = opcache.memo_relation(spark, SF, ("restart_probe", "x"), build)
    assert a is a2 and len(builds) == 1

    class _RestartedCtx:
        applicationId = "app-after-restart-0000"

    class _RestartedSession:
        sparkContext = _RestartedCtx()

    b = opcache.memo_relation(
        _RestartedSession(), SF, ("restart_probe", "x"), build
    )
    assert len(builds) == 2, "restarted session must rebuild"
    assert b is not a
    # and the two sessions' entries coexist under distinct keys
    keys = [k for k in opcache._memo if k[1:] == ("restart_probe", "x")]
    assert len(keys) == 2
    assert {k[0] for k in keys} == {
        spark.sparkContext.applicationId,
        "app-after-restart-0000",
    }


def test_pinned_relations_survive_fifo_churn(spark):
    """Relations cached inside pin_caches() must survive arbitrary
    cache_intermediate churn (the r11 bench regression: per-query
    caches FIFO-evicted the prewarmed pair relations, 4-15x slower
    memo reads) and still release on release_operator_caches()."""
    from meteaudata_spark.plans import opcache

    opcache.release_operator_caches()
    with opcache.pin_caches():
        pinned = opcache.cache_intermediate(spark.range(5))
    pinned.count()
    for i in range(opcache._MAX_ACTIVE + 5):
        opcache.cache_intermediate(spark.range(i + 10))
    assert pinned.storageLevel.useMemory, "pinned entry was evicted"
    assert id(pinned) in opcache._pinned
    opcache.release_operator_caches()
    assert not opcache._pinned and not opcache._active
    assert not pinned.storageLevel.useMemory


def test_memo_persist_immune_to_query_churn(spark):
    """r14 batch 4 (the structural fix for the r12 watch item /
    post-batch-3 bench regression): memoized relations persist in the
    MEMO registry, so per-query cache_intermediate churn can NEVER
    evict them — the old design let a full bench pass evict non-pinned
    cores between a query's runs (doc_heaps_fit 1.4 s → 4.0 s in-pass
    vs 1.38 s isolated).  Fails if memo persists ever re-enter the
    per-query FIFO."""
    from meteaudata_spark.plans import opcache

    opcache.release_operator_caches()
    builds = []

    def build():
        builds.append(1)
        return spark.range(7).selectExpr("id AS v")

    a = opcache.memo_relation(spark, SF, ("heal_probe", "x"), build)
    a.count()
    assert a.storageLevel.useMemory and len(builds) == 1
    # churn the per-query FIFO far past its cap
    for i in range(opcache._MAX_ACTIVE + 5):
        opcache.cache_intermediate(spark.range(i + 100))
    assert a.storageLevel.useMemory, "memo persist must survive churn"
    b = opcache.memo_relation(spark, SF, ("heal_probe", "x"), build)
    assert b is a and len(builds) == 1


def test_memo_hit_heals_externally_dropped_persist(spark):
    """A memo HIT whose persist was dropped externally (manual
    unpersist / a stray release) must re-persist instead of letting
    every downstream execution silently recompute the mining (the r12
    doc_dedup_agreement 4-15× drift class)."""
    from meteaudata_spark.plans import opcache

    opcache.release_operator_caches()
    builds = []

    def build():
        builds.append(1)
        return spark.range(7).selectExpr("id AS v")

    a = opcache.memo_relation(spark, SF, ("heal_probe2", "x"), build)
    a.count()
    a.unpersist(blocking=True)
    assert not a.storageLevel.useMemory, "precondition: persist dropped"
    b = opcache.memo_relation(spark, SF, ("heal_probe2", "x"), build)
    assert b is a and len(builds) == 1
    b.count()  # one recompute re-materializes the cache...
    assert a.storageLevel.useMemory


def test_memo_overflow_unpersists_evicted_relation(spark):
    """Memo FIFO overflow must unpersist the evicted relation — the
    registry bounds storage, not just bookkeeping."""
    from meteaudata_spark.plans import opcache

    opcache.release_operator_caches()
    first = opcache.memo_relation(
        spark, SF, ("overflow_probe", -1), lambda: spark.range(3)
    )
    first.count()
    assert first.storageLevel.useMemory
    for i in range(opcache._MEMO_CAP + 1):
        opcache.memo_relation(
            spark, SF, ("overflow_probe", i), lambda: spark.range(1)
        )
    assert len(opcache._memo) <= opcache._MEMO_CAP
    import time

    for _ in range(50):  # unpersist is async (blocking=False)
        if not first.storageLevel.useMemory:
            break
        time.sleep(0.1)
    assert not first.storageLevel.useMemory
    opcache.release_operator_caches()


# -- source fingerprints: a memo entry goes stale when its input files
# change, and is rebuilt --------------------------------------------------


def _sf_copy(tmp_path) -> str:
    """A writable copy of the sf0.001 fixture."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in os.listdir(SF):
        shutil.copyfile(f"{SF}/{name}", d / name)
    return str(d)


def _rewrite_documents(spark, sf: str, max_doc_id: int) -> int:
    """Rewrite ``documents`` in place with ``mode("overwrite")``,
    keeping the docs below ``max_doc_id``; returns the new row count."""
    path = f"{sf}/documents.parquet"
    pdf = pd.read_parquet(path)
    kept = pdf[pdf.doc_id < max_doc_id]
    spark.createDataFrame(kept).write.mode("overwrite").parquet(path)
    return len(kept)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_load_table_reads_table_rewritten_in_place(spark, tmp_path):
    from meteaudata_spark.sources.tables import load_table

    sf = _sf_copy(tmp_path)
    assert load_table(spark, sf, "documents").count() == 500
    n = _rewrite_documents(spark, sf, 200)
    assert 0 < n < 500
    assert load_table(spark, sf, "documents").count() == n


def test_memoized_relation_rebuilt_after_source_rewrite(spark, tmp_path):
    from meteaudata_spark.ext import dedup
    from meteaudata_spark.plans.opcache import release_operator_caches

    sf = _sf_copy(tmp_path)
    a = dedup.doc_minhash_lsh_pairs(spark, sf)
    before = _rows(a)
    _rewrite_documents(spark, sf, 250)
    b = dedup.doc_minhash_lsh_pairs(spark, sf)
    assert b is not a
    got = _rows(b)
    release_operator_caches()
    assert got == _rows(dedup.doc_minhash_lsh_pairs(spark, sf))
    assert got != before  # the rewrite dropped some pairs


def test_ivfpq_search_reads_codebooks_replaced_on_disk(spark, tmp_path):
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.simsearch import build_ivfpq_index, ivfpq_search
    from meteaudata_spark.plans.opcache import release_operator_caches

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx, other = str(tmp_path / "idx"), str(tmp_path / "other")
    build_ivfpq_index(emb, idx)
    # same vectors under rotated ids: the codebook samples (fixed
    # vec_id ranges) pick different vectors
    build_ivfpq_index(
        emb.select(((F.col("vec_id") + 37) % 500).alias("vec_id"), "embedding"),
        other,
    )
    queries = emb.filter(F.col("vec_id") < 3)
    before = _rows(ivfpq_search(spark, idx, queries))
    for part in ("coarse", "codebook"):
        shutil.rmtree(f"{idx}/{part}")
        shutil.copytree(f"{other}/{part}", f"{idx}/{part}")
    got = _rows(ivfpq_search(spark, idx, queries))
    release_operator_caches()
    assert got == _rows(ivfpq_search(spark, idx, queries))
    assert got != before


def test_ivfpq_append_keeps_codebook_memo(spark, tmp_path):
    """Streaming appends write under ``codes`` only, so the frozen
    codebook entry survives them: one codebook load per index, not
    one per micro-batch."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext import simsearch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    simsearch.build_ivfpq_index(emb, idx)
    cb = simsearch._disk_codebooks(spark, idx)
    simsearch.append_ivfpq_delta(
        spark,
        idx,
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"),
    )
    assert simsearch._disk_codebooks(spark, idx) is cb


def test_release_drops_table_frames(spark):
    from meteaudata_spark.plans.opcache import release_operator_caches
    from meteaudata_spark.sources.tables import load_table

    a = load_table(spark, SF, "documents")
    assert load_table(spark, SF, "documents") is a
    release_operator_caches()
    assert load_table(spark, SF, "documents") is not a
