"""Explicit prewarm of the session-memoized shared relations.

Several gate queries COMPOSE expensive upstreams (LSH scored pairs,
MinHash pairs, SimHash pairs, dedup clusters, quality scores, domain
PageRank) that ``plans.opcache.memo_relation`` builds once per
session.  Whichever query touches an upstream first pays its cold
build — which makes per-query bench numbers conflate "this query's
marginal cost" with "the corpus's one-time mining cost".

``warm_pair_relations`` builds and materializes each shared relation
up front and returns the per-relation build seconds, so a bench (or an
interactive session about to run many compositions) can report the
one-time cost explicitly and every subsequent query number is marginal
(VERDICT r9 #4).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession


def warm_session(spark: SparkSession, *sf_dirs: str) -> None:
    """Pay a fresh session's one-time costs before anything is timed:
    JVM start-up and codegen (a ``range`` sum), the vectorized parquet
    reader (a noop write of each ``sf_dir``'s ``region`` table) and the
    Arrow Python worker pool (a ``mapInPandas`` noop write).  The table
    part is best-effort: a missing ``region`` skips it."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        for sf_dir in sf_dirs:
            region = spark.read.parquet(f"{sf_dir}/region.parquet")
            region.write.mode("overwrite").format("noop").save()
        if sf_dirs:
            region.mapInPandas(lambda it: it, region.schema).write.mode(
                "overwrite"
            ).format("noop").save()
    except Exception:  # noqa: BLE001 - warm-up is best-effort
        pass


def warm_pair_relations(spark: SparkSession, sf_dir: str) -> dict:
    """Build + materialize every session-memoized shared relation for
    ``sf_dir``; returns {relation: build_seconds}.

    r15 (VERDICT r14 #3, de-gaming): the warm list holds ONLY
    (a) index/model ARTIFACTS — ivfpq coarse/rcb/codes (full + base
        variants), the frozen-codebook delta codes, flat-PQ codes,
        the kmeans trainer trace and refine centroids, the BPE and
        unigram trainer cores — the keep-list classes; and
    (b) shared UPSTREAM relations that COMPOSING rows read (the
        r9-sanctioned pattern): pair mining, clusters, quality,
        pagerank, the exact/IVF/BM25 ranker cores.
    No entry calls a topk/refine/probe_sweep/bm25/cosine gate-row
    function anymore: those rows execute their search/eval tails in
    the bench's timed region (the internal ``_*_core`` helpers here
    are read only by rows that compose them as upstreams)."""
    from meteaudata_spark.ext import dedup, graph, simsearch, textstats

    def _ivfpq_index(variant: str):
        def build():
            coarse, rcb, codes = simsearch._ivfpq_index_for(
                spark, sf_dir, variant
            )
            coarse.count()
            rcb.count()
            return codes

        return build

    builds = {
        "lsh_scored_pairs": lambda: simsearch.emb_lsh_near_pairs(
            spark, sf_dir, threshold=-1.0
        ),
        "minhash_pairs": lambda: dedup.doc_minhash_lsh_pairs(spark, sf_dir),
        "simhash_near_pairs": lambda: dedup.doc_simhash_near_pairs(
            spark, sf_dir
        ),
        "dedup_clusters": lambda: dedup.doc_dedup_clusters(spark, sf_dir),
        "quality_score": lambda: textstats.doc_quality_score(spark, sf_dir),
        "domain_pagerank": lambda: graph.doc_domain_pagerank(spark, sf_dir),
        # tokenizer trainer cores (r13): train/encode/eval/compare all
        # read these; the loops localCheckpoint internally, so touching
        # the core once materializes it for the session
        "bpe_core": lambda: textstats.doc_bpe_train(spark, sf_dir),
        "unigram_core": lambda: textstats.doc_unigram_lm_train(
            spark, sf_dir
        ),
        # r15: the trained vocabulary APPLIED to its own word list
        # (one Viterbi per distinct word) — the artifact all four
        # tokenizer rows' corpus tails join against (VERDICT r14 #6)
        "ulm_word_tokens": lambda: textstats._ulm_word_tokens_for(
            spark, sf_dir
        ),
        # model artifacts (r14/r15): the kmeans trainer trace (the
        # embedding analog of the bpe core — the gate row IS the
        # trainer), the flat-PQ codes (the row's output IS the index
        # artifact), and the refine centroids (k×64 exact ints)
        "kmeans_train_core": lambda: simsearch.emb_kmeans_train(
            spark, sf_dir
        ),
        "pq_codes": lambda: simsearch._pq_codes_for(spark, sf_dir),
        "kmeans_refine_cents": lambda: simsearch._kmeans_refine_centroids(
            spark, sf_dir
        ),
        # composer-side ranker cores (read by ann_recall/recall_curve/
        # matryoshka/hybrid/ndcg/mmr — NOT by the same-name gate rows)
        "exact_topk_core": lambda: simsearch._exact_topk_core(
            spark, sf_dir
        ),
        "ivf_topk_core": lambda: simsearch._ivf_topk_core(spark, sf_dir),
        "bm25_single_core": lambda: textstats._bm25_single_core(
            spark, sf_dir
        ),
        "bm25_multi_core": lambda: textstats.bm25_multi_candidates(
            spark, sf_dir
        ),
        # IVF-PQ index artifacts only (coarse/rcb/codes per variant +
        # the frozen-codebook delta codes); the searches over them run
        # per call in the timed region
        "ivfpq_full_index": _ivfpq_index("full"),
        "ivfpq_base_index": _ivfpq_index("base"),
        "ivfpq_delta_codes": lambda: simsearch._ivfpq_delta_codes(
            spark, sf_dir
        ),
    }
    from meteaudata_spark.plans.opcache import pin_caches

    out = {}
    # pinned: the prewarmed relations are the bench's standing working
    # set — per-query cache_intermediate churn must not FIFO-evict
    # them (round-11 measured memo-read rows regressing 4-15× when the
    # incremental-ledger rows' per-shard caches pushed them out)
    from pyspark.sql import DataFrame

    with pin_caches():
        for name, build in builds.items():
            t0 = time.perf_counter()
            built = build()
            if isinstance(built, DataFrame):
                built.count()
            out[name] = round(time.perf_counter() - t0, 3)
    return out
