"""Scale smokes: one runner, one spec per measured operator.

Each spec builds its input executor-side (``spark.range``: nothing is
materialized on the driver) or from an sf tier, times its operator at
10-1000x the bench scale, and asserts its exact or planted-output
check where it has one.  Results are recorded in SCALE.md.

From the repository root (Python workers import the package from the
working directory):

    python tools/scale_smoke.py                                # list specs
    python tools/scale_smoke.py SPEC [SPEC ...] [--size N] [--rocksdb]

Every spec prints one JSON line: ``{"spec", "size", ...}`` with its
timings (``*_sec``) and check values; a failed check prints
``"error"`` instead and the exit status is 1.  ``--size`` is the spec's
main row count (the sf tier dir for the two IVF-PQ specs); without it
each spec runs at its listed default.  ``--rocksdb`` keeps streaming
state in RocksDB instead of the in-memory store.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from meteaudata_spark.ext.warm import warm_session  # noqa: E402
from meteaudata_spark.session import get_spark  # noqa: E402

# ----------------------------------------------------------------------
# shared pieces
# ----------------------------------------------------------------------


def start_session(rocksdb: bool = False):
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    if rocksdb:
        # the large-state path: off-heap RocksDB instead of the
        # HDFS-backed in-memory map
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    warm_session(spark)
    return spark


def timed(label, fn):
    """Run ``fn()``; report ``label``'s wall seconds on stderr and
    return ``(result, seconds)``."""
    t0 = time.perf_counter()
    out = fn()
    sec = round(time.perf_counter() - t0, 2)
    print(f"# {label}: {sec} s", file=sys.stderr, flush=True)
    return out, sec


def drain(out, sink, mode="append", each_batch=None):
    """Run the streaming frame ``out`` to completion
    (``trigger(availableNow=True)``) into parquet at ``sink``: a file
    sink in append mode, otherwise ``foreachBatch`` appends (or
    ``each_batch(df, batch_id)`` when given).  Returns the wall seconds
    and the query's progress records (the last is ``lastProgress``)."""
    w = (
        out.writeStream.outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{sink}_ckpt")
    )
    if mode == "append" and each_batch is None:
        w = w.format("parquet").option("path", sink)
    else:
        w = w.foreachBatch(
            each_batch or (lambda df, _: df.write.mode("append").parquet(sink))
        )
    t0 = time.perf_counter()
    q = w.start()
    q.awaitTermination()
    return round(time.perf_counter() - t0, 2), q.recentProgress


def state_size(progress) -> dict:
    """State-store rows and MB summed over the stateful operators of
    the final progress record: the bound a stateful stream must hold."""
    ops = (progress[-1] if progress else {}).get("stateOperators") or []
    return {
        "state_rows": sum(op.get("numRowsTotal") or 0 for op in ops),
        "state_mb": round(
            sum(op.get("memoryUsedBytes") or 0 for op in ops) / 1e6, 1
        ),
    }


def ensure_tmp_capacity(need_bytes: int, headroom: float = 1.5) -> None:
    """Fail before starting a run the temp filesystem cannot hold: a
    smoke writing into a nearly-full /tmp measures disk pressure, not
    the operator (38 GB of stale smoke parquet once tripled times)."""
    target = tempfile.gettempdir()
    free, need = shutil.disk_usage(target).free, int(need_bytes * headroom)
    if free < need:
        raise RuntimeError(
            f"{target} has {free / 1e9:.1f} GB free but the run needs "
            f"~{need / 1e9:.1f} GB ({need_bytes / 1e9:.1f} GB x{headroom} "
            "headroom); clean stale smoke output and rerun"
        )


def temp_dir():
    """A temp dir for one spec's parquet, removed when the spec ends."""
    return tempfile.TemporaryDirectory(prefix="scale_smoke_")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def stream_of(spark, src, files_per_trigger=None):
    """A file stream over the parquet dir ``src``."""
    r = spark.readStream.schema(spark.read.parquet(src).schema)
    if files_per_trigger:
        r = r.option("maxFilesPerTrigger", files_per_trigger)
    return r.parquet(src)


# ----------------------------------------------------------------------
# synthetic inputs, one generator per kind
# ----------------------------------------------------------------------


def vectors(spark, n, elem, label=None, first=1):
    """``n`` 64-dim float vectors; element ``i`` (from ``first``) of
    vector ``id`` is the SQL expression ``elem`` over (id, i)."""
    cols = [
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence({first}, {first + 63}), "
            f"i -> cast({elem} as float))"
        ).alias("embedding"),
    ]
    if label is not None:
        cols.append(label.alias("label"))
    return spark.range(n).select(*cols)


def planted_vectors(spark, n):
    """Hash vectors where the last 1000 ids alias an earlier id exactly
    (``id % (n - 1000)``): 1000 planted duplicate pairs."""
    return vectors(
        spark, n, f"sin(xxhash64(id % {n - 1000}, i))", label=F.lit(0)
    )


def grid_vectors(spark, n, parts, label=False):
    """Deterministic per-(id, dim) hash grid in [-1, 1), float32: a pure
    function of (id, dim), so re-evaluating the generator is bit-stable.
    Multiplicative (id+1)*(i+7) mixing, not affine in id: an affine grid
    makes every vector a shifted copy of every other."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            grid = (
                (ids[:, None].astype(np.int64) + 1)
                * (np.arange(64, dtype=np.int64)[None, :] + 7)
                * 2654435761
            ) % 2147483647
            base = (((grid % 100_000) / 50_000.0) - 1.0).astype(np.float32)
            out = {"vec_id": ids, "embedding": [v.tolist() for v in base]}
            if label:
                out["label"] = 0
            yield pd.DataFrame(out)

    schema = "vec_id long, embedding array<float>"
    if label:
        schema += ", label int"
    return spark.range(n).repartition(parts).mapInPandas(gen, schema)


def word_docs(spark, n, words, boiler_every=None):
    """Docs of ``words`` pseudo-random words over a 50k vocabulary;
    with ``boiler_every``, every such doc starts with the same 8-word
    boilerplate segment."""
    body = (
        f"array_join(transform(sequence(1, {words}), "
        f"i -> concat('w', cast(xxhash64(id, i) % 50000 as string))), ' ')"
    )
    if boiler_every is not None:
        body = (
            f"CASE WHEN id % {boiler_every} = 0 "
            f"THEN concat('b1 b2 b3 b4 b5 b6 b7 b8 ', {body}) "
            f"ELSE {body} END"
        )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.expr(body).alias("text")
    )


def hashed_docs(spark, n, words):
    """Docs of ``words`` base-36 hash words; the last ``n // 200`` copy
    an earlier doc's text verbatim."""
    n_dups = n // 200
    base = F.when(
        F.col("doc_id") >= n - n_dups, F.col("doc_id") % (n - n_dups)
    ).otherwise(F.col("doc_id"))
    return spark.range(n).select(
        F.col("id").alias("doc_id"), base.alias("__b")
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            *[
                F.conv(F.hex(F.abs(F.xxhash64(F.col("__b"), F.lit(w)))), 16, 36)
                for w in range(words)
            ],
        ).alias("text"),
    )


def session_events(spark, n, n_users):
    """Per-user event k at minute 13k + 35 (k div 2): gaps alternate
    13 / 48 min, so 30-min sessions are event pairs."""
    return spark.range(n).select(
        (F.col("id") % n_users).alias("user_id"),
        F.expr(
            f"timestamp '2024-05-01' + make_interval(0,0,0,0,0,"
            f"cast((id div {n_users}) * 13 + ((id div {n_users}) div 2) * 35 "
            "as int),0)"
        ).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )


def click_events(spark, n, n_users):
    """User event k lands ~10 min after its predecessor (k = id div
    n_users), so a purchase sees ~6 in-window clicks; the type mixes in
    the per-user sequence number (id % 5 alone would give each user one
    type, n_users being a multiple of 5)."""
    kind = F.expr(f"(id div {n_users}) + id") % 5
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.expr(
            f"timestamp '2024-05-01' + make_interval(0,0,0,0,0,0,"
            f"cast((id div {n_users}) * 600 + (id % 13) * 37 as int))"
        ).alias("ts"),
        (F.col("id") % n_users).alias("user_id"),
        F.when(kind < 3, "click")
        .when(kind == 3, "view")
        .otherwise("purchase")
        .alias("event_type"),
        ((F.col("id") % 97) / 3.0).alias("value"),
    )


def keyed_events(spark, n, n_keys, src, n_files):
    """``n_keys`` series at 1-second spacing, written as ``n_files``
    parquet files at ``src``."""
    spark.range(n).select(
        (F.col("id") % n_keys).cast("string").alias("event_type"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / n_keys).cast("long")
        ).alias("timestamp"),
        F.sin(F.col("id") / 1000.0).alias("value"),
    ).repartition(n_files).write.mode("overwrite").parquet(src)


def sf_embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


# ----------------------------------------------------------------------
# batch specs
# ----------------------------------------------------------------------

KERNEL_KEYS = 100


def kernels(spark, n_rows):
    """The core kernels on ``n_rows`` multi-series rows: partitioned
    resample / interpolate / rolling mean, the distributed single-series
    paths, LSH bucketize, the MinHash dedup ladder and a Q1-shaped
    broadcast join + decimal aggregation."""
    from meteaudata_spark.ext import dedup, simsearch
    from meteaudata_spark.operators import kernels as K

    n_keys = KERNEL_KEYS
    # n_keys series, 1-second spacing, ~5% nulls
    base = (
        spark.range(n_rows)
        .select(
            (F.col("id") % n_keys).cast("string").alias("series_name"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") / n_keys).cast("long")
            ).alias("timestamp"),
            F.when(F.pmod(F.xxhash64("id"), F.lit(20)) == 0, F.lit(None))
            .otherwise(F.sin(F.col("id") / 1000.0))
            .alias("value"),
        )
        .repartition(64, "series_name")
        .persist()
    )
    rec = {"rows": base.count(), "keys": n_keys}
    part = ["series_name"]
    single = base.filter(F.col("series_name") == "0").select(
        "timestamp", "value"
    )
    steps = {
        "resample_1min_partitioned": lambda: K.resample_mean(
            base, "1min", partition_cols=part
        ),
        "interpolate_partitioned": lambda: K.interpolate_linear(
            base, partition_cols=part
        ),
        "ewma_distributed_single_series": lambda: K.ewma_distributed(
            single, chunk_seconds=3600.0
        ),
        "rolling_mean_partitioned": lambda: K.rolling_mean(
            base, 10, partition_cols=part
        ),
        # the bucketize stage must stay a narrow shuffle-free map
        "lsh_bucketize_vectors": lambda: simsearch.lsh_bucketize(
            vectors(
                spark, n_rows // 10, "sin(id * 64 + i)",
                label=(F.col("id") % 10).cast("int"), first=0,
            )
        ),
    }
    for name, build in steps.items():
        _, rec[f"{name}_sec"] = timed(name, lambda: noop(build()))
    base.unpersist()

    # n_rows/100 20-word docs over a 500-word vocab, ~3% exact-dup pairs
    docs = spark.range(n_rows // 100).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(0, 19), "
            "i -> concat('w', pmod(xxhash64("
            "IF(pmod(id, 33) = 0, id + 1, id) * 20 + i), 500))), ' ')"
        ).alias("text"),
    )
    rec["minhash_pairs"], rec["minhash_lsh_docs_sec"] = timed(
        "minhash_lsh_docs", lambda: dedup.minhash_lsh_pairs(docs).count()
    )

    n_dim = max(1000, n_rows // 100)
    fact = spark.range(n_rows).select(
        (F.col("id") % n_dim).alias("fk"),
        F.pmod(F.xxhash64("id"), F.lit(5)).alias("flag"),
        (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(100000)) / 100.0)
        .cast("decimal(18,2)")
        .alias("price"),
        (F.pmod(F.xxhash64(F.col("id") + 2), F.lit(10)) / 100.0)
        .cast("decimal(18,2)")
        .alias("disc"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("fk"),
        F.pmod(F.xxhash64(F.col("id") + 3), F.lit(25)).alias("grp"),
    )
    rev = F.col("price") * (F.lit(1).cast("decimal(18,2)") - F.col("disc"))
    agg = (
        fact.join(F.broadcast(dim), "fk")
        .select("flag", "grp", rev.alias("__rev"))
        .groupBy("flag", "grp")
        .agg(F.sum("__rev").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )
    _, rec["relational_bcast_join_agg_sec"] = timed(
        "relational_bcast_join_agg", lambda: noop(agg)
    )
    return rec


def _count_spec(build):
    """A spec that times ``build(spark, n).count()``."""

    def run(spark, n):
        df = build(spark, n)
        rows, sec = timed(build.__name__, df.count)
        return {"output_rows": rows, "sec": sec}

    run.__doc__ = build.__doc__
    return run


@_count_spec
def hash_split(spark, n):
    """Map-only hash split of ``n`` ids, counted per split."""
    from meteaudata_spark.ext import corpus_ops

    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    return corpus_ops.hash_split(ids).groupBy("split").count()


@_count_spec
def hll_distinct(spark, n):
    """HLL distinct over ``n`` hashed tokens in 5 groups."""
    from meteaudata_spark.ext import sketches

    toks = spark.range(n).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.pmod(
            F.xxhash64((F.col("id") % (n // 2)).cast("string")), F.lit(1 << 60)
        ).alias("h"),
    )
    return sketches.hll_distinct(toks, "grp")


def _vocab500_docs(spark, n):
    """max(n // 100, 10k) 40-word docs over a 500-word vocabulary."""
    return spark.range(max(n // 100, 10_000)).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(0, 39), "
            "i -> concat('w', pmod(xxhash64(CAST(id + i AS STRING)), 500))), ' ')"
        ).alias("text"),
    )


@_count_spec
def contamination(spark, n):
    """Corpus-vs-benchmark contamination: n/100 docs (min 10k) vs the
    first 1000 as the benchmark."""
    from meteaudata_spark.ext import corpus_ops

    docs = _vocab500_docs(spark, n)
    return corpus_ops.contamination(
        docs.filter(F.col("doc_id") >= 1000), docs.filter(F.col("doc_id") < 1000)
    )


@_count_spec
def pii_scrub(spark, n):
    """Map-only PII regex scrub over n/100 docs (min 10k), each with
    one planted email and phone number."""
    from meteaudata_spark.ext import corpus_ops

    docs = _vocab500_docs(spark, n)
    return corpus_ops.scrub_pii(
        docs.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" user"),
                F.col("doc_id").cast("string"),
                F.lit("@ex.com +1-555-0000"),
            ),
        )
    ).selectExpr("sum(n_emails) AS e", "sum(n_phones) AS p")


@_count_spec
def kmeans_refine(spark, n):
    """k-means refinement over n/10 (min 100k) 64-dim embeddings."""
    from meteaudata_spark.ext.simsearch import kmeans_refine as refine

    return refine(
        vectors(
            spark, max(n // 10, 100_000), "sin(CAST(id AS DOUBLE) * i / 97.0)",
            label=F.col("id") % 10,
        )
    )


def global_rank(spark, n_rows):
    """Distributed global rank + ntile (256 range buckets) vs the
    single-task window it replaces (capped at 10M rows: it can't keep
    up)."""
    from meteaudata_spark.operators.rank import global_rank as rank
    from meteaudata_spark.operators.rank import ntile_from_rank

    rows = spark.range(n_rows).select(
        F.col("id"),
        (F.xxhash64(F.col("id")) % 1_000_000).cast("double").alias("v"),
    )
    ranked = rank(
        rows, "v", ascending=False, tiebreak_cols=["id"], n_buckets=256,
        out_col="__rank",
    )
    total = rows.agg(F.count(F.lit(1)).alias("__n"))
    quart = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("q", ntile_from_rank(F.col("__rank"), F.col("__n"), 4))
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n"), F.min("v"), F.max("v"))
    )
    n_win = min(n_rows, 10_000_000)
    w = Window.orderBy(F.col("v").desc(), F.col("id"))
    quart_win = (
        rows.limit(n_win)
        .withColumn("q", F.ntile(4).over(w))
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n"), F.min("v"), F.max("v"))
    )
    rec = {"window_rows": n_win}
    rec["quartiles"], rec["distributed_sec"] = timed("global_rank", quart.count)
    rec["window_quartiles"], rec["single_window_sec"] = timed(
        "single_window_ntile", quart_win.count
    )
    return rec


def _planted_recovered(pairs, n):
    return pairs.filter(
        (F.col("vec_b") >= n - 1000)
        & (F.col("vec_a") == (F.col("vec_b") % (n - 1000)))
    ).count()


def lsh_pairs(spark, n_vec):
    """LSH near-pair mining with no knobs: the two-tier derive picks
    planes for occupancy ~4 and enough tables to keep recall; the 1000
    planted duplicates must come back."""
    from meteaudata_spark.ext.simsearch import derive_lsh_params, lsh_near_pairs

    base = planted_vectors(spark, n_vec)
    tables, planes = derive_lsh_params(n_vec)
    pairs = lsh_near_pairs(base, threshold=0.9)
    n_pairs, sec = timed("lsh_near_pairs", pairs.count)
    return {
        "tables": tables,
        "planes": planes,
        "pairs": n_pairs,
        "sec": sec,
        "planted_recovered": _planted_recovered(pairs, n_vec),
    }


def lsh_pairs_fixed_planes(spark, n_vec):
    """LSH near-pair mining with 18 fixed planes (~4 vectors/bucket at
    1M); plane count is the occupancy knob a deployment sizes to its
    corpus (4 planes would put ~60k vectors in every bucket here)."""
    from meteaudata_spark.ext.simsearch import lsh_near_pairs

    pairs = lsh_near_pairs(planted_vectors(spark, n_vec), threshold=0.9, n_planes=18)
    n_pairs, sec = timed("lsh_near_pairs_18_planes", pairs.count)
    return {"pairs": n_pairs, "sec": sec}


def segment_dedup(spark, n_docs):
    """Segment-level dedup: every 20th doc opens with one shared 8-word
    boilerplate segment; every copy but the first must be dropped
    (exact, random-word segments are unique w.h.p.)."""
    from meteaudata_spark.ext.dedup import segment_dedup as dedup_segments

    d = word_docs(spark, n_docs, 40, boiler_every=20)

    def run():
        return dedup_segments(d, seg_words=8).agg(
            F.sum("n_segments").alias("segs"), F.sum("n_kept").alias("kept")
        ).collect()[0]

    agg, sec = timed("segment_dedup", run)
    dropped = agg["segs"] - agg["kept"]
    expected = n_docs // 20 - 1
    assert dropped == expected, (dropped, expected)
    return {"segments": agg["segs"], "deduped": dropped, "sec": sec}


PACK_SHARDS = 2048


def pack_sequences(spark, n_docs):
    """Sequence packing (capacity 2048) of 1..63-word docs within 2048
    hash shards; every doc packed, no bin overfull."""
    from meteaudata_spark.ext.corpus_ops import pack_sequences as pack

    d = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(PACK_SHARDS)).alias("shard"),
        F.expr(
            "array_join(transform("
            "sequence(1, cast(id % 63 + 1 as int)), x -> 'w'), ' ')"
        ).alias("text"),
    )

    def run():
        return pack(d, capacity=2048, group_cols=["shard"]).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("bin_fill").alias("max_fill"),
            F.countDistinct("shard", "bin_id").alias("n_bins"),
        ).collect()[0]

    agg, sec = timed("pack_sequences", run)
    assert agg["n"] == n_docs and agg["max_fill"] <= 2048, agg
    return {"bins": agg["n_bins"], "max_fill": agg["max_fill"], "sec": sec}


BLOOM_BENCH_DOCS = 10_000


def contamination_bloom(spark, n_corpus):
    """Bloom-filter decontamination (m = 2^22 bits, k = 4) of a corpus
    against a 10k-doc benchmark generated from the same hash stream as
    corpus docs 0..9999, so those docs are fully contaminated."""
    from meteaudata_spark.ext.corpus_ops import contamination_bloom as bloom

    corpus = word_docs(spark, n_corpus, 30, boiler_every=10**9)
    bench = word_docs(spark, BLOOM_BENCH_DOCS, 30, boiler_every=10**9).select(
        (F.col("doc_id") + n_corpus).alias("doc_id"), F.col("text")
    )

    def run():
        return bloom(corpus, bench, n=5, m_bits=1 << 22, k=4).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_flagged").alias("flagged"),
            F.sum("n_grams").alias("grams"),
        ).collect()[0]

    agg, sec = timed("contamination_bloom", run)
    return {
        "docs": agg["docs"],
        "grams": agg["grams"],
        "flagged": agg["flagged"],
        "sec": sec,
    }


def pq_assign(spark, n_vec):
    """Product-quantization codes: 8 codes per 64-dim vector."""
    from meteaudata_spark.ext.simsearch import pq_assign as assign

    emb = vectors(spark, n_vec, "sin(xxhash64(id, i))")

    def run():
        # avg, not sum: per-row sqdist is bounded by ~2^45, so a bigint
        # SUM over millions of rows would overflow
        return assign(emb).agg(
            F.count(F.lit(1)).alias("n"), F.avg("sqdist").alias("err")
        ).collect()[0]

    agg, sec = timed("pq_assign", run)
    assert agg["n"] == n_vec * 8, agg
    return {"codes": agg["n"], "sec": sec}


def ivfpq_topk(spark, n_vec):
    """IVF-PQ index build + 3 queries x top-10 over ``n_vec`` vectors."""
    from meteaudata_spark.ext.simsearch import ivfpq_topk as topk

    emb = vectors(spark, n_vec, "sin(xxhash64(id, i))")
    out, sec = timed("ivfpq_topk", lambda: topk(emb, n_queries=3, k=10).collect())
    assert len(out) == 30, len(out)
    return {"hits": len(out), "sec": sec}


M4_KEYS = 1000


def m4_downsample(spark, n_rows):
    """M4 downsampling of ``n_rows`` events over 1000 keys: every input
    row lands in exactly one bucket."""
    from meteaudata_spark.ext.timeseries_queries import m4_downsample as m4

    ev = spark.range(n_rows).select(
        F.concat(F.lit("k"), (F.col("id") % M4_KEYS).cast("string")).alias(
            "event_type"
        ),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + "
            "make_interval(0,0,0,0,0,0,cast(id div 1000 as int))"
        ).alias("ts"),
        F.sin(F.col("id").cast("double")).alias("value"),
    )

    def run():
        agg = m4(ev, ["event_type"])
        return agg.count(), agg.agg(F.sum("n_rows")).collect()[0][0]

    (n_out, total), sec = timed("m4_downsample", run)
    assert total == n_rows, (total, n_rows)
    return {"buckets": n_out, "sec": sec}


def chunk_text(spark, n_docs):
    """RAG chunking of 120-word docs into overlapping 40-word windows
    (stride 30): exactly 4 chunks per doc."""
    from meteaudata_spark.ext.corpus_ops import chunk_text as chunk

    d = word_docs(spark, n_docs, 120)

    def run():
        return chunk(d, window=40, stride=30).agg(
            F.count(F.lit(1)).alias("chunks"),
            F.sum("n_chunk_words").alias("words"),
        ).collect()[0]

    agg, sec = timed("chunk_text", run)
    assert agg["chunks"] == 4 * n_docs, agg
    return {"chunks": agg["chunks"], "chunk_words": agg["words"], "sec": sec}


def gopher_rules(spark, n_docs):
    """The Gopher quality-rule arithmetic (the gate query's core
    projection) on 60-word docs; only the third decorated with
    stopwords can pass the stopword rule."""
    from meteaudata_spark.ext.textstats import _GOPHER_STOPWORDS

    d = word_docs(spark, n_docs, 60).withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(F.lit("the and of "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("double")
    mean_wl = (
        F.aggregate(words, F.lit(0).cast("double"), lambda a, w: a + F.length(w))
        / n_words
    )
    frac_alpha = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    keep = (
        (n_words >= 50)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (frac_alpha >= 0.8)
        & (n_stop >= 2)
    )

    def run():
        return d.select(keep.alias("keep")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("int")).alias("kept"),
        ).collect()[0]

    agg, sec = timed("gopher_rules", run)
    assert agg["n"] == n_docs and agg["kept"] <= n_docs // 3 + 1, agg
    return {"kept": agg["kept"], "sec": sec}


SEMDEDUP_CLUSTERS = 256


def semdedup(spark, n_vecs):
    """SemDeDup over grid vectors plus 1k planted exact copies of ids
    50000..50999 (so ``n_vecs`` must exceed 51000) in 256 clusters:
    every plant is recovered while the pair join stays
    sum(|cluster|^2), never n^2."""
    from meteaudata_spark.ext.simsearch import semdedup as dedup

    emb = grid_vectors(spark, n_vecs, 64, label=True)
    plants = emb.filter(
        (F.col("vec_id") >= 50_000) & (F.col("vec_id") < 51_000)
    ).select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label")
    out = dedup(
        emb.unionByName(plants), threshold=0.99, n_clusters=SEMDEDUP_CLUSTERS
    )

    def run():
        return out.count(), out.filter(F.col("drop_id") >= 10_000_000).count()

    (n, planted), sec = timed("semdedup", run)
    assert planted == 1_000, planted
    return {"dropped": n, "planted_recovered": planted, "sec": sec}


MP4_FRAMES, MP4_HW = 12, (48, 64)


def mp4_codec(spark, n_videos):
    """MJPEG-in-MP4 encode + decode round trips of a 12-frame 48x64 clip
    (single core; scales per task)."""
    from meteaudata_spark.ext.mp4 import decode_mp4, encode_mp4_mjpeg

    rng = np.random.default_rng(1)
    clip = [
        rng.integers(0, 256, size=(*MP4_HW, 3), dtype=np.uint8)
        for _ in range(MP4_FRAMES)
    ]

    def run():
        total = 0
        for _ in range(n_videos):
            frames, _fps = decode_mp4(encode_mp4_mjpeg(clip, fps=10, quality=85))
            total += len(frames)
        return total

    total, sec = timed("mp4_codec", run)
    assert total == n_videos * MP4_FRAMES, total
    return {"frames": total, "sec": sec}


BM25_TERMS = ["spark", "table", "row", "data", "query"]


def _bm25_docs(spark, n_docs, words):
    """Word docs where every 1000th doc carries all 5 query terms."""
    return word_docs(spark, n_docs, words).withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(1000)) == 0,
            F.concat(F.lit("spark table row data query "), F.col("text")),
        ).otherwise(F.col("text")),
    )


def bm25(spark, n_docs):
    """BM25 top-20 for a 5-term query over 120-word docs: the planted
    5-term docs must own every rank."""
    from meteaudata_spark.ext.textstats import bm25_search

    d = _bm25_docs(spark, n_docs, 120)
    out, sec = timed("bm25", lambda: bm25_search(d, BM25_TERMS, k=20).collect())
    assert len(out) == 20
    assert all(r["doc_id"] % 1000 == 0 and r["n_terms_hit"] == 5 for r in out)
    return {"hits": len(out), "sec": sec}


def bm25_index(spark, n_docs):
    """Build the persisted BM25 inverted index over 60-word docs (one
    explode + groupBy pass feeds both writes), then serve the 5-term
    query from it: top-20 all planted hits."""
    from meteaudata_spark.ext.textstats import bm25_index_search, build_bm25_index

    d = _bm25_docs(spark, n_docs, 60)
    with temp_dir() as tmp:
        idx = f"{tmp}/bm25"
        _, build_sec = timed("bm25_index_build", lambda: build_bm25_index(d, idx))
        out, serve_sec = timed(
            "bm25_index_serve",
            lambda: bm25_index_search(spark, idx, BM25_TERMS, k=20).collect(),
        )
    assert len(out) == 20 and all(r["doc_id"] % 1000 == 0 for r in out)
    return {"hits": len(out), "build_sec": build_sec, "serve_sec": serve_sec}


PAGERANK_OUT_DEG, PAGERANK_ITERS = 10, 5


def pagerank(spark, n_nodes):
    """5 quantized PageRank iterations over ``n_nodes`` x 10 hashed
    out-edges: the iterative keyed-join shape at scale.  Mass stays near
    1 (the half-up nano quantization adds ~n_nodes*0.5e-9 per iteration)."""
    from meteaudata_spark.ext.graph import pagerank as rank

    edges = spark.range(n_nodes * PAGERANK_OUT_DEG).select(
        (F.col("id") % n_nodes).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("dst"),
        F.lit(1.0).alias("weight"),
    )

    def run():
        return rank(edges, iterations=PAGERANK_ITERS).agg(
            F.count(F.lit(1)).alias("n"), F.sum("rank").alias("mass")
        ).collect()[0]

    agg, sec = timed("pagerank", run)
    assert agg["n"] >= n_nodes and 0.5 < agg["mass"] <= 1.01, agg
    return {"nodes": agg["n"], "mass": round(agg["mass"], 4), "sec": sec}


RANGE_INTERVALS = 10_000


def range_join(spark, n_points):
    """Bucketed range join of ``n_points`` points against 10k one-hour
    intervals that tile the whole ts range: every point matches once
    (the shape a nested loop cannot survive)."""
    from meteaudata_spark.ext.rangejoin import range_join as join

    pts = spark.range(n_points).select(
        F.col("id").alias("pid"),
        (F.pmod(F.xxhash64("id"), F.lit(36_000_000))).alias("ts"),
    )
    iv = spark.range(RANGE_INTERVALS).select(
        F.col("id").alias("iid"),
        (F.col("id") * 3600).alias("start"),
        (F.col("id") * 3600 + 3599).alias("end"),
    )
    out = join(
        pts, iv, ts_col="ts", start_col="start", end_col="end",
        bucket_seconds=3600,
    )
    n, sec = timed("range_join", out.count)
    assert n == n_points, n
    return {"matches": n, "sec": sec}


def substring_spans(spark, n_docs):
    """Duplicate-substring span detection over 24-word hash docs, 0.5%
    of them verbatim copies of an earlier doc."""
    from meteaudata_spark.ext.dedup import doc_substring_spans

    with temp_dir() as tmp:
        # doc_substring_spans reads {sf_dir}/documents.parquet
        hashed_docs(spark, n_docs, 24).write.parquet(f"{tmp}/documents.parquet")
        n_dup_docs, sec = timed(
            "substring_spans",
            lambda: doc_substring_spans(spark, tmp)
            .filter(F.col("dup_words") > 0)
            .count(),
        )
    return {"dup_docs": n_dup_docs, "planted": n_docs // 200, "sec": sec}


def image_neardup(spark, n_assets):
    """Perceptual-hash image near-dup mining: 1% of the 8x8 PPM assets
    are byte-exact copies of an earlier asset (hamming 0), the rest are
    digest noise."""
    from meteaudata_spark.ext.multimodal import (
        encode_ppm,
        image_ahash_blocks,
        image_neardup_pairs,
    )

    n_dups = n_assets // 100

    def build(it):
        for pdf in it:
            ids, payloads = [], []
            for i in pdf["id"]:
                src = i % (n_assets - n_dups) if i >= n_assets - n_dups else i
                rng = np.random.default_rng(int(src))
                ids.append(i)
                payloads.append(
                    encode_ppm(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))
                )
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    with temp_dir() as tmp:
        spark.range(n_assets).mapInPandas(
            build, "asset_id bigint, payload binary"
        ).write.parquet(f"{tmp}/assets")
        a = spark.read.parquet(f"{tmp}/assets")
        n_pairs, sec = timed(
            "image_neardup",
            lambda: image_neardup_pairs(image_ahash_blocks(a), max_hamming=3).count(),
        )
    return {"pairs": n_pairs, "planted": n_dups, "sec": sec}


ATTRIBUTION_USERS = 200_000


def attribution_weights(spark, n):
    """Batch multi-touch attribution over ``n`` click/view/purchase
    events of 200k users."""
    from meteaudata_spark.ext.timeseries_queries import ts_attribution_weights

    with temp_dir() as tmp:
        click_events(spark, n, ATTRIBUTION_USERS).withColumn(
            "props", F.lit("{}")
        ).write.parquet(f"{tmp}/events.parquet")
        n_credits, sec = timed(
            "attribution_weights", lambda: ts_attribution_weights(spark, tmp).count()
        )
    return {"credited_clicks": n_credits, "sec": sec}


def event_trigrams(spark, n):
    """Event-trigram mining over the attribution event design."""
    from meteaudata_spark.ext.timeseries_queries import ts_event_trigrams

    with temp_dir() as tmp:
        click_events(spark, n, ATTRIBUTION_USERS).withColumn(
            "props", F.lit("{}")
        ).write.parquet(f"{tmp}/events.parquet")
        top, sec = timed(
            "event_trigrams", lambda: ts_event_trigrams(spark, tmp).collect()
        )
    return {
        "top": f"{top[0]['e1']}>{top[0]['e2']}>{top[0]['e3']}",
        "top_n": top[0]["n"],
        "sec": sec,
    }


def jpeg_decode(spark, n):
    """Reference (per-bit) JPEG decoder vs the vectorized-huffman LUT
    path on ``n`` synthetic assets: byte-identical, LUT >= 10x faster."""
    from meteaudata_spark.ext.jpeg import (
        _decode_jpeg_lut,
        _decode_jpeg_reference,
        encode_jpeg,
    )

    rng = np.random.default_rng(42)
    payloads = []
    for i in range(n):
        h, w = int(rng.integers(64, 257)), int(rng.integers(64, 257))
        yy, xx = np.mgrid[0:h, 0:w]
        base = 128 + 90 * np.sin(xx / (3 + i % 7)) * np.cos(yy / (2 + i % 5))
        arr = np.clip(
            base[..., None] + rng.integers(-25, 25, (h, w, 3)), 0, 255
        ).astype(np.uint8)
        payloads.append(
            encode_jpeg(arr, quality=int(rng.integers(40, 95)),
                        subsample=bool(i % 2), restart_interval=(i % 3) * 4)
        )
    ref, ref_sec = timed(
        "jpeg_reference", lambda: [_decode_jpeg_reference(p) for p in payloads]
    )
    lut, lut_sec = timed(
        "jpeg_lut", lambda: [_decode_jpeg_lut(p) for p in payloads]
    )
    return {
        "reference_sec": ref_sec,
        "lut_sec": lut_sec,
        "speedup": round(ref_sec / max(lut_sec, 1e-9), 1),
        "identical": all(np.array_equal(a, b) for a, b in zip(ref, lut)),
    }


INCREMENTAL_SHARD = 5_000


def incremental_minhash(spark, n_store):
    """The incremental MinHash ledger's delta cost must follow shard
    size, not store size: delta-mine a fixed 5k-doc shard against
    stores of 1/4, 1/2 and all of ``n_store`` docs, then a full
    recompute at the largest corpus for contrast."""
    from meteaudata_spark.ext import dedup

    def docs(n, offset=0):
        # 9-token texts keyed on the global doc_id; every 100th doc is
        # an exact dup of its predecessor
        return spark.range(n).select(
            (F.col("id") + offset).alias("doc_id"),
            F.expr(
                f"array_join(transform(sequence(1, 9), "
                f"i -> conv(cast(abs(xxhash64("
                f"CASE WHEN (id + {offset}) % 100 = 0 THEN id + {offset} - 1 "
                f"ELSE id + {offset} END, i)) as string), 10, 36)), ' ')"
            ).alias("text"),
        )

    tiers = []
    for frac in (0.25, 0.5, 1.0):
        ns = int(n_store * frac)
        (_, store), ingest = timed(
            f"ingest {ns}", lambda: dedup.incremental_minhash_pairs(None, docs(ns))
        )
        _, mat = timed(f"store {ns}", store.count)  # materialize the store
        shard = docs(INCREMENTAL_SHARD, offset=ns)
        n_pairs, delta = timed(
            f"delta {ns}",
            lambda: dedup.incremental_minhash_pairs(store, shard)[0].count(),
        )
        tiers.append(
            {"store": ns, "ingest_sec": round(ingest + mat, 2),
             "delta_sec": delta, "delta_pairs": n_pairs}
        )
    n_full, full_sec = timed(
        "full_recompute",
        lambda: dedup.minhash_lsh_pairs(docs(n_store + INCREMENTAL_SHARD)).count(),
    )
    return {"shard": INCREMENTAL_SHARD, "tiers": tiers,
            "full_pairs": n_full, "full_sec": full_sec}


INCREMENTAL_EMB_SHARD = 10_000


def incremental_semdedup(spark, n_store):
    """The embedding ledger's delta cost must follow shard size, not
    store size: a fixed 10k-vector shard delta-mined against stores of
    1/4, 1/2 and all of ``n_store`` must stay near-flat (ratio < 2.5
    while the store grows 4x).  One frozen codebook sized for the final
    corpus serves every tier (the ledger's composability contract)."""
    from meteaudata_spark.ext.simsearch import (
        _l2_assign_fast,
        _norm_expr,
        _q64,
        incremental_semdedup_pairs,
        semdedup_n_clusters,
    )

    def vecs(n, offset=0):
        # hash grid in [-1, 1); every 200th vector copies its predecessor
        base = (
            f"CASE WHEN (id + {offset}) % 200 = 0 THEN id + {offset} - 1 "
            f"ELSE id + {offset} END"
        )
        return spark.range(n).select(
            (F.col("id") + offset).alias("vec_id"),
            F.expr(
                f"transform(sequence(1, 64), i -> "
                f"cast((abs(xxhash64({base}, i)) % 100000) / 50000.0 - 1.0"
                f" as double))"
            ).alias("embedding"),
        )

    n_cent = semdedup_n_clusters(n_store + INCREMENTAL_EMB_SHARD)
    cents = [
        (r["vec_id"], r["qe"])
        for r in vecs(n_cent).select("vec_id", _q64("embedding").alias("qe")).collect()
    ]
    tiers = []
    for frac in (0.25, 0.5, 1.0):
        ns = int(n_store * frac)
        q = vecs(ns).select("vec_id", "embedding", _q64("embedding").alias("qe"))
        store = (
            _l2_assign_fast(q, cents)
            .withColumn("nrm", F.expr(_norm_expr("embedding")))
            .persist()
        )
        store.count()
        shard = vecs(INCREMENTAL_EMB_SHARD, offset=ns)
        best, n_pairs = 9e9, -1
        for _ in range(2):  # min of 2: Arrow-worker warm-up noise
            n_pairs, sec = timed(
                f"delta {ns}",
                lambda: incremental_semdedup_pairs(store, shard, cents)[0].count(),
            )
            best = min(best, sec)
        tiers.append({"store": ns, "delta_sec": best, "delta_pairs": n_pairs})
        store.unpersist()
    ratio = round(tiers[-1]["delta_sec"] / max(tiers[0]["delta_sec"], 1e-9), 2)
    rec = {"shard": INCREMENTAL_EMB_SHARD, "clusters": n_cent, "tiers": tiers,
           "delta_ratio_4x_store": ratio}
    assert ratio < 2.5, rec
    return rec


DESCRIBE_CHUNK_SECONDS = 86400.0


def describe(spark, n_rows):
    """``TimeSeries.describe`` on one huge unpartitioned series (1 Hz,
    every 1000th value NaN): the spacing deltas must run through
    per-chunk windows, so no timestamp-ordered window spec may be
    unpartitioned by ``__chunk``."""
    import re

    from meteaudata_spark.functions.epoch import epoch_seconds
    from meteaudata_spark.timeseries import TimeSeries

    chunk_s = DESCRIBE_CHUNK_SECONDS
    base = spark.range(n_rows).select(
        F.timestamp_seconds(F.lit(946684800) + F.col("id")).alias("timestamp"),
        F.when(F.pmod("id", F.lit(1000)) == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("value"),
    )
    # plan proof: rebuild the delta relation describe() aggregates and
    # check every timestamp-ordered window is __chunk-partitioned
    chunked = base.withColumn("__e", epoch_seconds(F.col("timestamp"))).withColumn(
        "__chunk", F.floor(F.col("__e") / F.lit(chunk_s))
    )
    bounds = chunked.groupBy("__chunk").agg(F.max("__e").alias("__last_e"))
    carry = bounds.select(
        "__chunk", F.lag("__last_e").over(Window.orderBy("__chunk")).alias("__p")
    )
    w = Window.partitionBy("__chunk").orderBy("timestamp")
    plan = (
        chunked.join(F.broadcast(carry), "__chunk", "left")
        .withColumn(
            "__delta", F.col("__e") - F.coalesce(F.lag("__e").over(w), F.col("__p"))
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    bad = [
        spec
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if "timestamp" in spec and not spec.strip().startswith("__chunk")
    ]
    ts = TimeSeries(df=base, name="huge")
    stats, sec = timed("describe", lambda: ts.describe(chunk_seconds=chunk_s))
    rec = {
        "sec": sec,
        "median_spacing_seconds": stats["median_spacing_seconds"],
        "n_missing": stats["n_missing"],
        "n_duplicate_index": stats["n_duplicate_index"],
        "unpartitioned_ts_windows": len(bad),
    }
    assert (
        stats["n_rows"] == n_rows
        and stats["median_spacing_seconds"] == 1.0
        and stats["n_missing"] == (n_rows + 999) // 1000
        and not bad
    ), rec
    return rec


IVFPQ_DELTA_TIERS = (8, 32, 128)
IVFPQ_DELTA_JSON = os.path.join(ROOT, "bench_results", "scale_smoke_ivfpq_delta.json")


def _ivfpq_hits(spark, path, queries):
    from meteaudata_spark.ext.simsearch import ivfpq_search

    return [tuple(r) for r in ivfpq_search(spark, path, queries).collect()]


def ivfpq_delta(spark, sf_dir):
    """Appending a vector delta to a persisted IVF-PQ index costs
    O(delta), not O(index): the sf tier's embeddings replicated 8/32/128x
    (key-shifted past the training/query ids), a full rebuild vs a fixed
    one-replica delta append at each tier, with search results of the
    two indexes equal.  Writes bench_results/scale_smoke_ivfpq_delta.json."""
    from meteaudata_spark.ext.simsearch import append_ivfpq_delta, build_ivfpq_index

    emb = sf_embeddings(spark, sf_dir)
    n0 = emb.count()
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    queries = emb.filter(F.col("vec_id") < 3)
    delta = emb.select((F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding")
    tiers = []
    with temp_dir() as tmp:
        for mult in IVFPQ_DELTA_TIERS:
            base = emb
            for k in range(1, mult):
                base = base.unionByName(
                    emb.select(
                        (F.col("vec_id") + k * (max_id + 1)).alias("vec_id"),
                        "embedding",
                    )
                )
            full, inc = f"{tmp}/full_{mult}", f"{tmp}/inc_{mult}"
            _, rebuild_sec = timed(
                f"rebuild x{mult}",
                lambda: build_ivfpq_index(base.unionByName(delta), full),
            )
            build_ivfpq_index(base, inc)
            _, delta_sec = timed(
                f"delta x{mult}", lambda: append_ivfpq_delta(spark, inc, delta)
            )
            equal = _ivfpq_hits(spark, inc, queries) == _ivfpq_hits(
                spark, full, queries
            )
            assert equal, f"mult={mult}: delta index != rebuild"
            tiers.append({
                "store_rows": n0 * mult,
                "delta_rows": n0,
                "rebuild_sec": rebuild_sec,
                "delta_append_sec": delta_sec,
                "speedup": round(rebuild_sec / max(delta_sec, 1e-9), 1),
                "search_equivalent": equal,
            })
    rec = {
        "purpose": "IVF-PQ delta append costs O(delta), not O(index)",
        "sf_dir": sf_dir,
        "tiers": tiers,
        "pass": all(t["delta_append_sec"] < t["rebuild_sec"] for t in tiers),
    }
    with open(IVFPQ_DELTA_JSON, "w") as f:
        json.dump(rec, f, indent=1)
    return rec


# ----------------------------------------------------------------------
# streaming specs (availableNow drains)
# ----------------------------------------------------------------------

STREAM_KEYS, STREAM_FILES = 100, 32


def stream_resample(spark, n_rows):
    """Watermarked streaming resample (tumbling 1-min windows, 100
    series) over ``n_rows`` events in 8 micro-batches."""
    from meteaudata_spark.streaming.resample_stream import stream_resample_mean

    with temp_dir() as tmp:
        keyed_events(spark, n_rows, STREAM_KEYS, f"{tmp}/src", STREAM_FILES)
        stream = stream_of(spark, f"{tmp}/src", STREAM_FILES // 8)
        out = stream_resample_mean(
            stream, "1min", watermark="10 minutes", partition_cols=["event_type"]
        )
        sec, _ = drain(out, f"{tmp}/out")
        windows = spark.read.parquet(f"{tmp}/out").count()
    return {"sec": sec, "rows_per_sec": int(n_rows / sec), "windows": windows}


def stream_running_stats(spark, n_rows):
    """Welford running stats per series through applyInPandasWithState
    over ``n_rows`` events in 8 micro-batches."""
    from meteaudata_spark.streaming.stateful import stream_running_stats as stats

    with temp_dir() as tmp:
        keyed_events(spark, n_rows, STREAM_KEYS, f"{tmp}/src", STREAM_FILES)
        stream = stream_of(spark, f"{tmp}/src", STREAM_FILES // 8)
        sec, _ = drain(stats(stream, key_col="event_type"), f"{tmp}/out", "update")
        updates = spark.read.parquet(f"{tmp}/out").count()
    return {"sec": sec, "rows_per_sec": int(n_rows / sec), "updates": updates}


def stream_sessionize(spark, n):
    """Native session_window sessionization of ``n`` events over 200k
    users (gaps alternate 13 / 48 min, 30-min session gap); reports
    closed sessions and the state bound (one row per open session)."""
    return _sessionize(spark, n, 200_000)


def stream_sessionize_few_users(spark, n):
    """``stream_sessionize`` with 50k users: longer per-user histories
    at the same event count."""
    return _sessionize(spark, n, 50_000)


def _sessionize(spark, n, n_users):
    from meteaudata_spark.streaming.sessionize_stream import stream_sessionize as sess

    with temp_dir() as tmp:
        session_events(spark, n, n_users).write.parquet(f"{tmp}/events")
        out = sess(
            stream_of(spark, f"{tmp}/events"), gap="30 minutes", watermark="0 seconds"
        )
        sec, progress = drain(out, f"{tmp}/out")
        sessions = spark.read.parquet(f"{tmp}/out").count()
    return {"sec": sec, "events_per_sec": int(n / sec),
            "closed_sessions": sessions, **state_size(progress)}


def stream_attribution(spark, n):
    """Watermarked stream-stream attribution join (1h window) of the
    clicks and purchases of the attribution event design, split into
    two streams of one parquet source.  Parquet sink: the credited-pair
    stream is ~1.2x the event count, too much for a driver-side sink."""
    from meteaudata_spark.streaming.attribution_stream import stream_attribution as attr

    with temp_dir() as tmp:
        click_events(spark, n, ATTRIBUTION_USERS).write.parquet(f"{tmp}/events")
        out = attr(
            stream_of(spark, f"{tmp}/events").filter(F.col("event_type") == "click"),
            stream_of(spark, f"{tmp}/events").filter(
                F.col("event_type") == "purchase"
            ),
        )
        sec, progress = drain(out, f"{tmp}/out")
        pairs = spark.read.parquet(f"{tmp}/out").count()
    return {"sec": sec, "events_per_sec": int(n / sec),
            "credited_pairs": pairs, **state_size(progress)}


def stream_neardup(spark, n_docs):
    """Streaming MinHash near-dup candidates over 12-word hash docs,
    0.5% of them exact re-sends."""
    from meteaudata_spark.streaming.neardup_stream import stream_near_dup_candidates

    with temp_dir() as tmp:
        hashed_docs(spark, n_docs, 12).write.parquet(f"{tmp}/src")
        out = stream_near_dup_candidates(stream_of(spark, f"{tmp}/src"))
        sec, _ = drain(out, f"{tmp}/out")
        flagged = spark.read.parquet(f"{tmp}/out").select("doc_id").distinct().count()
    return {"sec": sec, "docs_per_sec": int(n_docs / sec),
            "flagged": flagged, "planted": n_docs // 200}


def stream_segment_dedup_docs(spark, n_docs):
    """Streaming segment dedup (8-word segments) over 24-word hash
    docs, 0.5% of them verbatim copies."""
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup as segdedup,
    )

    with temp_dir() as tmp:
        hashed_docs(spark, n_docs, 24).write.parquet(f"{tmp}/src")
        out = segdedup(stream_of(spark, f"{tmp}/src"), seg_words=8)
        sec, _ = drain(out, f"{tmp}/out")
        kept = spark.read.parquet(f"{tmp}/out").count()
    return {"sec": sec, "docs_per_sec": int(n_docs / sec), "segments_kept": kept}


SEGDEDUP_SEGS = 8
_BOILERPLATE = " ".join(f"bp{t}" for t in range(8))


def stream_segment_dedup(spark, n_docs):
    """Streaming segment dedup with exact planted output: docs of 8
    segments, 7 unique plus one shared boilerplate segment; every
    unique segment is kept and the boilerplate exactly once."""
    from meteaudata_spark.streaming.segdedup_stream import (
        stream_segment_dedup as segdedup,
    )

    segs = SEGDEDUP_SEGS

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            texts = [
                " ".join(
                    _BOILERPLATE if j == 3
                    else " ".join(f"w{i}_{j}_{t}" for t in range(8))
                    for j in range(segs)
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    with temp_dir() as tmp:
        spark.range(n_docs).repartition(32).mapInPandas(
            gen, "doc_id long, text string"
        ).write.parquet(f"{tmp}/src")
        out = segdedup(stream_of(spark, f"{tmp}/src", 8), seg_words=8)
        sec, progress = drain(out, f"{tmp}/out")
        kept = spark.read.parquet(f"{tmp}/out")
        n_kept = kept.count()
        n_bp = kept.filter(F.col("segment") == _BOILERPLATE).count()
    rec = {"segments": n_docs * segs, "sec": sec,
           "segments_per_sec": int(n_docs * segs / sec), "kept": n_kept,
           "expected_kept": n_docs * (segs - 1) + 1, "boilerplate_kept": n_bp,
           **state_size(progress)}
    assert n_kept == rec["expected_kept"] and n_bp == 1, rec
    return rec


def stream_tokenize(spark, n_docs):
    """Streaming unigram-LM token counts (vocabulary trained batch-side
    on a 2000-doc prefix) over ~50-word docs; the streamed per-lang
    totals must equal the batch encode exactly."""
    from meteaudata_spark.ext.textstats import unigram_lm_train
    from meteaudata_spark.streaming.tokenize_stream import (
        _viterbi_len,
        stream_token_counts,
    )

    docs = spark.range(n_docs).selectExpr(
        "concat('lang', cast(id % 5 as string)) AS lang",
        "array_join(transform(sequence(1, 50),"
        " i -> concat('w', cast((id * 31 + i * 7) % 997 as string))),"
        " ' ') AS text",
    )
    vocab_df = unigram_lm_train(docs.limit(2000))
    vocab = [(r["piece"], r["logp_micros"]) for r in vocab_df.collect()]
    with temp_dir() as tmp:
        docs.write.parquet(f"{tmp}/src")
        out = stream_token_counts(stream_of(spark, f"{tmp}/src", 64), vocab)
        sec, _ = drain(out, f"{tmp}/out")
        got = {
            r["lang"]: (r["n_words"], r["n_chars"], r["n_tokens"])
            for r in spark.read.parquet(f"{tmp}/out").groupBy("lang").agg(
                F.sum("n_words").alias("n_words"),
                F.sum("n_chars").alias("n_chars"),
                F.sum("n_tokens").alias("n_tokens"),
            ).collect()
        }
        # batch reference: the corpus joined to per-word Viterbi lengths
        # under the same trained vocabulary
        lp = {p: int(v) for p, v in vocab}
        max_len = max(len(p) for p in lp)
        exploded = spark.read.parquet(f"{tmp}/src").select(
            "lang", F.explode(F.split("text", " ")).alias("word")
        ).filter((F.col("word") != "") & (F.length("word") <= 32))
        wt = spark.createDataFrame(
            [
                (r["word"], len(r["word"]), _viterbi_len(r["word"], lp, max_len))
                for r in exploded.select("word").distinct().collect()
            ],
            "word string, n_chars_word long, n_tokens_word long",
        )
        want = {
            r["lang"]: (r["w"], r["c"], r["t"])
            for r in exploded.join(F.broadcast(wt), "word").groupBy("lang").agg(
                F.count(F.lit(1)).alias("w"),
                F.sum("n_chars_word").alias("c"),
                F.sum("n_tokens_word").alias("t"),
            ).collect()
        }
    n_words = sum(v[0] for v in got.values())
    assert got == want, (got, want)
    return {"sec": sec, "docs_per_sec": int(n_docs / sec), "words": n_words,
            "words_per_sec": int(n_words / sec), "equals_batch": True}


DIPSPIKE_SERIES = 200_000


def stream_dip_spike(spark, n):
    """CEP-style dip/spike detection through applyInPandasWithState
    over 200k (user, type) series whose values cycle 100, 100, 10, 100:
    every k % 4 == 2 interior point is a dip, so flag counts are exact;
    state must be two points per live series (state rows == series)."""
    from meteaudata_spark.streaming.dipspike_stream import stream_dip_spike as dips

    n_series = DIPSPIKE_SERIES
    # user = series % 40k, type = series div 40k (type must not be a
    # function of user alone or the keyspace collapses); event k of a
    # series at minute k
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % n_series % 40_000).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % n_series / 40_000).cast("int")).alias(
            "event_type"
        ),
        F.expr(
            f"timestamp '2024-06-01' + make_interval(0,0,0,0,0,"
            f"cast(id div {n_series} as int),0)"
        ).alias("ts"),
        F.when((F.expr(f"id div {n_series}") % 4) == 2, 10.0)
        .otherwise(100.0)
        .alias("value"),
    )
    per_series = n // n_series
    with temp_dir() as tmp:
        ev.write.parquet(f"{tmp}/events")
        sec, progress = drain(dips(stream_of(spark, f"{tmp}/events")), f"{tmp}/out")
        out = spark.read.parquet(f"{tmp}/out")
        n_out, n_dips = out.count(), out.filter("is_dip").count()
    rec = {
        "sec": sec,
        "events_per_sec": int(n / sec),
        "interior_rows": n_out,
        "expected_rows": n_series * max(per_series - 2, 0),
        "dips": n_dips,
        "expected_dips": n_series * len(
            [k for k in range(1, per_series - 1) if k % 4 == 2]
        ),
        **state_size(progress),
    }
    assert n_out == rec["expected_rows"] and n_dips == rec["expected_dips"], rec
    return rec


SEMDEDUP_STREAM_MAX_REPS, SEMDEDUP_STREAM_SHARDS = 60_000, 1


def stream_semdedup(spark, n_vecs):
    """Streaming semantic near-dup detection into per-cluster ring
    buffers (64 centroids): the last 0.5% of vectors are re-sent in a
    later file, and every re-send must be caught."""
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    n_dups = n_vecs // 200
    # ~dim x 4 B float32 + id + parquet overhead per vector
    ensure_tmp_capacity((n_vecs + n_dups) * (64 * 4 + 60))
    originals = grid_vectors(spark, n_vecs, 32)
    # re-send the LAST n_dups originals: their representatives are the
    # newest ring entries, so a bounded max_reps still holds them
    resends = originals.filter(F.col("vec_id") >= n_vecs - n_dups).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    # centroids from the data's own directions
    cents = [
        (r["vec_id"], r["embedding"])
        for r in originals.filter(F.col("vec_id") % (n_vecs // 64) == 0)
        .limit(64)
        .collect()
    ]
    with temp_dir() as tmp:
        # two files with increasing mtimes: originals become
        # representatives before the copies arrive
        originals.write.parquet(f"{tmp}/src/b0")
        resends.write.parquet(f"{tmp}/src/b1")
        for sub, off in (("b0", -120), ("b1", -60)):
            for f in os.listdir(f"{tmp}/src/{sub}"):
                os.utime(f"{tmp}/src/{sub}/{f}", (time.time() + off,) * 2)
        stream = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/src/b0").schema)
            .option("maxFilesPerTrigger", 64)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/src/*")
        )
        out = stream_semantic_dup_candidates(
            stream, cents, threshold=0.999999,
            max_reps=SEMDEDUP_STREAM_MAX_REPS,
            intra_cluster_shards=SEMDEDUP_STREAM_SHARDS,
        )
        sec, progress = drain(out, f"{tmp}/out")
        flagged = spark.read.parquet(f"{tmp}/out")
        n_flagged = flagged.count()
        caught = flagged.filter(F.col("vec_id") >= 10_000_000).count()
    total = n_vecs + n_dups
    rec = {"vectors": total, "sec": sec, "vecs_per_sec": int(total / sec),
           "flagged": n_flagged, "resends_caught": caught, "resends": n_dups,
           "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress]}
    assert caught == n_dups, rec
    return rec


URL_PAGES = 1_000_000


def stream_url_dedup(spark, n):
    """Streaming URL-dedup ledger over ``n`` crawl records (four
    decorated variants of 1M canonical pages): the final ledger (last
    update per key) must equal the batch groupBy row for row."""
    from meteaudata_spark.ext.dedup import normalize_url
    from meteaudata_spark.streaming.urldedup_stream import stream_url_dedup as urldedup

    page = F.pmod(F.col("doc_id"), F.lit(URL_PAGES))
    url = F.concat(
        F.lit("https://Host"),
        F.pmod(page, F.lit(97)).cast("string"),
        F.lit(".Example.COM/p/"),
        page.cast("string"),
        F.when(F.col("doc_id") % 4 == 1, F.lit("/"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?utm_source=s"))
        .when(F.col("doc_id") % 4 == 3, F.lit("#f"))
        .otherwise(F.lit("")),
    )
    with temp_dir() as tmp:
        spark.range(n).withColumnRenamed("id", "doc_id").withColumn(
            "url", url
        ).repartition(32).write.parquet(f"{tmp}/src")
        out = urldedup(stream_of(spark, f"{tmp}/src", 8), url_col="url")
        sec, progress = drain(out, f"{tmp}/out", "update")
        # final ledger = last update per key (counts only grow)
        ledger = spark.read.parquet(f"{tmp}/out").groupBy("norm_url").agg(
            F.min("kept_doc_id").alias("kept_doc_id"),
            F.max("n_docs").alias("n_docs"),
        )
        batch = (
            spark.read.parquet(f"{tmp}/src")
            .select("doc_id", normalize_url(F.col("url")).alias("norm_url"))
            .groupBy("norm_url")
            .agg(
                F.min("doc_id").alias("kept_doc_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )
        rec = {
            "sec": sec,
            "records_per_sec": int(n / sec),
            "ledger": ledger.count(),
            "batch": batch.count(),
            "diff_rows": ledger.exceptAll(batch).count()
            + batch.exceptAll(ledger).count(),
            **state_size(progress),
        }
    assert rec["diff_rows"] == 0, rec
    return rec


def stream_ohlc(spark, n):
    """Streaming daily OHLC candles (4 types x 30 days) in update mode:
    the final candles must equal the batch fold exactly, and state is
    one row per open candle (120 for any stream length)."""
    from meteaudata_spark.streaming.ohlc_stream import stream_ohlc_daily

    base = spark.range(n).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(
                secs=F.pmod(F.col("id") * 7919, F.lit(2_592_000)).cast("double")
            )
        ).alias("ts"),
        F.concat(F.lit("t"), F.pmod(F.col("id"), F.lit(4)).cast("string")).alias(
            "event_type"
        ),
        (F.pmod(F.col("id") * 2654435761 % 2**31, F.lit(100000)) / 100.0).alias(
            "value"
        ),
    )
    with temp_dir() as tmp:
        base.repartition(32).write.parquet(f"{tmp}/src")
        sink = f"{tmp}/out"
        sec, progress = drain(
            stream_ohlc_daily(stream_of(spark, f"{tmp}/src", 8)), sink, "update",
            each_batch=lambda df, b: df.withColumn("b", F.lit(b))
            .write.mode("append")
            .parquet(sink),
        )
        # final candle per key = the row from the last batch touching it
        final = (
            spark.read.parquet(sink)
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("event_type", "day").orderBy(F.col("b").desc())
                ),
            )
            .filter("rk = 1")
            .drop("rk", "b")
        )
        key = F.concat(
            F.lpad(
                F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"
            ),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        )
        batch = (
            spark.read.parquet(f"{tmp}/src")
            .select(
                "event_type",
                F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
                "value",
                key.alias("k"),
            )
            .groupBy("event_type", "day")
            .agg(
                F.min_by("value", "k").alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", "k").alias("close"),
                F.count(F.lit(1)).cast("bigint").alias("volume"),
            )
        )
        rec = {
            "sec": sec,
            "records_per_sec": int(n / sec),
            "candles": batch.count(),
            "diff_rows": final.exceptAll(batch).count()
            + batch.exceptAll(final).count(),
            **state_size(progress),
        }
    assert rec["diff_rows"] == 0, rec
    return rec


HLL_USERS = 1_000_000


def stream_hll_sliding(spark, n):
    """Sliding uniques: per-day HLL registers streamed (30 days x a
    1M-user id space) then max-merged into trailing 7-day windows; the
    streamed registers must equal the batch register build bit for bit
    (state: m = 256 longs per day key, 30 rows for any stream length)."""
    from meteaudata_spark.ext.dedup import _h60
    from meteaudata_spark.ext.sketches import _M, merge_sliding_registers
    from meteaudata_spark.streaming.hll_stream import stream_hll_day_registers

    base = spark.range(n).select(
        F.date_add(
            F.lit("2024-01-01").cast("date"), F.pmod(F.col("id"), F.lit(30)).cast("int")
        ).cast("string").alias("key"),
        _h60(
            F.pmod(F.col("id") * 2654435761 % 2**31, F.lit(HLL_USERS)).cast("string")
        ).alias("h"),
    )
    with temp_dir() as tmp:
        base.repartition(32).write.parquet(f"{tmp}/src")
        sec, progress = drain(
            stream_hll_day_registers(stream_of(spark, f"{tmp}/src", 8)),
            f"{tmp}/out", "update",
        )
        # registers only grow, so the max over all updates == final state
        streamed = (
            spark.read.parquet(f"{tmp}/out")
            .select("key", F.posexplode("regs").alias("b", "m"))
            .groupBy("key", "b")
            .agg(F.max("m").alias("m"))
        )
        batch = (
            spark.read.parquet(f"{tmp}/src")
            .select(
                "key",
                F.pmod(F.col("h"), F.lit(_M)).alias("b"),
                F.when(F.expr(f"h div {_M}") == 0, F.lit(53))
                .otherwise(F.lit(53) - F.length(F.bin(F.expr(f"h div {_M}"))))
                .alias("r"),
            )
            .groupBy("key", "b")
            .agg(F.max("r").alias("m"))
        )
        live = streamed.filter(F.col("m") > 0)
        diff = live.exceptAll(batch).count() + batch.exceptAll(live).count()
        day_regs = (
            streamed.groupBy("key")
            .agg(F.array_sort(F.collect_list(F.struct("b", "m"))).alias("bm"))
            .select(
                F.col("key").cast("date").alias("day"),
                F.expr(
                    f"transform(sequence(0, {_M - 1}), i -> "
                    "coalesce(element_at(map_from_arrays("
                    "transform(bm, x -> x.b), transform(bm, x -> x.m)),"
                    " i), cast(0 as bigint)))"
                ).alias("regs"),
            )
        )
        windows = merge_sliding_registers(day_regs, 7).count()
    rec = {"sec": sec, "records_per_sec": int(n / sec),
           "register_diff_rows": diff, "windows": windows, **state_size(progress)}
    assert diff == 0 and windows == 30, rec
    return rec


IVFPQ_STREAM_BATCHES, IVFPQ_STREAM_MULT = 10, 100
IVFPQ_STREAM_JSON = os.path.join(ROOT, "bench_results", "scale_smoke_ivfpq_stream.json")


def stream_ivfpq(spark, sf_dir):
    """Streaming IVF-PQ ingestion holds a flat per-batch cost while the
    index grows: 10 batches of the sf tier's embeddings replicated 100x
    (key-shifted per batch) appended through foreachBatch.  The
    stream-built index must answer like a batch rebuild, and the tail
    batches must cost at most 2x the head ones.  Writes
    bench_results/scale_smoke_ivfpq_stream.json."""
    from meteaudata_spark.ext.simsearch import build_ivfpq_index
    from meteaudata_spark.streaming.ivfpq_stream import stream_append_ivfpq

    emb = sf_embeddings(spark, sf_dir)
    n0 = emb.count()
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    batch_rows = n0 * IVFPQ_STREAM_MULT
    total_rows = batch_rows * IVFPQ_STREAM_BATCHES
    # source parquet (~150 B/row) + 8 slim code rows per vector (~40 B)
    ensure_tmp_capacity(total_rows * 200)
    queries = emb.filter(F.col("vec_id") < 3)
    with temp_dir() as tmp:
        # one source file per batch, ids disjoint across batches and
        # past every training/query range
        src = f"{tmp}/src"
        for b in range(IVFPQ_STREAM_BATCHES):
            shard = None
            for k in range(IVFPQ_STREAM_MULT):
                off = 1_000_000_000 + (b * IVFPQ_STREAM_MULT + k) * (max_id + 1)
                part = emb.select((F.col("vec_id") + off).alias("vec_id"), "embedding")
                shard = part if shard is None else shard.unionByName(part)
            shard.coalesce(1).write.mode("append").parquet(src)
        inc = f"{tmp}/inc"
        build_ivfpq_index(emb, inc)
        t0 = time.perf_counter()
        q = stream_append_ivfpq(stream_of(spark, src, 1), inc, f"{tmp}/ckpt")
        q.awaitTermination()
        wall = time.perf_counter() - t0
        durs = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in q.recentProgress
            if p and p.get("numInputRows", 0) > 0
        ]
        head = statistics.median(durs[1:4]) if len(durs) >= 4 else durs[0]
        tail = statistics.median(durs[-3:])
        full = f"{tmp}/full"
        build_ivfpq_index(spark.read.parquet(src).unionByName(emb), full)
        assert _ivfpq_hits(spark, inc, queries) == _ivfpq_hits(
            spark, full, queries
        ), "stream-built index != batch rebuild"
        n_codes = spark.read.parquet(f"{inc}/codes").count()
        assert n_codes == (total_rows + n0) * 8, n_codes
    rec = {
        "purpose": "streaming IVF-PQ ingestion: flat per-batch cost, "
        "stream-built == batch rebuild",
        "sf_dir": sf_dir,
        "streamed_rows": total_rows,
        "n_batches": len(durs),
        "batch_rows": batch_rows,
        "wall_sec": round(wall, 1),
        "rows_per_sec": int(total_rows / wall),
        "per_batch_sec": [round(d, 2) for d in durs],
        "head_median_sec": round(head, 2),
        "tail_median_sec": round(tail, 2),
        "tail_over_head": round(tail / max(head, 1e-9), 2),
        "search_equivalent": True,
    }
    rec["pass"] = rec["tail_over_head"] <= 2.0
    with open(IVFPQ_STREAM_JSON, "w") as f:
        json.dump(rec, f, indent=1)
    return rec


# ----------------------------------------------------------------------
# the table and the runner
# ----------------------------------------------------------------------

SF_TIER = "/root/testdata/sf0.1"

# spec name -> (function (spark, size) -> dict, default size)
SPECS = {
    "kernels": (kernels, 10_000_000),
    "hash_split": (hash_split, 10_000_000),
    "hll_distinct": (hll_distinct, 10_000_000),
    "contamination": (contamination, 10_000_000),
    "pii_scrub": (pii_scrub, 10_000_000),
    "kmeans_refine": (kmeans_refine, 10_000_000),
    "global_rank": (global_rank, 100_000_000),
    "lsh_pairs": (lsh_pairs, 1_000_000),
    "lsh_pairs_fixed_planes": (lsh_pairs_fixed_planes, 1_000_000),
    "segment_dedup": (segment_dedup, 1_000_000),
    "pack_sequences": (pack_sequences, 10_000_000),
    "contamination_bloom": (contamination_bloom, 1_000_000),
    "pq_assign": (pq_assign, 1_000_000),
    "ivfpq_topk": (ivfpq_topk, 1_000_000),
    "m4_downsample": (m4_downsample, 100_000_000),
    "chunk_text": (chunk_text, 2_000_000),
    "gopher_rules": (gopher_rules, 1_000_000),
    "semdedup": (semdedup, 100_000),
    "mp4_codec": (mp4_codec, 200),
    "bm25": (bm25, 2_000_000),
    "bm25_index": (bm25_index, 1_000_000),
    "pagerank": (pagerank, 1_000_000),
    "range_join": (range_join, 10_000_000),
    "substring_spans": (substring_spans, 1_000_000),
    "image_neardup": (image_neardup, 200_000),
    "attribution_weights": (attribution_weights, 10_000_000),
    "event_trigrams": (event_trigrams, 10_000_000),
    "jpeg_decode": (jpeg_decode, 500),
    "incremental_minhash": (incremental_minhash, 100_000),
    "incremental_semdedup": (incremental_semdedup, 200_000),
    "describe": (describe, 1_000_000_000),
    "ivfpq_delta": (ivfpq_delta, SF_TIER),
    "stream_resample": (stream_resample, 10_000_000),
    "stream_running_stats": (stream_running_stats, 10_000_000),
    "stream_sessionize": (stream_sessionize, 10_000_000),
    "stream_sessionize_few_users": (stream_sessionize_few_users, 1_000_000),
    "stream_attribution": (stream_attribution, 10_000_000),
    "stream_neardup": (stream_neardup, 100_000),
    "stream_segment_dedup": (stream_segment_dedup, 1_250_000),
    "stream_segment_dedup_docs": (stream_segment_dedup_docs, 1_000_000),
    "stream_tokenize": (stream_tokenize, 200_000),
    "stream_dip_spike": (stream_dip_spike, 10_000_000),
    "stream_semdedup": (stream_semdedup, 50_000),
    "stream_url_dedup": (stream_url_dedup, 10_000_000),
    "stream_ohlc": (stream_ohlc, 10_000_000),
    "stream_hll_sliding": (stream_hll_sliding, 10_000_000),
    "stream_ivfpq": (stream_ivfpq, SF_TIER),
}


def run_spec(spark, name, size=None) -> dict:
    """Run one spec at ``size`` (its default when None); the record is
    the spec's result plus its name and size."""
    fn, default = SPECS[name]
    size = default if size is None else type(default)(size)
    return {"spec": name, "size": size, **fn(spark, size)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("specs", nargs="*", metavar="SPEC")
    ap.add_argument("--size")
    ap.add_argument("--rocksdb", action="store_true")
    args = ap.parse_args()
    unknown = sorted(set(args.specs) - set(SPECS))
    if unknown:
        ap.error(f"unknown spec(s): {', '.join(unknown)}")
    if not args.specs:
        for name, (fn, default) in SPECS.items():
            print(f"{name:30s} {default!s:>22}  {fn.__doc__.split(chr(10))[0]}")
        return
    spark = start_session(args.rocksdb)
    failed = False
    for name in args.specs:
        try:
            rec = run_spec(spark, name, args.size)
        except Exception as exc:  # noqa: BLE001 - report, run the rest
            failed = True
            rec = {"spec": name, "size": args.size, "error": repr(exc)}
        print(json.dumps(rec), flush=True)
    raise SystemExit(1 if failed else 0)


if __name__ == "__main__":
    main()
