"""Lambda composition for sliding uniques: streamed per-day HLL
registers max-merged into trailing windows must EQUAL the one-shot
batch operator's estimates — register merge is associative, so the
two paths agree bit-for-bit when they share hash, registers, and the
estimate fold."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streamed_day_registers_merge_equals_batch(spark, tmp_path, drain):
    from meteaudata_spark.ext.dedup import _h60
    from meteaudata_spark.ext.sketches import (
        events_hll_sliding_uniques,
        merge_sliding_registers,
    )
    from meteaudata_spark.streaming.hll_stream import (
        stream_hll_day_registers,
    )

    src = str(tmp_path / "ev_src")
    base = spark.read.parquet(f"{SF}/events.parquet").select(
        F.to_date("ts").cast("string").alias("key"),
        _h60(F.col("user_id").cast("string")).alias("h"),
        F.col("event_id"),
    )
    # two files -> two micro-batches; split interleaves days so state
    # genuinely carries across batches
    base.filter(F.col("event_id") % 2 == 0).drop("event_id").coalesce(
        1
    ).write.parquet(src)
    base.filter(F.col("event_id") % 2 == 1).drop("event_id").coalesce(
        1
    ).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drained = drain(stream_hll_day_registers(stream), "update")
    # registers only grow, so the element-wise max over every drained
    # update row per key == the final state — and with sharded state
    # (n_shards > 1) the same max-fold reassembles the shards
    day_regs = (
        drained.select("key", F.posexplode("regs").alias("b", "m"))
        .groupBy("key", "b")
        .agg(F.max("m").alias("m"))
        .groupBy("key")
        .agg(F.array_sort(F.collect_list(F.struct("b", "m"))).alias("bm"))
        .select(
            F.col("key").cast("date").alias("day"),
            F.expr(
                "transform(bm, x -> x.m)"
            ).alias("regs"),
        )
    )
    merged = {
        str(r["win_end"]): r["hll_uniques"]
        for r in merge_sliding_registers(day_regs, 7).collect()
    }
    batch = {
        str(r["win_end"]): r["hll_uniques"]
        for r in events_hll_sliding_uniques(spark, SF, 7).collect()
    }
    assert merged == batch
    assert len(batch) > 0

def test_fold_batch_rejects_full_width_hashes():
    # frexp-based rho is exact only below 2^60 (the producer contract,
    # _h60); a full-width 64-bit hash must fail loudly, not silently
    # degrade the estimate
    import pandas as pd
    import pytest

    from meteaudata_spark.streaming.hll_stream import _M, _fold_batch

    regs = [0] * _M
    with pytest.raises(ValueError, match="2\\^60"):
        _fold_batch(regs, iter([pd.DataFrame({"h": [1 << 62]})]))
    with pytest.raises(ValueError, match="non-negative"):
        _fold_batch(regs, iter([pd.DataFrame({"h": [-5]})]))
    # boundary: 2^60 - 1 is accepted
    assert _fold_batch(regs, iter([pd.DataFrame({"h": [(1 << 60) - 1]})])) == 1


def test_day_register_shards_cover_full_register_range(spark, tmp_path, drain):
    # the shard id must come from bits disjoint from the register
    # bucket (h % 256): with low-bit sharding each shard could touch
    # only 256/n_shards registers, inflating state 32x. Feed one
    # shard's worth of hashes spanning all 256 buckets and check a
    # single shard key populated (close to) all of them.
    import pandas as pd

    from pyspark.sql import functions as F

    from meteaudata_spark.streaming.hll_stream import (
        _M,
        stream_hll_day_registers,
    )

    n_shards = 32
    shift = _M.bit_length() - 1
    # hashes whose shard bits (h >> 8) % 32 are all 0 but whose
    # buckets h % 256 span the full range
    hs = [(b + (n_shards << shift) * i) for i in range(4) for b in range(_M)]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        pd.DataFrame({"key": ["d"] * len(hs), "h": hs})
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("key string, h long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rows = drain(
        stream_hll_day_registers(stream, n_shards=n_shards), "update"
    ).collect()
    # every hash above has identical shard bits, so the whole feed
    # lands in ONE state group whose registers cover all 256 buckets;
    # low-bit sharding would instead split it into n_shards groups of
    # _M/n_shards registers each (the 32x state inflation)
    assert len(rows) == 1
    filled = {i for i, m in enumerate(rows[0]["regs"]) if m > 0}
    assert len(filled) == _M
