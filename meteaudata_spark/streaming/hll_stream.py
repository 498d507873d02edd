"""Streaming distinct-count: the deterministic HLL of
``ext/sketches.py`` carried across micro-batches in GroupState
(SURVEY §2.8 custom-stateful extension point).

Per key, state is the m=256 register array (one byte of information
per register, stored as 256 longs) — stream length never grows it.
Each micro-batch folds its values' rho contributions into the
registers with max(); the emitted estimate uses the identical
integer-scaled harmonic sum as the batch operator, so a drained
stream's final estimate EQUALS ``hll_distinct`` over the same rows
(asserted in tests) — the batch/streaming consistency a lambda-style
pipeline needs when backfill and live paths must agree.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from meteaudata_spark.ext.sketches import _M, _NUMER

_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("hll_distinct", LongType()),
        StructField("batch_n", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("regs", ArrayType(LongType()))])


def _estimate(regs: list) -> int:
    s = sum(1 << (53 - m) for m in regs if m > 0)
    nb = sum(1 for m in regs if m > 0)
    scaled = s + (_M - nb) * (1 << 53)
    return int(_NUMER / float(scaled))


def _fold_batch(regs, pdfs) -> int:
    """Vectorized register fold: one numpy pass per micro-batch chunk.

    rho needs the exact integer bit length of w = h div m; w ≤ 2^52 is
    exactly representable as a double, and ``np.frexp`` returns its
    binary exponent exactly (no log2 rounding risk — the same reason
    the batch operator uses ``bin()`` length, not ``log2``).  That
    exactness HOLDS ONLY for h < 2^60 (the contract every producer in
    this repo meets via ``& 0x0FFF...``): a full-width 64-bit hash
    would round across a power of two in the float64 cast and skew
    rho by one — so the contract is enforced here, loudly."""
    import numpy as np

    n = 0
    arr = np.asarray(regs, dtype=np.int64)
    for pdf in pdfs:
        h = pdf["h"].to_numpy(dtype=np.int64)
        if len(h) == 0:
            continue
        if int(h.min()) < 0 or (int(h.max()) >> 60) != 0:
            raise ValueError(
                "hll fold requires non-negative hashes < 2^60 "
                f"(got range [{int(h.min())}, {int(h.max())}]); "
                "mask the hash (h & ((1<<60)-1)) before streaming"
            )
        b = h % _M
        w = h // _M
        _, e = np.frexp(w.astype(np.float64))
        r = np.where(w == 0, 53, 53 - e).astype(np.int64)
        np.maximum.at(arr, b, r)
        n += len(h)
    regs[:] = arr.tolist()
    return n


def _update_hll(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    regs = list(state.get[0]) if state.exists else [0] * _M
    batch_n = _fold_batch(regs, pdfs)
    state.update((regs,))
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "hll_distinct": [_estimate(regs)],
            "batch_n": [batch_n],
        }
    )


def stream_hll_distinct(
    stream_df: DataFrame, key_col: str = "key", hash_col: str = "h"
) -> DataFrame:
    """Per-key streaming HLL over a non-negative 60-bit hash column.

    Output (update mode): one row per key per micro-batch with the
    cumulative distinct estimate.  State per key is m longs (the
    registers) — merge is max(), which is what makes the sketch
    streamable at all."""
    from pyspark.sql import functions as F

    renamed = stream_df.select(
        F.col(key_col).alias("key"), F.col(hash_col).alias("h")
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _update_hll,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_REGS_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("regs", ArrayType(LongType())),
    ]
)


def _update_hll_regs(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    regs = list(state.get[0]) if state.exists else [0] * _M
    _fold_batch(regs, pdfs)
    state.update((regs,))
    # emit the ORIGINAL key (shard suffix stripped): downstream merge
    # max-folds registers per key, so shards reassemble for free
    yield pd.DataFrame({"key": [key[0].rsplit("|", 1)[0]], "regs": [regs]})


def stream_hll_day_registers(
    stream_df: DataFrame,
    key_col: str = "key",
    hash_col: str = "h",
    n_shards: int = 32,
) -> DataFrame:
    """Per-key streaming HLL that emits the RAW register array each
    micro-batch (update mode) instead of the folded estimate — the
    ingestion half of the sliding-uniques lambda pipeline: drain the
    final (day, regs) rows and feed them to
    ``ext.sketches.merge_sliding_registers`` to get trailing-window
    estimates identical to the one-shot batch op (register max-merge
    is associative, so stream-then-merge == batch by construction).

    State per (key, shard) is the same m=256 longs as
    ``stream_hll_distinct``; emitting registers costs nothing extra
    and keeps the downstream merge engine-exact (no re-hash, no
    floats cross the boundary).

    Sharded state (the dip/spike idiom): a day's rows hash-split into
    ``n_shards`` independent register tables so the Arrow transfer and
    the Python fold parallelize across keys × shards instead of
    serializing per day; register max-merge is associative, so the
    downstream per-key fold reassembles shards exactly.  The shard is
    derived from ``shiftright(h, 8)`` — bits DISJOINT from the
    register bucket ``h % 256`` — so every shard can populate the
    full register range; sharding on the low bits (when n_shards
    divides m) would confine each shard to m/n_shards registers and
    inflate total state m/(m/n_shards)-fold for no extra fold
    parallelism."""
    from pyspark.sql import functions as F

    renamed = stream_df.select(
        F.concat_ws(
            "|",
            F.col(key_col).cast("string"),
            F.pmod(
                F.shiftright(F.col(hash_col), _M.bit_length() - 1),
                F.lit(int(n_shards)),
            ).cast("string"),
        ).alias("key"),
        F.col(hash_col).alias("h"),
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _update_hll_regs,
        outputStructType=_REGS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
