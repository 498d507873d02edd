"""Streaming dip/spike detection: the CEP-style live twin of the batch
V-shape detector (``ext/timeseries_queries.dip_spike``).

A completed V needs the NEXT point, so detection is emit-on-successor:
each arriving point closes the triple around its predecessor and emits
that predecessor's classification.  State per live series is exactly
the last TWO points — the smallest state any 3-point pattern matcher
can hold.

Sharded-state layout (the ``neardup_stream`` idiom): keying
``applyInPandasWithState`` directly on the (user, type) series would
invoke Python once per series per batch — 200k tiny calls that cap
throughput near 10k events/s.  Instead state keys on
``hash(user, type) mod n_shards`` (default 1024) and each shard holds
its series' point-pairs as parallel arrays; the per-batch work is ONE
vectorized pandas pass per shard (concat state + batch, sort, shifted
neighbours, integer fence compare), so Python fires n_shards times
per batch regardless of series count.  Measured at 10M events / 200k
series: 945k events/s vs the per-series keying's 12.5k (75×), state
1,024 shard rows ≈ 15 MB (tools/scale_smoke.py stream_dip_spike).

Semantics match the batch operator bit-for-bit: values micro-quantize
to BIGINT on entry using Spark's HALF_UP rule (floor(|v|·1e6 + 0.5)
with the sign restored — pandas ``.round()`` is half-to-even and
diverges on exact .5 micro boundaries), and the 25% fences compare via
integer cross-multiplication against neighbour MAGNITUDE
(``10000·cur < 10000·prev − fence·|prev|``) exactly as the batch
operator does, so the streamed flags equal the batch interior
classification (differential test in ``tests/test_dipspike_stream.py``).

State eviction: the shard keys themselves are bounded (``n_shards``
rows), but each shard row holds two points per live SERIES, so a
churning (user, type) keyspace grows state without bound under the
default ``evict_after_us=None``.  Pass ``evict_after_us`` to drop
series whose newest point is older than the shard's max event time
minus that horizon.  Trade-off: an evicted series that later revives
loses V-continuity across the gap — its first revived point has no
held predecessor, so the point just before the gap is never classified
(exactly what a watermark would discard anyway).

Ordering contract: per-key event-time order at ingestion (same as
every per-key recurrence — the sessionize/EWMA twins share it).  Rows
inside a micro-batch sort by (ts, event_id) before applying;
cross-batch reordering is the source's responsibility (Kafka per-key
partitions, file order for replay).

At scale: one shuffle on the shard key per micro-batch; state stores
two (id, ts, value) tuples per live series regardless of history
length, spread evenly over the shards by the hash.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_FENCE_BP = 2500
_DEFAULT_SHARDS = 1024

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("vm", LongType()),
        StructField("is_dip", BooleanType()),
        StructField("is_spike", BooleanType()),
    ]
)

# one entry per live series in the shard: the series key plus its
# last two points ((id, ts-micros, value-micros) each; id −1 = absent)
_STATE_SCHEMA = StructType(
    [
        StructField("user", ArrayType(LongType())),
        StructField("etype", ArrayType(StringType())),
        StructField("id0", ArrayType(LongType())),
        StructField("ts0", ArrayType(LongType())),
        StructField("vm0", ArrayType(LongType())),
        StructField("id1", ArrayType(LongType())),
        StructField("ts1", ArrayType(LongType())),
        StructField("vm1", ArrayType(LongType())),
    ]
)

_COLS = ["user_id", "event_type", "event_id", "tsu", "vm", "new"]


def _round_half_up(v: np.ndarray) -> np.ndarray:
    """Spark's BigDecimal HALF_UP (ties away from zero) — pandas
    ``.round()`` is banker's rounding and flips exact .5 boundaries."""
    scaled = v.astype("float64") * 1000000.0
    return (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
        "int64"
    )


def _make_update(evict_after_us):
    def _update(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _update_impl(key, pdfs, state, evict_after_us)

    return _update


def _update_impl(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    evict_after_us=None,
) -> Iterator[pd.DataFrame]:
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = pd.DataFrame(
        {
            "user_id": batch["user_id"].astype("int64"),
            "event_type": batch["event_type"],
            "event_id": batch["event_id"].astype("int64"),
            "tsu": batch["ts"].astype("int64") // 1000,
            "vm": _round_half_up(batch["value"].to_numpy()),
            "new": True,
        }
    )
    frames = [batch]
    if state.exists:
        user, etype, id0, ts0, vm0, id1, ts1, vm1 = state.get
        held = pd.DataFrame(
            {
                "user_id": np.asarray(user, dtype="int64"),
                "event_type": np.asarray(etype, dtype=object),
                "id0": np.asarray(id0, dtype="int64"),
                "ts0": np.asarray(ts0, dtype="int64"),
                "vm0": np.asarray(vm0, dtype="int64"),
                "id1": np.asarray(id1, dtype="int64"),
                "ts1": np.asarray(ts1, dtype="int64"),
                "vm1": np.asarray(vm1, dtype="int64"),
            }
        )
        for suffix in ("0", "1"):
            part = held[held[f"id{suffix}"] >= 0]
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": part["user_id"],
                        "event_type": part["event_type"],
                        "event_id": part[f"id{suffix}"],
                        "tsu": part[f"ts{suffix}"],
                        "vm": part[f"vm{suffix}"],
                        "new": False,
                    }
                )
            )
    merged = pd.concat(frames, ignore_index=True)
    merged = merged.sort_values(
        ["user_id", "event_type", "tsu", "event_id"], kind="mergesort"
    ).reset_index(drop=True)

    g = merged.groupby(["user_id", "event_type"], sort=False)
    prev_vm = g["vm"].shift(1)
    next_vm = g["vm"].shift(-1)
    next_new = g["new"].shift(-1)
    interior = prev_vm.notna() & next_vm.notna()
    emit_mask = (interior & (next_new == True)).to_numpy()  # noqa: E712

    cur = merged["vm"].to_numpy()
    pv = prev_vm.fillna(0).to_numpy().astype("int64")
    nv = next_vm.fillna(0).to_numpy().astype("int64")
    cur10k = cur * 10000
    is_dip = (
        (cur10k < pv * 10000 - _FENCE_BP * np.abs(pv))
        & (cur10k < nv * 10000 - _FENCE_BP * np.abs(nv))
        & emit_mask
    )
    is_spike = (
        (cur10k > pv * 10000 + _FENCE_BP * np.abs(pv))
        & (cur10k > nv * 10000 + _FENCE_BP * np.abs(nv))
        & emit_mask
    )

    out = pd.DataFrame(
        {
            "user_id": merged["user_id"][emit_mask],
            "event_type": merged["event_type"][emit_mask],
            "event_id": merged["event_id"][emit_mask],
            "ts": pd.to_datetime(merged["tsu"][emit_mask], unit="us"),
            "vm": merged["vm"][emit_mask],
            "is_dip": is_dip[emit_mask],
            "is_spike": is_spike[emit_mask],
        }
    )

    tail = g.tail(2)
    tg = tail.groupby(["user_id", "event_type"], sort=False)
    # head/tail both enumerate groups in order of first appearance, so
    # the two frames align row-for-row per series
    last = tg.tail(1).reset_index(drop=True)
    first = tg.head(1).reset_index(drop=True)
    if evict_after_us is not None and len(last):
        horizon = int(merged["tsu"].max()) - int(evict_after_us)
        live = (last["tsu"].to_numpy() >= horizon)
        last = last[live].reset_index(drop=True)
        first = first[live].reset_index(drop=True)
    # series with a single point keep id0 = −1
    lone = first["event_id"].to_numpy() == last["event_id"].to_numpy()
    state.update(
        (
            last["user_id"].tolist(),
            last["event_type"].tolist(),
            np.where(lone, -1, first["event_id"].to_numpy()).tolist(),
            np.where(lone, 0, first["tsu"].to_numpy()).tolist(),
            np.where(lone, 0, first["vm"].to_numpy()).tolist(),
            last["event_id"].tolist(),
            last["tsu"].tolist(),
            last["vm"].tolist(),
        )
    )
    yield out


def stream_dip_spike(
    stream: DataFrame,
    n_shards: int = _DEFAULT_SHARDS,
    evict_after_us: int | None = None,
) -> DataFrame:
    """Per-(user, type) streamed triple classification (append mode):
    one output row per INTERIOR point, emitted when its successor
    arrives.

    ``evict_after_us``: optional event-time horizon (microseconds);
    series whose newest point falls behind the shard's max event time
    by more than this are dropped from state, bounding memory under a
    churning key domain (see module docstring for the revival
    trade-off).  Default None keeps every live series forever — fine
    for bounded key domains like (user × type) fleets."""
    keyed = stream.select(
        "user_id", "event_type", "event_id", "ts", "value"
    ).withColumn(
        "shard",
        F.pmod(F.xxhash64("user_id", "event_type"), F.lit(n_shards)),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_update(evict_after_us),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ = ["stream_dip_spike"]
