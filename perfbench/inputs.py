"""Seeded input generators. Every input the workloads feed the library
comes from here and depends only on the seed.

* ``pandas_series`` — one irregular series (millisecond timestamps,
  gaps, NaNs, outlier spikes) for the driver-side workloads;
* ``spark_series`` — the same shape generated on the executors with
  ``spark.range`` and seeded ``rand``, so the driver never holds it;
* ``write_fixture`` — a small TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` in the column layout the gate rows
  read (independent random columns, like the tables they were built on).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2020_MS = 1_577_836_800_000
SCALE = 0.01  # fixture size as a share of TPC-H sf1: 60k lineitem rows


def pandas_series(rng: np.random.Generator, n: int) -> pd.Series:
    """``n`` points, mean spacing 60 s, with two long gaps, ~3% NaNs and
    ~0.5% spikes of 20x the signal."""
    steps = rng.exponential(60_000, n).astype("int64") + 1_000
    for at in rng.choice(n, 2, replace=False):
        steps[at] += int(rng.integers(2, 6)) * 3_600_000
    ms = EPOCH_2020_MS + int(rng.integers(0, 86_400_000)) + np.cumsum(steps)
    values = np.sin(np.arange(n) / 50.0) * 10 + rng.normal(size=n)
    values[rng.random(n) < 0.005] *= 20
    values[rng.random(n) < 0.03] = np.nan
    index = pd.DatetimeIndex(pd.to_datetime(ms, unit="ms"))
    return pd.Series(values, index=index, name="RAW")


def spark_series(spark, seed: int, i: int, n: int, partitions: int):
    """``(timestamp, value)`` with ``n`` ids: 2 s base spacing plus a
    per-row jitter below the spacing (so timestamps stay increasing),
    one id block in 13 dropped (gaps), 2% NaNs, 0.1% spikes."""
    from pyspark.sql import functions as F

    s = seed * 1009 + i * 17
    step = 2_000
    base = EPOCH_2020_MS + i * 3_600_000
    df = spark.range(0, n, 1, numPartitions=partitions)
    df = df.where(F.floor(F.col("id") / 5_000) % 13 != (seed + i) % 13)
    ms = F.lit(base) + F.col("id") * step + F.floor(F.rand(s) * (step - 1))
    value = F.sin(F.col("id") / 500.0) * 10 + F.randn(s + 1)
    value = F.when(F.rand(s + 2) < 0.001, value * 20).otherwise(value)
    value = F.when(F.rand(s + 3) < 0.02, F.lit(float("nan"))).otherwise(value)
    return df.select(
        F.timestamp_millis(ms.cast("long")).alias("timestamp"),
        value.alias("value"),
    )


_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark "
    "the line sort window order data column join small customer query big "
    "filter stream group vector"
).split()
_PART_ADJ = "red old cold hot new large small blue".split()
_PART_NOUN = "bolt anvil plate widget gear ring rod".split()


def _day_ts(rng, n, start, days):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """Ten tables at ``SCALE``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_li = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    n_ev, n_doc, n_emb = int(1_000_000 * SCALE), int(50_000 * SCALE), int(50_000 * SCALE)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1_000, 500_000, n_ord),
        "o_orderdate": pa.array(_day_ts(rng, n_ord, "1995-01-01", 2404), pa.timestamp("ms")),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_day_ts(rng, n_li, "1995-01-02", 2499), pa.timestamp("ms")),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(
            np.datetime64("2024-01-01", "ns") + (ev_us * 1_000).astype("timedelta64[ns]"),
            pa.timestamp("ns"),
        ),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(pick(_WORDS, int(k))) for k in rng.integers(8, 100, n_doc)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pick(["en", "de", "es", "fr", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_fixture(out_dir: str, seed: int) -> dict[str, int]:
    """Write one ``{table}.parquet`` per table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
