"""Property-based differential tests (hypothesis): the Spark kernels
must match pandas on arbitrary value patterns, not just fixtures."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from meteaudata_spark.operators import kernels

_SPARK = None


@pytest.fixture(autouse=True)
def _grab_spark(spark):
    global _SPARK
    _SPARK = spark


values_strategy = st.lists(
    st.one_of(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        st.just(float("nan")),
    ),
    min_size=1,
    max_size=40,
)


def _to_spark(ser: pd.Series):
    return _SPARK.createDataFrame(
        pd.DataFrame({"timestamp": ser.index, "value": ser.values})
    )


@given(values=values_strategy)
@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_interpolation_property(values):
    ser = pd.Series(
        values,
        index=pd.date_range("2020-01-01", freq="1min", periods=len(values)),
    )
    got = (
        kernels.interpolate_linear(_to_spark(ser))
        .orderBy("timestamp")
        .toPandas()["value"]
        .values
    )
    ref = ser.interpolate(method="linear").values
    assert np.allclose(got, ref, equal_nan=True, rtol=1e-9, atol=1e-9)


@given(
    values=values_strategy,
    freq_min=st.sampled_from([2, 5, 7, 13]),
)
@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_resample_property(values, freq_min):
    ser = pd.Series(
        values,
        index=pd.date_range(
            "2021-06-15 07:11:00", freq="3min", periods=len(values)
        ),
    )
    got = (
        kernels.resample_mean(_to_spark(ser), f"{freq_min}min")
        .orderBy("timestamp")
        .toPandas()
    )
    ref = ser.resample(f"{freq_min}min").mean()
    assert len(got) == len(ref)
    assert (pd.DatetimeIndex(got["timestamp"]) == ref.index).all()
    assert np.allclose(got["value"].values, ref.values, equal_nan=True, rtol=1e-9)


@given(
    values=values_strategy,
    start=st.integers(min_value=0, max_value=30),
    length=st.integers(min_value=0, max_value=30),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_replace_ranges_property(values, start, length):
    ser = pd.Series(
        values,
        index=pd.date_range("2020-01-01", freq="1min", periods=len(values)),
    )
    t0 = ser.index[0] + pd.Timedelta(minutes=start)
    t1 = t0 + pd.Timedelta(minutes=length)
    got = (
        kernels.replace_ranges(
            _to_spark(ser), [[str(t0), str(t1)]], replace_with=float("nan")
        )
        .orderBy("timestamp")
        .toPandas()["value"]
        .values
    )
    ref = ser.copy()
    ref.loc[t0:t1] = np.nan
    assert np.allclose(got, ref.values, equal_nan=True)


@given(
    series_count=st.integers(min_value=2, max_value=4),
    values=st.lists(values_strategy, min_size=2, max_size=4),
)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_aligned_avg_property(series_count, values):
    values = values[:series_count]
    frames, sers = [], []
    for i, vals in enumerate(values):
        idx = pd.date_range("2020-01-01", freq="1min", periods=len(vals))
        frames.append(
            pd.DataFrame({"series_name": f"s{i}", "timestamp": idx, "value": vals})
        )
        sers.append(pd.Series(vals, index=idx))
    long_df = _SPARK.createDataFrame(pd.concat(frames))
    got = (
        kernels.aligned_agg(long_df, "avg")
        .orderBy("timestamp")
        .toPandas()["value"]
        .values
    )
    ref = pd.concat(sers, axis=1).mean(axis=1).values
    assert np.allclose(got, ref, equal_nan=True, rtol=1e-9)


@given(values=values_strategy, window=st.integers(min_value=1, max_value=8))
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rolling_mean_property(values, window):
    ser = pd.Series(
        values,
        index=pd.date_range("2020-01-01", freq="1min", periods=len(values)),
    )
    got = (
        kernels.rolling_mean(_to_spark(ser), window)
        .orderBy("timestamp")
        .toPandas()["value"]
        .values
    )
    ref = ser.rolling(window, min_periods=1).mean().values
    assert np.allclose(got, ref, equal_nan=True, rtol=1e-9)


@given(
    values=values_strategy,
    alpha=st.floats(min_value=0.01, max_value=0.99),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ewma_matches_pandas(values, alpha):
    idx = pd.date_range("2021-01-01", freq="1min", periods=len(values))
    ser = pd.Series(values, index=idx)
    out = (
        kernels.ewma(_to_spark(ser), alpha=alpha)
        .toPandas()
        .sort_values("timestamp")
    )
    ref = ser.ewm(alpha=alpha, adjust=False, ignore_na=True).mean()
    assert np.allclose(
        out["value"].values, ref.values, equal_nan=True, rtol=1e-9
    )


@given(
    values=values_strategy,
    freq=st.sampled_from(["2min", "5min", "7min", "1h", "90s", "3min"]),
    start_min=st.integers(min_value=0, max_value=500),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_resample_matches_pandas_across_freqs(values, freq, start_min):
    """resample_mean must reproduce pandas resample(...).mean() with
    origin='start_day' for arbitrary values/NaNs, frequencies
    (including non-divisors of an hour), and start offsets."""
    idx = pd.date_range("2021-03-02", freq="11min", periods=len(values)) + pd.Timedelta(
        minutes=start_min
    )
    ser = pd.Series(values, index=idx)
    out = (
        kernels.resample_mean(_to_spark(ser), freq)
        .toPandas()
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    ref = ser.resample(freq, origin="start_day").mean()
    assert len(out) == len(ref)
    assert (out["timestamp"].values == ref.index.values).all()
    assert np.allclose(out["value"].values, ref.values, equal_nan=True)


@given(
    left_offsets=st.lists(
        st.integers(min_value=0, max_value=10000), min_size=1, max_size=25
    ),
    right_offsets=st.lists(
        st.integers(min_value=0, max_value=10000), min_size=1, max_size=25
    ),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_merge_asof(left_offsets, right_offsets):
    """asof_join_backward must agree with pandas merge_asof
    (backward, inclusive on ties) for arbitrary timestamp patterns,
    including duplicate times on either side."""
    from meteaudata_spark.ext.asof import asof_join_backward

    base = pd.Timestamp("2022-01-01")
    left = pd.DataFrame(
        {
            "k": ["g"] * len(left_offsets),
            "t": [base + pd.Timedelta(seconds=o) for o in left_offsets],
        }
    )
    right = pd.DataFrame(
        {
            "k": ["g"] * len(right_offsets),
            "rt": [base + pd.Timedelta(seconds=o) for o in right_offsets],
            "rv": np.arange(len(right_offsets), dtype=float),
        }
    )
    # merge_asof requires sorted, deduplicated right keys for a clean
    # oracle: collapse duplicate right times to the LAST row (matching
    # the union+last carry-forward semantics)
    right_dedup = (
        right.sort_values(["rt", "rv"]).groupby("rt", as_index=False).last()
    )
    right_dedup["k"] = "g"
    got = (
        asof_join_backward(
            _SPARK.createDataFrame(left),
            _SPARK.createDataFrame(right_dedup[["k", "rt", "rv"]]),
            "t",
            "rt",
            by=["k"],
            value_cols=["rv"],
        )
        .toPandas()
        .sort_values(["t"])
        .reset_index(drop=True)
    )
    ref = pd.merge_asof(
        left.sort_values("t"),
        right_dedup.sort_values("rt")[["rt", "rv"]],
        left_on="t",
        right_on="rt",
        direction="backward",
    ).reset_index(drop=True)
    got_sorted = got.sort_values("t").reset_index(drop=True)
    assert np.allclose(
        got_sorted["rv"].values, ref["rv"].values, equal_nan=True
    )


@given(
    values=values_strategy,
    lo=st.integers(min_value=0, max_value=39),
    span=st.integers(min_value=0, max_value=39),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_replace_ranges_matches_pandas_label_slice(values, lo, span):
    """replace_ranges must reproduce pandas label slicing:
    ser.loc[start:end] = NaN, inclusive BOTH ends (reference
    replace.py:51-57)."""
    idx = pd.date_range("2021-01-01", freq="3min", periods=len(values))
    ser = pd.Series(values, index=idx)
    lo = min(lo, len(values) - 1)
    hi = min(lo + span, len(values) - 1)
    start, end = idx[lo], idx[hi]
    out = (
        kernels.replace_ranges(
            _to_spark(ser), [[str(start), str(end)]], replace_with=None
        )
        .toPandas()
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    ref = ser.copy()
    ref.loc[start:end] = np.nan
    assert np.allclose(out["value"].values, ref.values, equal_nan=True)


@given(
    values=values_strategy,
    window=st.integers(min_value=1, max_value=12),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rolling_mean_matches_pandas(values, window):
    idx = pd.date_range("2021-01-01", freq="1min", periods=len(values))
    ser = pd.Series(values, index=idx)
    out = (
        kernels.rolling_mean(_to_spark(ser), window)
        .toPandas()
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    ref = ser.rolling(window, min_periods=1).mean()
    assert np.allclose(out["value"].values, ref.values, equal_nan=True)


# ---------------------------------------------------------------------
# codec properties: lossless round trips and lossy determinism hold
# for ARBITRARY image content and dimensions, not just the fixtures
# ---------------------------------------------------------------------
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_png_ppm_roundtrip_exact(h, w, seed):
    from meteaudata_spark.ext import multimodal

    arr = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert (multimodal.decode_png(multimodal.encode_png(arr)) == arr).all()
    assert (multimodal.decode_image(multimodal.encode_ppm(arr)) == arr).all()


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    quality=st.integers(min_value=30, max_value=95),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=15, deadline=None)
def test_jpeg_decode_deterministic_and_bounded(h, w, quality, seed):
    from meteaudata_spark.ext.jpeg import decode_jpeg, encode_jpeg

    arr = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    payload = encode_jpeg(arr, quality=quality)
    out = decode_jpeg(payload)
    assert out.shape == arr.shape
    assert (decode_jpeg(payload) == out).all()  # bit-deterministic
    assert out.dtype == np.uint8  # clamped into range by contract


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefghij-/.", min_size=1, max_size=30),
            st.binary(min_size=0, max_size=400),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_warc_round_trip_any_payload(records):
    """WARC writer → record walk is lossless for ANY payload bytes —
    including payloads containing record-header lookalikes, CRLFs, and
    gzip magic."""
    from meteaudata_spark.sources.warc import _gunzip_members, _split_records, write_warc

    recs = [
        {"target_uri": f"https://x/{i}-{uri}", "payload": body}
        for i, (uri, body) in enumerate(records)
    ]
    raw = _gunzip_members(write_warc(recs))
    got = list(_split_records(raw))
    assert len(got) == len(recs)
    for (headers, block), rec in zip(got, recs):
        assert headers["warc-target-uri"] == rec["target_uri"]
        assert block.endswith(rec["payload"])


@given(
    st.integers(min_value=1, max_value=40),
    st.data(),
    st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=8),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_text_invariants_any_window_stride(spark, window, data, lens):
    stride = data.draw(__import__("hypothesis").strategies.integers(1, window))
    """For ANY window/stride: every word appears in some chunk, chunk
    ids are dense from 0, no chunk exceeds the window, and coverage
    follows the closed-form chunk count."""
    import math

    import pandas as pd

    from meteaudata_spark.ext.corpus_ops import chunk_text

    docs = pd.DataFrame(
        {
            "doc_id": range(len(lens)),
            "text": [" ".join(f"d{j}w{i}" for i in range(n)) for j, n in enumerate(lens)],
        }
    )
    rows = chunk_text(
        spark.createDataFrame(docs), window=window, stride=stride
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for j, n in enumerate(lens):
        n_words = n if n > 0 else 1  # split('') -> ['']
        expect_chunks = 1 + math.ceil(max(n_words - window, 0) / stride)
        chunks = sorted(by_doc[j], key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(expect_chunks))
        assert all(c["n_chunk_words"] <= window for c in chunks)
        covered = {w for c in chunks for w in c["chunk_text"].split(" ") if w}
        expected = {f"d{j}w{i}" for i in range(n)}
        assert covered >= expected


@given(
    old_rows=st.dictionaries(
        st.integers(0, 30), st.integers(0, 5), max_size=20
    ),
    new_rows=st.dictionaries(
        st.integers(0, 30), st.integers(0, 5), max_size=20
    ),
)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_table_diff_partitions_key_union(old_rows, new_rows):
    from meteaudata_spark.ext.relational import table_diff

    spark = _SPARK
    old = spark.createDataFrame(
        [(k, float(v)) for k, v in old_rows.items()] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        [(k, float(v)) for k, v in new_rows.items()] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull())
    got = {r["k"]: r["status"] for r in table_diff(old, new, ["k"], ["v"]).collect()}
    union = set(old_rows) | set(new_rows)
    assert set(got) == union
    for k in union:
        if k in old_rows and k not in new_rows:
            assert got[k] == "removed"
        elif k not in old_rows and k in new_rows:
            assert got[k] == "added"
        elif old_rows[k] == new_rows[k]:
            assert got[k] == "unchanged"
        else:
            assert got[k] == "changed"


@given(
    assign=st.lists(st.integers(0, 2), min_size=1, max_size=60),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rollup_partials_associative_under_any_split(assign):
    from meteaudata_spark.ext.timeseries_queries import (
        merge_partials,
        rollup_partials,
    )

    spark = _SPARK
    rows = [
        (
            i,
            f"2024-01-01 0{i % 10}:0{i % 6}:00",
            "t" + str(i % 2),
            float(i % 7) / 3.0,
            assign[i],
        )
        for i in range(len(assign))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double, part int"
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
        "part",
    )
    direct = sorted(
        map(tuple, rollup_partials(ev.drop("part")).collect())
    )
    parts = [
        rollup_partials(ev.filter(F.col("part") == p).drop("part"))
        for p in (0, 1, 2)
    ]
    merged = sorted(map(tuple, merge_partials(*parts).collect()))
    assert direct == merged


@given(
    n_per_group=st.lists(st.integers(0, 30), min_size=1, max_size=4),
    k=st.integers(1, 12),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_group_sample_ranks_dense(n_per_group, k):
    from meteaudata_spark.ext.corpus_ops import group_sample_exact

    spark = _SPARK
    rows, did = [], 0
    for g, n in enumerate(n_per_group):
        for _ in range(n):
            rows.append((did, f"g{g}"))
            did += 1
    if not rows:
        return
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = group_sample_exact(d, "lang", k).collect()
    per = {}
    for r in out:
        per.setdefault(r["lang"], []).append(r["smp_rank"])
    for g, n in enumerate(n_per_group):
        if n == 0:
            assert f"g{g}" not in per
        else:
            ranks = sorted(per[f"g{g}"])
            assert ranks == list(range(1, min(k, n) + 1))
