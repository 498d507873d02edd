"""Timestamp-flavor matrix: every time-arithmetic kernel must produce
identical results whether its input column arrived as TIMESTAMP_NTZ
(tz-naive parquet — how the driver's testdata reads today), TIMESTAMP
LTZ (createDataFrame from pandas), or a CSV-parsed timestamp.  Round 3
broke six queries purely because the input flavor shifted — this
pins the whole class down."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from meteaudata_spark.operators import kernels


@pytest.fixture(scope="module")
def flavors(spark, tmp_path_factory):
    """The same 300-row irregular series in all three input flavors."""
    rng = np.random.default_rng(11)
    idx = pd.Timestamp("2021-03-01") + pd.to_timedelta(
        np.cumsum(rng.integers(30, 600, size=300)), unit="s"
    )
    vals = rng.normal(size=300)
    vals[rng.integers(0, 300, size=40)] = np.nan
    pdf = pd.DataFrame({"timestamp": idx, "value": vals})

    pq = str(tmp_path_factory.mktemp("ntz") / "series.parquet")
    # tz-naive µs (like the driver's testdata) → Spark reads TIMESTAMP_NTZ
    pdf.to_parquet(pq, coerce_timestamps="us", allow_truncated_timestamps=True)
    ntz = spark.read.parquet(pq)

    ltz = spark.createDataFrame(pdf)  # Arrow path → session-tz TIMESTAMP

    csvp = str(tmp_path_factory.mktemp("csv") / "series.csv")
    pdf.to_csv(csvp, index=False)
    csv = spark.read.csv(
        csvp, header=True, schema="timestamp timestamp, value double"
    )

    assert dict(ntz.dtypes)["timestamp"] == "timestamp_ntz"
    assert dict(ltz.dtypes)["timestamp"] == "timestamp"
    return {"ntz": ntz, "ltz": ltz, "csv": csv}


def _values(df):
    out = df.toPandas()
    out = out.sort_values(list(out.columns)[0]).reset_index(drop=True)
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime"):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
    return out


@pytest.mark.parametrize(
    "kernel",
    [
        lambda df: kernels.resample_mean(df, "5min"),
        lambda df: kernels.interpolate_linear(df),
        lambda df: kernels.detect_gaps(df, 450.0),
        lambda df: kernels.locf(df),
        lambda df: kernels.ewma_distributed(df, alpha=0.4, chunk_seconds=3600.0),
    ],
    ids=["resample", "interp", "gaps", "locf", "ewma_chunked"],
)
def test_kernel_is_flavor_invariant(flavors, kernel):
    ref = _values(kernel(flavors["ltz"]))
    for name in ("ntz", "csv"):
        got = _values(kernel(flavors[name]))
        assert list(got.columns) == list(ref.columns)
        for c in ref.columns:
            if ref[c].dtype.kind == "f":
                assert np.allclose(
                    got[c], ref[c], rtol=0, atol=1e-12, equal_nan=True
                ), (name, c)
            else:
                assert got[c].equals(ref[c]), (name, c)


@pytest.fixture(scope="module")
def event_flavors(spark, tmp_path_factory):
    """events/orders-shaped tables in NTZ / LTZ / CSV flavors for the
    ext query entry points (they build their own epoch arithmetic on
    top of the kernels)."""
    rng = np.random.default_rng(23)
    n = 400
    ts = pd.Timestamp("2021-06-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 14 * 86400, size=n)), unit="s"
    )
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(1, 12, size=n),
            "event_type": rng.choice(["click", "view", "error"], size=n),
            "ts": ts,
            "value": rng.normal(size=n).round(3),
        }
    )
    orders = pd.DataFrame(
        {
            "user_id": rng.integers(1, 12, size=60),
            "o_orderdate": pd.Timestamp("2021-05-20")
            + pd.to_timedelta(rng.integers(0, 20 * 86400, size=60), unit="s"),
        }
    )

    out = {}
    base = tmp_path_factory.mktemp("evflav")
    for name, df in (("ev", ev), ("orders", orders)):
        pq = str(base / f"{name}.parquet")
        df.to_parquet(pq, coerce_timestamps="us", allow_truncated_timestamps=True)
        out[f"{name}_ntz"] = spark.read.parquet(pq)
        out[f"{name}_ltz"] = spark.createDataFrame(df)
        csvp = str(base / f"{name}.csv")
        df.to_csv(csvp, index=False)
        schema = (
            "event_id bigint, user_id bigint, event_type string, "
            "ts timestamp, value double"
            if name == "ev"
            else "user_id bigint, o_orderdate timestamp"
        )
        out[f"{name}_csv"] = spark.read.csv(csvp, header=True, schema=schema)
    tscol = {"ev": "ts", "orders": "o_orderdate"}
    for name in ("ev", "orders"):
        assert dict(out[f"{name}_ntz"].dtypes)[tscol[name]] == "timestamp_ntz"
        assert dict(out[f"{name}_ltz"].dtypes)[tscol[name]] == "timestamp"
    return out


@pytest.mark.parametrize(
    "query",
    [
        lambda fl, flavor: __import__(
            "meteaudata_spark.ext.timeseries_queries", fromlist=["x"]
        ).sessionize_events(fl[f"ev_{flavor}"]),
        lambda fl, flavor: __import__(
            "meteaudata_spark.ext.timeseries_queries", fromlist=["x"]
        ).asof_last_order_events(
            fl[f"ev_{flavor}"].select("event_id", "user_id", "ts"),
            fl[f"orders_{flavor}"],
        ),
        lambda fl, flavor: __import__(
            "meteaudata_spark.ext.timeseries_queries", fromlist=["x"]
        ).multires_rollup_events(fl[f"ev_{flavor}"]),
    ],
    ids=["sessionize", "asof_last_order", "multires_rollup"],
)
def test_ext_query_is_flavor_invariant(event_flavors, query):
    def values_sorted(df):
        out = _values(df)
        keys = [c for c in out.columns if out[c].dtype.kind != "f"]
        return out.sort_values(keys).reset_index(drop=True)

    ref = values_sorted(query(event_flavors, "ltz"))
    for flavor in ("ntz", "csv"):
        got = values_sorted(query(event_flavors, flavor))
        assert list(got.columns) == list(ref.columns)
        assert len(got) == len(ref)
        for c in ref.columns:
            if ref[c].dtype.kind == "f":
                assert np.allclose(
                    got[c], ref[c], rtol=0, atol=1e-9, equal_nan=True
                ), (flavor, c)
            else:
                assert got[c].equals(ref[c]), (flavor, c)
