"""Time-series queries (ext/timeseries_queries.py): rollup partials,
rolling correlation, latest state, Holt-Winters, anomaly consensus,
forecast evaluation, trend and Benford rows, each against pandas / plain
Python or planted series."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_merge_partials_with_empty_delta(spark):
    from meteaudata_spark.ext.timeseries_queries import (
        merge_partials,
        rollup_partials,
    )

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "click", 2.0)],
        "event_id long, ts string, event_type string, value double",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    base = rollup_partials(ev)
    delta = rollup_partials(ev.filter(F.lit(False)))
    merged = merge_partials(base, delta).collect()
    assert len(merged) == 1 and merged[0]["n"] == 1


def test_rolling_corr_planted(spark, tmp_path):
    # click and view move in lockstep → rolling corr must be 1.0
    import shutil

    sf = str(tmp_path)
    ev = spark.range(2 * 40 * 24).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,"
            "cast(((id div 2) div 24) as int),cast(((id div 2) % 24) as int),0,0)"
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.when((F.col("id") % 2) == 0, "click").otherwise("view").alias(
            "event_type"
        ),
        (F.floor(F.col("id") / 2) % 97).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import ts_rolling_corr

    out = ts_rolling_corr(spark, sf).collect()
    assert len(out) > 0
    for r in out:
        assert abs(r["rolling_corr"] - 1.0) < 1e-9, r
    shutil.rmtree(f"{sf}/events.parquet")


def test_latest_state_picks_max_ts_then_id(spark, tmp_path):
    import shutil

    sf = str(tmp_path)
    rows = [
        (1, "2024-01-01 10:00:00", 5, "click", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 5, "click", 2.0, "{}"),  # latest ts
        (3, "2024-01-01 11:00:00", 5, "view", 3.0, "{}"),
        (4, "2024-01-01 11:00:00", 5, "view", 4.0, "{}"),  # ts tie → id 4
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import ts_latest_state

    out = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in ts_latest_state(spark, sf).collect()
    }
    assert out[(5, "click")] == 2
    assert out[(5, "view")] == 4
    shutil.rmtree(f"{sf}/events.parquet")


def test_rollup_partials_are_associative(spark, tmp_path):
    # merging ANY partition of the events equals the single pass —
    # the invariant incremental maintenance rests on
    import shutil

    from meteaudata_spark.ext.timeseries_queries import (
        merge_partials,
        rollup_partials,
    )

    sf = str(tmp_path)
    ev = spark.range(5000).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01' + make_interval(0,0,0,0,0,cast(id % 1440 as int),0)"
        ).alias("ts"),
        (F.col("id") % 11).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") % 37 / 7.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{sf}/events.parquet")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    direct = rollup_partials(ev)
    three_way = merge_partials(
        rollup_partials(ev.filter(F.col("event_id") % 3 == 0)),
        rollup_partials(ev.filter(F.col("event_id") % 3 == 1)),
        rollup_partials(ev.filter(F.col("event_id") % 3 == 2)),
    )
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, three_way.collect()))
    assert a == b
    shutil.rmtree(f"{sf}/events.parquet")


def test_holt_winters_learns_diurnal_profile(spark, tmp_path):
    import shutil

    sf = str(tmp_path)
    # 10 days of hourly data: value = 100 + 50 on hours 8-16, one
    # event per hour → after a few seasons the seasonal state must be
    # clearly positive at peak hours and negative off-peak
    ev = spark.range(240).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01' + make_interval(0,0,0,"
            "cast(id div 24 as int),cast(id % 24 as int),0,0)"
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        (
            100.0
            + F.when((F.col("id") % 24).between(8, 16), 50.0).otherwise(0.0)
        ).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import ts_holt_winters

    rows = ts_holt_winters(spark, sf).collect()
    last_day = [r for r in rows if r["b1h"] >= rows[-24]["b1h"]]
    peak = [r["seasonal"] for r in last_day if 8 <= (r["b1h"] // 3600) % 24 <= 16]
    off = [r["seasonal"] for r in last_day if not 8 <= (r["b1h"] // 3600) % 24 <= 16]
    assert min(peak) > 10.0, peak
    assert max(off) < 5.0, off
    # forecasts in the final season stay near the true signal
    for r in last_day:
        hour = (r["b1h"] // 3600) % 24
        # forecast_next predicts the NEXT hour's value
        nxt = ((hour + 1) % 24)
        truth = 150.0 if 8 <= nxt <= 16 else 100.0
        assert abs(r["forecast_next"] - truth) < 30.0, (hour, r)
    shutil.rmtree(f"{sf}/events.parquet")


def test_merge_partials_is_order_insensitive(spark):
    from meteaudata_spark.ext.timeseries_queries import merge_partials

    a = spark.createDataFrame(
        [("x", 300, 1000, 2)], "event_type string, b5 long, sum_micros long, n long"
    )
    # same data re-loaded with a different column order
    b = spark.createDataFrame(
        [(5, 300, "x", 3000)], "n long, b5 long, event_type string, sum_micros long"
    ).select("n", "b5", "event_type", "sum_micros")
    out = merge_partials(a, b).collect()[0]
    assert out["sum_micros"] == 4000 and out["n"] == 7


def test_anomaly_consensus_votes(spark, tmp_path):
    import shutil

    sf = str(tmp_path)
    # steady signal + one monster spike bucket: all three detectors
    # must agree on the spike (votes == 3); mild wiggle stays silent
    ev = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01' + make_interval(0,0,0,0,0,cast(id * 5 as int),0)"
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.when(F.col("id") == 777, 10000.0)
        .otherwise(50.0 + (F.col("id") % 5).cast("double"))
        .alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import ts_anomaly_consensus

    out = ts_anomaly_consensus(spark, sf).collect()
    spike = [r for r in out if r["bucket_mean"] > 1000]
    assert len(spike) == 1 and spike[0]["votes"] == 3
    # nothing else reaches consensus
    assert all(r["votes"] < 2 for r in out if r["bucket_mean"] < 1000)
    shutil.rmtree(f"{sf}/events.parquet")


def test_constant_series_do_not_crash_detectors(spark, tmp_path):
    """A constant event type has zero IQR and zero variance; under
    ANSI mode the unguarded division crashed the whole job — both
    detectors must return 'no flags' instead."""
    import shutil

    sf = str(tmp_path)
    spark.range(300).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01' + make_interval(0,0,0,0,0,cast(id*5 as int),0)"
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(42.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import (
        ts_anomaly_consensus,
        ts_robust_zscore,
    )

    assert ts_robust_zscore(spark, sf).count() == 0
    assert ts_anomaly_consensus(spark, sf).count() == 0
    shutil.rmtree(f"{sf}/events.parquet")


def test_forecast_eval_hw_beats_holt_on_diurnal(spark, tmp_path):
    """VERDICT r8 #8: on planted diurnal data (30 days of a diurnal
    square wave — the seasonal state needs ~20 seasons to converge at
    γ=0.25) the Holt-Winters one-step backtest must beat seasonless
    Holt (ratio < 1), and the gate row must value-match its DuckDB
    recursive-CTE oracle."""
    import shutil

    import duckdb

    sf = str(tmp_path)
    ev = spark.range(720).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01' + make_interval(0,0,0,"
            "cast(id div 24 as int),cast(id % 24 as int),0,0)"
        ).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        (
            100.0
            + F.when((F.col("id") % 24).between(8, 16), 50.0).otherwise(0.0)
        ).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"{sf}/events.parquet")
    from meteaudata_spark.ext.timeseries_queries import (
        TS_FORECAST_EVAL_HW_SQL,
        ts_forecast_eval_hw,
    )

    got = ts_forecast_eval_hw(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    # the seasonal state must earn its keep on a hard diurnal square wave
    assert r["hw_vs_holt_ratio"] < 1.0, r
    assert r["hw_mae_sum"] < r["holt_mae_sum"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    want = con.execute(TS_FORECAST_EVAL_HW_SQL).df()
    assert len(want) == 1
    for c in ("n_forecasts", "hw_mae_sum", "holt_mae_sum", "hw_vs_holt_ratio"):
        assert float(r[c]) == float(want[c].iloc[0]), c
    shutil.rmtree(f"{sf}/events.parquet")


def _py_trend(rows, lag=12):
    """Reference bounded-lag Theil-Sen + Mann-Kendall over
    (event_type, ts_epoch, value) rows, mirroring the 6-dp bucket-mean
    rounding and integer-micros quantization."""
    import math

    buckets: dict = {}
    for et, ep, v in rows:
        buckets.setdefault(et, {}).setdefault(int(ep // 300), []).append(v)
    out = {}
    for et, bs in buckets.items():
        ys = {
            i: round(sum(vs) / len(vs) * 1e6) / 1e6 for i, vs in bs.items()
        }
        slopes, s_cnt = [], [0, 0, 0]  # conc, disc, ties
        for i in sorted(ys):
            for d in range(1, lag + 1):
                j = i + d
                if j not in ys:
                    continue
                diff = ys[j] - ys[i]
                x = (diff / d) * 12000000
                slopes.append(
                    int(math.copysign(math.floor(abs(x) + 0.5), x))
                )
                if diff > 0:
                    s_cnt[0] += 1
                elif diff < 0:
                    s_cnt[1] += 1
                else:
                    s_cnt[2] += 1
        slopes.sort()
        n = len(slopes)
        s_stat = s_cnt[0] - s_cnt[1]
        t = s_stat * 1e6 / n
        out[et] = {
            "n_pairs": n,
            "median_slope_micros": slopes[(n + 1) // 2 - 1],
            "concordant": s_cnt[0],
            "discordant": s_cnt[1],
            "ties": s_cnt[2],
            "s_stat": s_stat,
            "tau_micros": int(math.copysign(math.floor(abs(t) + 0.5), t)),
        }
    return out


def test_trend_rows_match_python_reference(spark):
    from meteaudata_spark.ext.timeseries_queries import (
        _events,
        ts_mann_kendall,
        ts_theil_sen,
    )

    rows = [
        (r["event_type"], r["ep"], r["value"])
        for r in _events(spark, SF)
        .select(
            "event_type",
            F.unix_timestamp("ts").alias("ep"),
            "value",
        )
        .collect()
    ]
    want = _py_trend(rows)
    ts_rows = {r["event_type"]: r for r in ts_theil_sen(spark, SF).collect()}
    mk_rows = {r["event_type"]: r for r in ts_mann_kendall(spark, SF).collect()}
    assert set(ts_rows) == set(want) == set(mk_rows)
    for et, w in want.items():
        assert ts_rows[et]["n_pairs"] == w["n_pairs"], et
        assert (
            ts_rows[et]["median_slope_micros"] == w["median_slope_micros"]
        ), et
        for k in ("concordant", "discordant", "ties", "s_stat", "tau_micros"):
            assert mk_rows[et][k] == w[k], (et, k)


def test_theil_sen_is_robust_where_ols_is_not(spark):
    """Planted series: a clean +1/bucket trend with one colossal
    outlier.  The pairwise-median slope stays at the true trend while
    the OLS estimate is dragged far off — the reason this row exists
    next to ts_trend_slope."""
    import datetime

    from meteaudata_spark.ext.timeseries_queries import theil_sen_trend

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        v = float(i)
        if i == 30:
            v = 1e6  # the outlier bucket
        rows.append(("s", base + datetime.timedelta(minutes=5 * i), v))
    ev = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    got = theil_sen_trend(ev).collect()
    assert len(got) == 1
    # true slope: +1 per bucket = +12/hour = 12_000_000 micros
    assert got[0]["median_slope_micros"] == 12_000_000
    # OLS on the same data is dragged orders of magnitude away
    import numpy as np

    xs = np.arange(60, dtype=float)
    ys = np.array([1e6 if i == 30 else float(i) for i in range(60)])
    ols = np.polyfit(xs, ys, 1)[0] * 12
    assert abs(ols - 12) > 100  # dragged ~28x off the true +12/h


def test_events_benford_matches_python_reference(spark):
    import math

    from meteaudata_spark.ext.timeseries_queries import (
        _events,
        events_benford,
    )

    got = {
        (r["event_type"], r["digit"]): (
            r["n"],
            r["share_micros"],
            r["benford_micros"],
            r["delta_micros"],
        )
        for r in events_benford(spark, SF).collect()
    }
    agg: dict = {}
    for r in _events(spark, SF).select("event_type", "value").collect():
        cents = int(
            math.copysign(
                math.floor(abs(r["value"] * 100) + 0.5), r["value"] * 100
            )
        )
        d = int(str(cents)[0])
        agg[(r["event_type"], d)] = agg.get((r["event_type"], d), 0) + 1
    totals: dict = {}
    for (et, _d), n in agg.items():
        totals[et] = totals.get(et, 0) + n
    want = {}
    for et in totals:
        for d in range(1, 10):
            n = agg.get((et, d), 0)
            share = n * 1000000 // totals[et]
            x = math.log10(1.0 + 1.0 / d) * 1000000
            bf = int(math.copysign(math.floor(abs(x) + 0.5), x))
            want[(et, d)] = (n, share, bf, share - bf)
    assert got == want
    # every type has the full 1..9 spine and shares sum to ~1e6
    for et in totals:
        s = sum(got[(et, d)][1] for d in range(1, 10))
        assert 1000000 - 9 <= s <= 1000000


def test_trend_rows_plan_one_scan_banded_equijoin(spark):
    """The pair relation must ride the cached bucket agg (one events
    scan total) and an EQUI-join on the computed lag key — never a
    cartesian/range-filtered all-pairs build."""
    import re

    from meteaudata_spark.ext import timeseries_queries as tsq
    from meteaudata_spark.plans import inspect

    for fn in (tsq.ts_theil_sen, tsq.ts_mann_kendall):
        plan = inspect.formatted_plan(fn(spark, SF))
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans <= 1, (fn.__name__, n_scans)
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
