"""The workloads: ``signal_roundtrip`` and ``gate_rows``, which
``BENCHMARK.json`` lists, and ``batch_long``, which it does not. Each
drives only public library entry points.

A workload has ``setup()`` (returns a description of its inputs),
``round()`` (one fixed op set, each op timed by ``Bench.op``) and
``check()`` (output checks, run after the timed loop; returns
``[(label, ok)]``). ``ROUND_S`` is the nominal length of a round in
seconds, which turns ``--seconds`` into a round count.
"""

from __future__ import annotations

import os
import warnings

import numpy as np

from inputs import SCALE, pandas_series, spark_series, write_fixture

# The gate rows timed by ``gate_rows``: the costliest row of the sf0.1
# bench record, the flagship ``ts_aligned_average`` and the costliest
# ``q*`` row.
GATE_ROWS = (
    "doc_perplexity_buckets",
    "ts_aligned_average",
    "q21_sole_late_shipper",
)


class SignalRoundtrip:
    """The paper's product end to end, one series per op: ingest a seeded
    irregular pandas series into a ``Signal``, run resample ->
    replace_ranges -> linear_interpolation -> moving_average through
    ``Signal.process``, noop-write the last series, then save the
    5-series Signal, ``load_from_directory`` and compare with ``==``."""

    POOL = 8
    ROUND_S = 4.0
    WARM = 5  # untimed ops: ops keep speeding up for several after the first
    ROWS = (1_000, 2_000)
    FREQ = "5min"
    WINDOW = 5
    NAME = "S#1_SMOOTH#1"

    def __init__(self, bench) -> None:
        self.b = bench
        self.done: list[tuple[str, int, bool]] = []
        self.kept: dict[str, tuple[int, object]] = {}
        self.n = 0

    def setup(self) -> dict:
        from meteaudata_spark import DataProvenance

        rng = np.random.default_rng(self.b.seed)
        self.pool = []
        for _ in range(self.POOL):
            ser = pandas_series(rng, int(rng.integers(*self.ROWS)))
            lo, hi = sorted(rng.choice(len(ser), 2, replace=False))
            span = [str(ser.index[lo]), str(ser.index[min(hi, lo + 100)])]
            # RAW plus four derived series on the resampled index
            values = len(ser) + 4 * len(ser.resample(self.FREQ).mean())
            self.pool.append((ser, span, values))
        self.prov = DataProvenance(
            source_repository="perfbench", project="bench", location="local",
            equipment="numpy", parameter="COD", purpose="benchmark",
        )
        with self.b.phase("first_calls"):
            for i in range(self.WARM):
                self._op(self.pool[i % self.POOL])
        return {
            "ops_per_round": 1,
            "rows_per_series": list(self.ROWS),
            "distinct_series": self.POOL,
            "chain": ["resample", "replace_ranges", "linear_interpolation", "moving_average"],
            "stored_series": 5,
        }

    def _op(self, item):
        from meteaudata_spark import Signal
        from meteaudata_spark.operators import univariate as uv

        ser, span, _ = item
        tr = self.b.tracer
        with tr.span("timeseries.ingest"), warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            sig = Signal(input_data=ser, name="S", units="mg/l",
                         provenance=self.prov, spark=self.b.spark)
        tr.count("timeseries.arrow_fallbacks",
                 sum("arrow" in str(w.message).lower() for w in caught))
        name = sig.all_time_series[-1]
        steps = (
            (uv.resample, (self.FREQ,)),
            (uv.replace_ranges, ([span], "calibration")),
            (uv.linear_interpolation, ()),
            (uv.moving_average, (self.WINDOW,)),
        )
        for fn, args in steps:
            with tr.span("signal.process"):
                sig.process([name], tr.wrap("operators.build", fn), *args)
            name = sig.all_time_series[-1]
            tr.count("signal.outputs")
            tr.count("signal.lineage_steps", len(sig.time_series[name].processing_steps))
        self.b.materialize(sig.time_series[name].df)

        path = os.path.join(self.b.tmp, "store", str(self.n))
        self.n += 1
        with tr.span("store.save"):
            sig_dir = sig.save(path)
        with tr.span("store.load"):
            loaded = Signal.load_from_directory(self.b.spark, sig_dir)
        with tr.span("timeseries.equal"):
            equal = loaded == sig
        return sig, name, sig_dir, equal

    def round(self) -> None:
        import shutil

        import yaml

        tr = self.b.tracer
        i = self.n % self.POOL
        sig_dir = None
        with self.b.op(f"signal_roundtrip[{i}]"):
            sig, name, sig_dir, equal = self._op(self.pool[i])
            # keep only what the checks need: holding every op's Signal
            # would grow both heaps over the run
            ts = sig.time_series[name]
            self.done.append((name, len(ts.processing_steps), equal))
            self.kept.setdefault("first", (i, ts))
            self.kept["last"] = (i, ts)
        if sig_dir is None:
            return
        if tr.enabled:
            files = size = 0
            for root, _, names in os.walk(sig_dir):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
            tr.count("store.files_written", files)
            tr.count("store.bytes_written", size)
            tr.count("store.values_written", self.pool[i][2])
            with tr.span("metadata.manifest"):
                text = yaml.safe_dump(sig.metadata_dict(), sort_keys=False)
            tr.count("metadata.manifest_bytes", len(text.encode()))
        shutil.rmtree(os.path.dirname(sig_dir), ignore_errors=True)

    def check(self) -> list[tuple[str, bool]]:
        import pandas as pd

        out = [(f"signal_roundtrip op {j}: {name}, {steps} steps, loaded == saved",
                name == self.NAME and steps == 4 and equal)
               for j, (name, steps, equal) in enumerate(self.done)]
        for which, (i, ts) in self.kept.items():
            ser, (lo, hi), _ = self.pool[i]
            ref = ser.resample(self.FREQ).mean()
            ref[pd.Timestamp(lo):pd.Timestamp(hi)] = np.nan
            ref = ref.interpolate().rolling(self.WINDOW, min_periods=1).mean()
            got = ts.to_pandas()
            out.append((f"signal_roundtrip {which} op vs pandas", got.index.equals(ref.index)
                        and np.allclose(got.values, ref.values, equal_nan=True)))
        return out


class BatchLong:
    """One ``Dataset`` step (resample_all / interpolate_all / smooth_all)
    over long executor-generated series, then a noop write of that
    step's outputs. Every step re-executes its lazy upstream."""

    SERIES = 2
    ROWS = 40_000
    ROUND_S = 4.0
    FREQ = "10s"
    ALPHA = 0.3

    def __init__(self, bench) -> None:
        self.b = bench

    def _raw(self, i: int):
        k = int(self.b.spark.sparkContext.defaultParallelism)
        return spark_series(self.b.spark, self.b.seed, i, self.ROWS, k)

    def setup(self) -> dict:
        with self.b.phase("first_round"):
            self._round(timed=False)
        return {
            "series": self.SERIES,
            "ids_per_series": self.ROWS,
            "raw_rows_total_approx": self.SERIES * self.ROWS * 12 // 13,
            "resample": self.FREQ,
            "ewma_alpha": self.ALPHA,
        }

    def round(self) -> None:
        self._round(timed=True)

    def _round(self, timed: bool) -> None:
        from contextlib import nullcontext

        from meteaudata_spark import Dataset, Signal

        self.ds = Dataset(name="long", signals={
            f"L{i}": Signal(input_data=self._raw(i), name=f"L{i}", units="mg/l",
                            spark=self.b.spark)
            for i in range(self.SERIES)
        })
        names = self.ds.all_series_names()
        steps = (
            ("resample_all", lambda n: self.ds.resample_all(self.FREQ, names=n)),
            ("interpolate_all", lambda n: self.ds.interpolate_all(names=n)),
            ("smooth_all", lambda n: self.ds.smooth_all(self.ALPHA, names=n)),
        )
        for label, step in steps:
            with self.b.op(label) if timed else nullcontext():
                before = set(self.ds.all_series_names())
                with self.b.tracer.span("dataset.process_long"):
                    step(names)
                names = [n for n in self.ds.all_series_names() if n not in before]
                self.b.materialize(self.ds.to_long_dataframe(names))
        self.final = names

    def check(self) -> list[tuple[str, bool]]:
        """One seeded series of the last round against the same series
        run through the same steps with ``Signal.process``."""
        from meteaudata_spark import Signal
        from meteaudata_spark.operators import univariate as uv
        from meteaudata_spark.timeseries import series_data_equal

        i = self.b.seed % self.SERIES
        sig = Signal(input_data=self._raw(i), name=f"L{i}", units="mg/l",
                     spark=self.b.spark)
        name = sig.all_time_series[-1]
        for fn, args in ((uv.resample, (self.FREQ,)), (uv.linear_interpolation, ()),
                         (uv.exponential_smoothing, (self.ALPHA,))):
            sig.process([name], fn, *args)
            name = sig.all_time_series[-1]
        mine = [n for n in self.final if n.startswith(f"L{i}#1_")]
        ok = len(mine) == 1 and series_data_equal(
            self.ds.signals[f"L{i}#1"].time_series[mine[0]], sig.time_series[name]
        )
        return [(f"batch_long series L{i} vs Signal.process", ok)]


class GateRows:
    """One [EXT] gate row from ``queries()`` over a seeded fixture, with
    a noop write. Setup runs every row once (memo and index builds land
    there), then ``WARM`` more untimed rounds; the check compares each row with ``oracle_sql()`` on DuckDB."""

    ROUND_S = 3.2
    WARM = 2  # untimed rounds after the first calls: rounds keep speeding up

    def __init__(self, bench) -> None:
        self.b = bench

    def setup(self) -> dict:
        import __spark_entry__ as entry

        self.dir = os.path.join(self.b.tmp, "fixture")
        with self.b.phase("fixture"):
            self.tables = write_fixture(self.dir, self.b.seed)
        queries = entry.queries()
        self.rows = {name: queries[name] for name in GATE_ROWS}
        if self.b.tracer.enabled:
            self._trace_table_loads()
        for name, fn in self.rows.items():
            with self.b.phase(f"first_call.{name}"):
                self.b.materialize(fn(self.b.spark, self.dir))
        with self.b.phase("warm_rounds"):
            for _ in range(self.WARM):
                for fn in self.rows.values():
                    self.b.materialize(fn(self.b.spark, self.dir))
        return {"fixture": f"generated, scale {SCALE}", "rows": self.tables,
                "gate_rows": list(GATE_ROWS)}

    def _trace_table_loads(self) -> None:
        """Span every ``load_table`` call, wherever the library imported it."""
        import sys

        from meteaudata_spark.sources import tables

        original = tables.load_table
        timed = self.b.tracer.wrap("tables.load", original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("meteaudata_spark") and \
                    getattr(mod, "load_table", None) is original:
                mod.load_table = timed

    def round(self) -> None:
        tr = self.b.tracer
        for name, fn in self.rows.items():
            with self.b.op(name):
                with tr.span(f"ext.{name}.build"):
                    df = fn(self.b.spark, self.dir)
                self.b.materialize(df, prefix=f"ext.{name}.")

    def check(self) -> list[tuple[str, bool]]:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import compare

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for table in self.tables:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{self.dir}/{table}.parquet'")
        out = []
        for name, fn in self.rows.items():
            pdf = fn(self.b.spark, self.dir).toPandas()
            out.append((f"gate_rows {name} vs oracle_sql",
                        compare(name, pdf, con.execute(oracles[name]).fetchdf())))
        con.close()
        return out


WORKLOADS = {
    "signal_roundtrip": SignalRoundtrip,
    "gate_rows": GateRows,
    "batch_long": BatchLong,
}
