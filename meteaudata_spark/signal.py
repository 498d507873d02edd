"""Signal: a named physical quantity holding versioned TimeSeries.

Orchestration layer (reference: ``types.py:498-926``): applies
transform functions, merges lineage, version-names outputs.  All of
this is cheap driver-side bookkeeping; the heavy lifting happens in
the Spark plans the transforms build.

Transform protocol (Spark-native analog of the reference's
``SignalTransformFunctionProtocol``, types.py:479-495):

    fn(input_series: list[TimeSeries], *args, **kwargs)
        -> list[tuple[TimeSeries, list[ProcessingStep]]]

Each input TimeSeries carries its full versioned ``name``; each output
TimeSeries must be named ``{signal}_{SUFFIX}`` — the Signal assigns
version numbers on registration.
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Optional, Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from meteaudata_spark.metadata import (
    DataProvenance,
    ProcessingStep,
    dedup_steps,
)
from meteaudata_spark import naming
from meteaudata_spark.timeseries import (
    INDEX_COL,
    VALUE_COL,
    TimeSeries,
    pairs_data_equal,
)


class SignalTransformFunctionProtocol(Protocol):
    def __call__(
        self, input_series: list[TimeSeries], *args: Any, **kwargs: Any
    ) -> list[tuple[TimeSeries, list[ProcessingStep]]]: ...


class Signal:
    """Named quantity + units + provenance + dict of versioned series."""

    def __init__(
        self,
        input_data: Any = None,
        name: str = "signal",
        units: str = "",
        provenance: Optional[DataProvenance] = None,
        spark: Optional[SparkSession] = None,
        time_series: Optional[dict[str, TimeSeries]] = None,
        created_on: Optional[datetime.datetime] = None,
        last_updated: Optional[datetime.datetime] = None,
    ) -> None:
        self.name = naming.ensure_versioned(name)
        self.units = units
        self.provenance = provenance or DataProvenance()
        self.created_on = created_on or datetime.datetime.now()
        self.last_updated = last_updated or datetime.datetime.now()
        self.time_series: dict[str, TimeSeries] = {}
        self._spark = spark

        if time_series:
            for ts_name, ts in time_series.items():
                ts.name = ts_name
                self.time_series[ts_name] = ts
        elif input_data is not None:
            self._ingest(input_data)
        elif spark is not None:
            # reference parity (types.py:554-560): a Signal created with
            # no data gets an empty placeholder series {name}_RAW#1
            import pandas as pd

            self._ingest(pd.Series(name="RAW", dtype=object))

    # ------------------------------------------------------------------
    # input dispatch (reference: types.py:547-606)
    # ------------------------------------------------------------------
    def _ingest(self, data: Any) -> None:
        if isinstance(data, pd.Series):
            self._register_new(self._ts_from_pandas(data), str(data.name or "RAW"))
        elif isinstance(data, pd.DataFrame):
            for col in data.columns:
                self._register_new(self._ts_from_pandas(data[col]), str(col))
        elif isinstance(data, DataFrame):
            self._register_new(
                TimeSeries(df=data), "RAW"
            )
        elif isinstance(data, TimeSeries):
            self._register_new(data, data.name or "RAW")
        elif isinstance(data, list) and all(isinstance(x, TimeSeries) for x in data):
            for ts in data:
                self._register_new(ts, ts.name or "RAW")
        elif isinstance(data, dict) and all(
            isinstance(x, TimeSeries) for x in data.values()
        ):
            for old_name, ts in data.items():
                self._register_new(ts, old_name)
        else:
            raise ValueError(
                f"Received data of type {type(data)}. Valid types: pd.Series, "
                "pd.DataFrame, pyspark DataFrame, TimeSeries, list[TimeSeries], "
                "dict[str, TimeSeries]."
            )

    def _ts_from_pandas(self, series: pd.Series) -> TimeSeries:
        if self._spark is None:
            raise ValueError(
                "Constructing a Signal from pandas input requires spark="
            )
        return TimeSeries.from_pandas(self._spark, series)

    def _register_new(self, ts: TimeSeries, old_name: str) -> None:
        """Prefix with the signal name, keep an existing version or add #1
        (reference: Signal.new_ts_name, types.py:608-620)."""
        new_name = self.new_ts_name(old_name)
        ts.name = new_name
        self.time_series[new_name] = ts
        self._touch()

    def new_ts_name(self, old_name: str) -> str:
        rest = old_name.split(naming.PART_SEP, 1)[1] if naming.PART_SEP in old_name else old_name
        base, num = naming.parse_version(rest)
        return naming.with_version(f"{self.name}{naming.PART_SEP}{base}", num or 1)

    # ------------------------------------------------------------------
    # naming / versioning (reference: types.py:640-676)
    # ------------------------------------------------------------------
    @property
    def all_time_series(self) -> list[str]:
        return list(self.time_series.keys())

    def max_ts_name_number(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for full in self.all_time_series:
            _, series_part = naming.split_full_name(full)
            base, num = naming.parse_version(series_part)
            if num is not None:
                out[base] = max(out.get(base, 0), num)
        return out

    def update_numbered_ts_name(self, full_name: str) -> str:
        existing = self.max_ts_name_number()
        signal_part, series_part = naming.split_full_name(full_name)
        base, _ = naming.parse_version(series_part)
        nxt = existing.get(base, 0) + 1
        return f"{signal_part}{naming.PART_SEP}{naming.with_version(base, nxt)}"

    def add(self, ts: TimeSeries) -> None:
        name = self.update_numbered_ts_name(self.new_ts_name(ts.name or "RAW"))
        ts.name = name
        self.time_series[name] = ts
        self._touch()

    def rename(self, new_signal_name: str) -> None:
        """Rename the signal and rewrite every series-name prefix
        (reference: types.py:753-764)."""
        new_signal_name = naming.ensure_versioned(new_signal_name)
        if new_signal_name == self.name:
            return
        renamed: dict[str, TimeSeries] = {}
        for full, ts in self.time_series.items():
            _, series_part = naming.split_full_name(full)
            new_full = f"{new_signal_name}{naming.PART_SEP}{series_part}"
            ts.name = new_full
            renamed[new_full] = ts
        self.time_series = renamed
        self.name = new_signal_name
        self._touch()

    # ------------------------------------------------------------------
    # processing (reference: types.py:678-740)
    # ------------------------------------------------------------------
    def process(
        self,
        input_time_series_names: list[str],
        transform_function: SignalTransformFunctionProtocol,
        *args: Any,
        **kwargs: Any,
    ) -> "Signal":
        missing = [
            n for n in input_time_series_names if n not in self.time_series
        ]
        if missing:
            raise ValueError(
                f"Input series {missing} not found in Signal. "
                f"Available series are {self.all_time_series}"
            )
        # DataFrames are immutable; only metadata needs defensive copies.
        input_series = [
            _shallow_copy(self.time_series[n]) for n in input_time_series_names
        ]
        outputs = transform_function(input_series, *args, **kwargs)
        for out_ts, new_steps in outputs:
            merged: list[ProcessingStep] = []
            for in_name in input_time_series_names:
                merged.extend(
                    s.model_copy(deep=True)
                    for s in self.time_series[in_name].processing_steps
                )
            for step in new_steps:
                merged.append(self._rewrite_step_inputs(step))
            out_ts.processing_steps = dedup_steps(merged)
            out_ts.name = self.update_numbered_ts_name(out_ts.name)
            self.time_series[out_ts.name] = out_ts
        self._touch()
        return self

    def _rewrite_step_inputs(self, step: ProcessingStep) -> ProcessingStep:
        """Point a step's input names at the highest-numbered existing
        series (reference: types.py:725-740 — minus its mutate-while-
        iterating bug)."""
        existing = self.max_ts_name_number()
        rewritten: list[str] = []
        for in_name in step.input_series_names:
            if naming.VERSION_SEP in in_name and naming.PART_SEP in in_name:
                signal_part, series_part = naming.split_full_name(in_name)
                base, _ = naming.parse_version(series_part)
                num = existing.get(base, 1)
                rewritten.append(
                    f"{signal_part}{naming.PART_SEP}{naming.with_version(base, num)}"
                )
            else:
                rewritten.append(in_name)
        step.input_series_names = rewritten
        return step

    # ------------------------------------------------------------------
    # views / plumbing
    # ------------------------------------------------------------------
    def persist(self, names: Optional[list[str]] = None) -> "Signal":
        """Persist the named series (default: all) for common-subplan
        reuse across repeated ``process`` calls — see
        ``TimeSeries.persist``."""
        for n in names or list(self.time_series):
            self.time_series[n].persist()
        return self

    def unpersist(self, names: Optional[list[str]] = None) -> "Signal":
        for n in names or list(self.time_series):
            self.time_series[n].unpersist()
        return self

    def to_wide_dataframe(self, names: Optional[list[str]] = None) -> DataFrame:
        """Full-outer alignment of series on the index — the analog of
        the reference's ``_to_dataframe`` (types.py:748-751).

        N-way full outer join on ``timestamp``; Catalyst picks
        sort-merge; at scale the join keys are already the natural
        range-partitioning key for time series.
        """
        names = names or self.all_time_series
        joined: Optional[DataFrame] = None
        for n in names:
            part = self.time_series[n].df.withColumnRenamed(VALUE_COL, n)
            joined = part if joined is None else joined.join(part, on=INDEX_COL, how="full")
        if joined is None:
            raise ValueError("Signal has no series to align")
        return joined

    def to_long_dataframe(self, names: Optional[list[str]] = None) -> DataFrame:
        """Union of series tagged by name: (series_name, timestamp, value)."""
        from pyspark.sql import functions as F

        names = names or self.all_time_series
        parts = [
            self.time_series[n].df.select(
                F.lit(n).alias("series_name"),
                F.col(INDEX_COL),
                F.col(VALUE_COL),
            )
            for n in names
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def plot(self, names: Optional[list[str]] = None, max_points: int = 2000,
             title: Optional[str] = None):
        """Overlay plot of this signal's series (reference Signal.plot,
        types.py:900-926).  Downsamples server-side; returns a plotly
        Figure, or the spec dict when plotly is unavailable."""
        from meteaudata_spark import viz

        return viz.plot_signal(self, names=names, max_points=max_points, title=title)

    def plot_dependency_graph(self, series_name: str):
        """Render the lineage DAG of one series (reference
        types.py:951-1054)."""
        from meteaudata_spark import viz

        return viz.plot_dependency_graph(self, series_name)

    def build_dependency_graph(self, series_name: str) -> list[dict]:
        """Edge list from a series back through its lineage
        (reference: types.py:928-949)."""
        edges: list[dict] = []
        visited: set[str] = set()

        def walk(name: str) -> None:
            if name in visited or name not in self.time_series:
                return
            visited.add(name)
            steps = self.time_series[name].processing_steps
            if not steps:
                return
            last = steps[-1]
            for origin in last.input_series_names:
                edges.append(
                    {
                        "step": last.function_info.name if last.function_info else "",
                        "type": last.type.value,
                        "origin": origin,
                        "destination": name,
                    }
                )
                walk(origin)

        walk(series_name)
        return edges

    def _touch(self) -> None:
        self.last_updated = datetime.datetime.now()

    # ------------------------------------------------------------------
    # persistence (reference: Signal.save / load_from_directory,
    # types.py:792-874) — thin wrappers over sources.store
    # ------------------------------------------------------------------
    def save(self, path: str, zip: bool = False, data_format: str = "parquet") -> str:
        from meteaudata_spark.sources import store

        if zip:
            return store.save_signal_zip(
                self, f"{path.rstrip('/')}/{self.name.replace('#', '%23')}.zip",
                data_format=data_format,
            )
        return store.save_signal(self, path, data_format=data_format)

    @classmethod
    def load_from_directory(cls, spark: SparkSession, sig_dir: str) -> "Signal":
        from meteaudata_spark.sources import store

        return store.load_signal(spark, sig_dir)

    @classmethod
    def load_from_zip(cls, spark: SparkSession, zip_path: str) -> "Signal":
        from meteaudata_spark.sources import store

        return store.load_signal_zip(spark, zip_path)

    # ------------------------------------------------------------------
    # equality (reference: types.py:1157-1177)
    # ------------------------------------------------------------------
    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Signal):
            return NotImplemented
        if (
            self.name != other.name
            or self.units != other.units
            or self.provenance != other.provenance
            or set(self.time_series) != set(other.time_series)
        ):
            return False
        # all metadata first (no job), then every series of both sides
        # in one collect per schema
        pairs = [(ts, other.time_series[k]) for k, ts in self.time_series.items()]
        return all(a.metadata_equal(b) for a, b in pairs) and pairs_data_equal(
            pairs
        )

    def __repr__(self) -> str:
        return (
            f"Signal(name={self.name!r}, units={self.units!r}, "
            f"series={self.all_time_series})"
        )

    # ------------------------------------------------------------------
    # metadata serde
    # ------------------------------------------------------------------
    def metadata_dict(self) -> dict:
        return {
            "name": self.name,
            "units": self.units,
            "provenance": self.provenance.model_dump(),
            "created_on": self.created_on.isoformat(),
            "last_updated": self.last_updated.isoformat(),
            "time_series": {
                name: ts.metadata_dict() for name, ts in self.time_series.items()
            },
        }


def _shallow_copy(ts: TimeSeries) -> TimeSeries:
    return TimeSeries(
        df=ts.df,
        processing_steps=[s.model_copy(deep=True) for s in ts.processing_steps],
        index_metadata=ts.index_metadata.model_copy(deep=True),
        values_dtype=ts.values_dtype,
        name=ts.name,
        created_on=ts.created_on,
    )
