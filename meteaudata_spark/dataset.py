"""Dataset: a named collection of versioned Signals.

Reference semantics: ``types.py:1203-1428``.  Dataset-level transforms
(``DatasetTransformFunctionProtocol``, types.py:1180-1200) take whole
Signals and return new Signals; the Dataset versions their names and
merges lineage exactly like Signal.process does for series.

The batch helpers (``resample_all``, ``interpolate_all``,
``smooth_all``) run the univariate operator through the owning
Signal's ``process`` once per series, so lineage is per series: each
output carries its own input's steps plus the operator's step, the
same record ``Signal.process`` makes.
"""

from __future__ import annotations

import datetime
from typing import Any, Optional, Protocol

from meteaudata_spark import naming
from meteaudata_spark.metadata import dedup_steps
from meteaudata_spark.operators import univariate
from meteaudata_spark.signal import Signal
from meteaudata_spark.timeseries import TimeSeries, long_dataframe


class DatasetTransformFunctionProtocol(Protocol):
    def __call__(
        self,
        input_signals: list[Signal],
        input_series_names: list[str],
        *args: Any,
        **kwargs: Any,
    ) -> list[Signal]: ...


class Dataset:
    def __init__(
        self,
        name: str = "dataset",
        description: str = "",
        owner: str = "",
        purpose: str = "",
        project: str = "",
        signals: Optional[dict[str, Signal]] = None,
        created_on: Optional[datetime.datetime] = None,
        last_updated: Optional[datetime.datetime] = None,
    ) -> None:
        self.name = name
        self.description = description
        self.owner = owner
        self.purpose = purpose
        self.project = project
        self.created_on = created_on or datetime.datetime.now()
        self.last_updated = last_updated or datetime.datetime.now()
        self.signals: dict[str, Signal] = {}
        for key, sig in (signals or {}).items():
            # signals keyed by their own (versioned) names
            # (reference: Dataset.__init__, types.py:1213-1231)
            versioned = naming.ensure_versioned(sig.name)
            sig.name = versioned
            self.signals[versioned] = sig

    # ------------------------------------------------------------------
    # naming (reference: types.py:1233-1267)
    # ------------------------------------------------------------------
    def max_name_number(self) -> dict[str, int]:
        names = self.all_signals
        return {
            base: naming.max_version_number(names, base)
            for base, num in map(naming.parse_version, names)
            if num is not None
        }

    def update_numbered_name(self, name: str) -> str:
        return naming.next_version_name(self.all_signals, name)

    def add(self, signal: Signal) -> None:
        new_name = self.update_numbered_name(signal.name)
        signal.rename(new_name)
        self.signals[new_name] = signal
        self._touch()

    @property
    def all_signals(self) -> list[str]:
        return list(self.signals.keys())

    def persist(self, names: Optional[list[str]] = None) -> "Dataset":
        """Persist every series of the named signals (default: all) —
        the dataset-level entry to common-subplan reuse (see
        ``TimeSeries.persist``)."""
        for name in names or self.all_signals:
            self.signals[name].persist()
        return self

    def unpersist(self, names: Optional[list[str]] = None) -> "Dataset":
        for name in names or self.all_signals:
            self.signals[name].unpersist()
        return self

    def all_series_names(self) -> list[str]:
        names: list[str] = []
        for sig in self.signals.values():
            names.extend(sig.all_time_series)
        return names

    def _series(self, full_name: str) -> TimeSeries:
        signal_part, _ = naming.split_full_name(full_name)
        return self.signals[signal_part].time_series[full_name]

    # ------------------------------------------------------------------
    # processing (reference: types.py:1366-1428)
    # ------------------------------------------------------------------
    def process(
        self,
        input_time_series_names: list[str],
        transform_function: DatasetTransformFunctionProtocol,
        *args: Any,
        **kwargs: Any,
    ) -> "Dataset":
        available = set(self.all_series_names())
        missing = [n for n in input_time_series_names if n not in available]
        if missing:
            raise ValueError(
                f"Series {missing} not found in Dataset. "
                f"Available: {sorted(available)}"
            )
        input_signals: list[Signal] = []
        for full in input_time_series_names:
            signal_part, _ = naming.split_full_name(full)
            sig = self.signals.get(signal_part)
            if sig is None:
                raise ValueError(
                    f"Signal {signal_part!r} not found for series {full!r}"
                )
            input_signals.append(_copy_signal(sig))

        outputs = transform_function(
            input_signals, input_time_series_names, *args, **kwargs
        )
        for out_sig in outputs:
            # rename() (not direct assignment) so every contained series
            # gets its prefix rewritten when the version bumps
            out_sig.rename(self.update_numbered_name(out_sig.name))
            # merge lineage: every output series inherits all input series'
            # steps, then its own, deduped (reference: types.py:1408-1428)
            for ts in out_sig.time_series.values():
                inherited = [
                    s.model_copy(deep=True)
                    for full in input_time_series_names
                    for s in self._series(full).processing_steps
                ]
                ts.processing_steps = dedup_steps(
                    inherited + ts.processing_steps
                )
            self.signals[out_sig.name] = out_sig
        self._touch()
        return self

    def _touch(self) -> None:
        self.last_updated = datetime.datetime.now()

    # ------------------------------------------------------------------
    # batch processing: one univariate operator over many series
    # ------------------------------------------------------------------
    def to_long_dataframe(self, names: Optional[list[str]] = None):
        """Union of all (or named) series tagged by full series name:
        ``(series_name, timestamp, value)``."""
        names = names or self.all_series_names()
        return long_dataframe({n: self._series(n) for n in names})

    def _process_each(
        self, names: Optional[list[str]], transform_function, *args: Any
    ) -> "Dataset":
        """``Signal.process([name], transform_function, *args)`` on the
        owning Signal of each (default: every existing) series."""
        for full in names or self.all_series_names():
            signal_part, _ = naming.split_full_name(full)
            self.signals[signal_part].process([full], transform_function, *args)
        self._touch()
        return self

    def resample_all(self, frequency: str, names: Optional[list[str]] = None) -> "Dataset":
        """``univariate.resample`` on every (or each named) series."""
        return self._process_each(names, univariate.resample, frequency)

    def smooth_all(
        self, alpha: float = 0.3, names: Optional[list[str]] = None
    ) -> "Dataset":
        """``univariate.exponential_smoothing`` (EWMA) on every (or each
        named) series."""
        return self._process_each(names, univariate.exponential_smoothing, alpha)

    def interpolate_all(self, names: Optional[list[str]] = None) -> "Dataset":
        """``univariate.linear_interpolation`` on every (or each named)
        series."""
        return self._process_each(names, univariate.linear_interpolation)

    # ------------------------------------------------------------------
    # persistence (reference: Dataset.save/load, types.py:1293-1364)
    # ------------------------------------------------------------------
    def save(self, path: str, zip: bool = False, data_format: str = "parquet") -> str:
        from meteaudata_spark.sources import store

        if zip:
            return store.save_dataset_zip(
                self, f"{path.rstrip('/')}/{self.name}.zip", data_format=data_format
            )
        return store.save_dataset(self, path, data_format=data_format)

    @classmethod
    def load(cls, spark, ds_dir_or_zip: str) -> "Dataset":
        from meteaudata_spark.sources import store

        if ds_dir_or_zip.endswith(".zip"):
            return store.load_dataset_zip(spark, ds_dir_or_zip)
        return store.load_dataset(spark, ds_dir_or_zip)

    # ------------------------------------------------------------------
    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Dataset):
            return NotImplemented
        return (
            self.name == other.name
            and self.description == other.description
            and self.owner == other.owner
            and self.purpose == other.purpose
            and self.project == other.project
            and set(self.signals) == set(other.signals)
            and all(self.signals[k] == other.signals[k] for k in self.signals)
        )

    def __repr__(self) -> str:
        return f"Dataset(name={self.name!r}, signals={self.all_signals})"

    def metadata_dict(self) -> dict:
        return {
            "name": self.name,
            "description": self.description,
            "owner": self.owner,
            "purpose": self.purpose,
            "project": self.project,
            "created_on": self.created_on.isoformat(),
            "last_updated": self.last_updated.isoformat(),
            "signals": {
                name: sig.metadata_dict() for name, sig in self.signals.items()
            },
        }

    @classmethod
    def from_metadata_dict(cls, meta: dict, signals: dict[str, Signal]) -> "Dataset":
        """Inverse of ``metadata_dict``: ``meta``'s ``signals`` entry is
        ignored; the Signals are passed in."""
        return cls(
            name=meta["name"],
            description=meta["description"],
            owner=meta["owner"],
            purpose=meta["purpose"],
            project=meta["project"],
            signals=signals,
            created_on=datetime.datetime.fromisoformat(meta["created_on"]),
            last_updated=datetime.datetime.fromisoformat(meta["last_updated"]),
        )


def _copy_signal(sig: Signal) -> Signal:
    from meteaudata_spark.signal import _shallow_copy

    return Signal(
        name=sig.name,
        units=sig.units,
        provenance=sig.provenance.model_copy(deep=True),
        time_series={
            name: _shallow_copy(ts) for name, ts in sig.time_series.items()
        },
        created_on=sig.created_on,
        last_updated=sig.last_updated,
    )
