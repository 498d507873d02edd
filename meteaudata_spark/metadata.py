"""Metadata plane: provenance, lineage, and function-capture models.

This is the driver-side "product" of the engine: a versioned,
provenance-tracked description of every transformation applied to a
time series.  Semantics follow the reference implementation
(meteaudata v0.6.0, ``src/meteaudata/types.py:176-258``) but the code
is written fresh for the Spark-backed engine.

All of these objects are tiny and live on the driver; none of them
ever touch an executor.  They complement (do not replace) Spark's
internal lineage: Spark knows *how* a DataFrame was computed, these
records know *why*, by *whom*, and with *what parameters* — and they
survive serialization to disk.
"""

from __future__ import annotations

import datetime
import enum
import inspect
from typing import IO, Any, Optional, Union

import yaml
from pydantic import BaseModel, ConfigDict, Field

from meteaudata_spark.naming import validate_suffix

# libyaml's C emitter/parser when PyYAML was built with it: same
# objects out as the pure-Python classes, several times faster on a
# manifest of a few tens of kB
_YAML_DUMPER = getattr(yaml, "CSafeDumper", yaml.SafeDumper)
_YAML_LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)


class ProcessingType(enum.Enum):
    """Categories of processing steps (reference: types.py:183-196)."""

    SORTING = "sorting"
    REMOVE_DUPLICATES = "remove_duplicates"
    SMOOTHING = "smoothing"
    FILTERING = "filtering"
    RESAMPLING = "resampling"
    GAP_FILLING = "gap_filling"
    PREDICTION = "prediction"
    TRANSFORMATION = "transformation"
    DIMENSIONALITY_REDUCTION = "dimensionality_reduction"
    FAULT_DETECTION = "fault_detection"
    FAULT_IDENTIFICATION = "fault_identification"
    FAULT_DIAGNOSIS = "fault_diagnosis"
    OTHER = "other"


class Parameters(BaseModel):
    """Open-schema bag of transform parameters (reference: types.py:176-180).

    Accepts arbitrary keyword arguments so any transform can record its
    full configuration without schema changes.
    """

    model_config = ConfigDict(extra="allow")


class FunctionInfo(BaseModel):
    """Identity + source snapshot of a transform function
    (reference: types.py:209-239).

    ``capture_source`` grabs the transform's source text via ``inspect``
    so a saved dataset records exactly the code that produced it.
    """

    name: str
    version: Optional[str] = None
    author: Optional[str] = None
    reference: Optional[str] = None
    source_code: Optional[str] = None

    def capture_source(self, func: Any = None) -> "FunctionInfo":
        """Record the source of ``func`` (or the calling frame's function).

        Mirrors the graceful-failure behavior of the reference
        (types.py:221-239): a capture failure stores an explanatory
        string instead of raising.
        """
        try:
            if func is not None:
                self.source_code = inspect.getsource(func)
                return self
            frame = inspect.stack()[1]
            module = inspect.getmodule(frame[0])
            candidate = getattr(module, self.name, None) if module else None
            if candidate is not None:
                self.source_code = inspect.getsource(candidate)
            else:
                self.source_code = (
                    f"Could not capture source code for function '{self.name}'."
                )
        except (OSError, TypeError) as err:
            self.source_code = (
                f"Source capture failed for '{self.name}': {err}"
            )
        return self


class DataProvenance(BaseModel):
    """Where a signal's data came from (reference: types.py:199-206)."""

    source_repository: Optional[str] = None
    project: Optional[str] = None
    location: Optional[str] = None
    equipment: Optional[str] = None
    parameter: Optional[str] = None
    purpose: Optional[str] = None
    metadata_id: Optional[Union[str, int]] = None


class ProcessingStep(BaseModel):
    """One lineage node (reference: types.py:242-254).

    ``input_series_names`` holds the *versioned* names of the series the
    step consumed; ``suffix`` is the name fragment the step contributes
    to its output series (never contains ``_``).
    """

    type: ProcessingType
    description: str
    run_datetime: datetime.datetime = Field(
        default_factory=datetime.datetime.now
    )
    requires_calibration: bool = False
    function_info: Optional[FunctionInfo] = None
    parameters: Optional[Parameters] = None
    step_distance: int = 0
    suffix: str
    input_series_names: list[str] = Field(default_factory=list)

    def model_post_init(self, __context: Any) -> None:
        validate_suffix(self.suffix)


class ProcessingConfig(BaseModel):
    """Declared pipeline of steps (reference: types.py:257-258).

    Kept for API parity; not used by the engine itself.
    """

    steps: list[ProcessingStep] = Field(default_factory=list)


class IndexMetadata(BaseModel):
    """Descriptor of the original pandas-style index
    (reference: types.py:82-94).

    On the Spark data plane the index is an explicit column; this model
    records enough to rebuild the exact pandas index on export
    (type, dtype, frequency, timezone, categories, range params).
    """

    type: str = "DatetimeIndex"
    name: Optional[str] = None
    frequency: Optional[str] = None
    time_zone: Optional[str] = None
    closed: Optional[str] = None
    categories: Optional[list[Any]] = None
    ordered: Optional[bool] = None
    start: Optional[int] = None
    end: Optional[int] = None
    step: Optional[int] = None
    dtype: Optional[str] = None


def dedup_steps(steps: list[ProcessingStep]) -> list[ProcessingStep]:
    """Remove duplicate steps preserving first-seen order
    (reference: types.py:466-473)."""
    seen: list[ProcessingStep] = []
    for step in steps:
        if not any(step == s for s in seen):
            seen.append(step)
    return seen


def dump_yaml(obj: Any, stream: IO[str]) -> None:
    """``yaml.safe_dump`` (key order kept) through libyaml if present."""
    yaml.dump(obj, stream, Dumper=_YAML_DUMPER, sort_keys=False)


def load_yaml(stream: IO[str]) -> Any:
    """``yaml.safe_load`` through libyaml if present."""
    return yaml.load(stream, Loader=_YAML_LOADER)
