"""TimeSeries: one univariate series on the Spark data plane.

Reference semantics: ``meteaudata`` ``types.py:261-473`` (a pandas
Series + processing steps + index metadata).  Here the data plane is a
**lazy Spark DataFrame** with the canonical two-column schema

    (timestamp <orderable>, value <typed>)

so every downstream operator scales out; the metadata plane
(processing steps, index metadata, dtype string) stays on the driver.

Laziness is the one semantic shift from the reference: transforms
build a Catalyst plan; equality checks, saves, and exports force
execution (SURVEY §7.1).
"""

from __future__ import annotations

import datetime
from functools import reduce
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

from meteaudata_spark.metadata import (
    IndexMetadata,
    ProcessingStep,
    dedup_steps,
    load_yaml,
)
from meteaudata_spark.functions.epoch import epoch_seconds
from meteaudata_spark.functions.indexmeta import (
    extract_index_metadata,
    index_meta_to_spark,
    index_to_column,
    reconstruct_index,
    values_dtype_to_spark,
)

INDEX_COL = "timestamp"
VALUE_COL = "value"
# the series ordinal that tags each row of a batched multi-series
# collect or write (``union_by_schema``)
SERIES_COL = "__s"


class TimeSeries:
    """A named, versioned univariate series backed by a Spark DataFrame.

    ``df`` always has exactly the columns ``(timestamp, value)``.  Row
    order is never assumed — every consumer that needs order states it
    explicitly (Spark has no implicit row order; SURVEY §2.6).
    """

    def __init__(
        self,
        df: DataFrame,
        processing_steps: Optional[list[ProcessingStep]] = None,
        index_metadata: Optional[IndexMetadata] = None,
        values_dtype: str = "float64",
        name: str = "",
        created_on: Optional[datetime.datetime] = None,
    ) -> None:
        cols = df.columns
        if cols != [INDEX_COL, VALUE_COL]:
            if len(cols) == 2:
                df = df.toDF(INDEX_COL, VALUE_COL)
            else:
                raise ValueError(
                    f"TimeSeries DataFrame must have exactly two columns "
                    f"({INDEX_COL}, {VALUE_COL}); got {cols}"
                )
        self.df = df
        self.processing_steps: list[ProcessingStep] = list(processing_steps or [])
        self.index_metadata = index_metadata or IndexMetadata()
        self.values_dtype = values_dtype
        self.name = name
        self.created_on = created_on or datetime.datetime.now()

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def from_pandas(
        cls,
        spark: SparkSession,
        series: pd.Series,
        processing_steps: Optional[list[ProcessingStep]] = None,
        name: Optional[str] = None,
    ) -> "TimeSeries":
        """Ingest a pandas Series: index → explicit column + metadata."""
        index_metadata = extract_index_metadata(series.index)
        dtype = str(series.dtype)
        if dtype == "object":
            dtype = "str"  # reference placeholder convention (types.py:262,265)
        values = series.values
        if dtype == "str":
            values = series.astype(str).values if len(series) else values
        pdf = pd.DataFrame(
            {INDEX_COL: index_to_column(series.index).values, VALUE_COL: values}
        )
        if len(pdf) == 0:
            # schema can't be inferred from an empty frame; declare it
            # from the captured index/value metadata so empty series
            # stay union/join-compatible with non-empty ones
            df = spark.createDataFrame(
                [],
                f"{INDEX_COL} {index_meta_to_spark(index_metadata)}, "
                f"{VALUE_COL} {values_dtype_to_spark(dtype)}",
            )
        else:
            df = spark.createDataFrame(pdf)
        return cls(
            df=df,
            processing_steps=processing_steps,
            index_metadata=index_metadata,
            values_dtype=dtype,
            name=name if name is not None else str(series.name or ""),
        )

    # ------------------------------------------------------------------
    # export / materialization (the only places that run a job)
    # ------------------------------------------------------------------
    def to_pandas(self) -> pd.Series:
        """Collect (ordered by index, then value) and rebuild the pandas
        Series.  The sort runs on the driver (``collect_sorted``), so
        the collect is one job with no range-partition sampling."""
        pdf = collect_sorted([self.df])[0]
        index = reconstruct_index(pdf[INDEX_COL], self.index_metadata)
        values = pdf[VALUE_COL].values
        dtype = self.values_dtype if self.values_dtype != "str" else "object"
        ser = pd.Series(values, index=index, name=self.name or None)
        try:
            ser = ser.astype(dtype)
        except (TypeError, ValueError):
            pass
        return ser

    def count(self) -> int:
        return self.df.count()

    def persist(self, storage_level: Optional[object] = None) -> "TimeSeries":
        """Cache this series' plan for common-subplan reuse.

        Repeated ``process`` calls extend a lazy DAG, so every action
        on a downstream series re-executes the whole upstream chain;
        persisting a hot intermediate makes later transforms read the
        materialized partitions instead (SURVEY §4 — the cheap answer
        to common-subplan reuse, before any custom Catalyst work).
        MEMORY_AND_DISK by default so an oversized series spills
        rather than evicting."""
        from pyspark import StorageLevel

        self.df = self.df.persist(
            storage_level or StorageLevel.MEMORY_AND_DISK
        )
        return self

    def unpersist(self, blocking: bool = False) -> "TimeSeries":
        """Release a persisted series' storage."""
        self.df = self.df.unpersist(blocking)
        return self

    def checkpoint(self, eager: bool = True) -> "TimeSeries":
        """Truncate the lineage plan at this series.

        A long ``process`` chain builds one ever-deeper Catalyst plan;
        past a few dozen operators, analysis/optimization time per
        action grows with chain length (the classic iterative-
        algorithm trap).  ``localCheckpoint`` materializes the
        partitions and replaces the plan with a leaf — downstream
        transforms start from here.  The ProcessingStep record is the
        durable lineage story and is untouched.  Local checkpoints
        are executor-local (lost if an executor dies); for a
        fault-tolerant cut, save to the native store and reload
        (``sources/store.py``), which bounds the plan the same way."""
        self.df = self.df.localCheckpoint(eager=eager)
        return self

    def describe(self, chunk_seconds: float = 86400.0) -> dict:
        """Data-quality summary: row count, null/NaN ratio,
        duplicate-timestamp count, min/max/mean of values and the
        observed median spacing (frequency check).

        Spacing deltas use the chunk-and-carry idiom
        (``kernels.interpolate_linear_distributed``, VERDICT r10 #7)
        instead of a global lag window: the series is cut into
        ``chunk_seconds`` time chunks, each chunk lags in its own
        window partition (parallel), and only a 1-row-per-chunk
        boundary table — each chunk's max epoch, lagged over the TINY
        chunk relation — crosses chunks to supply the first row of
        every chunk with its predecessor.  Identical deltas to the
        global window (time-equal duplicates share a chunk and their
        in-tie lag order only ever produces 0-deltas either way), but
        a 1B-row single series no longer funnels through one task.

        Driver receives a single small row — never the data."""
        from pyspark.sql import Window

        is_num = dict(self.df.dtypes)[VALUE_COL] in ("double", "float")
        v = F.col(VALUE_COL)
        missing = (
            F.when(v.isNull() | F.isnan(v), 1).otherwise(0)
            if is_num
            else F.when(v.isNull(), 1).otherwise(0)
        )
        chunked = self.df.withColumn(
            "__e", epoch_seconds(F.col(INDEX_COL))
        ).withColumn(
            "__chunk", F.floor(F.col("__e") / F.lit(chunk_seconds))
        )
        # per-chunk bounds ALSO carry the distinct-timestamp count: a
        # timestamp's chunk is a function of the timestamp, so summing
        # per-chunk distincts over the tiny bounds relation gives the
        # exact global distinct count WITHOUT a countDistinct in the
        # main aggregate — mixing countDistinct with the other aggs
        # forces an Expand (2x data) over the windowed relation and
        # re-plans the window per aggregate path (measured pathological
        # at 100M rows)
        bounds = chunked.groupBy("__chunk").agg(
            F.max("__e").alias("__last_e"),
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct(INDEX_COL).alias("__nd"),
        )
        bounds = bounds.persist()
        dup_row = bounds.agg(
            (F.sum("__n") - F.sum("__nd")).alias("dups")
        ).collect()[0]
        carry = bounds.select(
            "__chunk",
            F.lag("__last_e").over(Window.orderBy("__chunk")).alias(
                "__prev_last_e"
            ),
        )
        w_chunk = Window.partitionBy("__chunk").orderBy(INDEX_COL)
        delta = F.col("__e") - F.coalesce(
            F.lag("__e").over(w_chunk), F.col("__prev_last_e")
        )
        stats = (
            chunked.join(F.broadcast(carry), "__chunk", "left")
            .withColumn("__delta", delta)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(missing).alias("n_missing"),
                F.min(INDEX_COL).alias("index_min"),
                F.max(INDEX_COL).alias("index_max"),
                (F.min(v) if is_num else F.lit(None)).alias("value_min"),
                (F.max(v) if is_num else F.lit(None)).alias("value_max"),
                (F.avg(v) if is_num else F.lit(None)).alias("value_mean"),
                F.expr("percentile_approx(__delta, 0.5)").alias(
                    "median_spacing_seconds"
                ),
            )
            .collect()[0]
            .asDict()
        )
        bounds.unpersist()
        stats["n_duplicate_index"] = dup_row["dups"]
        n = stats["n_rows"] or 1
        stats["missing_ratio"] = (stats["n_missing"] or 0) / n
        stats["name"] = self.name
        stats["declared_frequency"] = self.index_metadata.frequency
        return stats

    # ------------------------------------------------------------------
    # lineage helpers
    # ------------------------------------------------------------------
    def remove_duplicated_steps(self) -> "TimeSeries":
        self.processing_steps = dedup_steps(self.processing_steps)
        return self

    # ------------------------------------------------------------------
    # equality oracle (reference: types.py:302-318)
    # ------------------------------------------------------------------
    def __eq__(self, other: object) -> bool:  # pragma: no cover - thin
        if not isinstance(other, TimeSeries):
            return NotImplemented
        return self.metadata_equal(other) and series_data_equal(self, other)

    def metadata_equal(self, other: "TimeSeries") -> bool:
        """The driver-side half of ``==``: dtype, index metadata and
        lineage.  Runs no job."""
        return (
            self.values_dtype == other.values_dtype
            and self.index_metadata == other.index_metadata
            and self.processing_steps == other.processing_steps
        )

    def __repr__(self) -> str:
        return (
            f"TimeSeries(name={self.name!r}, dtype={self.values_dtype}, "
            f"steps={len(self.processing_steps)})"
        )

    # ------------------------------------------------------------------
    # metadata serde
    # ------------------------------------------------------------------
    def metadata_dict(self) -> dict:
        return {
            "name": self.name,
            "values_dtype": self.values_dtype,
            "created_on": self.created_on.isoformat(),
            "index_metadata": self.index_metadata.model_dump(),
            "processing_steps": [
                _step_dump(step) for step in self.processing_steps
            ],
        }

    @classmethod
    def from_metadata_dict(cls, df: DataFrame, meta: dict) -> "TimeSeries":
        steps = [ProcessingStep.model_validate(s) for s in meta.get("processing_steps", [])]
        return cls(
            df=df,
            processing_steps=steps,
            index_metadata=IndexMetadata.model_validate(meta["index_metadata"]),
            values_dtype=meta["values_dtype"],
            name=meta["name"],
            created_on=datetime.datetime.fromisoformat(meta["created_on"]),
        )

    # ------------------------------------------------------------------
    # reference-parity loaders (types.py:338-377) — same call shapes,
    # with an explicit SparkSession where the reference mutates a bare
    # pandas series in place
    # ------------------------------------------------------------------
    def load_metadata_from_dict(self, metadata: dict) -> None:
        """In-place metadata restore (reference types.py:338)."""
        self.processing_steps = [
            ProcessingStep.model_validate(s)
            for s in metadata.get("processing_steps", [])
        ]
        self.index_metadata = IndexMetadata.model_validate(
            metadata["index_metadata"]
        )
        self.values_dtype = metadata["values_dtype"]

    def load_metadata_from_file(self, file_path: str) -> "TimeSeries":
        """YAML metadata restore (reference types.py:351)."""
        with open(file_path) as fh:
            self.load_metadata_from_dict(load_yaml(fh))
        return self

    def load_data_fom_file(
        self, spark: SparkSession, file_path: str
    ) -> "TimeSeries":
        """CSV data restore — name (typo included) per reference
        types.py:357; ``load_data_from_file`` is the spelled-out
        alias."""
        pdf = pd.read_csv(file_path, index_col=0)
        ser = pdf.iloc[:, 0]
        ser.index = pd.to_datetime(ser.index)
        self.df = TimeSeries.from_pandas(spark, ser).df
        return self

    load_data_from_file = load_data_fom_file

    @staticmethod
    def load(
        spark: SparkSession,
        data_file_path: Optional[str] = None,
        data: Optional[pd.Series] = None,
        metadata_file_path: Optional[str] = None,
        metadata: Optional[dict] = None,
    ) -> "TimeSeries":
        """Composite loader matching reference types.py:362 (data from
        a pandas Series or CSV path, metadata from a dict or YAML
        path), with the SparkSession made explicit."""
        if data is not None:
            ts = TimeSeries.from_pandas(spark, data)
        elif data_file_path is not None:
            ts = TimeSeries(
                spark.createDataFrame([], f"{INDEX_COL} timestamp, {VALUE_COL} double")
            )
            ts.load_data_fom_file(spark, data_file_path)
        else:
            ts = TimeSeries(
                spark.createDataFrame([], f"{INDEX_COL} timestamp, {VALUE_COL} double")
            )
        if metadata is not None:
            ts.load_metadata_from_dict(metadata)
        elif metadata_file_path is not None:
            ts.load_metadata_from_file(metadata_file_path)
        return ts


def _step_dump(step: ProcessingStep) -> dict:
    return step.model_dump(mode="json")


# value types pandas cannot sort (Row, dict, ndarray, bytearray cells)
_UNSORTABLE = (ArrayType, BinaryType, MapType, StructType)


def union_by_schema(
    frames: list[DataFrame],
) -> list[tuple[list[int], DataFrame]]:
    """Group series frames by schema.  Per group, return the positions
    of its frames in ``frames`` and the ``UNION ALL`` of those frames,
    each row tagged with its frame's position in ``SERIES_COL``.  One
    action on a union runs every series of the group in one job, and
    upstreams the series share run once (exchange reuse)."""
    groups: dict[str, list[int]] = {}
    for i, df in enumerate(frames):
        groups.setdefault(df.schema.simpleString(), []).append(i)
    unions = []
    for members in groups.values():
        tagged = [
            frames[i].select(F.lit(i).alias(SERIES_COL), INDEX_COL, VALUE_COL)
            for i in members
        ]
        unions.append((members, reduce(DataFrame.unionAll, tagged)))
    return unions


def collect_sorted(frames: list[DataFrame]) -> list[pd.DataFrame]:
    """Collect many series at once: one ``toPandas`` (one job) per
    distinct schema, over a ``UNION ALL`` of the frames tagged by
    their position.  Each returned frame has the columns
    ``(timestamp, value)`` and a fresh RangeIndex, sorted on the driver
    by (timestamp, value) — a total order, so rows that share a
    timestamp compare equal whatever order the executors sent them
    in.  Values pandas cannot order (struct, map, array, binary) sort
    by timestamp only, stably; such a timestamp column (an
    IntervalIndex's struct) is ordered by Spark instead.

    Driver memory holds every frame passed at once; callers pass one
    Signal's series (both sides of one ``==``) at most, never a whole
    Dataset's."""
    out: dict[int, pd.DataFrame] = {}
    for members, union in union_by_schema(frames):
        schema = frames[members[0]].schema
        if isinstance(schema[INDEX_COL].dataType, _UNSORTABLE):
            # an IntervalIndex's (left, right) struct: Spark orders it,
            # pandas cannot, so keep Spark's order
            union = union.orderBy(SERIES_COL, INDEX_COL)
            keys = [SERIES_COL]
        elif isinstance(schema[VALUE_COL].dataType, _UNSORTABLE):
            keys = [SERIES_COL, INDEX_COL]
        else:
            keys = [SERIES_COL, INDEX_COL, VALUE_COL]
        pdf = _sort_stable(union.toPandas(), keys)
        tags = pdf.pop(SERIES_COL).to_numpy()
        starts = np.searchsorted(tags, members, side="left")
        ends = np.searchsorted(tags, members, side="right")
        for i, lo, hi in zip(members, starts, ends):
            out[i] = pdf.iloc[lo:hi].reset_index(drop=True)
    return [out[i] for i in range(len(frames))]


def _sort_stable(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """``pdf`` sorted stably by ``keys`` (series tag first).  Rows that
    arrive with nondecreasing tags and, within a tag, strictly
    increasing timestamps are already in that order (no tie is left
    for the value to break), so they skip the sort: the common case of
    a series collected partition by partition.  Numeric and datetime
    keys sort with ``np.lexsort``, others (strings) with pandas."""
    cols = [pdf[k].to_numpy() for k in keys]
    if any(c.dtype.kind not in "biufmM" for c in cols):
        return pdf.sort_values(keys, kind="stable")
    tags = cols[0]
    same = tags[1:] == tags[:-1]
    if len(cols) > 1:
        same &= cols[1][1:] > cols[1][:-1]
    if (same | (tags[1:] > tags[:-1])).all():
        return pdf
    return pdf.take(np.lexsort(cols[::-1]))


def series_data_equal(
    a: TimeSeries, b: TimeSeries, rtol: float = 1e-9, atol: float = 1e-12
) -> bool:
    """Data-plane equality: sorted collect + allclose(equal_nan=True).

    This is the correctness-oracle hook (SURVEY §2.11/E1): NaN⇄null are
    normalized at the comparison boundary, numeric values compared with
    tolerance, everything else exactly.  Both series are collected in
    one job (``collect_sorted``) and held in driver memory together.
    ``Signal.__eq__`` batches all its pairs the same way
    (``pairs_data_equal``), so driver memory then holds one Signal's
    series at once; ``Dataset.__eq__`` goes one Signal at a time.
    """
    return pairs_data_equal([(a, b)], rtol=rtol, atol=atol)


def pairs_data_equal(
    pairs: list[tuple[TimeSeries, TimeSeries]],
    rtol: float = 1e-9,
    atol: float = 1e-12,
) -> bool:
    """``series_data_equal`` for every pair, with all series collected
    by one ``collect_sorted`` call: one job per distinct schema however
    many pairs there are.  Driver memory holds every series of every
    pair at once — pass one Signal's worth."""
    frames = collect_sorted([ts.df for pair in pairs for ts in pair])
    return all(
        _sorted_frames_equal(frames[2 * i], frames[2 * i + 1], rtol, atol)
        for i in range(len(pairs))
    )


def _sorted_frames_equal(
    pa: pd.DataFrame, pb: pd.DataFrame, rtol: float, atol: float
) -> bool:
    if len(pa) != len(pb):
        return False
    if not pa[INDEX_COL].equals(pb[INDEX_COL]):
        if not np.array_equal(pa[INDEX_COL].values, pb[INDEX_COL].values):
            return False
    va, vb = pa[VALUE_COL], pb[VALUE_COL]
    if va.dtype.kind in "fiu" and vb.dtype.kind in "fiu":
        return bool(
            np.allclose(
                va.astype("float64").values,
                vb.astype("float64").values,
                rtol=rtol,
                atol=atol,
                equal_nan=True,
            )
        )
    return bool((va.fillna("<null>") == vb.fillna("<null>")).all())
