"""Persistence: native Parquet+manifest store, plus CSV / zip / JSON
interop with the reference's formats.

Native layout (SURVEY §3.3 →): one directory per Signal —

    {signal_dir}/
      manifest.yaml          # full metadata tree (signal + all series)
      data/{encoded_name}/   # one Parquet dir per series (executors write)

and per Dataset —

    {dataset_dir}/
      manifest.yaml          # dataset metadata incl. all signals
      {encoded_signal_name}/data/{encoded_series_name}/

Parquet keeps dtypes, so the CSV-era reconstruction machinery of the
reference (types.py:125-173) is only needed on the CSV interop path.
Series names contain ``#`` (illegal in Hadoop path URIs — it starts a
fragment), so directory names are percent-encoded.

Writes are batched: ``save_signal`` and ``save_dataset`` run ONE
Parquet write per distinct series schema, not one per series — a
``UNION ALL`` of the series tagged by their ordinal ``__s``,
``partitionBy("__s")``, into a staging dir whose name starts with
``_`` (hidden from Spark's listing; under the Signal's ``data/``, or
the Dataset's dir).  After the write commits, each ``__s=i`` dir is
renamed to its series' ``data/{encoded_name}``, so a save leaves one
layout: flat Parquet files per series dir.  Upstreams the series
share run once (exchange reuse).  The rename is a local-filesystem
``os.rename``, as the manifest I/O already assumes a local path.  A
series with no rows gets an empty directory (``partitionBy`` writes
none for it), so a missing series dir still means an incomplete save
and fails the load.  Manifests are written after the data, so a save
cut off earlier leaves no new manifest.  The old series dirs are
replaced only after the write commits, so a Signal cannot be saved
over the dirs its own series read from: the save refuses that up
front.

A load reads every file under a series dir, in any ``key=value``
subdir too, as a plain ``(timestamp, value)`` file: the streaming
sink's ``__batch=N`` dirs and the time-partitioned dirs that older
saves wrote need no partition inference, alone or mixed.

The manifest's ``series_schemas`` holds each series' DDL schema: the
loader hands it to ``spark.read.schema``, so a load runs no
schema-inference job (an empty dir reads as an empty frame).
Manifests without it still load by inference.

Interop paths (deliberately driver-side, documented non-scalable):
  * CSV  — one ``{series}.csv`` per series, index as column 0
           (reference types.py:766-774 / 357-359);
  * zip  — the saved directory, zipped (reference types.py:42-61);
  * JSON — full metadata + inline data round-trip (reference
           serialize_series, types.py:64-79).
"""

from __future__ import annotations

import atexit
import io
import json
import os
import shutil
import tempfile
import urllib.parse
import zipfile
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from meteaudata_spark.dataset import Dataset
from meteaudata_spark.metadata import IndexMetadata, dump_yaml, load_yaml
from meteaudata_spark.signal import Signal
from meteaudata_spark.timeseries import (
    INDEX_COL,
    SERIES_COL,
    VALUE_COL,
    TimeSeries,
    collect_sorted,
    union_by_schema,
)
from meteaudata_spark.functions.indexmeta import reconstruct_index


def _enc(name: str) -> str:
    return urllib.parse.quote(name, safe="")


def _read_series_dir(
    spark: SparkSession, target: str, schema: Optional[str] = None
) -> DataFrame:
    """Read every Parquet file under a series dir, subdirs included,
    as a plain ``(timestamp, value)`` file: recursive lookup turns off
    partition inference, so ``key=value`` subdirs add no column (see
    the module docstring).  ``schema`` (a DDL string) skips Spark's
    schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.option("recursiveFileLookup", "true").parquet(target)


# ----------------------------------------------------------------------
# Signal
# ----------------------------------------------------------------------
def save_signal(signal: Signal, path: str, data_format: str = "parquet") -> str:
    """Write ``{path}/{signal.name}/`` with manifest + per-series data,
    one dir of flat Parquet files per series (or one CSV file per
    series for ``data_format="csv"``).

    Raises ``ValueError`` if a series reads from the dirs this save
    would replace (a Signal loaded from ``path``, or derived from one):
    save it to another path.
    """
    sig_dir, manifest, series = _signal_manifest(signal, path, data_format)
    _write_series(series, os.path.join(sig_dir, "data"))
    _write_signal_manifest(signal, sig_dir, manifest)
    return sig_dir


def _signal_manifest(
    signal: Signal, path: str, data_format: str
) -> tuple[str, dict, list[tuple[DataFrame, str]]]:
    """Make the Signal's dirs.  Return the Signal's dir, its manifest
    and the (frame, target dir) of each series to write as Parquet."""
    if data_format not in ("parquet", "csv"):
        raise ValueError(f"Unknown data_format {data_format!r}")
    sig_dir = os.path.join(path, _enc(signal.name))
    data_dir = os.path.join(sig_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    manifest = signal.metadata_dict()
    manifest["data_format"] = data_format
    manifest["series_dirs"] = {
        name: _enc(name) for name in signal.all_time_series
    }
    series: list[tuple[DataFrame, str]] = []
    if data_format == "parquet":
        manifest["series_schemas"] = {
            name: ts.df.schema.toDDL() for name, ts in signal.time_series.items()
        }
        series = [
            (ts.df, os.path.join(data_dir, _enc(name)))
            for name, ts in signal.time_series.items()
        ]
    return sig_dir, manifest, series


def _write_signal_manifest(signal: Signal, sig_dir: str, manifest: dict) -> None:
    """Write the Signal's CSV data, if that is its format, then its
    manifest — after the data, so a save cut off earlier leaves no
    manifest that names missing or stale data."""
    if manifest["data_format"] == "csv":
        # one collect per schema for all the Signal's series
        series = list(signal.time_series.items())
        frames = collect_sorted([ts.df for _, ts in series])
        for (name, ts), pdf in zip(series, frames):
            ts.pandas_from_sorted(pdf).to_csv(
                os.path.join(sig_dir, "data", f"{name}.csv")
            )
    with open(os.path.join(sig_dir, "manifest.yaml"), "w") as fh:
        dump_yaml(manifest, fh)


def _write_series(
    series: list[tuple[DataFrame, str]], staging_parent: str
) -> None:
    """Write each (frame, target dir) as that dir's Parquet data: one
    write per distinct schema into a staging dir under
    ``staging_parent``, then a rename of each series' ``__s=i`` dir to
    its target (see the module docstring)."""
    if not series:
        return
    unions = union_by_schema([df for df, _ in series])
    _check_not_reading_targets(unions, [target for _, target in series])
    staging = tempfile.mkdtemp(prefix="_staging-", dir=staging_parent)
    try:
        for g, (members, union) in enumerate(unions):
            out = os.path.join(staging, str(g))
            union.write.mode("overwrite").partitionBy(SERIES_COL).parquet(out)
            for i in members:
                target = series[i][1]
                shutil.rmtree(target, ignore_errors=True)
                written = os.path.join(out, f"{SERIES_COL}={i}")
                if os.path.isdir(written):
                    os.rename(written, target)
                else:
                    # no rows: an empty dir, so a missing one means an
                    # incomplete save
                    os.makedirs(target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _check_not_reading_targets(
    unions: list[tuple[list[int], DataFrame]], targets: list[str]
) -> None:
    """Raise if any series reads a file under a dir the save replaces:
    the rename would delete the files behind the caller's frames (and
    a later schema group could read a dir an earlier one replaced).
    ``inputFiles`` lists the scans' files and runs no job."""
    prefixes = tuple(os.path.abspath(t) + os.sep for t in targets)
    for _, union in unions:
        for uri in union.inputFiles():
            path = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
            if path.startswith(prefixes):
                raise ValueError(
                    f"cannot save over {os.path.dirname(path)!r}: a series "
                    f"being saved reads from it; save to another path"
                )


def load_signal(spark: SparkSession, sig_dir: str) -> Signal:
    with open(os.path.join(sig_dir, "manifest.yaml")) as fh:
        manifest = load_yaml(fh)
    return _signal_from_manifest(spark, sig_dir, manifest)


def _signal_from_manifest(spark: SparkSession, sig_dir: str, manifest: dict) -> Signal:
    data_format = manifest.get("data_format", "parquet")
    schemas = manifest.get("series_schemas", {})
    series: dict[str, TimeSeries] = {}
    for name, ts_meta in manifest["time_series"].items():
        if data_format == "parquet":
            df = _read_series_dir(
                spark,
                os.path.join(sig_dir, "data", manifest["series_dirs"][name]),
                schemas.get(name),
            )
            ts = TimeSeries.from_metadata_dict(df, ts_meta)
        else:
            csv_path = os.path.join(sig_dir, "data", f"{name}.csv")
            ts = _series_from_csv(spark, csv_path, ts_meta)
        series[name] = ts
    return Signal.from_metadata_dict(manifest, series)


# ----------------------------------------------------------------------
# Dataset
# ----------------------------------------------------------------------
def save_dataset(dataset: Dataset, path: str, data_format: str = "parquet") -> str:
    """Write ``{path}/{dataset.name}/``: the dataset manifest plus one
    Signal dir per signal.  The series of every signal are written
    together, one Parquet write per distinct schema."""
    ds_dir = os.path.join(path, _enc(dataset.name))
    os.makedirs(ds_dir, exist_ok=True)
    manifest = dataset.metadata_dict()
    manifest["data_format"] = data_format
    manifest["signal_dirs"] = {name: _enc(name) for name in dataset.all_signals}
    prepared = [
        (sig, *_signal_manifest(sig, ds_dir, data_format))
        for sig in dataset.signals.values()
    ]
    _write_series([s for *_, series in prepared for s in series], ds_dir)
    for sig, sig_dir, sig_manifest, _ in prepared:
        _write_signal_manifest(sig, sig_dir, sig_manifest)
    with open(os.path.join(ds_dir, "manifest.yaml"), "w") as fh:
        dump_yaml(manifest, fh)
    return ds_dir


def load_dataset(spark: SparkSession, ds_dir: str) -> Dataset:
    with open(os.path.join(ds_dir, "manifest.yaml")) as fh:
        manifest = load_yaml(fh)
    signals: dict[str, Signal] = {}
    for name, sub in manifest["signal_dirs"].items():
        sig_dir = os.path.join(ds_dir, sub)
        with open(os.path.join(sig_dir, "manifest.yaml")) as fh:
            sig_manifest = load_yaml(fh)
        signals[name] = _signal_from_manifest(spark, sig_dir, sig_manifest)
    return Dataset.from_metadata_dict(manifest, signals)


# ----------------------------------------------------------------------
# zip interop (reference: types.py:42-61, 792-807, 1293-1364)
# ----------------------------------------------------------------------
def save_signal_zip(signal: Signal, zip_path: str, data_format: str = "parquet") -> str:
    return _save_zip(save_signal, signal, zip_path, data_format)


def load_signal_zip(spark: SparkSession, zip_path: str) -> Signal:
    return load_signal(spark, _extract_zip(zip_path))


def save_dataset_zip(dataset: Dataset, zip_path: str, data_format: str = "parquet") -> str:
    return _save_zip(save_dataset, dataset, zip_path, data_format)


def load_dataset_zip(spark: SparkSession, zip_path: str) -> Dataset:
    return load_dataset(spark, _extract_zip(zip_path))


def _save_zip(save, obj, zip_path: str, data_format: str) -> str:
    """``save(obj)`` into a temp dir, zipped to ``zip_path``."""
    with tempfile.TemporaryDirectory() as tmp:
        src_dir = save(obj, tmp, data_format=data_format)
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(src_dir):
                for f in files:
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, src_dir))
    return zip_path


def _extract_zip(zip_path: str) -> str:
    """Extract ``zip_path`` into a fresh temp dir and return it.  The
    loaded object reads that dir lazily, so the dir must outlive the
    load: it is removed at interpreter exit."""
    tmp = tempfile.mkdtemp(prefix="meteaudata_zip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(tmp)
    return tmp


# ----------------------------------------------------------------------
# CSV interop (reference format: index col 0, value col 1, header)
# ----------------------------------------------------------------------
def _series_from_csv(spark: SparkSession, csv_path: str, ts_meta: dict) -> TimeSeries:
    ser = pd.read_csv(csv_path, index_col=0).iloc[:, 0]
    return _rebuild(spark, pd.Series(ser.index), ser.values, ts_meta)


def _rebuild(
    spark: SparkSession, index: pd.Series, values, meta: dict
) -> TimeSeries:
    """The TimeSeries that ``meta`` describes, from its index column
    and values as pandas read them from text: the index is rebuilt
    from its metadata first."""
    idx_meta = IndexMetadata.model_validate(meta["index_metadata"])
    if idx_meta.type in ("DatetimeIndex", "PeriodIndex"):
        index = pd.to_datetime(index)
    ser = pd.Series(values, index=reconstruct_index(index, idx_meta))
    fresh = TimeSeries.from_pandas(spark, ser, name=meta["name"])
    return TimeSeries.from_metadata_dict(fresh.df, meta)


# ----------------------------------------------------------------------
# JSON serde (in-memory, incl. data — reference types.py:64-79;
# non-scalable by design, for small exports / API parity)
# ----------------------------------------------------------------------
def timeseries_to_json(ts: TimeSeries) -> str:
    ser = ts.to_pandas()
    payload = ts.metadata_dict()
    buf = io.StringIO()
    ser.to_frame(name="value").reset_index(names="index").to_json(
        buf, orient="split", date_format="iso", index=False, double_precision=15
    )
    payload["data"] = json.loads(buf.getvalue())
    return json.dumps(payload)


def timeseries_from_json(spark: SparkSession, blob: str) -> TimeSeries:
    payload = json.loads(blob)
    data = payload.pop("data")
    pdf = pd.DataFrame(data["data"], columns=data["columns"])
    return _rebuild(spark, pdf["index"], pdf["value"].values, payload)


def signal_to_json(signal: Signal) -> str:
    payload = signal.metadata_dict()
    payload["time_series_json"] = {
        name: timeseries_to_json(ts) for name, ts in signal.time_series.items()
    }
    del payload["time_series"]
    return json.dumps(payload)


def signal_from_json(spark: SparkSession, blob: str) -> Signal:
    payload = json.loads(blob)
    series = {
        name: timeseries_from_json(spark, ts_blob)
        for name, ts_blob in payload["time_series_json"].items()
    }
    return Signal.from_metadata_dict(payload, series)


def dataset_to_json(dataset: Dataset) -> str:
    payload = dataset.metadata_dict()
    payload["signals_json"] = {
        name: signal_to_json(sig) for name, sig in dataset.signals.items()
    }
    del payload["signals"]
    return json.dumps(payload)


def dataset_from_json(spark: SparkSession, blob: str) -> Dataset:
    payload = json.loads(blob)
    signals = {
        name: signal_from_json(spark, sig_blob)
        for name, sig_blob in payload["signals_json"].items()
    }
    return Dataset.from_metadata_dict(payload, signals)


# ----------------------------------------------------------------------
# consolidated long-table store (the many-series scale layout)
# ----------------------------------------------------------------------
def save_dataset_long(
    dataset: Dataset,
    path: str,
    layout: str = "sorted",
    n_buckets: int = 32,
    n_files: int = 32,
) -> str:
    """ONE partitioned Parquet dataset for the whole Dataset:

        {path}/manifest.yaml
        {path}/data/signal_name=…/  (long rows: series_name, ts, value)

    The per-series-directory layout (``save_dataset``) mirrors the
    reference and is right for tens of series; with millions of
    series it degenerates into the small-files problem and a driver-
    side write loop.  Here every series lands in one table written by
    one job — partition pruning on ``signal_name``, predicate
    pushdown on ``series_name``, and a single manifest.

    ``layout`` picks the physical clustering (recorded in the
    manifest; ``load_dataset_long`` adapts its filters):

    * ``"sorted"`` (default) — rows sorted by (series_name, ts)
      within each task's files: row-group min/max skipping on both.
    * ``"bucketed"`` — adds a ``bucket = pmod(xxhash64(series_name),
      n_buckets)`` DIRECTORY level: a per-series read prunes to one
      bucket directory (PartitionFilters, no footer reads of the
      other buckets) — the layout for millions of series, where even
      listing every file to check footers dominates.
    * ``"zorder"`` — Morton-curve clustering on (series hash, time)
      via ``sources.zorder.zorder_by``: per-FILE min/max stays tight
      on both dimensions at once, so time-range scans ACROSS series
      (the dashboard shape the other layouts serve worst) prune
      files too.

    Constraints of the consolidated layout: timestamp-indexed,
    numeric-valued series only (values stored as DOUBLE; the
    per-series ``values_dtype`` in the manifest restores the declared
    dtype on load).  Mixed-type corpora belong in the per-series
    layout."""
    from functools import reduce

    from pyspark.sql import DataFrame as SparkDataFrame
    from pyspark.sql import functions as F

    if layout not in ("sorted", "bucketed", "zorder"):
        raise ValueError(
            f"layout must be sorted|bucketed|zorder, got {layout!r}"
        )
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")

    parts = []
    for sig_name, sig in dataset.signals.items():
        for ts_name, ts in sig.time_series.items():
            idx_type = dict(ts.df.dtypes)[INDEX_COL]
            if not idx_type.startswith("timestamp"):
                raise ValueError(
                    f"save_dataset_long requires timestamp indexes; "
                    f"series {ts_name!r} has {idx_type!r} — use "
                    f"save_dataset for heterogeneous layouts"
                )
            parts.append(
                ts.df.select(
                    F.lit(sig_name).alias("signal_name"),
                    F.lit(ts_name).alias("series_name"),
                    F.col(INDEX_COL),
                    F.col(VALUE_COL).cast("double").alias(VALUE_COL),
                )
            )
    if not parts:
        raise ValueError("dataset has no series to save")
    long_df = reduce(SparkDataFrame.unionByName, parts)
    ds_dir = os.path.join(path, _enc(dataset.name))
    os.makedirs(ds_dir, exist_ok=True)
    manifest = dataset.metadata_dict()
    manifest["layout"] = "long"
    manifest["layout_variant"] = layout
    if layout == "bucketed":
        manifest["n_buckets"] = n_buckets
    with open(os.path.join(ds_dir, "manifest.yaml"), "w") as fh:
        dump_yaml(manifest, fh)
    data_dir = os.path.join(ds_dir, "data")
    if layout == "bucketed":
        (
            long_df.withColumn(
                "bucket", F.pmod(F.xxhash64("series_name"), F.lit(n_buckets))
            )
            .sortWithinPartitions("series_name", INDEX_COL)
            .write.mode("overwrite")
            .partitionBy("signal_name", "bucket")
            .parquet(data_dir)
        )
    elif layout == "zorder":
        from meteaudata_spark.sources.zorder import zorder_by

        clustered = zorder_by(
            long_df.withColumn(
                "__sk", F.xxhash64("series_name").cast("double")
            ).withColumn("__tt", F.col(INDEX_COL).cast("double")),
            ["__sk", "__tt"],
            n_files=n_files,
        ).drop("__sk", "__tt")
        (
            clustered.write.mode("overwrite")
            .partitionBy("signal_name")
            .parquet(data_dir)
        )
    else:
        (
            # sorted within files so Parquet row-group min/max stats
            # make the series_name pushdown skip row groups, and
            # time-range predicates skip within a series — data
            # skipping with no index structure
            long_df.sortWithinPartitions("series_name", INDEX_COL)
            .write.mode("overwrite")
            .partitionBy("signal_name")
            .parquet(data_dir)
        )
    return ds_dir


def load_dataset_long(spark: SparkSession, ds_dir: str) -> Dataset:
    """Rebuild a Dataset from the consolidated layout.  Each series'
    DataFrame is a lazy filter over the one table — signal_name
    prunes partitions, series_name pushes into the scan (plus, for the
    bucketed variant, a constant-foldable bucket predicate so the scan
    prunes to the series' one bucket DIRECTORY); nothing is read until
    a series is acted on."""
    from pyspark.sql import functions as F

    with open(os.path.join(ds_dir, "manifest.yaml")) as fh:
        manifest = load_yaml(fh)
    variant = manifest.get("layout_variant", "sorted")
    n_buckets = manifest.get("n_buckets")
    data = spark.read.parquet(os.path.join(ds_dir, "data"))
    signals: dict[str, Signal] = {}
    for sig_name, sig_meta in manifest["signals"].items():
        series: dict[str, TimeSeries] = {}
        for ts_name, ts_meta in sig_meta["time_series"].items():
            cond = (F.col("signal_name") == sig_name) & (
                F.col("series_name") == ts_name
            )
            if variant == "bucketed":
                # xxhash64(lit) constant-folds, so this lands in
                # PartitionFilters — the scan lists one bucket dir
                cond = cond & (
                    F.col("bucket")
                    == F.pmod(F.xxhash64(F.lit(ts_name)), F.lit(n_buckets))
                )
            df = data.filter(cond).select(INDEX_COL, VALUE_COL)
            series[ts_name] = TimeSeries.from_metadata_dict(df, ts_meta)
        signals[sig_name] = Signal.from_metadata_dict(sig_meta, series)
    return Dataset.from_metadata_dict(manifest, signals)
