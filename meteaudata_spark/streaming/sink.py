"""Streaming sink into the native Signal store.

``stream_to_series_store`` appends a (timestamp, value) stream into a
series' Parquet directory with exactly-once semantics (checkpointed
``foreachBatch`` writes), so a live Signal can be reloaded at
any time with ``Signal.load_from_directory`` after a manifest refresh.
Each micro-batch lands in a ``__batch=N`` subdir, whose files the
store's load reads as plain (timestamp, value) files, as it reads a
batch save's flat files beside them.

This is the ingestion edge of the engine: sensors → Structured
Streaming → per-series Parquet dirs → the same lineage-tracked Signal
API as batch data.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame


def stream_to_series_store(
    stream_df: DataFrame,
    sig_dir: str,
    series_name: str,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start an append-mode file-sink query writing the stream into
    ``{sig_dir}/data/{encoded series_name}/``.

    ``stream_df`` must have exactly the canonical (timestamp, value)
    columns.  Returns the StreamingQuery; callers own awaiting /
    stopping it.  Exactly-once: the file sink commits files through
    the checkpoint log, so restarted queries never duplicate data.
    """
    from pyspark.sql import functions as F

    if stream_df.columns != ["timestamp", "value"]:
        raise ValueError(
            f"stream must have (timestamp, value) columns; got {stream_df.columns}"
        )
    target = os.path.join(
        sig_dir, "data", urllib.parse.quote(series_name, safe="")
    )
    checkpoint = checkpoint_dir or os.path.join(
        sig_dir, ".checkpoints", urllib.parse.quote(series_name, safe="")
    )

    # foreachBatch instead of the plain file sink: the file sink's
    # _spark_metadata log would make readers ignore any pre-existing
    # (batch-written) files in the series dir.  Idempotence comes from
    # partitioning by batch id with dynamic partition overwrite — a
    # replayed batch overwrites its own partition, never duplicating.
    def write_batch(bdf, batch_id: int) -> None:
        (
            bdf.withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(target)
        )

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
