"""Spark 4 ``transformWithStateInPandas`` operators — the successor
API to ``applyInPandasWithState`` (arbitrary typed state, timers,
TTL; RocksDB-backed so state can exceed executor memory).

``stream_ewma``: per-key exponentially weighted moving average — the
streaming smoothing operator whose state is ONE value per key
(the previous EWMA), the textbook case for value-state processing.
Unlike a window aggregation the result depends on every prior event,
so state carry-over across micro-batches is essential, and unlike
the Welford stats op (``streaming/stateful.py``) this demonstrates
the modern StatefulProcessor lifecycle (init → handleInputRows →
close) that production Spark 4 pipelines should target.  The
recurrence is not written here: ``EwmaProcessor`` calls
``kernels.ewma_fold``, the one EWMA definition that ``kernels.ewma``
and ``stateful.stream_ewma_state`` also call.

Requires the RocksDB state store::

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

Environment note: executing this operator needs ``google.protobuf``
in the Python workers (Spark 4's transformWithState driver protocol);
``has_transform_with_state_runtime()`` reports availability.  Where
it is missing (as in this container), plan construction and schema
still work, and ``streaming/stateful.py`` (applyInPandasWithState)
is the fully-tested stateful path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from meteaudata_spark.operators import kernels

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("ewma", DoubleType())])


class EwmaProcessor(StatefulProcessor):
    """Carries the running EWMA per key across micro-batches.

    Each call concatenates the key's Arrow chunks, puts the rows in
    ``kernels.fold_order`` (micro-batch arrival order is not event
    order) and runs ``kernels.ewma_fold`` — pandas ``ewm(alpha,
    adjust=False, ignore_na=True)`` — continued from the mean held in
    state: the same fold as ``kernels.ewma`` and
    ``stateful.stream_ewma_state``.  The first observation seeds the
    mean; NaN/null values carry it.
    """

    def __init__(self, alpha: float = 0.3) -> None:
        self.alpha = alpha

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getValueState("ewma", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        seed = self.state.get()[0] if self.state.exists() else np.nan
        pdf = kernels.fold_order(
            pd.concat(list(rows), ignore_index=True), "timestamp", "value"
        )
        means, seed = kernels.ewma_fold(pdf["value"], self.alpha, seed)
        if not np.isnan(seed):
            self.state.update((seed,))
        yield pd.DataFrame(
            {
                "key": key[0],
                "timestamp": pdf["timestamp"],
                "value": pdf["value"],
                "ewma": means,
            }
        )

    def close(self) -> None:
        pass


def stream_ewma(
    stream_df: DataFrame,
    alpha: float = 0.3,
    key_col: str = "key",
    ts_col: str = "timestamp",
    val_col: str = "value",
) -> DataFrame:
    """Streaming per-key EWMA via ``transformWithStateInPandas``.

    State is one double per key — bounded by key cardinality, not
    stream length, so a 100 TB/day feed with millions of keys holds
    megabytes of RocksDB state per executor."""
    from pyspark.sql import functions as F

    renamed = stream_df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("timestamp"),
        F.col(val_col).cast("double").alias("value"),
    )
    return renamed.groupBy("key").transformWithStateInPandas(
        statefulProcessor=EwmaProcessor(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def has_transform_with_state_runtime() -> bool:
    """True when the Python workers can run transformWithState
    (Spark's driver protocol for it imports google.protobuf)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
