"""Pandas-compat adapter: run a reference-protocol transform function
(pandas Series in/out — SURVEY §2.9 U1) against Spark-backed series.

Two execution modes:

* ``wrap_pandas_transform`` — driver-side execution: each input series
  is collected to the driver through Arrow, the pandas function runs
  there unchanged, and its outputs are re-ingested as Spark
  DataFrames.  This is the compat path for legacy functions; nothing
  runs in parallel.  Scale ceiling = every input series in driver
  memory — document, don't hide.  (``apply_pandas_kernel_grouped`` is
  the executor-side ``applyInPandas`` path for pandas logic over many
  series.)

* native operators (``operators/univariate.py``) — the scale path;
  use them unless you genuinely need unchanged pandas code.

The adapter preserves the full reference contract: the pandas function
receives ``list[pd.Series]`` with correct names and DatetimeIndex, and
its ``list[(pd.Series, [ProcessingStep])]`` output is converted back to
Spark-backed TimeSeries.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from meteaudata_spark.metadata import ProcessingStep
from meteaudata_spark.timeseries import TimeSeries


def wrap_pandas_transform(
    pandas_fn: Callable[..., list[tuple[pd.Series, list[ProcessingStep]]]],
) -> Callable[..., list[tuple[TimeSeries, list[ProcessingStep]]]]:
    """Lift a reference-protocol pandas transform to the Spark protocol.

    The returned function plugs directly into ``Signal.process``.
    Data is collected per-series through Arrow, the pandas function
    runs driver-side (bit-exact reference semantics), and outputs are
    re-ingested as Spark DataFrames.  For executor-side execution of
    grouped pandas logic over many series, see
    ``apply_pandas_kernel_grouped``.
    """

    def spark_fn(
        input_series: list[TimeSeries], *args: Any, **kwargs: Any
    ) -> list[tuple[TimeSeries, list[ProcessingStep]]]:
        spark = input_series[0].df.sparkSession
        pd_inputs = []
        for ts in input_series:
            ser = ts.to_pandas()
            ser.name = ts.name
            pd_inputs.append(ser)
        outputs = pandas_fn(pd_inputs, *args, **kwargs)
        result: list[tuple[TimeSeries, list[ProcessingStep]]] = []
        for out_ser, steps in outputs:
            out_ts = TimeSeries.from_pandas(
                spark, out_ser, name=str(out_ser.name)
            )
            result.append((out_ts, steps))
        return result

    spark_fn.__name__ = getattr(pandas_fn, "__name__", "pandas_transform")
    spark_fn.__doc__ = pandas_fn.__doc__
    return spark_fn


def apply_pandas_kernel_grouped(
    df_long,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
    group_col: str = "series_name",
):
    """Executor-side pandas execution over a long multi-series frame:
    each (series_name) group becomes one pandas DataFrame in one
    Arrow batch on one worker — the scalable home for pandas logic
    that can't be expressed as column ops.

    ``kernel`` maps a pandas DataFrame (one whole series, columns
    ``timestamp``/``value``/…) to a pandas DataFrame matching
    ``output_schema``.
    """
    return df_long.groupBy(group_col).applyInPandas(
        lambda pdf: kernel(pdf), output_schema
    )
