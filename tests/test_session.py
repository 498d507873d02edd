"""The session factory: Python workers import the package whatever the
driver's working directory is, and a repeated plan shape compiles no
new classes."""

import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A driver started outside the repository (the package is on its
    own ``sys.path`` only) runs a stateful stream whose update function
    cloudpickle ships by reference, and a smoothing kernel whose fold
    lives at module level: both need the workers to import
    ``meteaudata_spark``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        import pandas as pd
        from meteaudata_spark.operators import kernels
        from meteaudata_spark.session import get_spark
        from meteaudata_spark.streaming.stateful import stream_running_stats

        spark = get_spark("cwd-check")
        spark.sparkContext.setLogLevel("ERROR")
        pdf = pd.DataFrame({{
            "event_type": ["a", "a", "b"],
            "timestamp": pd.date_range("2024-01-01", freq="1min", periods=3),
            "value": [1.0, 3.0, 5.0],
        }})
        df = spark.createDataFrame(pdf)
        ewma = kernels.ewma(df, alpha=0.5, partition_cols=["event_type"])
        print("EWMA", sorted(r["value"] for r in ewma.collect()))
        df.write.parquet("src")
        q = (
            stream_running_stats(spark.readStream.schema(df.schema).parquet("src"))
            .writeStream.format("memory").queryName("stats")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        print("STATS", sorted(r["n_total"] for r in spark.table("stats").collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    errors = [line for line in run.stderr.splitlines() if "Error:" in line]
    assert run.returncode == 0, "\n".join(errors[-5:]) or run.stderr[-3000:]
    assert "EWMA [1.0, 2.0, 5.0]" in run.stdout, run.stdout
    assert "STATS [1, 2]" in run.stdout, run.stdout


def test_repeated_signal_roundtrip_compiles_no_new_classes(spark, tmp_path, provenance):
    """The generated-code cache holds a whole ``Signal`` round trip
    (ingest -> 4-step ``process`` chain -> save -> load -> ``==``):
    run a second time on the same input and span, it compiles
    nothing.  At Spark's default bound (100) the round trip's classes
    evict each other and every repeat recompiles them."""
    from meteaudata_spark.operators import univariate as uv
    from meteaudata_spark.session import CODEGEN_CACHE_ENTRIES
    from meteaudata_spark.signal import Signal

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    # no stray query compiling alongside
    assert not spark.streams.active
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    rng = np.random.default_rng(5)
    offsets = np.sort(rng.choice(500_000, 1_500, replace=False))
    idx = pd.Timestamp("2024-01-01") + pd.to_timedelta(offsets, unit="s")
    ser = pd.Series(rng.standard_normal(len(idx)), index=idx, name="RAW")
    span = [str(idx[300]), str(idx[400])]
    steps = (
        (uv.resample, ("5min",)),
        (uv.replace_ranges, ([span], "calibration")),
        (uv.linear_interpolation, ()),
        (uv.moving_average, (5,)),
    )

    def roundtrip(run: int) -> bool:
        sig = Signal(
            input_data=ser, name="S", units="mg/l", provenance=provenance, spark=spark
        )
        for fn, args in steps:
            sig.process([sig.all_time_series[-1]], fn, *args)
        sig_dir = sig.save(str(tmp_path / str(run)))
        return Signal.load_from_directory(spark, sig_dir) == sig

    assert roundtrip(0)
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    assert roundtrip(1)
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before
