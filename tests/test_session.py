"""The session factory: Python workers import the package whatever the
driver's working directory is."""

import os
import subprocess
import sys
import textwrap

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
