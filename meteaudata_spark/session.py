"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB design target and merely
*tested* at local scale:

* AQE on — runtime re-planning (skew-join splitting, partition
  coalescing, dynamic broadcast) matters far more on a real cluster
  than locally.
* Arrow on — all pandas interchange (compat adapters, collect for
  oracles/plots) moves through Arrow batches, never row-at-a-time
  pickling.
* Session timezone pinned to UTC — Spark normalizes timestamps to the
  session zone; the reference keeps the zone in IndexMetadata and we
  apply it only at the presentation edge (SURVEY §7.3).
* shuffle.partitions default sized for local[32]; a cluster deployment
  overrides via spark-defaults or relies on AQE coalescing.
* The package's parent directory on the Python workers' PYTHONPATH:
  cloudpickle ships module-level functions by reference, so workers
  must import ``meteaudata_spark`` from any driver working directory.
* Generated-code cache bound (``spark.sql.codegen.cache.maxEntries``)
  at 1000, not Spark's 100: one ``Signal`` round trip (ingest, a
  4-step ``process`` chain, save, load, ``==``) compiles ~70 shared
  classes plus ~14 per distinct ``replace_ranges`` span, and three
  gate rows ~100.  At 100 such a cyclic working set evicts itself, so
  every repeat recompiles most of it (~85 classes per round trip, ~20
  per rerun of the three rows); at 1000 a plan shape seen before
  compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 1000
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "meteaudata-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/meteaudata-spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()
