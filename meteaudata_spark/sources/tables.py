"""Benchmark-table loader with schema normalization, and the two corpus
helpers built on it (``_docs``, ``_spread``).

``events.parquet`` stores ``ts`` as Parquet TIMESTAMP(NANOS), which
Spark's vectorized reader rejects outright.  We read it with the
legacy nanos-as-long mode and truncate to microseconds — the same
thing DuckDB's µs-precision TIMESTAMP does, so oracle comparisons
agree.  Predicate pushdown still applies (the column is a plain INT64
at the Parquet level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meteaudata_spark.plans.opcache import memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The lazy loader DataFrame of ``{sf_dir}/{name}.parquet``.

    A ``spark.read.parquet`` call costs ~0.1-0.3 s of driver time (file
    listing, footer read, analysis) and the gate rows load each table
    several times, so the unexecuted plan object is memoized per
    session and table path.  Nothing is persisted: every action still
    reads the files.  The memo keys on the table path's file listing,
    so a table rewritten in place is read afresh."""
    path = f"{sf_dir}/{name}.parquet"

    def _read() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            if dict(df.dtypes)["ts"] == "bigint":
                # nanos → micros, truncating like DuckDB does
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            return df
        return spark.read.parquet(path)

    return memo(spark, path, ("table", sf_dir, name), _read)


def _docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """The ``documents`` table; ``spread=True`` adds the ``_spread``
    parallelism floor, worth its exchange only where the downstream
    chain is compute-heavy (tokenize / shingle / hash explodes, Bloom
    builds): cheap rows paid ~0.1-0.5 s for it at single-split sizes."""
    df = load_table(spark, sf_dir, "documents")
    return _spread(df) if spread else df


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-heavy chains.

    A small test table has a single row group, so Spark plans ONE
    input split and a narrow chain (split, n-gram, md5 hashing, or a
    per-row Python codec map) runs on one core while the rest idle.
    Repartition round-robin to the default parallelism, but ONLY when
    the upstream yields fewer partitions: on a production corpus
    (thousands of splits) no shuffle is ever added.  The shuffled
    bytes are the slim pre-tokenization / pre-synthesis rows."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
