"""Bucketed-table helpers: co-located fact⋈fact joins without a
shuffle.

At 100 TB the orders⋈lineitem join dominates unless both sides are
pre-bucketed on the join key: `bucketBy(n, key)` writes each table
hash-partitioned into the same bucket layout, so Spark's scan emits
the join key distribution directly and the SortMergeJoin needs NO
Exchange on either side (verified by plan test).

Bucketing requires the table catalog (`saveAsTable`) — plain
`.parquet(path)` writes don't retain bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a table dir orphaned by a previous session's metastore blocks
    # saveAsTable even in overwrite mode — clear it
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)

