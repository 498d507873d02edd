"""Bucketed co-located join: the join itself must run with NO shuffle
exchange on either input (the 100 TB fact-join strategy)."""

from pyspark.sql import functions as F

from meteaudata_spark.plans import inspect
from meteaudata_spark.sources.bucketing import write_bucketed

SF = "/root/testdata/sf0.001"


def _revenue_by_priority(orders, li):
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    # merge hint: at tiny test scale the planner would broadcast (which
    # ignores bucketing); at fact-x-fact scale SMJ is what it picks
    # anyway, and THAT is the plan the bucket layout de-shuffles
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy("o_orderpriority")
    )


def _plain_tables(spark):
    return (
        spark.read.parquet(f"{SF}/orders.parquet"),
        spark.read.parquet(f"{SF}/lineitem.parquet"),
    )


def _bucketed_join(spark):
    orders, li = _plain_tables(spark)
    write_bucketed(orders, "orders_b", "o_orderkey", 4)
    write_bucketed(li, "lineitem_b", "l_orderkey", 4)
    return _revenue_by_priority(spark.table("orders_b"), spark.table("lineitem_b"))


def test_bucketed_join_has_no_join_exchange(spark):
    df = _bucketed_join(spark)
    plan = inspect.formatted_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # only the post-join aggregation + final sort may shuffle: the join
    # inputs come straight from the bucketed scans
    assert inspect.exchange_count(df) == 2, plan
    # and no Exchange node sits between the scans and the join in the tree
    tree = plan[: plan.find("(1) Scan")]
    join_line = next(
        i for i, ln in enumerate(tree.splitlines()) if "SortMergeJoin" in ln
    )
    below_join = "\n".join(tree.splitlines()[join_line + 1 :])
    assert "Exchange" not in below_join, tree


def test_bucketed_join_values_match_unbucketed(spark):
    bucketed = _bucketed_join(spark).toPandas()
    plain = _revenue_by_priority(*_plain_tables(spark)).toPandas()
    assert bucketed.equals(plain)
