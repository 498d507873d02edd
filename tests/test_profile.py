"""Table profiling (ext/profile.py): per-column profiles and foreign-key
orphan checks, including all-null columns and empty parents."""

from pyspark.sql import functions as F

from meteaudata_spark.ext.profile import profile_table


def test_profile_handles_all_null_column(spark):
    from meteaudata_spark.ext.profile import profile_table

    d = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v double"
    )
    out = {
        r["column_name"]: r
        for r in profile_table(d, [("k", "num"), ("v", "num")]).collect()
    }
    assert out["v"]["n_null"] == 2
    assert out["v"]["n_distinct"] == 0
    assert out["v"]["min_num"] is None and out["v"]["max_num"] is None


def test_fk_orphans_empty_parent(spark):
    from meteaudata_spark.ext.profile import fk_orphans

    child = spark.createDataFrame([(1,), (2,)], "fk long")
    parent = spark.createDataFrame([], "pk long")
    assert fk_orphans(child, parent, "fk", "pk").count() == 2


def test_profile_table_counts(spark):
    d = spark.createDataFrame(
        [
            (1, None, "a"),
            (2, 5.0, "b"),
            (3, 5.0, None),
            (4, 7.5, "a"),
        ],
        "k long, v double, s string",
    )
    out = {
        r["column_name"]: r
        for r in profile_table(
            d, [("k", "num"), ("v", "num"), ("s", "str")]
        ).collect()
    }
    assert out["k"]["n_rows"] == 4 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 4
    assert out["v"]["n_null"] == 1 and out["v"]["n_distinct"] == 2
    assert out["v"]["min_num"] == 5.0 and out["v"]["max_num"] == 7.5
    assert out["v"]["min_str"] is None
    assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"
    assert out["s"]["min_num"] is None


def test_fk_orphans_finds_planted_violations(spark):
    from meteaudata_spark.ext.profile import fk_orphans

    parent = spark.createDataFrame([(i,) for i in range(100)], "pk long")
    child = spark.createDataFrame(
        [(i % 120,) for i in range(240)], "fk long"
    )  # fks 100-119 are orphans, 2 rows each
    got = fk_orphans(child, parent, "fk", "pk")
    assert got.count() == 40
    assert got.filter(F.col("fk") < 100).count() == 0
