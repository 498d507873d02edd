"""Relational operators (ext/relational.py): table diff against a
plain-Python reference."""

SF = "/root/testdata/sf0.001"


def test_table_diff_multi_column_key(spark):
    from meteaudata_spark.ext.relational import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0)], "k1 long, k2 string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 11.0), (2, "a", 30.0)], "k1 long, k2 string, v double"
    )
    got = {
        (r["k1"], r["k2"]): r["status"]
        for r in table_diff(old, new, ["k1", "k2"], ["v"]).collect()
    }
    assert got[(1, "a")] == "changed"
    assert got[(1, "b")] == "removed"
    assert got[(2, "a")] == "added"


def test_table_diff_classification(spark):
    from meteaudata_spark.ext.relational import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", 30.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["status"], r["changed_cols"])
        for r in table_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got[1] == ("unchanged", "")
    assert got[2] == ("changed", "s")
    assert got[3] == ("changed", "v")  # NULL -> value registers
    assert got[4] == ("removed", "")
    assert got[5] == ("added", "")
