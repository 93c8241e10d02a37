"""As-of join unit semantics."""


def test_asof_join_unit(spark):
    from ts_etl_spark.operators.advanced import asof_join

    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 15, "L3")], ["k", "t", "lv"]
    )
    right = spark.createDataFrame(
        [(1, 5, "R1"), (1, 20, "R2"), (2, 99, "R3")], ["k", "t", "rv"]
    )
    out = asof_join(left, right, "k", "t", "t", ["rv"], right_tiebreak="rv")
    got = {(r.k, r.t): r.asof_rv for r in out.collect()}
    # L1@10 sees R1@5; L2@20 sees R2@20 (tie → right wins); L3@15 sees none
    assert got == {(1, 10): "R1", (1, 20): "R2", (2, 15): None}
