"""skyline_2d vs a brute-force dominance oracle; windowless prefix-min
unit contract; duplicate-point and tie edges; partition invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators.skyline import skyline_2d
from osmflat_rs_spark.plans.indexing import exclusive_prefix_min


def _brute_skyline(rows):
    out = []
    for i, (_, x, y) in enumerate(rows):
        dom = any(
            qx <= x and qy <= y and (qx < x or qy < y)
            for j, (_, qx, qy) in enumerate(rows) if j != i
        )
        if not dom:
            out.append(rows[i][0])
    return set(out)


def test_skyline_matches_bruteforce(spark):
    rng = np.random.default_rng(17)
    rows = [(i, int(rng.integers(0, 200)), int(rng.integers(0, 200))) for i in range(500)]
    rows += [(500, 0, 0), (501, 0, 0)]          # duplicate minimal corner: both stay
    rows += [(502, 5, 7), (503, 5, 7)]          # duplicate interior pair (likely dominated)
    df = spark.createDataFrame(rows, "id long, x long, y long")
    want = _brute_skyline(rows)
    got = {r["id"] for r in skyline_2d(df, "x", "y").collect()}
    assert got == want
    assert {500, 501} <= got


def test_skyline_staircase_and_column_ties(spark):
    # strict staircase: all on the front; plus an equal-x worse-y row (dominated)
    rows = [(0, 1, 100), (1, 2, 50), (2, 3, 25), (3, 3, 30), (4, 10, 24)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"] for r in skyline_2d(df, "x", "y").collect()}
    assert got == {0, 1, 2, 4}


def test_exclusive_prefix_min_contract(spark):
    rows = [(i, v) for i, v in enumerate([9, 4, 7, 4, 1, 8])]
    df = spark.createDataFrame(rows, "k long, v long").repartition(3)
    out = {r["k"]: r["prefmin"] for r in
           exclusive_prefix_min(df, "k", "v", num_partitions=3).collect()}
    assert out == {0: None, 1: 9, 2: 4, 3: 4, 4: 4, 5: 1}
    with pytest.raises(ValueError, match="NULL"):
        exclusive_prefix_min(
            spark.createDataFrame([(1, None)], "k long, v long"), "k", "v"
        ).collect()
