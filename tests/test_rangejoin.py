"""Bin-bucketed interval join (operators/rangejoin.py): exact parity
with the naive inequality join across bin widths, boundary/negative/
empty-interval handling, keyed variant, and a plan check that the
equi-join actually goes through the bin key (no nested-loop join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.rangejoin import interval_join

FACTS = [  # (fact_id, ts)
    (1, 0), (2, 5), (3, 10), (4, 15), (5, 99), (6, 100), (7, -7), (8, -1),
    (9, 250), (10, 1000),
]
INTERVALS = [  # (iv_id, s, e) — overlapping, adjacent, empty, inverted, neg
    (100, 0, 10),      # [0,10): facts 1,2
    (101, 5, 16),      # overlaps 100: facts 2,3,4
    (102, 10, 10),     # empty: nothing
    (103, 20, 15),     # inverted: nothing
    (104, 99, 101),    # boundary straddle: 5,6
    (105, -10, 0),     # negative range: 7,8
    (106, 240, 260),   # isolated: 9
]


def _naive(spark):
    f = spark.createDataFrame(FACTS, "fact_id int, ts long")
    iv = spark.createDataFrame(INTERVALS, "iv_id int, s long, e long")
    return {
        (r[0], r[1])
        for r in f.join(
            iv, (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
        ).select("fact_id", "iv_id").collect()
    }


@pytest.mark.parametrize("bin_width", [1, 3, 7, 10, 64, 1000])
def test_parity_with_naive_join(spark, bin_width):
    f = spark.createDataFrame(FACTS, "fact_id int, ts long")
    iv = spark.createDataFrame(INTERVALS, "iv_id int, s long, e long")
    got = {
        (r[0], r[1])
        for r in interval_join(f, iv, "ts", "s", "e", bin_width)
        .select("fact_id", "iv_id")
        .collect()
    }
    assert got == _naive(spark)
    # pair multiplicity: each (fact, interval) meets in exactly one bin
    n = interval_join(f, iv, "ts", "s", "e", bin_width).count()
    assert n == len(got)


def test_rejects_bad_inputs(spark):
    f = spark.createDataFrame([(1, 0)], "fact_id int, ts long")
    iv = spark.createDataFrame([(1, 0, 5)], "fact_id int, s long, e long")
    with pytest.raises(ValueError, match="disjoint"):
        interval_join(f, iv, "ts", "s", "e", 10)
    iv2 = spark.createDataFrame([(1, 0, 5)], "iv_id int, s long, e long")
    with pytest.raises(ValueError, match="bin_width"):
        interval_join(f, iv2, "ts", "s", "e", 0)


def test_plan_is_equi_join_not_nested_loop(spark):
    f = spark.createDataFrame(FACTS, "fact_id int, ts long")
    iv = spark.createDataFrame(INTERVALS, "iv_id int, s long, e long")
    plan = (
        interval_join(f, iv, "ts", "s", "e", 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan
