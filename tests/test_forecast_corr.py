"""Round-8 batch 2: Holt linear smoothing, exact-moment correlation."""

from __future__ import annotations

import datetime as dt

import pytest

from olake_spark.operators.correlation import corr_matrix
from olake_spark.operators.forecast import holt_linear


def _series(spark, vals):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), float(v)) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_holt_linear_hand_computed(spark):
    # alpha=beta=1/4 over [1,2,3]:
    #   l1=1.25 b1=0.0625; l2=1.734375 b2=0.16796875
    out = holt_linear(_series(spark, [1, 2, 3]), "ts", ["k"], "v").first()
    assert out.n == 3
    assert out.level == 1.734375
    assert out.trend == 0.167969
    assert out.forecast_1 == 1.902344


def test_holt_linear_single_point_and_constant(spark):
    one = holt_linear(_series(spark, [7]), "ts", ["k"], "v").first()
    assert (one.level, one.trend, one.forecast_1) == (7.0, 0.0, 7.0)
    const = holt_linear(_series(spark, [5] * 10), "ts", ["k"], "v").first()
    assert (const.level, const.trend) == (5.0, 0.0)


def test_holt_linear_partition_invariant(spark):
    df = _series(spark, [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5])
    a = holt_linear(df, "ts", ["k"], "v").first()
    b = holt_linear(df.repartition(7), "ts", ["k"], "v").first()
    assert tuple(a) == tuple(b)


def test_corr_matrix_exact_extremes(spark):
    rows = [(float(i), 2.0 * i, -3.0 * i, 42.0) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    out = {
        (r.col_a, r.col_b): r.corr
        for r in corr_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0
    # zero-variance column -> NULL, never a division blowup
    assert out[("a", "d")] is None


def test_corr_matrix_validates_cols(spark):
    df = spark.createDataFrame([(1.0,)], "a double")
    with pytest.raises(ValueError, match="at least 2"):
        corr_matrix(df, ["a"])
