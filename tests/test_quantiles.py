"""Exact-quantile bisection: matches sorted-rank semantics on ties,
negatives, constant and tiny groups (operators/quantiles.py)."""

from __future__ import annotations

import math

from olake_spark.operators.quantiles import exact_quantiles


def _oracle(values, p):
    s = sorted(round(v * 1_000_000) for v in values)
    k = max(1, math.ceil(p * len(s)))
    return round(s[k - 1] / 1_000_000, 4)


def _check(spark, groups, ps, bins=16):
    rows = [(g, float(v)) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.p): r.q
        for r in exact_quantiles(df, ["g"], "v", ps, bins=bins).collect()
    }
    for g, vals in groups.items():
        for p in ps:
            assert got[(g, p)] == _oracle(vals, p), (g, p)


def test_quantiles_ties_and_negatives(spark):
    _check(
        spark,
        {
            "a": [1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 100.5],
            "b": [-5.25, -5.25, 0.0, 0.0, 7.75],
        },
        [0.1, 0.5, 0.9, 1.0],
    )


def test_quantiles_constant_and_singleton_groups(spark):
    _check(spark, {"c": [4.2] * 9, "s": [13.37]}, [0.5, 0.99])


def test_quantiles_wide_domain_small_bins(spark):
    # domain >> bins forces several bisection rounds
    vals = [float(i * i) for i in range(1, 200)]
    _check(spark, {"w": vals}, [0.25, 0.5, 0.75], bins=8)


def test_quantiles_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("a", None)], "g string, v double"
    )
    got = {r.p: r.q for r in exact_quantiles(df, ["g"], "v", [0.5, 1.0]).collect()}
    assert got == {0.5: 1.0, 1.0: 3.0}


def test_driver_collect_guard_trips_loudly(spark):
    # the FEW-GROUPS contract is enforced, not assumed: a seed bigger than
    # the cap must raise instead of melting the driver
    import pytest

    from olake_spark.operators.quantiles import _collect_bounded

    df = spark.range(5).toDF("g")
    assert len(_collect_bounded(df, "t", limit=5)) == 5
    with pytest.raises(RuntimeError, match="driver seed exceeded 4 rows"):
        _collect_bounded(df, "t", limit=4)
